"""The COMPOSED ingestion pipeline as one structured stream: every
arriving shard flows dedup-decide → quality-gate → search-index append
→ signature append, against the repo's written layouts, in one
foreachBatch loop.

Each stage already exists and is individually gated (incremental dedup:
operators/dedup.decide_batch_against_store + index/dedup_layout;
quality: operators/textstats.quality_scores with curation's floor;
search index: index/fts_layout.append_fts_segment + fold cadence).
This module proves they hold TOGETHER in the loop a 100 TB corpus
actually runs continuously:

    for each arriving micro-batch:
        decisions  = decide batch against the signature store
        kept       = decisions == 'kept'           (dedup survivors)
        append kept docs' signatures to the store  (next shard sees them)
        admitted   = kept AND quality >= QUALITY_FLOOR
        append ONE FTS segment of admitted docs    (no index rebuild)
        fold the FTS store when it reaches fold_every segments
        write a per-batch ledger row + the admitted-id manifest

Scale shape: every per-batch stage is batch-proportional (the stores
are only scanned, never rewritten — appends are new files, the fold is
the priced maintenance job); nothing crosses the driver but 1-row
scalars; decisions/ledger/manifest land in batch-id-keyed parquet
sinks, so at-least-once redelivery overwrites its own slice, the
signature append is idempotent per append id, and the FTS append runs
skip_existing so a batch redelivered after a fold is a no-op
(index/fts_layout.append_fts_segment's redelivery contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.catalog import load_table, read_table
from ..operators import textstats
from ..operators.curation import QUALITY_FLOOR
from ..operators.dedup import BATCH_MOD


def dd_ingest_ledger_sql(table: str = "documents") -> str:
    """DuckDB oracle for the bounded single-batch drive's ledger row:
    the dedup decisions are dedup_incremental_batch's oracle (the
    stream==batch property the dedup loop already proved), the quality
    gate is quality_scores' oracle with curation's floor, and the
    ledger is one aggregate over their composition. HAVING count(*) > 0
    mirrors ingest_batch's whole-batch empty skip: an empty arriving
    slice produces NO ledger row on either side (without it the
    ungrouped aggregate would emit one zero row and the hash gate would
    red against the skipped batch)."""
    from ..operators.dedup import dd_dedup_incremental_batch_sql

    return f"""
WITH dec AS ({dd_dedup_incremental_batch_sql(table)}),
ql AS (
  SELECT doc_id FROM ({textstats.dd_quality_scores_sql(table)})
  WHERE quality >= {QUALITY_FLOOR}
)
SELECT 0::BIGINT AS batch_id,
       count(*)::BIGINT AS n_arrived,
       sum(CASE WHEN decision = 'exact_dup' THEN 1 ELSE 0 END)::BIGINT
         AS n_exact_dup,
       sum(CASE WHEN decision = 'near_dup' THEN 1 ELSE 0 END)::BIGINT
         AS n_near_dup,
       sum(CASE WHEN decision = 'kept' THEN 1 ELSE 0 END)::BIGINT
         AS n_kept,
       sum(CASE WHEN decision = 'kept'
                 AND doc_id IN (SELECT doc_id FROM ql)
            THEN 1 ELSE 0 END)::BIGINT AS n_indexed,
       sum(CASE WHEN decision = 'kept'
                 AND doc_id NOT IN (SELECT doc_id FROM ql)
            THEN 1 ELSE 0 END)::BIGINT AS n_quality_rejected
FROM dec
HAVING count(*) > 0
""".strip()


def ingest_batch(spark: SparkSession, batch: DataFrame, batch_id: int, *,
                 dstore: str, fstore: str, sink: str, ledger: str,
                 manifest: str, fold_every: int | None = None) -> bool:
    """One micro-batch of the composed loop — module-level so the
    redelivery contract is directly testable. AT-LEAST-ONCE SAFE as a
    whole: the decisions slice is written once and REUSED on redelivery
    (recomputing it against a store that already holds this batch's own
    appended signatures would flip its kept docs to exact_dup and
    silently drop them from the index — r10 review finding); with the
    slice durable, every downstream step is idempotent — the signature
    append cleans its own append id, the FTS append runs skip_existing,
    and manifest/ledger overwrites reproduce identical content.

    Returns True iff the fold maintenance job fired this batch — the
    pricing hook tools/scale_probe.py's INGESTLOOP uses to label fold
    batches from OBSERVED firings instead of inferring them from batch
    timings (r11 ADVICE: empty micro-batches skip whole and shift
    segment counts, so a hardcoded "two largest = folds" mislabels)."""
    import os

    from ..index.dedup_layout import append_dedup_signatures
    from ..index.fts_layout import append_fts_segment, fold_fts_segments
    from ..operators.dedup import decide_batch_against_store

    if batch.isEmpty():
        # a spool repartition can emit empty files → empty micro-batches;
        # running the decide/signature/manifest machinery on one would
        # append an all-zero ledger row (meaningless) and an empty
        # decisions slice. Skipping whole-batch keeps redelivery safe:
        # an empty batch redelivered is still empty, still skipped.
        return False

    folded = False
    caches: list = []
    try:
        slice_dir = f"{sink}/batch-{batch_id}"
        # the guard is OUR OWN sentinel, written after the slice lands —
        # not Spark's _SUCCESS marker, whose emission is a committer
        # config (marksuccessfuljobs) that clusters routinely disable;
        # a disabled marker would silently re-arm the recompute data
        # loss this guard exists to prevent. Underscore-prefixed files
        # are invisible to the parquet reader, like _SUCCESS itself.
        marker = os.path.join(slice_dir, "_DECIDED")
        if not os.path.exists(marker):
            dec = decide_batch_against_store(spark, batch, dstore,
                                             caches=caches)
            dec.write.mode("overwrite").parquet(slice_dir)
            with open(marker, "w"):
                pass
        decided = read_table(spark, slice_dir)
        kept_ids = decided.where(
            F.col("decision") == "kept").select("doc_id")
        kept_docs = batch.join(F.broadcast(kept_ids), "doc_id",
                               "leftsemi")
        # next shard must see this shard's kept content
        append_dedup_signatures(spark, dstore, kept_docs,
                                append_id=f"mb{batch_id}")
        admitted_ids = (
            textstats.quality_scores(kept_docs)
            .where(F.col("quality") >= QUALITY_FLOOR)
            .select("doc_id")
        )
        manifest_dir = f"{manifest}/batch-{batch_id}"
        admitted_ids.write.mode("overwrite").parquet(manifest_dir)
        admitted_docs = batch.join(
            F.broadcast(read_table(spark, manifest_dir)),
            "doc_id", "leftsemi")
        append_fts_segment(spark, fstore, admitted_docs,
                           append_id=f"mb{batch_id}",
                           skip_existing=True)
        if (
            fold_every is not None
            and read_table(spark, f"{fstore}/segstats").count()
            >= fold_every
        ):
            fold_fts_segments(spark, fstore)
            folded = True
        row = (
            decided.agg(
                F.count(F.lit(1)).alias("n_arrived"),
                # coalesce: sum over an EMPTY micro-batch's decisions
                # is NULL, and the ledger contract is exact integers
                F.coalesce(F.sum((F.col("decision") == "exact_dup")
                                 .cast("long")), F.lit(0))
                .alias("n_exact_dup"),
                F.coalesce(F.sum((F.col("decision") == "near_dup")
                                 .cast("long")), F.lit(0))
                .alias("n_near_dup"),
                F.coalesce(F.sum((F.col("decision") == "kept")
                                 .cast("long")), F.lit(0))
                .alias("n_kept"),
            )
            .crossJoin(
                read_table(spark, manifest_dir)
                .agg(F.count(F.lit(1)).alias("n_indexed"))
            )
            .select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "n_arrived", "n_exact_dup", "n_near_dup", "n_kept",
                "n_indexed",
                (F.col("n_kept") - F.col("n_indexed"))
                .alias("n_quality_rejected"),
            )
        )
        row.write.mode("overwrite").parquet(
            f"{ledger}/batch-{batch_id}")
        return folded
    finally:
        for c in caches:
            c.unpersist()


def run_streaming_ingest(spark: SparkSession, sf_dir: str,
                         query_name: str = "ingest",
                         fold_every: int | None = None,
                         trigger_files: int | None = None,
                         run_root: str | None = None,
                         batch_times: dict | None = None,
                         fold_batches: set | None = None) -> DataFrame:
    """Drive the composed ingestion loop over the bounded documents
    stream (arriving slice: doc_id % BATCH_MOD == 0, the incremental
    dedup family's split) and return the per-batch ledger.

    ``trigger_files`` spools the arriving slice as N files streamed
    with maxFilesPerTrigger=1 (N micro-batches, so cross-shard dedup
    and the fold cadence actually fire); ``run_root`` hands the run
    dir (both stores + sinks) to the caller for post-run inspection;
    ``batch_times`` (if given) is filled with batch_id -> wall seconds
    of the foreachBatch body — the per-batch pricing hook
    tools/scale_probe.py's INGESTLOOP section records; ``fold_batches``
    (if given) collects the batch_ids where the fold maintenance job
    actually FIRED (r11 ADVICE: the pricing narrative must label fold
    batches from observed firings, not timing heuristics).
    """
    import os
    import shutil
    import time

    from ..index.dedup_layout import ensure_dedup_layout
    from .docs import read_documents_stream
    from .index_maintenance import ensure_fts_base_store
    from .util import bounded_file_source, drive_bounded, own_run_root

    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % BATCH_MOD == 0
    existing = docs.where(~is_batch)
    dstore_base = ensure_dedup_layout(spark, existing, sf_dir)
    fstore_base = ensure_fts_base_store(spark, docs, ~is_batch, sf_dir)
    run_root, caller_owns_root = own_run_root(run_root, "stream_ingest_")
    dstore = f"{run_root}/dedup_store"
    fstore = f"{run_root}/fts_store"
    shutil.copytree(dstore_base, dstore)
    shutil.copytree(fstore_base, fstore)
    sink = f"{run_root}/decisions"
    ledger = f"{run_root}/ledger"
    manifest = f"{run_root}/indexed"
    source = bounded_file_source(
        spark, docs.where(is_batch), f"{run_root}/spool", trigger_files,
        lambda: read_documents_stream(spark, sf_dir))

    def ingest_slice(bdf: DataFrame, batch_id: int) -> None:
        t0 = time.perf_counter()
        folded = ingest_batch(spark, bdf.where(is_batch), batch_id,
                              dstore=dstore, fstore=fstore, sink=sink,
                              ledger=ledger, manifest=manifest,
                              fold_every=fold_every)
        if folded and fold_batches is not None:
            fold_batches.add(batch_id)
        if batch_times is not None:
            batch_times[batch_id] = time.perf_counter() - t0

    def result_fn() -> DataFrame:
        if not os.path.exists(ledger):  # no micro-batch ever fired
            return spark.createDataFrame(
                [], "batch_id long, n_arrived long, n_exact_dup long, "
                    "n_near_dup long, n_kept long, n_indexed long, "
                    "n_quality_rejected long"
            )
        return read_table(spark, f"{ledger}/batch-*").orderBy("batch_id")

    return drive_bounded(source, ingest_slice, query_name, result_fn,
                         run_root, caller_owns_root)
