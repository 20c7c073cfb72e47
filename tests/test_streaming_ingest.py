"""The composed streaming ingestion pipeline (streaming/ingest.py):
dedup-decide → quality gate → FTS segment append → signature append in
one foreachBatch loop, gated against the batch composition of its
already-proven stages.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from duckdb_hybrid_doc_search_spark.operators.curation import QUALITY_FLOOR
from duckdb_hybrid_doc_search_spark.operators.dedup import (
    BATCH_MOD,
    dedup_incremental_batch,
)
from duckdb_hybrid_doc_search_spark.operators.textstats import quality_scores
from duckdb_hybrid_doc_search_spark.streaming.ingest import (
    run_streaming_ingest,
)

QUERY = "spark vector join fast merge"


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _probe(spark, store, k=10):
    from duckdb_hybrid_doc_search_spark.operators.bm25 import (
        bm25_topk_from_index,
        segment_fts_index,
    )

    return [tuple(r) for r in bm25_topk_from_index(
        segment_fts_index(spark, store), QUERY, k).collect()]


def test_ingest_single_batch_matches_batch_composition(spark, sf_dir,
                                                       tmp_path):
    docs = _docs(spark, sf_dir)
    run_root = str(tmp_path / "ingest1")
    ledger = run_streaming_ingest(spark, sf_dir, "t_ingest1",
                                  run_root=run_root).collect()
    assert len(ledger) == 1  # bounded source = one micro-batch
    row = ledger[0]

    dec = {r["doc_id"]: r["decision"]
           for r in dedup_incremental_batch(docs).collect()}
    ql = {r["doc_id"] for r in quality_scores(docs)
          .where(F.col("quality") >= QUALITY_FLOOR).collect()}
    kept = {d for d, v in dec.items() if v == "kept"}
    assert row["batch_id"] == 0
    assert row["n_arrived"] == len(dec)
    assert row["n_exact_dup"] == sum(v == "exact_dup" for v in dec.values())
    assert row["n_near_dup"] == sum(v == "near_dup" for v in dec.values())
    assert row["n_kept"] == len(kept)
    assert row["n_indexed"] == len(kept & ql)
    assert row["n_quality_rejected"] == len(kept - ql)

    # the final search index serves existing ∪ admitted — equal to a
    # one-shot batch index over the same doc set
    from duckdb_hybrid_doc_search_spark.operators.bm25 import bm25_topk

    admitted = {r["doc_id"] for r in spark.read.parquet(
        f"{run_root}/indexed/batch-*").collect()}
    assert admitted == kept & ql
    is_batch = F.col("doc_id") % BATCH_MOD == 0
    indexed_docs = docs.where(
        ~is_batch | F.col("doc_id").isin(list(admitted)))
    want = [tuple(r) for r in bm25_topk(indexed_docs, QUERY, 10).collect()]
    assert _probe(spark, f"{run_root}/fts_store") == want


def test_ingest_multi_batch_with_fold(spark, sf_dir, tmp_path):
    """Three arriving shards with fold_every=2: cross-shard dedup runs
    through the signature store, the FTS store folds mid-stream, and
    the final index equals a one-shot build over existing ∪ admitted."""
    docs = _docs(spark, sf_dir)
    run_root = str(tmp_path / "ingest3")
    folds: set = set()
    ledger = run_streaming_ingest(spark, sf_dir, "t_ingest3",
                                  fold_every=2, trigger_files=3,
                                  run_root=run_root,
                                  fold_batches=folds).collect()
    is_batch = F.col("doc_id") % BATCH_MOD == 0
    n_arriving = docs.where(is_batch).count()

    assert sum(r["n_arrived"] for r in ledger) == n_arriving
    for r in ledger:
        assert (r["n_exact_dup"] + r["n_near_dup"] + r["n_kept"]
                == r["n_arrived"])
        assert r["n_indexed"] + r["n_quality_rejected"] == r["n_kept"]

    # fold firings are OBSERVED, not inferred from timings (r11 ADVICE):
    # the loop reports which batches actually paid the maintenance job,
    # and every reported batch is a real ledger batch
    assert folds, "fold_every=2 over 3 shards must fire at least once"
    assert folds <= {r["batch_id"] for r in ledger}

    # every arriving doc decided exactly once across shards
    decided = spark.read.parquet(f"{run_root}/decisions/batch-*")
    assert decided.count() == n_arriving
    assert decided.select("doc_id").distinct().count() == n_arriving

    # fold cadence held: never more than fold_every segments at rest
    n_segs = spark.read.parquet(
        f"{run_root}/fts_store/segstats").count()
    assert n_segs <= 2

    # the final index == one-shot build over existing ∪ all admitted
    from duckdb_hybrid_doc_search_spark.operators.bm25 import bm25_topk

    manifest_glob = f"{run_root}/indexed/batch-*"
    admitted = (
        {r["doc_id"] for r in spark.read.parquet(manifest_glob).collect()}
        if any(os.scandir(f"{run_root}/indexed")) else set()
    )
    indexed_docs = docs.where(
        ~is_batch | F.col("doc_id").isin(list(admitted)))
    want = [tuple(r) for r in bm25_topk(indexed_docs, QUERY, 10).collect()]
    assert _probe(spark, f"{run_root}/fts_store") == want

    # cross-shard duplicate visibility: a doc kept in shard k must make
    # an identical doc arriving in shard k+1 an exact_dup — verified
    # globally: no two KEPT docs share a fingerprint with each other or
    # with the existing corpus
    kept_ids = [r["doc_id"] for r in decided.where(
        F.col("decision") == "kept").collect()]
    fps = docs.select("doc_id", F.md5("text").alias("fp"))
    kept_fps = fps.where(F.col("doc_id").isin(kept_ids))
    assert kept_fps.select("fp").distinct().count() == len(kept_ids)
    overlap = kept_fps.alias("k").join(
        fps.where(~is_batch).alias("e"), "fp").count()
    assert overlap == 0


def test_ingest_redelivery_is_idempotent(spark, sf_dir, tmp_path):
    """The at-least-once contract, including the nastiest window: a
    crash AFTER the signature append but BEFORE the FTS append. The
    first delivery appended the batch's own kept signatures to the
    store, so a redelivery that RECOMPUTED decisions would flip every
    kept doc to exact_dup and silently drop it from the index; the
    durable-slice reuse makes the replay reproduce identical ledger,
    manifest, and probe results."""
    from duckdb_hybrid_doc_search_spark.streaming.ingest import (
        ingest_batch,
        run_streaming_ingest,
    )

    run_root = str(tmp_path / "redeliver")
    ledger = run_streaming_ingest(spark, sf_dir, "t_redeliver",
                                  run_root=run_root).collect()
    assert len(ledger) == 1 and ledger[0]["n_kept"] > 0
    first = tuple(ledger[0])
    manifest_glob = f"{run_root}/indexed/batch-*"
    admitted = {r["doc_id"]
                for r in spark.read.parquet(manifest_glob).collect()}
    assert admitted  # the guarantee must bite
    probe_before = _probe(spark, f"{run_root}/fts_store")

    # full redelivery of batch 0 (sig append + FTS append both landed)
    docs = _docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % BATCH_MOD == 0)
    kw = dict(dstore=f"{run_root}/dedup_store",
              fstore=f"{run_root}/fts_store",
              sink=f"{run_root}/decisions",
              ledger=f"{run_root}/ledger",
              manifest=f"{run_root}/indexed")
    ingest_batch(spark, batch, 0, **kw)
    assert tuple(spark.read.parquet(
        f"{run_root}/ledger/batch-0").collect()[0]) == first
    assert {r["doc_id"] for r in spark.read.parquet(
        manifest_glob).collect()} == admitted
    assert _probe(spark, f"{run_root}/fts_store") == probe_before

    # crash-window replay: signatures are in the store (they are — the
    # full run appended them), the FTS segment is "lost". Rebuild the
    # fts store to its pre-batch state and replay: the durable slice
    # must restore the exact same index state, NOT drop the kept docs.
    import shutil

    from duckdb_hybrid_doc_search_spark.streaming.index_maintenance \
        import ensure_fts_base_store

    base = ensure_fts_base_store(
        spark, docs, ~(F.col("doc_id") % BATCH_MOD == 0), sf_dir)
    shutil.rmtree(f"{run_root}/fts_store")
    shutil.copytree(base, f"{run_root}/fts_store")
    ingest_batch(spark, batch, 0, **kw)
    assert tuple(spark.read.parquet(
        f"{run_root}/ledger/batch-0").collect()[0]) == first
    assert _probe(spark, f"{run_root}/fts_store") == probe_before


def test_fts_append_noop_redelivery_keeps_scored_table(spark, sf_dir,
                                                       tmp_path):
    """A no-op redelivery (skip_existing, all ids live) and a rejected
    overlapping append must both leave the folded store's fold-time
    postings_scored table intact — only an append that actually lands
    rows invalidates it."""
    import os

    import pytest as _pytest

    from duckdb_hybrid_doc_search_spark.index.fts_layout import (
        SEG_SCORED,
        append_fts_segment,
        fold_fts_segments,
        write_fts_segments,
    )

    docs = _docs(spark, sf_dir)
    store = str(tmp_path / "seg")
    write_fts_segments(docs.where(F.col("doc_id") % 3 == 0), store)
    append_fts_segment(spark, store, docs.where(F.col("doc_id") % 3 == 1),
                       append_id="a1")
    fold_fts_segments(spark, store)
    scored = os.path.join(store, SEG_SCORED)
    assert os.path.exists(scored)

    # no-op redelivery: already-folded ids, skip_existing
    append_fts_segment(spark, store, docs.where(F.col("doc_id") % 3 == 1),
                       append_id="a1", skip_existing=True)
    assert os.path.exists(scored)

    # rejected overlap (loud default) also leaves it intact
    with _pytest.raises(ValueError, match="overlaps the FTS store"):
        append_fts_segment(spark, store,
                           docs.where(F.col("doc_id") % 3 == 1),
                           append_id="a2")
    assert os.path.exists(scored)

    # an append that lands NEW rows drops it (stats changed)
    append_fts_segment(spark, store, docs.where(F.col("doc_id") % 3 == 2),
                       append_id="a3")
    assert not os.path.exists(scored)


def test_ingest_empty_batch_is_skipped_whole(spark, sf_dir, tmp_path):
    """An EMPTY micro-batch (a spool repartition can emit empty files)
    must not run the decide/signature/manifest machinery: no zero-count
    ledger row, no empty decisions slice, no segment append — and a
    redelivered empty batch is still a no-op (r10 ADVICE)."""
    from duckdb_hybrid_doc_search_spark.index.dedup_layout import (
        ensure_dedup_layout)
    from duckdb_hybrid_doc_search_spark.streaming.ingest import ingest_batch
    from duckdb_hybrid_doc_search_spark.streaming.index_maintenance import (
        ensure_fts_base_store)

    docs = _docs(spark, sf_dir)
    existing = docs.where(F.col("doc_id") % BATCH_MOD != 0)
    import shutil

    dstore = str(tmp_path / "dstore")
    fstore = str(tmp_path / "fstore")
    shutil.copytree(ensure_dedup_layout(spark, existing, sf_dir), dstore)
    shutil.copytree(
        ensure_fts_base_store(
            spark, docs, ~(F.col("doc_id") % BATCH_MOD == 0), sf_dir),
        fstore)
    seg_files_before = sorted(
        os.listdir(os.path.join(fstore, "segstats")))

    empty = docs.where(F.lit(False))
    for _ in range(2):  # delivery + redelivery
        ingest_batch(spark, empty, 7, dstore=dstore, fstore=fstore,
                     sink=str(tmp_path / "dec"),
                     ledger=str(tmp_path / "led"),
                     manifest=str(tmp_path / "man"))
    assert not os.path.exists(str(tmp_path / "led"))
    assert not os.path.exists(str(tmp_path / "dec"))
    assert not os.path.exists(str(tmp_path / "man"))
    assert sorted(os.listdir(os.path.join(fstore, "segstats"))) == \
        seg_files_before
