"""Streaming search-index maintenance: keep the written index fresh as
new Markdown lands.

The reference re-runs its whole indexer by hand when docs change
(ref indexer.py:31-96); here a Structured Streaming file source WATCHES
the docs directories and each micro-batch re-converges the index through
``index/builder.index_incremental`` — the deterministic-chunk-id set
algebra means only genuinely new/changed chunks pay the embedding stage,
kept embeddings stay byte-identical, and the derived FTS tables are
recomputed from the merged corpus (df/avgdl are global, so they must be).

The stream carries file CONTENT only to detect work (names + sizes would
miss in-place edits at equal length); the heavy lifting always runs
through the same batch code path, so stream-vs-batch equivalence is by
construction, with the swap-in write keeping probes consistent mid-update.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession

from ..index.catalog import load_table, read_table


def read_markdown_stream(spark: SparkSession, dirs: list[str]) -> DataFrame:
    """Bounded file stream over ``*.md`` under the watched dirs (wholetext,
    recursive) — the streaming twin of sources/markdown.py."""
    if len(dirs) != 1:
        # one stream per root keeps source bookkeeping simple; callers
        # union streams if they truly watch disjoint roots
        raise ValueError("watch exactly one root dir per stream")
    return (
        spark.readStream
        .format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", "*.md")
        .option("recursiveFileLookup", "true")
        .load(dirs[0])
    )


def run_streaming_index_update(spark: SparkSession, watch_dir: str,
                               out_dir: str, checkpoint: str):
    """Start a stream that re-converges the index whenever files arrive.

    Every micro-batch triggers one ``index_incremental`` pass over the
    watched dir: chunks whose deterministic id already exists keep their
    stored embedding; new/changed chunks embed; removed files drop out.
    Returns the StreamingQuery (caller owns lifecycle; tests drive it
    with processAllAvailable).
    """
    from ..index.builder import index_incremental

    stream = read_markdown_stream(spark, [watch_dir])

    def reconverge(batch_df: DataFrame, batch_id: int) -> None:
        # the batch content is the change SIGNAL; reconvergence always
        # reads the authoritative dir state through the batch path, so a
        # lost/duplicated micro-batch cannot corrupt the index (idempotent)
        if batch_df.isEmpty():
            return
        index_incremental(spark, [watch_dir], out_dir)

    return (
        stream.writeStream
        .option("checkpointLocation", checkpoint)
        .foreachBatch(reconverge)
        .start()
    )


def ensure_fts_base_store(spark: SparkSession, docs: DataFrame,
                          keep: Column, sf_dir: str,
                          root: str | None = None) -> str:
    """Build (once, fingerprint-keyed) a BASE-ONLY segmented FTS store
    over the slice ``docs.where(keep)`` — the starting state the
    streaming append loops copy per run (appends must never mutate the
    shared cache, mirroring streaming/docs.run_streaming_incremental_dedup's
    store copy).

    The file-stat fingerprint hashes input FILES, not plans, so two
    slices of one parquet fingerprint alike; the key therefore also
    carries the slice predicate's text (fingerprint.predicate_tag).
    Pass ``keep`` over column names (``F.col``), and ``F.lit(True)`` for
    the whole corpus."""
    from ..index.fingerprint import (ensure_layout, layout_fingerprint,
                                     predicate_tag)
    from ..index.fts_layout import (_LAYOUT_VERSION, SEG_DONE,
                                    write_fts_segments)

    base = docs.where(keep)
    return ensure_layout("fts_segment_layout", sf_dir,
                         f"segbase-v{_LAYOUT_VERSION}-{predicate_tag(keep)}",
                         layout_fingerprint(docs, "doc_id", "text"),
                         lambda out_dir: write_fts_segments(base, out_dir),
                         SEG_DONE, root)


def run_streaming_fts_append(spark: SparkSession, sf_dir: str, query: str,
                             top_k: int,
                             query_name: str = "fts_append",
                             fold_every: int | None = None,
                             trigger_files: int | None = None,
                             run_root: str | None = None) -> DataFrame:
    """Search-index maintenance WITHOUT recomputation, as a structured
    stream: arriving documents (doc_id % 7 == 3 — the SEG_SPLIT rule)
    flow through foreachBatch and each micro-batch APPENDS one segment
    to the segmented FTS store (index/fts_layout.append_fts_segment,
    keyed by the micro-batch id so at-least-once redelivery replaces
    its own files). Global df / n_docs / avgdl are per-segment deltas
    summed at probe time, so NOTHING about the existing index is
    recomputed or rewritten per batch — the true 100 TB ingestion
    story, vs run_streaming_index_update above, which re-converges the
    one-shot layout because its denormalized postings_scored form
    cannot absorb appends.

    The bounded drive returns the post-stream BM25 top-k probe of the
    store, which must hash-match the FULL-CORPUS oracle (bm25_topk's) —
    a drifted append (double-counted df, skewed avgdl, lost postings)
    flips the registered row.

    Fold cadence (``fold_every``): each micro-batch adds one segment,
    and two probe costs grow with segment count (parquet file opens;
    per-term docfreq delta rows — SCALING.md SEGFTS measured 1.62x at
    16 segments), so a long-lived stream runs
    index/fts_layout.fold_fts_segments as periodic maintenance, exactly
    like Lucene segment merges: when the post-append segment count
    (segstats row count) reaches ``fold_every``, the batch hook folds
    the store back to one base segment before the next batch. The fold
    takes the same single-writer lock as the appends, so it simply runs
    between them; scoring is fold-invariant (exact-integer stats), so
    probes are correct at every cadence. Folding erases the per-append
    files that make plain redelivery idempotent, so the folding loop
    appends with ``skip_existing=True`` — a redelivered batch whose
    docs are already live (folded into the base or not) reduces to a
    no-op instead of double-counting df/n_docs. The registered bounded
    drive keeps segments unfolded on purpose: its row gates the append
    path, while the fold path is gated by bm25_folded_layout_probe and
    the fold-cadence stream by tests/test_streaming.py.

    ``trigger_files`` (tests): spool the arriving slice as N parquet
    files streamed with maxFilesPerTrigger=1, forcing N micro-batches
    so the cadence actually fires. ``run_root``: caller-owned run dir,
    left on disk for post-run store inspection."""
    import shutil

    from pyspark.sql import functions as F

    from ..index.fts_layout import (SEG_SPLIT_MOD, SEG_SPLIT_REM,
                                    append_fts_segment, fold_fts_segments)
    from ..operators.bm25 import bm25_topk_from_index, segment_fts_index
    from .docs import read_documents_stream
    from .util import bounded_file_source, drive_bounded, own_run_root

    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % SEG_SPLIT_MOD == SEG_SPLIT_REM
    base = ensure_fts_base_store(spark, docs, ~is_new, sf_dir)
    run_root, caller_owns_root = own_run_root(run_root, "stream_ftsappend_")
    store = f"{run_root}/store"
    shutil.copytree(base, store)
    source = bounded_file_source(
        spark, docs.where(is_new), f"{run_root}/spool", trigger_files,
        lambda: read_documents_stream(spark, sf_dir))

    def append_slice(bdf: DataFrame, batch_id: int) -> None:
        batch = bdf.where(is_new)
        append_fts_segment(spark, store, batch, append_id=f"mb{batch_id}",
                           skip_existing=fold_every is not None)
        if (
            fold_every is not None
            and read_table(spark, f"{store}/segstats").count() >= fold_every
        ):
            fold_fts_segments(spark, store)

    return drive_bounded(
        source, append_slice, query_name,
        lambda: bm25_topk_from_index(
            segment_fts_index(spark, store, probe_only=True), query, top_k),
        run_root, caller_owns_root)


def ensure_ivf_stream_base(spark: SparkSession, sf_dir: str,
                           root: str | None = None) -> tuple[str, int]:
    """Build (once, fingerprint-keyed) the BASE IVF layout the streaming
    append loop copies per run: the full corpus MINUS the arriving slice
    (vec_id % APPEND_SPLIT_MOD == APPEND_SPLIT_REM, the same split as
    the batch append probe), indexed with nlist derived from the FULL
    count so the append sequence ends at exactly the one-shot build's
    state. Returns (dir, nlist). The key carries its own name — the
    file-stat fingerprint hashes FILES, not plans, so this slice needs a
    distinct stem from any other cut of the same parquet."""
    from pyspark.sql import functions as F

    from ..index.fingerprint import ensure_layout, layout_fingerprint
    from ..index.ivf_layout import (APPEND_SPLIT_MOD, APPEND_SPLIT_REM,
                                    LAYOUT_DONE, LAYOUT_FORMAT,
                                    read_layout_meta, write_ivf_partitioned)
    from ..operators.knn import centroid_pred, derive_nlist

    emb = load_table(spark, sf_dir, "embeddings")

    def build(out_dir: str) -> None:
        nlist = derive_nlist(emb.count())
        is_new = (~centroid_pred("vec_id", nlist)) & (
            F.col("vec_id") % APPEND_SPLIT_MOD == APPEND_SPLIT_REM
        )
        write_ivf_partitioned(emb.where(~is_new), out_dir, nlist=nlist)

    out_dir = ensure_layout("ivf_stream_base", sf_dir,
                            f"ivfstreambase-{LAYOUT_FORMAT}",
                            layout_fingerprint(emb, "vec_id", "embedding"),
                            build, LAYOUT_DONE, root)
    # the build's nlist, frozen in the layout meta
    return out_dir, read_layout_meta(out_dir)["nlist"]


def run_streaming_ivf_append(spark: SparkSession, sf_dir: str,
                             k: int, n_queries: int,
                             query_name: str = "ivf_append",
                             trigger_files: int | None = None,
                             run_root: str | None = None) -> DataFrame:
    """Vector-index maintenance WITHOUT recomputation, as a structured
    stream — the IVF twin of :func:`run_streaming_fts_append`: arriving
    vectors flow through foreachBatch and each micro-batch is assigned
    against the layout's FROZEN centroids and appended to its cell
    partitions (index/ivf_layout.append_ivf_vectors — new parquet files
    in the hot cells' directories, nothing existing rewritten). Appends
    run skip_existing=True: deterministic frozen-centroid assignment
    sends a redelivered vector to its original cell, where the pruned
    duplicate check drops it — at-least-once redelivery is a no-op.

    The bounded drive returns the post-stream partition-pruned top-k
    probe, which must hash-match the one-shot IVF oracle over the FULL
    table (frozen-centroid append equivalence — the same oracle as
    ann_ivf_append_probe, now earned through the streaming loop).

    Copies the fingerprint-keyed base per run (appends mutate the dir;
    the shared cache must stay pristine). ``trigger_files`` /
    ``run_root`` as in run_streaming_fts_append."""
    import shutil

    from pyspark.sql import functions as F

    from ..index.ivf_layout import (APPEND_SPLIT_MOD, APPEND_SPLIT_REM,
                                    _centroid_dir, _meta_path,
                                    append_ivf_vectors,
                                    ivf_partitioned_topk)
    from ..operators.knn import centroid_pred
    from .util import bounded_file_source, drive_bounded, own_run_root

    emb = load_table(spark, sf_dir, "embeddings")
    base, nlist = ensure_ivf_stream_base(spark, sf_dir)
    is_new = (~centroid_pred("vec_id", nlist)) & (
        F.col("vec_id") % APPEND_SPLIT_MOD == APPEND_SPLIT_REM
    )
    run_root, caller_owns_root = own_run_root(run_root, "stream_ivfappend_")
    store = f"{run_root}/store"
    shutil.copytree(base, store)
    # the frozen centroid table and build meta are SIBLING side files
    # (inside the dir they would be misread as cell data by the
    # partitioned scan) — the per-run copy must carry them too
    shutil.copytree(_centroid_dir(base), _centroid_dir(store))
    shutil.copy(_meta_path(base), _meta_path(store))

    def whole_source() -> DataFrame:
        return (
            spark.readStream.schema(emb.schema)
            .format("parquet")
            .option("pathGlobFilter", "embeddings.parquet")
            .load(sf_dir)
        )

    source = bounded_file_source(
        spark, emb.where(is_new), f"{run_root}/spool", trigger_files,
        whole_source)

    def append_slice(bdf: DataFrame, batch_id: int) -> None:
        append_ivf_vectors(spark, store, bdf.where(is_new),
                           skip_existing=True)

    return drive_bounded(
        source, append_slice, query_name,
        lambda: ivf_partitioned_topk(spark, store, emb, k, n_queries),
        run_root, caller_owns_root)
