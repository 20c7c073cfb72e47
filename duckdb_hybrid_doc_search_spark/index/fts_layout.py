"""FTS index as a WRITTEN, term-ordered parquet layout — build once, probe many.

This is the reference's own architecture (index built at write time,
ref db.py:143-150; probed read-only at query time, ref searcher.py:112-120)
expressed as a data layout instead of an in-memory cache:

    <root>/fts_layout/<key>/postings/      term-range-partitioned, term-sorted
    <root>/fts_layout/<key>/docfreq/
    <root>/fts_layout/<key>/docstats/
    <root>/fts_layout/<key>/corpus_stats/  (1 row, avgdl precomputed)

``postings`` is written via repartitionByRange(term) + sortWithinPartitions,
so every parquet file covers a disjoint term range and carries tight
min/max stats: a probe's ``term IN (...)`` filter is pushed into the scan
(PushedFilters) and skips every file/row-group outside the query's term
slice. At 100 TB the probe reads O(postings-for-query-terms), never the
corpus — unlike an in-memory ``persist()`` of the index, which (a) pays a
full corpus tokenize+explode+groupBy materialization per session and
(b) cannot push the term filter into cached batches.

The layout key is the data dir's basename PLUS a staleness fingerprint
(``index/fingerprint``: driver-side file stats when the corpus is
file-backed — zero Spark jobs per probe — else one content-hash scan), so
regenerated testdata rebuilds instead of silently probing a stale index.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import read_table
from .fingerprint import (content_fingerprint, ensure_layout,
                          layout_fingerprint, layout_name, sig_fingerprint,
                          source_file_stats, stat_sig, sweep_siblings,
                          warehouse_root)

# One range partition per ~this many postings rows at build time; at local
# test scale this yields a handful of term-range files, on a cluster the
# writer parallelism scales with the corpus.
POSTINGS_RANGE_PARTITIONS = 16

_TABLES = ("postings", "docfreq", "docstats", "corpus_stats",
           "postings_scored")

# Bump when the written table set / schema changes: the version is part of
# the cache key, so layouts written by older code are rebuilt, not misread.
_LAYOUT_VERSION = 2

# Completion marker of a one-shot layout: corpus_stats is written last.
FTS_DONE = os.path.join("corpus_stats", "_SUCCESS")


def write_fts_layout(docs: DataFrame, out_dir: str, id_col: str = "doc_id",
                     text_col: str = "text") -> None:
    """Derive the four index tables and write them term-ordered."""
    from ..operators.bm25 import build_fts_index

    write_index_tables(build_fts_index(docs, id_col, text_col), out_dir)


def write_index_tables(index: dict[str, DataFrame], out_dir: str) -> None:
    """Write ANY bm25-shaped index dict (postings/docfreq/docstats/
    corpus_stats) as the standard term-ordered layout + the denormalized
    postings_scored — shared by the word analyzer (write_fts_layout) and
    the BPE analyzer (index/bpe_layout.ensure_bpe_fts_layout): the
    storage contract is analyzer-independent."""
    (
        index["postings"]
        .repartitionByRange(POSTINGS_RANGE_PARTITIONS, "term")
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite").parquet(os.path.join(out_dir, "postings"))
    )
    (
        index["docfreq"]
        .repartitionByRange(POSTINGS_RANGE_PARTITIONS, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite").parquet(os.path.join(out_dir, "docfreq"))
    )
    index["docstats"].write.mode("overwrite").parquet(
        os.path.join(out_dir, "docstats")
    )
    # postings_scored (operators/bm25.scored_postings): a probe over it is
    # ONE term-pruned scan + the Okapi expression — no joins, no
    # broadcasts, no corpus-stats lookup.
    from ..operators.bm25 import scored_postings

    (
        scored_postings(index)
        .repartitionByRange(POSTINGS_RANGE_PARTITIONS, "term")
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "postings_scored"))
    )
    # corpus_stats LAST: its _SUCCESS marker is the layout-complete flag
    # ensure_fts_layout checks, so a killed build can never look finished.
    index["corpus_stats"].write.mode("overwrite").parquet(
        os.path.join(out_dir, "corpus_stats")
    )


def read_fts_layout(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    """The index dict every probe operator takes (operators/bm25)."""
    return {
        t: read_table(spark, os.path.join(out_dir, t)) for t in _TABLES
    }


# Opened-layout memo: (appId, out_dir) -> (marker mtime, index dict).
# Repeated probes of the same written layout reuse the resolved
# DataFrames (no per-probe parquet schema resolution). Keyed by Spark
# application id so a restarted session never sees stale handles.
_OPEN: dict[tuple[str, str], tuple[int, dict[str, DataFrame]]] = {}


def open_fts_layout(spark: SparkSession,
                    out_dir: str) -> dict[str, DataFrame]:
    """``read_fts_layout`` through the opened-layout memo, for every
    one-shot index layout (word and BPE analyzers). An entry is a hit
    only while the completion marker it was opened under still exists:
    a deleted layout is rebuilt by ``ensure_layout`` under the SAME
    directory name before this runs, so the marker's mtime, not just
    its presence, tells a rebuilt layout from the one the handles read.
    Entries from other Spark applications or for deleted directories
    are dropped when a new entry is stored."""
    app_id = spark.sparkContext.applicationId
    stamp = os.stat(os.path.join(out_dir, FTS_DONE)).st_mtime_ns
    hit = _OPEN.get((app_id, out_dir))
    if hit is not None and hit[0] == stamp:
        return hit[1]
    for k in list(_OPEN):
        if k[0] != app_id or not os.path.isdir(k[1]):
            del _OPEN[k]
    index = read_fts_layout(spark, out_dir)
    _OPEN[(app_id, out_dir)] = (stamp, index)
    return index


# Warm-probe freshness memo:
# (appId, sf_dir, name, layout_root) -> (out_dir, file sig, dir sig).
# Lets a repeat probe validate layout freshness with pure driver-side
# os.stat (microseconds) instead of re-resolving the corpus DataFrame and
# calling inputFiles() through the JVM (~0.2s per probe — the r4
# bm25_topk/bm25_batch_topk bench regression). The file sig catches
# modified/deleted source files; the PARENT-DIRECTORY sig catches files
# ADDED to the corpus (append writes create entries -> dir mtime bumps),
# which re-statting only the recorded files would miss. Either mismatch
# falls back to the full fingerprint path and rebuilds.
_FRESH: dict[tuple[str, str, str, str],
             tuple[str, "object", "object"]] = {}


def _dir_sig(sig) -> tuple:
    """Stat signature of the distinct parent directories of `sig`'s
    files, PLUS each directory's entry count.

    The (size, mtime_ns) stats alone are spoofable by a corpus
    regenerated with preserved timestamps (cp -p / rsync -a) or on a
    coarse-mtime filesystem; the listdir length is an independent beacon
    that catches added/removed files in those cases. A same-count
    timestamp-preserving REPLACEMENT still passes the fast path — that
    residual caveat is inherent to stat-based freshness and is shared
    with the slow path's file-level fingerprint; callers needing
    content-level certainty must pass a concrete DataFrame (which always
    takes the full fingerprint path) rather than a thunk.
    """
    dirs = sorted({os.path.dirname(p) for p, _, _ in sig})
    counts = tuple(len(os.listdir(d)) for d in dirs)
    return (stat_sig(dirs), counts)


def ensure_fts_layout(spark: SparkSession,
                      docs: DataFrame | Callable[[], DataFrame],
                      sf_dir: str,
                      name: str = "documents", id_col: str = "doc_id",
                      text_col: str = "text",
                      root: str | None = None) -> dict[str, DataFrame]:
    """Build (once per content) and open the written FTS index for `docs`.

    Amortizes index construction across every probe of the same corpus —
    the registered bm25/hybrid queries call this instead of re-deriving
    (and re-persisting) the index per session. The freshness check is
    driver-side file stats for file-backed corpora (no Spark job on the
    warm path); `name` disambiguates different logical corpora that read
    the same files (the file fingerprint hashes files, not plans).

    `docs` may be a zero-arg callable: on a warm repeat probe (file stats
    unchanged since this session last opened the layout) it is never
    invoked, so the probe pays no DataFrame construction at all. The
    stat fast path applies ONLY to thunk callers — passing a thunk asserts
    that (sf_dir, name) fully identifies the corpus, so re-statting the
    recorded file paths is a sound freshness check. A concrete DataFrame
    may read arbitrary files (e.g. a regenerated copy at a new path), so
    it always takes the full fingerprint path.
    """
    fast_key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir),
                name, warehouse_root("fts_layout", root))
    fresh = _FRESH.get(fast_key) if callable(docs) else None
    if fresh is not None:
        out_dir, sig, dsig = fresh
        try:
            if (stat_sig([p for p, _, _ in sig]) == sig
                    and _dir_sig(sig) == dsig):
                return open_fts_layout(spark, out_dir)
        except OSError:
            pass  # source files or the layout moved/deleted: rebuild
        _FRESH.pop(fast_key, None)
    was_thunk = callable(docs)
    if was_thunk:
        docs = docs()
    sig = source_file_stats(docs)
    fp = sig_fingerprint(sig) if sig else content_fingerprint(
        docs, id_col, text_col
    )

    def build(out_dir: str) -> None:
        write_fts_layout(docs, out_dir, id_col, text_col)
        # every format version of this corpus, never a distinct corpus
        # whose name merely extends this one (e.g. "part" vs "part-v2docs")
        sweep_siblings(out_dir,
                       re.escape(layout_name(sf_dir, name, "")) + r"v\d+-")

    out_dir = ensure_layout("fts_layout", sf_dir,
                            f"{name}-v{_LAYOUT_VERSION}", fp, build,
                            FTS_DONE, root)
    if sig and was_thunk:
        try:
            _FRESH[fast_key] = (out_dir, sig, _dir_sig(sig))
        except OSError:
            pass  # dirs raced away: no fast path, correctness unaffected
    return open_fts_layout(spark, out_dir)


# --- segmented (append-able) FTS layout --------------------------------------
#
# The one-shot layout above denormalizes every BM25 scoring input into
# postings_scored at WRITE time — the fastest probe, but a single
# appended document changes df / n_docs / avgdl for EVERY existing row,
# so that form can only ever be rebuilt. At 100 TB the search index
# must absorb arriving shards without a rebuild (the same requirement
# the dedup/IVF/IVF-PQ/SQ8 stores already meet), so the segmented form
# keeps the NORMALIZED tables and makes every global statistic a sum of
# per-segment deltas — Lucene's segment design, re-expressed as parquet
# append files:
#
# - postings/ (term, doc_id, tf)  — per-doc, segment-local by nature
# - docfreq/  (term, df)          — per-SEGMENT df delta; global df is
#                                   sum(df) over segments (docs disjoint)
# - docstats/ (doc_id, dl)        — per-doc
# - segstats/ (n_docs, sum_dl)    — one row per segment; global n_docs /
#                                   avgdl are exact-integer sums, so the
#                                   probe's avgdl is bit-identical to the
#                                   one-shot avg(dl)
#
# The probe (operators/bm25.segment_fts_index) aggregates the deltas
# INSIDE the term-pruned plan, so scoring stays one pushdown-pruned scan
# per table; per-doc tokenization is deterministic, so base + appends ==
# one-shot build value-for-value (the property the registered
# bm25_incremental_layout_probe gates against the full-corpus oracle).
# Append crash-safety follows index/dedup_layout conventions: staged
# writes renamed under a deterministic append id, the segstats tier
# moved LAST (postings without their segstats row would skew avgdl/idf,
# so "segstats present" marks the segment complete), retry cleanup per
# append id, orphan sweep for never-redelivered crashes, single-writer
# lockfile.

SEG_TABLES = ("postings", "docfreq", "docstats", "segstats")
SEG_DONE = "_SEG_DONE"
SEG_APPEND_DONE = "_SEG_APPEND_DONE"
SEG_FOLD_DONE = "_SEG_FOLD_DONE"
SEG_SPLIT_MOD = 7
SEG_SPLIT_REM = 3

# Optional fifth table, written only by fold_fts_segments: the folded
# store's stats are final until the next append, so the fold can afford
# the one-shot layout's denormalized impact-list trick (postings_scored)
# and hand probes a join-free term-pruned scan. An append INVALIDATES it
# (df/n_docs/avgdl change for every row) — the store falls back to the
# delta path until the next fold.
SEG_SCORED = "postings_scored"

# Fold roll-forward marker: created ONLY after every staged table is
# completely written, removed after the live dirs are swapped. Writers
# finding it roll the swap forward before doing anything else; readers
# finding it refuse (the store may be missing a table mid-swap).
FOLD_READY = "_FOLD_READY"


def _segment_frames(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    index_fn=None) -> dict[str, DataFrame]:
    """``index_fn`` (docs -> bm25-shaped index dict) swaps the analyzer:
    None = the word analyzer (build_fts_index); the BPE segmented store
    passes a frozen-merges bpe_fts_index closure. The segment tables'
    SHAPE is analyzer-independent, so append/fold/probe machinery works
    unchanged."""
    from ..operators.bm25 import build_fts_index

    index = (index_fn(docs) if index_fn is not None
             else build_fts_index(docs, id_col, text_col))
    segstats = index["docstats"].agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    return {
        "postings": index["postings"],
        "docfreq": index["docfreq"],
        "docstats": index["docstats"],
        "segstats": segstats,
    }


def write_fts_segments(docs: DataFrame, out_dir: str,
                       id_col: str = "doc_id",
                       text_col: str = "text",
                       index_fn=None) -> None:
    """Base segment of a segmented FTS store (sentinel last)."""
    frames = _segment_frames(docs, id_col, text_col, index_fn)
    for name in SEG_TABLES:
        df = frames[name]
        if name in ("postings", "docfreq"):
            df = (df.repartitionByRange(POSTINGS_RANGE_PARTITIONS, "term")
                  .sortWithinPartitions("term"))
        df.write.mode("overwrite").parquet(os.path.join(out_dir, name))
    with open(os.path.join(out_dir, SEG_DONE), "w"):
        pass


def _sweep_orphan_segments(paths: dict[str, str]) -> None:
    """Remove append files whose append id has no segstats counterpart
    (a crashed append that was never redelivered): segstats moves LAST,
    so its absence marks an incomplete segment whose postings would
    otherwise score with a skewed avgdl/idf forever."""
    import glob

    def ids(table: str) -> set[str]:
        out = set()
        for f in glob.glob(os.path.join(paths[table], "append-*.parquet")):
            stem = os.path.basename(f)[len("append-"):-len(".parquet")]
            out.add(stem.rsplit("-", 1)[0])
        return out

    live = ids("segstats")
    for table in ("postings", "docfreq", "docstats"):
        for f in glob.glob(os.path.join(paths[table], "append-*.parquet")):
            stem = os.path.basename(f)[len("append-"):-len(".parquet")]
            if stem.rsplit("-", 1)[0] not in live:
                os.remove(f)


def append_fts_segment(spark: SparkSession, out_dir: str,
                       new_docs: DataFrame,
                       append_id: str | None = None,
                       id_col: str = "doc_id",
                       text_col: str = "text",
                       skip_existing: bool = False,
                       index_fn=None) -> None:
    """Append one segment (an arriving shard's docs) to a segmented FTS
    store — no rebuild, no rewrite of existing files. Same crash-safety
    and idempotency contract as index/dedup_layout.append_dedup_
    signatures (staged rename under a deterministic append id, last
    tier = segstats, per-id retry cleanup, orphan sweep, id-overlap
    check against docstats, single-writer lockfile).

    ``skip_existing`` changes the id-overlap check from raise to
    subtract: docs whose ids are already live in the store are dropped
    from the segment (batch-bounded broadcast anti-join, evaluated
    AFTER the orphan sweep so a crashed append's half-landed rows can't
    mask a retry). This is what makes at-least-once redelivery safe
    ACROSS A FOLD: after fold_fts_segments merges an appended segment
    into the base, the per-append files that normal redelivery would
    replace are gone, and re-appending the same docs would double-count
    df/n_docs — with skip_existing the redelivered batch reduces to a
    no-op instead. Manual appends keep the loud default."""
    import glob
    import shutil

    from .dedup_layout import _batch_append_id

    if not os.path.exists(os.path.join(out_dir, SEG_DONE)):
        raise ValueError(
            f"no completed segmented FTS layout at {out_dir}: build the "
            "base segment first (write_fts_segments)."
        )
    paths = {name: os.path.join(out_dir, name) for name in SEG_TABLES}
    if new_docs.isEmpty():
        return
    if append_id is None:
        append_id = _batch_append_id(new_docs.select(
            F.col(id_col).alias("doc_id")))
    lock = os.path.join(out_dir, "_append.lock")
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise RuntimeError(
            f"segmented FTS layout at {out_dir} has an append in flight "
            f"(lockfile {lock} held): appends are single-writer. If the "
            "holder crashed, remove the lockfile and retry — staged "
            "leftovers are reaped under the next lock."
        )
    os.close(fd)
    try:
        # a crashed fold left a marked, fully-staged swap: finish it
        # BEFORE the staging reap below would destroy it (a fold that
        # crashed before its marker landed is plain staging garbage)
        complete_fold(out_dir)
        _sweep_orphan_segments(paths)
        for path in paths.values():
            for f in glob.glob(os.path.join(path, f"append-{append_id}-*")):
                os.remove(f)
        dup_ids = (
            read_table(spark, paths["docstats"])
            .select("doc_id")
            .join(F.broadcast(new_docs.select(
                F.col(id_col).alias("doc_id"))), "doc_id")
        )
        if skip_existing:
            # batch-bounded (≤ the segment's own ids); pinned so the
            # anti-join broadcasts a materialized set, not a re-scan
            dup_local = dup_ids.localCheckpoint(eager=True)
            new_docs = new_docs.join(
                F.broadcast(dup_local),
                new_docs[id_col] == dup_local["doc_id"],
                "left_anti",
            )
            if new_docs.isEmpty():
                return  # full redelivery of an already-live segment
        else:
            n_dup = dup_ids.count()
            if n_dup:
                raise ValueError(
                    f"append segment overlaps the FTS store on {n_dup} "
                    "doc_id(s): duplicate ids would double-count "
                    "postings and inflate df/n_docs. Segments must "
                    "carry NEW ids (or pass skip_existing=True to "
                    "drop them, the streaming redelivery contract)."
                )
        # this append changes df/n_docs/avgdl for every existing row, so
        # a fold-time postings_scored table (SEG_SCORED) is stale the
        # moment it lands: drop it — probes fall back to the delta path
        # until the next fold. Deleted only AFTER the duplicate check /
        # skip_existing early-return above: a no-op redelivery of an
        # already-applied batch, or a rejected overlapping batch,
        # changes nothing and must not destroy the folded probe table
        # (r10 review finding).
        shutil.rmtree(os.path.join(out_dir, SEG_SCORED),
                      ignore_errors=True)
        # single-writer lock held: every staged subdir is crash residue
        # (ours or a never-redelivered batch's) — reap them all (r9
        # review finding, mirrors append_dedup_signatures)
        shutil.rmtree(os.path.join(out_dir, "_staging"),
                      ignore_errors=True)
        stage = os.path.join(out_dir, "_staging", append_id)
        frames = _segment_frames(new_docs, id_col, text_col, index_fn)
        for name in SEG_TABLES:
            df = frames[name]
            if name in ("postings", "docfreq"):
                # term-ordered like the base segment: parquet row-group
                # stats keep the In(term) pushdown effective as appended
                # segments accumulate
                df = (df.repartitionByRange(POSTINGS_RANGE_PARTITIONS,
                                            "term")
                      .sortWithinPartitions("term"))
            if name == "segstats":
                # the completion-marker tier must be ONE file so its
                # rename is atomic (one row anyway)
                df = df.repartition(1)
            df.write.mode("overwrite").parquet(
                os.path.join(stage, name)
            )
        staged = {
            name: sorted(glob.glob(
                os.path.join(stage, name, "part-*.parquet")))
            for name in SEG_TABLES
        }
        if not staged["docstats"]:
            shutil.rmtree(stage, ignore_errors=True)
            return
        assert len(staged["segstats"]) == 1, \
            "segstats tier must stage as one file"
        for name in ("postings", "docfreq", "docstats", "segstats"):
            for i, f in enumerate(staged[name]):
                os.rename(f, os.path.join(
                    paths[name], f"append-{append_id}-{i}.parquet"))
        shutil.rmtree(os.path.join(out_dir, "_staging"),
                      ignore_errors=True)
    finally:
        os.remove(lock)


def _fold_stage_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_staging", "fold")


def complete_fold(out_dir: str) -> bool:
    """Roll a marked fold forward (idempotent); True if one completed.

    The FOLD_READY marker is created only after every staged table is
    fully written, so the swap can always run to completion: for each
    table still sitting in the stage, drop the live dir and rename the
    staged one in. A crash anywhere inside re-enters cleanly — already-
    swapped tables have no staged dir left and are skipped. MUST be
    called under the store's single-writer lock (both writers do)."""
    import shutil

    marker = os.path.join(out_dir, FOLD_READY)
    if not os.path.exists(marker):
        return False
    stage = _fold_stage_dir(out_dir)
    for name in SEG_TABLES + (SEG_SCORED,):
        staged = os.path.join(stage, name)
        if os.path.exists(staged):
            live = os.path.join(out_dir, name)
            if os.path.exists(live):
                shutil.rmtree(live)
            os.rename(staged, live)
    shutil.rmtree(os.path.join(out_dir, "_staging"), ignore_errors=True)
    os.remove(marker)
    return True


def fold_fts_segments(spark: SparkSession, out_dir: str) -> None:
    """Merge every segment of a segmented FTS store into ONE base segment
    — the compaction half of the Lucene-style design (r9 VERDICT #2: the
    fragmentation tax was measured at 1.62x probe cost at 16 segments,
    with two costs growing per segment forever: parquet file opens AND
    per-term docfreq delta ROWS, which the probe's in-plan sum processes
    one-per-term-per-segment). After the fold:

    - postings/docstats are rewritten term-ranged/compacted (content
      unchanged — doc rows are segment-disjoint);
    - docfreq holds ONE exact-integer row per term (the summed deltas);
    - segstats holds one row (summed n_docs / sum_dl);
    - postings_scored is written fold-time (stats are final until the
      next append), so probes take the one-shot layout's join-free
      term-pruned scan — operators/bm25._matched picks it up via
      segment_fts_index. The next append deletes it (stats change).

    Scores are bit-identical across fold states: df / n_docs / sum_dl
    are exact integers whether summed in-plan or at fold time, and avgdl
    is the same correctly-rounded sum/count division — so a folded
    store's probe shares bm25_topk's full-corpus oracle, parity-gated by
    tests/test_fts_layout.py over build -> append x15 -> fold -> probe.

    Crash safety (same conventions as the appends): single-writer
    lockfile shared with append_fts_segment; every staged table written
    completely BEFORE the FOLD_READY marker lands (the sentinel-last
    rule); the live-dir swap is rolled forward by the next writer if
    interrupted (complete_fold). Readers seeing the marker refuse rather
    than read a half-swapped store.

    Cadence: folding is O(store), appending is O(segment) — production
    runs the fold as periodic maintenance (e.g. every N micro-batches of
    streaming/index_maintenance.run_streaming_fts_append, or when the
    segment count passes a threshold), exactly like Lucene segment
    merges; SCALING.md's SEGFTS section prices both sides."""
    import shutil

    from ..operators.bm25 import scored_postings

    if not os.path.exists(os.path.join(out_dir, SEG_DONE)):
        raise ValueError(
            f"no completed segmented FTS layout at {out_dir}: build the "
            "base segment first (write_fts_segments)."
        )
    paths = {name: os.path.join(out_dir, name) for name in SEG_TABLES}
    lock = os.path.join(out_dir, "_append.lock")
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise RuntimeError(
            f"segmented FTS layout at {out_dir} has a writer in flight "
            f"(lockfile {lock} held): folds are single-writer, like "
            "appends. If the holder crashed, remove the lockfile and "
            "retry — a marked fold rolls forward, staged leftovers are "
            "reaped."
        )
    os.close(fd)
    try:
        # a crashed fold's swap completes first; a crash BEFORE its
        # marker landed left only staging garbage, reaped below
        complete_fold(out_dir)
        _sweep_orphan_segments(paths)
        shutil.rmtree(os.path.join(out_dir, "_staging"),
                      ignore_errors=True)
        from ..operators.bm25 import segment_fts_index

        idx = segment_fts_index(spark, out_dir)
        segstats = read_table(spark, paths["segstats"]).agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("sum_dl").cast("long").alias("sum_dl"),
        )
        frames = {
            "postings": idx["postings"],
            "docfreq": idx["docfreq"],   # already the in-plan delta sum
            "docstats": idx["docstats"],
            "segstats": segstats,
            SEG_SCORED: scored_postings(idx),
        }
        stage = _fold_stage_dir(out_dir)
        for name in SEG_TABLES + (SEG_SCORED,):
            df = frames[name]
            if name in ("postings", "docfreq", SEG_SCORED):
                df = (df.repartitionByRange(POSTINGS_RANGE_PARTITIONS,
                                            "term")
                      .sortWithinPartitions("term"))
            if name == "segstats":
                df = df.repartition(1)
            df.write.mode("overwrite").parquet(os.path.join(stage, name))
        # marker ONLY after every staged table is complete — from here
        # the swap always rolls forward, never back
        with open(os.path.join(out_dir, FOLD_READY), "w"):
            pass
        complete_fold(out_dir)
    finally:
        os.remove(lock)


def ensure_fts_segment_layout(spark: SparkSession, docs: DataFrame,
                              sf_dir: str,
                              root: str | None = None) -> str:
    """Build (once) a segmented FTS store that REACHED its final state
    via incremental maintenance: base segment over ~6/7 of the corpus,
    the rest (doc_id % 7 == 3) appended via :func:`append_fts_segment`.
    Probing it is how the registered ``bm25_incremental_layout_probe``
    earns a driver row for the append path — per-doc-deterministic
    tokenization means base + append must equal a one-shot build, so
    the probe shares bm25_topk's full-corpus oracle."""

    def build(out_dir: str) -> None:
        is_new = F.col("doc_id") % SEG_SPLIT_MOD == SEG_SPLIT_REM
        write_fts_segments(docs.where(~is_new), out_dir)
        append_fts_segment(spark, out_dir, docs.where(is_new))

    return ensure_layout("fts_segment_layout", sf_dir,
                         f"seg-v{_LAYOUT_VERSION}",
                         layout_fingerprint(docs, "doc_id", "text"), build,
                         SEG_APPEND_DONE, root)


def ensure_fts_folded_layout(spark: SparkSession, docs: DataFrame,
                             sf_dir: str,
                             root: str | None = None) -> str:
    """Build (once) a segmented FTS store that went through the FULL
    maintenance cycle: base segment over ~5/7 of the corpus, TWO appended
    segments (doc_id % 7 in {3, 5}), then :func:`fold_fts_segments` back
    to one base segment with a fold-time postings_scored table. Probing
    it is how the registered ``bm25_folded_layout_probe`` earns a driver
    row for the fold path — fold-invariant scoring means the probe
    shares bm25_topk's full-corpus oracle, and the store's probe plan is
    the one-shot layout's join-free term-pruned scan (the r9 VERDICT #7
    question, answered in the affirmative by construction)."""

    def build(out_dir: str) -> None:
        mod = F.col("doc_id") % SEG_SPLIT_MOD
        write_fts_segments(docs.where(~mod.isin(SEG_SPLIT_REM, 5)), out_dir)
        append_fts_segment(spark, out_dir, docs.where(mod == SEG_SPLIT_REM))
        append_fts_segment(spark, out_dir, docs.where(mod == 5))
        fold_fts_segments(spark, out_dir)

    return ensure_layout("fts_folded_layout", sf_dir,
                         f"fold-v{_LAYOUT_VERSION}",
                         layout_fingerprint(docs, "doc_id", "text"), build,
                         SEG_FOLD_DONE, root)
