"""Persisted minhash-signature store for incremental dedup — the storage
half of ``operators/dedup.dedup_incremental_batch``.

The query-time operator decides each NEW batch document against the
already-kept corpus. Its r7 form recomputed shingles + minhash signatures
for the EXISTING corpus on every call — the docstring's own self-confessed
100 TB gap (re-tokenizing 100 TB of kept text per arriving shard) and the
r7 bench's one real regression. This module writes the existing side ONCE
as an append-only layout (built once per source fingerprint through
``index/fingerprint.ensure_layout``, completion sentinel written LAST,
appends guarded against id overlap):

- ``fp/``    (doc_id, fp)        — md5 text fingerprints (exact tier)
- ``bands/`` (doc_id, band, sig) — LSH band bucket keys (candidate tier)
- ``sigs/``  (doc_id, seed, mh)  — full minhash signatures (verify tier)

Probing cost is then BATCH-proportional compute: shingles/minhash run
over the arriving batch only, and the existing side is a column-pruned
parquet scan of hash columns (16-40 bytes/row vs re-tokenizing full
text — the bands table for a 100 TB corpus is ~0.1% of corpus bytes).
The bands join shuffles on (band, sig); at cluster scale the written
bands table would additionally be bucketed on sig so the arriving batch
shuffles alone. The sigs verify read is filtered to candidate partners
via a broadcast semi-join — candidate sets are LSH-bounded, so the
filter is a hash probe per row, never a corpus recompute.

Reference parity note: the reference engine has no incremental dedup —
this is north-star surface for the 100 TB training-data pipeline, shaped
after the RefinedWeb/Dolma ingestion loop (arXiv:2306.01116 §3.2).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import read_table
from .fingerprint import ensure_layout, layout_fingerprint

# Version token in the cache key: bump when signature semantics change
# (MINHASH_NUM/BANDS, shingle rule, hash fn) so stale layouts rebuild.
LAYOUT_FORMAT = "v1"
# Completion sentinel written LAST, after all three side tables
# (fts_layout's write-the-sentinel-last convention: parquet's _SUCCESS
# lands per-table, so a crash between tables would otherwise leave a
# layout that looks complete but lacks the verify tier).
LAYOUT_DONE = "_LAYOUT_DONE"
APPEND_DONE = "_APPEND_DONE"

# append-path split rule for ensure_dedup_append_layout: ~1/7 of the
# existing corpus arrives via append_dedup_signatures instead of the
# base build, proving maintenance equivalence
APPEND_SPLIT_MOD = 7
APPEND_SPLIT_REM = 3


def _tables(out_dir: str) -> dict[str, str]:
    return {name: os.path.join(out_dir, name)
            for name in ("fp", "bands", "sigs")}


def _signature_frames(docs: DataFrame) -> dict[str, DataFrame]:
    """The three per-doc signature tables for `docs`. Minhash is per-doc
    deterministic (fixed seeds, distinct-shingle min), so signatures of a
    subset equal the full-corpus signatures restricted to that subset —
    the property that makes build + append equal a one-shot build."""
    from ..operators.dedup import _band_sigs, minhash_signatures

    sig = minhash_signatures(docs)
    return {
        "fp": docs.select("doc_id", F.md5(F.col("text")).alias("fp")),
        "bands": _band_sigs(sig),
        "sigs": sig,
    }


def write_dedup_signatures(docs: DataFrame, out_dir: str) -> None:
    """One-shot build of the signature store over `docs` (the kept
    corpus). Sentinel lands last."""
    frames = _signature_frames(docs)
    for name, path in _tables(out_dir).items():
        frames[name].write.mode("overwrite").parquet(path)
    with open(os.path.join(out_dir, LAYOUT_DONE), "w"):
        pass


def _batch_append_id(new_docs: DataFrame) -> str:
    """Deterministic, order-independent append id for a batch, computed
    DISTRIBUTIVELY: per-id xxhash64 under two salts, reduced with the
    commutative ``bit_xor`` aggregate plus a count — ONE 3-long row
    crosses to the driver regardless of batch size (the r8 form
    collected every doc_id, hundreds of MB through the driver at a
    realistic 10M-doc shard). Retries of the same batch content hash to
    the same id, which is what the idempotent-append cleanup keys on."""
    import hashlib

    row = (
        new_docs.select("doc_id").distinct()
        .agg(
            F.bit_xor(F.xxhash64(F.col("doc_id"))).alias("x1"),
            F.bit_xor(F.xxhash64(F.lit("dedup-append"),
                                 F.col("doc_id"))).alias("x2"),
            F.count(F.lit(1)).alias("c"),
        )
        .collect()[0]
    )
    return hashlib.sha256(
        f"{row['x1']},{row['x2']},{row['c']}".encode()
    ).hexdigest()[:16]


def _sweep_orphan_appends(paths: dict[str, str]) -> None:
    """Remove bands/sigs append files whose append id has NO fp
    counterpart — the residue of an append that crashed inside the
    rename window and was never redelivered. The fp-moved-LAST
    convention makes these detectable: without the sweep the orphaned
    docs stay visible to the LSH near tier but invisible to the exact
    tier forever, so a later exact duplicate would be misclassified
    near_dup (r8 advisor finding). Runs under the append lock, so a
    concurrent writer can never be mid-rename while we sweep."""
    import glob

    def append_ids(table: str) -> set[str]:
        ids = set()
        for f in glob.glob(os.path.join(paths[table], "append-*.parquet")):
            stem = os.path.basename(f)[len("append-"):-len(".parquet")]
            ids.add(stem.rsplit("-", 1)[0])
        return ids

    live = append_ids("fp")
    for table in ("bands", "sigs"):
        for f in glob.glob(os.path.join(paths[table], "append-*.parquet")):
            stem = os.path.basename(f)[len("append-"):-len(".parquet")]
            if stem.rsplit("-", 1)[0] not in live:
                os.remove(f)


def append_dedup_signatures(spark: SparkSession, out_dir: str,
                            new_docs: DataFrame,
                            append_id: str | None = None) -> None:
    """Incremental maintenance: compute signatures for the NEWLY KEPT
    docs only and append them — no rebuild, no rewrite of existing files
    (each arriving shard's kept survivors join the store this way).

    CRASH-SAFE and IDEMPOTENT per batch (r8 review finding): the three
    tiers are written to a staging dir, then their files are renamed
    into the live tables under a deterministic append id (a distributive
    content hash of the batch's doc_ids, or the caller's stable batch
    key — e.g. the Structured Streaming micro-batch id, which survives
    redelivery) with the fp tier moved LAST — so "fp rows present"
    implies "bands and sigs rows present" and a mid-append crash can
    never leave docs visible to the exact tier but invisible to the
    LSH/verify tiers. A retry of the SAME batch first removes any files
    carrying its append id from all three tiers, so partial leftovers
    are cleaned instead of double-appended (partial sig duplication
    would skew the per-pair Jaccard average). Crashed appends of OTHER
    batches that were never redelivered are swept here too (bands/sigs
    files with no fp counterpart — detectable exactly because fp moves
    last).

    SINGLE-WRITER is enforced with an O_EXCL lockfile in the store dir
    (r8 advisor finding: two concurrent appends could otherwise delete
    each other's staged files and rename a subset, breaking the
    fp-implies-bands/sigs invariant with no error). Each append also
    stages under its own ``_staging/<append_id>`` subdir and removes
    ONLY that subdir when done.

    The id-disjointness contract is ENFORCED: the batch's doc_ids are
    semi-joined (batch broadcast) against the store's fp table — an
    overlapping id would write duplicate signature rows, which the
    banded candidate join would then return as self-partners. The check
    reads ONE column of the fp table (column-pruned scan); at 100 TB
    the same guard runs against a bloom filter of the id column
    maintained next to the sentinel.
    """
    import glob
    import shutil

    if not os.path.exists(os.path.join(out_dir, LAYOUT_DONE)):
        raise ValueError(
            f"no completed signature layout at {out_dir}: refusing to "
            "append into a missing/partial store — build it first "
            "(write_dedup_signatures)."
        )
    paths = _tables(out_dir)
    if new_docs.isEmpty():  # a shard that kept nothing appends nothing
        return
    if append_id is None:
        append_id = _batch_append_id(new_docs)
    lock = os.path.join(out_dir, "_append.lock")
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise RuntimeError(
            f"signature store at {out_dir} has an append in flight "
            f"(lockfile {lock} held): appends are single-writer. If the "
            "holder crashed, remove the lockfile and retry — the staged "
            "leftovers are cleaned per append id."
        )
    os.close(fd)
    try:
        _sweep_orphan_appends(paths)
        # clean leftovers of a crashed/retried attempt of THIS batch
        # before the overlap check, so its own partial fp rows don't
        # read as a genuine overlap
        for path in paths.values():
            for f in glob.glob(os.path.join(path, f"append-{append_id}-*")):
                os.remove(f)
        n_dup = (
            read_table(spark, paths["fp"])
            .select("doc_id")
            .join(F.broadcast(new_docs.select("doc_id")), "doc_id")
            .count()
        )
        if n_dup:
            raise ValueError(
                f"append batch overlaps the signature store on {n_dup} "
                "doc_id(s): appending them would duplicate signature rows "
                "and the banded join would report self-partners. Append "
                "batches must carry NEW doc_ids only."
            )
        # under the lock we are the ONLY writer, so every staged subdir
        # is the residue of a crashed earlier attempt (ours or a batch
        # that was never redelivered) — reap them all; a redelivered
        # batch rewrites its stage from scratch anyway (r9 review
        # finding: own-stage-only cleanup leaked crashed siblings'
        # staged parquet forever)
        shutil.rmtree(os.path.join(out_dir, "_staging"),
                      ignore_errors=True)
        stage = os.path.join(out_dir, "_staging", append_id)
        frames = _signature_frames(new_docs)
        for name in paths:
            df = frames[name]
            if name == "fp":
                # the completion-marker tier must be ONE file: its
                # single rename is atomic, so "fp present" can never
                # mean "some fp parts present" (a multi-part last tier
                # would defeat the orphan sweep — r9 review finding);
                # fp is 16 bytes/doc, one file per shard is cheap
                df = df.repartition(1)
            df.write.mode("overwrite").parquet(
                os.path.join(stage, name)
            )
        staged = {
            name: sorted(glob.glob(
                os.path.join(stage, name, "part-*.parquet")
            ))
            for name in paths
        }
        if not staged["fp"]:  # empty batch: nothing to append
            shutil.rmtree(stage, ignore_errors=True)
            return
        assert len(staged["fp"]) == 1, "fp tier must stage as one file"
        # rename (atomic per file, same filesystem) into the live
        # tables; fp LAST — its presence marks the append complete
        for name in ("sigs", "bands", "fp"):
            for i, f in enumerate(staged[name]):
                os.rename(f, os.path.join(
                    paths[name], f"append-{append_id}-{i}.parquet"
                ))
        shutil.rmtree(os.path.join(out_dir, "_staging"),
                      ignore_errors=True)
    finally:
        os.remove(lock)


def read_fp(spark: SparkSession, out_dir: str) -> DataFrame:
    return read_table(spark, _tables(out_dir)["fp"])


def read_bands(spark: SparkSession, out_dir: str) -> DataFrame:
    return read_table(spark, _tables(out_dir)["bands"])


def read_sigs(spark: SparkSession, out_dir: str) -> DataFrame:
    return read_table(spark, _tables(out_dir)["sigs"])


def ensure_dedup_layout(spark: SparkSession, existing: DataFrame,
                        sf_dir: str, root: str | None = None) -> str:
    """Build (once) and return the signature-store dir for `existing`
    (the kept-corpus side), keyed on the source fingerprint so
    regenerated testdata rebuilds instead of probing stale signatures."""
    return ensure_layout(
        "dedup_sig_layout", sf_dir, LAYOUT_FORMAT,
        layout_fingerprint(existing, "doc_id", "text"),
        lambda out_dir: write_dedup_signatures(existing, out_dir),
        LAYOUT_DONE, root)


def ensure_dedup_append_layout(spark: SparkSession, existing: DataFrame,
                               sf_dir: str,
                               root: str | None = None) -> str:
    """Build (once) a signature store that REACHED its final state via
    incremental maintenance: base build over ~6/7 of the kept corpus,
    the rest (doc_id % 7 == 3) appended via
    :func:`append_dedup_signatures`. Probing it is how the registered
    ``dedup_incremental_layout_probe`` query earns a driver row for the
    append path: per-doc-deterministic signatures mean the probe result
    must equal the one-shot oracle over the full corpus. Cached
    separately from ensure_dedup_layout (appends mutate the dir; the
    build-once cache must never be pointed at it), with an
    ``_APPEND_DONE`` sentinel marking the completed build+append
    sequence."""

    def build(out_dir: str) -> None:
        is_new = F.col("doc_id") % APPEND_SPLIT_MOD == APPEND_SPLIT_REM
        write_dedup_signatures(existing.where(~is_new), out_dir)
        append_dedup_signatures(spark, out_dir, existing.where(is_new))

    return ensure_layout("dedup_sig_append_layout", sf_dir, LAYOUT_FORMAT,
                         layout_fingerprint(existing, "doc_id", "text"),
                         build, APPEND_DONE, root)
