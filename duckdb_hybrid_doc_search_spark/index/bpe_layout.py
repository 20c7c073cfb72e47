"""Written BPE tokenizer layout: the trained merge table persisted next
to the other written index layouts.

Production trains a tokenizer ONCE and applies it everywhere; the
registered encode queries therefore probe a stored merge table (16
rows + meta) instead of re-running the iterative trainer per query —
the same write-time-vs-probe-time split as the FTS/IVF layouts. The
merge table is tiny (n_merges rows), so the layout is really about the
CONTRACT: frozen at build, fingerprint-keyed staleness, sentinel-last
crash safety.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.bpe import (BPE_MERGES, BPE_TRAIN_BATCH,
                             MERGES_SCHEMA, bpe_train)
from .catalog import read_table
from .fingerprint import ensure_layout, layout_fingerprint

BPE_DONE = "_BPE_DONE"


def write_bpe_merges(docs: DataFrame, out_dir: str,
                     n_merges: int = BPE_MERGES) -> None:
    """Train on `docs` and persist the merge table (rank-ordered, one
    file — it is n_merges rows) plus build meta; sentinel lands last."""
    # batch mode: pinned merge-for-merge equal to sequential
    # (tests/test_bpe.py), ~2-3x fewer driver rounds at build time
    merges = bpe_train(docs, n_merges, batch=BPE_TRAIN_BATCH)
    merges.repartition(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "merges"))
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump({"n_merges": n_merges}, f)
    with open(os.path.join(out_dir, BPE_DONE), "w"):
        pass


def read_bpe_merges(spark: SparkSession, out_dir: str) -> list:
    """Rank-ordered merge rows from a completed layout."""
    if not os.path.exists(os.path.join(out_dir, BPE_DONE)):
        raise ValueError(
            f"no completed BPE layout at {out_dir}: build it first "
            "(write_bpe_merges)."
        )
    df = read_table(spark, os.path.join(out_dir, "merges"), MERGES_SCHEMA)
    return sorted(df.collect(), key=lambda r: r["rank"])


def ensure_bpe_layout(spark: SparkSession, docs: DataFrame, sf_dir: str,
                      root: str | None = None,
                      n_merges: int = BPE_MERGES) -> str:
    """Build (once, fingerprint-keyed) the trained-tokenizer layout for
    this corpus — training is write-time cost, probes read 16 rows."""
    return ensure_layout(
        "bpe_layout", sf_dir, f"bpe{n_merges}",
        layout_fingerprint(docs, "doc_id", "text"),
        lambda out_dir: write_bpe_merges(docs, out_dir, n_merges),
        BPE_DONE, root)


def ensure_bpe_fts_layout(spark: SparkSession, docs: DataFrame,
                          sf_dir: str, root: str | None = None,
                          n_merges: int = BPE_MERGES) -> dict:
    """Build (once, fingerprint-keyed) the WRITTEN subword FTS index:
    train/ensure the merge table, encode the corpus with it, and persist
    the four bm25 tables + the denormalized postings_scored through the
    analyzer-independent writer (index/fts_layout.write_index_tables).
    A probe over the result is ONE term-pruned scan with zero joins —
    the same production shape as the word analyzer's layout, so the BPE
    analyzer pays its encode cost at write time, not per query.

    Returns the opened index dict (operators/bm25 probe convention)."""
    from ..operators.bpe import bpe_fts_index
    from .fts_layout import FTS_DONE, open_fts_layout, write_index_tables

    def build(out_dir: str) -> None:
        merges = read_bpe_merges(
            spark, ensure_bpe_layout(spark, docs, sf_dir, root, n_merges))
        write_index_tables(bpe_fts_index(docs, merges), out_dir)

    return open_fts_layout(spark, ensure_layout(
        "bpe_fts_layout", sf_dir, f"bpefts{n_merges}",
        layout_fingerprint(docs, "doc_id", "text"), build, FTS_DONE, root))


# merge table stored INSIDE a segmented subword store: the store carries
# its own analyzer (probes and appends read it back — tokenizer identity
# survives maintenance without any side channel)
STORE_MERGES = "bpe_merges"


def write_store_merges(merges: DataFrame, out_dir: str) -> None:
    merges.repartition(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, STORE_MERGES))


def read_store_merges(spark: SparkSession, out_dir: str) -> list:
    """Rank-ordered frozen merges of a segmented subword store."""
    df = read_table(spark, os.path.join(out_dir, STORE_MERGES),
                    MERGES_SCHEMA)
    return sorted(df.collect(), key=lambda r: r["rank"])


def ensure_bpe_segment_layout(spark: SparkSession, docs: DataFrame,
                              sf_dir: str, root: str | None = None,
                              n_merges: int = BPE_MERGES) -> str:
    """Build (once) a SEGMENTED subword FTS store that reached its state
    via incremental maintenance: merges trained on the base slice
    (doc_id % 7 != 3 — fts_layout's segment split), base segment + one
    appended segment BOTH encoded with that frozen set (the
    frozen-tokenizer rule: appended docs are encoded by the tokenizer
    the index was built with; retraining per append would silently
    shift every stored posting's vocabulary). The merge table is
    persisted inside the store (STORE_MERGES), so probes read the
    store's own analyzer. The segment machinery (append/fold/probe) is
    the word analyzer's, unchanged — only index_fn differs."""
    from pyspark.sql import functions as F

    from ..operators.bpe import bpe_fts_index
    from .fts_layout import (SEG_SPLIT_MOD, SEG_SPLIT_REM,
                             append_fts_segment, write_fts_segments)

    def build(out_dir: str) -> None:
        is_new = F.col("doc_id") % SEG_SPLIT_MOD == SEG_SPLIT_REM
        base = docs.where(~is_new)
        merges = bpe_train(base, n_merges, batch=BPE_TRAIN_BATCH)
        mrows = sorted(merges.collect(), key=lambda r: r["rank"])

        def index_fn(d):  # the frozen-merges analyzer
            return bpe_fts_index(d, mrows)

        write_fts_segments(base, out_dir, index_fn=index_fn)
        write_store_merges(merges, out_dir)
        append_fts_segment(spark, out_dir, docs.where(is_new),
                           index_fn=index_fn)

    return ensure_layout("bpe_segment_layout", sf_dir, f"bpeseg{n_merges}",
                         layout_fingerprint(docs, "doc_id", "text"), build,
                         "_BPESEG_DONE", root)
