"""The index writer (index/builder): every table it writes is
zstd-compressed Parquet, and its five FTS tables hold the rows and
column types of the lazy derivation (operators/bm25.fts_tables +
scored_postings) of the chunks it wrote, after a full build and after
an incremental pass."""

from __future__ import annotations

import os
import pathlib
import shutil

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from duckdb_hybrid_doc_search_spark.index.builder import (
    TABLES, build_fts_index_from_tokens, index_directories, index_incremental)
from duckdb_hybrid_doc_search_spark.index.catalog import read_table
from duckdb_hybrid_doc_search_spark.operators import bm25

FIX = pathlib.Path(__file__).parent.parent / "fixtures" / "docs"
FTS = TABLES[2:]


def _codecs(table_dir: str) -> set[str]:
    """The compression codec of every column chunk of a table."""
    out = set()
    for f in os.listdir(table_dir):
        if f.startswith("part-"):
            md = pq.ParquetFile(os.path.join(table_dir, f)).metadata
            out |= {md.row_group(g).column(c).compression
                    for g in range(md.num_row_groups)
                    for c in range(md.num_columns)}
    return out


def _reference(spark, out: str) -> dict:
    """The lazy FTS derivation of the written documents' tokens."""
    docs = read_table(spark, os.path.join(out, "documents"))
    ref = bm25.fts_tables(docs.select("doc_id", F.col("tokens").alias("toks")))
    ref["postings_scored"] = bm25.scored_postings(ref)
    return ref


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _check_index(spark, out: str) -> None:
    for t in TABLES:
        assert _codecs(os.path.join(out, t)) == {"ZSTD"}, t
    ref = _reference(spark, out)
    for t in FTS:
        got = read_table(spark, os.path.join(out, t))
        assert got.dtypes == ref[t].dtypes, t
        assert _rows(got) == _rows(ref[t]), t


def test_full_and_incremental_builds_write_reference_tables(spark,
                                                            tmp_path):
    corpus, out = tmp_path / "corpus", str(tmp_path / "idx")
    shutil.copytree(FIX, corpus)
    index_directories(spark, [str(corpus)], out)
    _check_index(spark, out)
    (corpus / "no_headers.md").write_text("an EDITED paragraph\n")
    (corpus / "brand_new.md").write_text("# New Doc\n\nfresh content\n")
    (corpus / "dup_content.md").unlink()
    counts = index_incremental(spark, [str(corpus)], out)
    assert counts["added"] > 0 and counts["removed"] > 0
    _check_index(spark, out)


def test_fts_frames_without_a_writer(spark, tmp_path):
    """build_fts_index_from_tokens alone runs each table to the noop
    sink and returns the five frames, equal to the reference."""
    out = str(tmp_path / "idx")
    index_directories(spark, [str(FIX)], out)
    docs = read_table(spark, os.path.join(out, "documents"))
    frames = build_fts_index_from_tokens(docs)
    ref = _reference(spark, out)
    assert list(frames) == list(FTS)
    for t in FTS:
        assert _rows(frames[t]) == _rows(ref[t]), t
