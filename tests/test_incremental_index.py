"""Incremental re-index: only changed chunks re-embed; unchanged chunks
keep byte-identical embeddings; removed files disappear."""

from __future__ import annotations

import os
import pathlib
import shutil

import pytest

from duckdb_hybrid_doc_search_spark.index.builder import (TABLES,
                                                          index_directories,
                                                          index_incremental)
from duckdb_hybrid_doc_search_spark.search.doc_engine import DocSearchEngine

FIX = pathlib.Path(__file__).parent.parent / "fixtures" / "docs"


def test_incremental_reindex(spark, tmp_path):
    corpus = tmp_path / "corpus"
    shutil.copytree(FIX, corpus)
    out = str(tmp_path / "idx")
    index_directories(spark, [str(corpus)], out)

    emb_before = {
        r.doc_id: r.embedding
        for r in spark.read.parquet(f"{out}/embeddings").collect()
    }

    # mutate the corpus: edit one file, add one, remove one
    (corpus / "no_headers.md").write_text(
        "just a paragraph with no headers at all\n\nand an EDITED paragraph\n"
    )
    (corpus / "brand_new.md").write_text("# New Doc\n\nfresh added content\n")
    (corpus / "dup_content.md").unlink()

    counts = index_incremental(spark, [str(corpus)], out)
    assert counts["added"] >= 2       # edited chunk + new doc chunk
    assert counts["removed"] >= 3     # old edited chunk + 2 dup_content chunks
    assert counts["kept"] > 0
    assert counts["documents"] == counts["embeddings"]

    emb_after = {
        r.doc_id: r.embedding
        for r in spark.read.parquet(f"{out}/embeddings").collect()
    }
    # every surviving chunk kept its exact embedding (no recompute drift)
    common = set(emb_before) & set(emb_after)
    assert common
    assert all(emb_before[i] == emb_after[i] for i in common)

    # the rebuilt index serves: new content findable, removed content gone
    eng = DocSearchEngine(spark, out)
    hits = eng.search("fresh added content", top_k=3, rerank=True)
    assert any("brand_new.md" in r["file_path"] for r in hits)
    gone = eng.search("repeated paragraph content", top_k=5, rerank=True)
    assert not any("dup_content.md" in r["file_path"] for r in gone)


def test_incremental_keeps_path_trim(spark, tmp_path):
    """An incremental pass applies the path trim the index was built
    with, and leaves the same tables as a fresh build of the edited corpus
    with the same settings."""
    corpus = tmp_path / "corpus"
    shutil.copytree(FIX, corpus)
    prefix = f"{corpus}/"
    out = str(tmp_path / "idx")
    index_directories(spark, [str(corpus)], out, remove_path_prefix=prefix)

    (corpus / "brand_new.md").write_text("# New Doc\n\nfresh added content\n")
    (corpus / "dup_content.md").unlink()
    index_incremental(spark, [str(corpus)], out)
    fresh = str(tmp_path / "fresh")
    index_directories(spark, [str(corpus)], fresh, remove_path_prefix=prefix)

    def rows(index_dir, table):
        df = spark.read.parquet(os.path.join(index_dir, table))
        return sorted(tuple(r) for r in df.collect())

    for t in TABLES:
        assert rows(out, t) == rows(fresh, t), t
    paths = {r[1] for r in rows(out, "documents")}
    assert "brand_new.md" in paths
    assert not any(os.path.isabs(p) for p in paths)
