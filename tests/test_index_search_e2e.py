"""End-to-end: index the fixture corpus -> search it (build path §3.1 +
query path §3.2 through the product API)."""

from __future__ import annotations

import importlib.util
import json
import os
import pathlib
import shutil

import pytest

from duckdb_hybrid_doc_search_spark.index.builder import (TABLES,
                                                          index_directories,
                                                          resolve_model)
from duckdb_hybrid_doc_search_spark.search.doc_engine import DocSearchEngine

FIX = str(pathlib.Path(__file__).parent.parent / "fixtures" / "docs")


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    counts = index_directories(spark, [FIX], out)
    assert counts["documents"] > 0
    assert counts["documents"] == counts["embeddings"]
    return out, counts


@pytest.fixture(scope="module")
def index_dir(built):
    return built[0]


def test_build_writes_tables_and_counts_each_write(spark, built):
    """The builder writes exactly builder.TABLES (plus meta.json), and the
    count it returns for each table is that table's row count on disk."""
    out, counts = built
    assert sorted(os.listdir(out)) == sorted([*TABLES, "meta.json"])
    assert counts == {t: spark.read.parquet(os.path.join(out, t)).count()
                      for t in TABLES}


def test_engine_refuses_index_without_postings_scored(spark, index_dir,
                                                      tmp_path):
    old = str(tmp_path / "old")
    shutil.copytree(index_dir, old)
    shutil.rmtree(os.path.join(old, "postings_scored"))
    with pytest.raises(ValueError, match="rebuild it with `index`"):
        DocSearchEngine(spark, old)


@pytest.mark.skipif(importlib.util.find_spec("sentence_transformers")
                    is not None,
                    reason="sentence-transformers installed; the query "
                           "embeds with the real model")
def test_search_without_model_package_raises(spark, index_dir, tmp_path):
    """A sentence-transformers index is never searched with the hash
    embedder in its place: without the package the query side raises,
    as the build side does (models/embedder.st_embed_udf)."""
    st = str(tmp_path / "st")
    shutil.copytree(index_dir, st)
    meta_path = os.path.join(st, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    meta["embedding_backend"] = "sentence-transformers"
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    eng = DocSearchEngine(spark, st)
    with pytest.raises(NotImplementedError, match="sentence-transformers"):
        eng.search("deep nested", top_k=3)


def test_index_tables_consistent(spark, index_dir):
    docs = spark.read.parquet(f"{index_dir}/documents")
    stats = spark.read.parquet(f"{index_dir}/corpus_stats").collect()[0]
    assert stats.n_docs == docs.count()
    postings = spark.read.parquet(f"{index_dir}/postings")
    assert postings.groupBy("doc_id").count().count() <= docs.count()
    # whole-file read regression guard: jp_basic.md must yield its 3 header
    # sections as multi-line chunks, not one chunk per source line
    jp = docs.where(docs.file_path.contains("jp_basic")).collect()
    assert len(jp) == 3
    assert all("\n" in c.content for c in jp)


def test_search_japanese(spark, index_dir):
    eng = DocSearchEngine(spark, index_dir)
    res = eng.search("全文検索", top_k=5, rerank=False)
    assert res, "JP query must hit jp_basic.md"
    assert any("jp_basic.md" in r["file_path"] for r in res)
    top = res[0]
    assert set(top) == {"doc_id", "file_path", "header_path", "line_start",
                       "line_end", "content", "score", "fts_score",
                       "vss_score"}


def test_search_english_rerank(spark, index_dir):
    eng = DocSearchEngine(spark, index_dir)
    res = eng.search("real section final text", top_k=5, rerank=True)
    assert res
    assert any("en_mixed.md" in r["file_path"] for r in res)
    # rerank overwrote scores with overlap in [0,1]
    assert all(0.0 <= r["score"] <= 1.0 for r in res)


def test_search_absent_term_vss_only(spark, index_dir):
    eng = DocSearchEngine(spark, index_dir)
    res = eng.search("zzqxq wvvqy xkkjz", top_k=3, rerank=False)
    assert all(r["fts_score"] is None for r in res)


def test_path_prefix_rewrite(spark, index_dir):
    eng = DocSearchEngine(spark, index_dir)
    res = eng.search("nested directory content", top_k=3, rerank=True,
                     remove_prefix=FIX, add_prefix="/srv/docs")
    assert res
    hit = [r for r in res if "deep.md" in r["file_path"]][0]
    assert hit["file_path"].startswith("/srv/docs/")
    assert FIX not in hit["file_path"]


def test_stored_model_wins(spark, index_dir, recwarn):
    model, backend, dim = resolve_model(index_dir, "some-other-model")
    assert model == "hash-embedder" and backend == "hash"
    assert any("stored model wins" in str(w.message) for w in recwarn)


def test_search_empty_query_returns_vss_results(spark, index_dir):
    """An empty / non-tokenizable query must not crash: the BM25 branch is
    empty, the vector branch still returns, rerank short-circuits to 0.0
    (the round-2 guard) instead of NULL/inf."""
    from duckdb_hybrid_doc_search_spark.search.doc_engine import (
        DocSearchEngine,
    )

    engine = DocSearchEngine(spark, index_dir)
    for q in ["", "   ", "!!! ???"]:
        results = engine.search(q, top_k=3, rerank=True)
        assert isinstance(results, list)
        for r in results:
            assert r["score"] is not None


def test_search_top_k_extremes(spark, index_dir):
    from duckdb_hybrid_doc_search_spark.search.doc_engine import (
        DocSearchEngine,
    )

    engine = DocSearchEngine(spark, index_dir)
    one = engine.search("deep nested", top_k=1)
    assert len(one) <= 1
    many = engine.search("deep nested", top_k=100)
    assert len(many) <= 100
    assert len(many) >= len(one)


def test_search_nonexistent_index_raises(spark, tmp_path):
    import pytest

    from duckdb_hybrid_doc_search_spark.search.doc_engine import (
        DocSearchEngine,
    )

    with pytest.raises(Exception):
        DocSearchEngine(spark, str(tmp_path / "no_such_index")).search("x")


def test_queries_on_missing_sf_dir_raise_analysis_error(spark):
    """The error path the verify skill probes: a nonexistent sf_dir must
    surface as a Spark AnalysisException, not a silent empty result."""
    import pytest
    from pyspark.errors import AnalysisException

    from duckdb_hybrid_doc_search_spark.plans import registry

    registry._load_all()
    fn = registry.REGISTRY["tpch_q1_pricing_summary"].spark_fn
    with pytest.raises(AnalysisException):
        fn(spark, "/root/testdata/sf-does-not-exist").collect()
