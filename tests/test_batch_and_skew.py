"""Engine batch search == per-query search; salted join == plain join."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from duckdb_hybrid_doc_search_spark.functions.skew import salted_join
from duckdb_hybrid_doc_search_spark.index.builder import index_directories
from duckdb_hybrid_doc_search_spark.index.catalog import load_table
from duckdb_hybrid_doc_search_spark.search.doc_engine import DocSearchEngine

FIX = str(pathlib.Path(__file__).parent.parent / "fixtures" / "docs")

QUERIES = ["全文検索", "final text", "zzqxq wvvqy", "nested directory content",
           ""]


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    index_directories(spark, [FIX], out)
    return DocSearchEngine(spark, out)


@pytest.mark.parametrize("rerank", [False, True])
def test_batch_search_equals_per_query(engine, rerank):
    batch = engine.search_batch(QUERIES, top_k=5, rerank=rerank)
    for q, got in zip(QUERIES, batch):
        want = engine.search(q, top_k=5, rerank=rerank)
        assert got == want, f"batch != single for {q!r}"
    assert engine.search_batch([], top_k=5, rerank=rerank) == []


def test_batch_search_rejects_oversize_batch(engine, monkeypatch):
    from duckdb_hybrid_doc_search_spark.functions import topk
    from duckdb_hybrid_doc_search_spark.search import doc_engine

    def no_spark(*args, **kwargs):
        raise AssertionError("planned a batch above MAX_QUERIES")

    monkeypatch.setattr(doc_engine, "batch_candidates", no_spark)
    with pytest.raises(ValueError, match="MAX_QUERIES"):
        engine.search_batch(["q"] * (topk.MAX_QUERIES + 1))


def test_salted_join_equals_plain_join(spark, sf_dir):
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    ).withColumnRenamed("o_orderkey", "l_orderkey")
    plain = (
        lineitem.join(orders, "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("l_quantity"), 2).alias("qty"))
    )
    salted = (
        salted_join(lineitem, orders, "l_orderkey", num_salts=8)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("l_quantity"), 2).alias("qty"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )
