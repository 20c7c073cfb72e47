"""Engine batch search == per-query search == the Spark plan of the
same search, with no Spark job per request; salted join == plain join."""

from __future__ import annotations

import pathlib
import time
import uuid

import pytest
from pyspark.sql import functions as F

from duckdb_hybrid_doc_search_spark.functions.fusion import fuse
from duckdb_hybrid_doc_search_spark.functions.skew import salted_join
from duckdb_hybrid_doc_search_spark.index.builder import index_directories
from duckdb_hybrid_doc_search_spark.index.catalog import load_table
from duckdb_hybrid_doc_search_spark.operators.bm25 import bm25_topk_terms
from duckdb_hybrid_doc_search_spark.operators.knn import cosine_distance_topk
from duckdb_hybrid_doc_search_spark.search import doc_engine
from duckdb_hybrid_doc_search_spark.search.doc_engine import (
    RESULT_FIELDS, DocSearchEngine)

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

    def no_scoring(*args, **kwargs):
        raise AssertionError("scored a batch above MAX_QUERIES")

    monkeypatch.setattr(doc_engine._Snapshot, "score", no_scoring)
    with pytest.raises(ValueError, match="MAX_QUERIES"):
        engine.search_batch(["q"] * (topk.MAX_QUERIES + 1))


def test_empty_index_serves_no_results(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    (src / "notes.txt").write_text("not markdown")
    index_directories(spark, [str(src)], str(tmp_path / "idx"))
    empty = DocSearchEngine(spark, str(tmp_path / "idx"))
    assert empty.search("final text") == []
    assert empty.search_batch(QUERIES) == [[] for _ in QUERIES]


def _jobs_run_by(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` starts, through a job group. The
    status store is fed asynchronously, in event order, so a sentinel
    job in a second group shows when it has caught up."""
    sc = spark.sparkContext
    group = f"doc-engine-{uuid.uuid4().hex}"
    done = group + "-done"
    try:
        sc.setJobGroup(group, group)
        fn()
        sc.setJobGroup(done, done)
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    for _ in range(300):
        if tracker.getJobIdsForGroup(done):
            break
        time.sleep(0.1)
    else:
        raise AssertionError("sentinel job never reached the status store")
    return list(tracker.getJobIdsForGroup(group))


def test_search_runs_no_spark_job(spark, engine):
    assert _jobs_run_by(spark, lambda: [
        engine.search(q, top_k=5) for q in QUERIES]) == []
    assert _jobs_run_by(spark, lambda: engine.search_batch(QUERIES)) == []


def test_snapshot_bound_raises_before_any_spark_job(spark, engine,
                                                    monkeypatch):
    monkeypatch.setattr(doc_engine, "MAX_SNAPSHOT_BYTES", 1)

    def open_engine():
        with pytest.raises(ValueError,
                           match="MAX_SNAPSHOT_BYTES=1.*hybrid_search_batch"):
            DocSearchEngine(spark, engine.index_dir)

    assert _jobs_run_by(spark, open_engine) == []


def _spark_candidates(engine, query, k):
    """The single-query Spark plan the snapshot replaces: BM25 top-k,
    cosine-distance top-k, fusion, fetch from documents."""
    fts = bm25_topk_terms(engine.index, engine._query_terms(query), k
                          ).withColumnRenamed("score", "fts_score")
    vss = cosine_distance_topk(engine.embeddings, engine._embed_query(query),
                               k, id_col="doc_id")
    return [r.asDict() for r in fuse(fts, vss, "doc_id")
            .join(engine.documents, "doc_id").select(*RESULT_FIELDS)
            .collect()]


@pytest.mark.parametrize("k", [1, 5, 100])
def test_search_equals_spark_plan(engine, k):
    for q in QUERIES:
        rows = _spark_candidates(engine, q, k)
        for rerank in (False, True):
            want = engine._finish(q, engine._query_terms(q),
                                  [dict(r) for r in rows], k, rerank,
                                  None, None)
            assert engine.search(q, top_k=k, rerank=rerank) == want, (
                f"snapshot != Spark plan for {q!r}, k={k}, rerank={rerank}")


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
