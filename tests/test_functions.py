"""Cross-engine primitive parity + fusion truth table (SURVEY.md §5.2.1)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from duckdb_hybrid_doc_search_spark.functions import hashing, text, vector
from duckdb_hybrid_doc_search_spark.functions.fusion import fuse_scores
from duckdb_hybrid_doc_search_spark.models.embedder import hash_embed_text
from duckdb_hybrid_doc_search_spark.operators import knn

SAMPLES = ["abc", "spark vector", "", "a--b__c 42", "ümlaut MIXED Case"]


def test_h64_parity(spark):
    sdf = spark.createDataFrame([(s,) for s in SAMPLES], ["s"])
    got = [r[0] for r in sdf.select(hashing.h64(F.col("s"))).collect()]
    con = duckdb.connect()
    want = [
        con.execute(f"SELECT {hashing.dd_h64('?')}", [s]).fetchone()[0]
        for s in SAMPLES
    ]
    assert got == want


def test_tokenize_parity(spark):
    sdf = spark.createDataFrame([(s,) for s in SAMPLES], ["s"])
    got = [r[0] for r in sdf.select(text.tokenize(F.col("s"))).collect()]
    con = duckdb.connect()
    want = [
        con.execute(f"SELECT {text.dd_tokenize('?')}", [s]).fetchone()[0]
        for s in SAMPLES
    ]
    assert got == want


def test_shingles_parity(spark):
    docs = ["a b c d e", "a b", "single"]
    sdf = spark.createDataFrame([(s,) for s in docs], ["s"])
    got = [
        r[0]
        for r in sdf.select(text.shingles(text.tokenize(F.col("s")), 3)).collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(
            f"SELECT {text.dd_shingles(text.dd_tokenize(repr(s)), 3)}"
        ).fetchone()[0]
        for s in docs
    ]
    assert got == want


def test_cosine_parity(spark):
    a = hash_embed_text("query one")
    b = hash_embed_text("doc two")
    sdf = spark.range(1).select(
        vector.cosine_distance(vector.lit_vector(a), vector.lit_vector(b)).alias("d")
    )
    got = sdf.collect()[0][0]
    con = duckdb.connect()
    want = con.execute(
        "SELECT "
        + vector.dd_cosine_distance(vector.dd_lit_vector(a), vector.dd_lit_vector(b))
    ).fetchone()[0]
    assert got == pytest.approx(want, abs=1e-12)


@pytest.mark.parametrize("k", [1, 2, 3])
def test_zero_norm_cosine_topk_is_null_last(spark, k):
    """A zero-norm vector's cosine is NULL on both engines (not ANSI
    mode's DIVIDE_BY_ZERO) and ranks last in the distance top-k."""
    rows = [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.6, 0.8])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = [tuple(r) for r in
           knn.cosine_distance_topk(emb, [1.0, 0.0], k).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", rows)
    want = con.execute(
        knn.dd_cosine_distance_topk_sql([1.0, 0.0], k)).fetchall()
    assert got == want
    assert (2, None) in got if k == 3 else (2, None) not in got


def test_hash_embed_deterministic_unit():
    v1 = hash_embed_text("hello")
    v2 = hash_embed_text("hello")
    assert v1 == v2
    assert len(v1) == 64
    assert sum(x * x for x in v1) == pytest.approx(1.0, abs=1e-5)
    assert hash_embed_text("other") != v1


def test_fusion_truth_table(spark):
    # (fts, vss) -> expected per searcher.py:231-241
    cases = [
        (2.0, 0.4, 1.2),   # both -> mean
        (2.0, None, 1.6),  # fts only -> *0.8
        (None, 0.4, 0.32), # vss only -> *0.8
        (None, None, 0.0), # neither -> 0.0
    ]
    df = spark.createDataFrame(
        [(f, v) for f, v, _ in cases], "fts double, vss double"
    )
    got = [
        r[0]
        for r in df.select(fuse_scores(F.col("fts"), F.col("vss"))).collect()
    ]
    assert got == pytest.approx([e for _, _, e in cases])
