"""SQ8 top-k edge cases on the Arrow top-k kernel: the query-time
operator (knn.sq8_topk), the written layout's probe
(sq8_layout.sq8_layout_topk) and the DuckDB twin (dd_sq8_topk_sql) agree
on a constant dimension, a query equal to a corpus row, exact distance
ties and a seeded random corpus."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_hybrid_doc_search_spark.index.catalog import load_table
from duckdb_hybrid_doc_search_spark.index.sq8_layout import (
    sq8_layout_topk, write_sq8_layout)
from duckdb_hybrid_doc_search_spark.operators.knn import (dd_sq8_topk_sql,
                                                          sq8_topk)

from .oracle_harness import duckdb_con, rows_multiset


def _write_embeddings(sf_dir, vectors) -> None:
    vectors = np.asarray(vectors, dtype=np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(len(vectors)), pa.int64()),
        "embedding": pa.array(list(vectors), pa.list_(pa.float32())),
        "label": pa.array(np.zeros(len(vectors)), pa.int32()),
    }), str(sf_dir / "embeddings.parquet"))


def _three_ways(spark, sf_dir, tmp_path, k, nq):
    emb = load_table(spark, str(sf_dir), "embeddings")
    inline = sq8_topk(emb, k, nq)
    layout = str(tmp_path / "sq8")
    write_sq8_layout(emb, layout)
    stored = sq8_layout_topk(spark, layout, emb, k, nq)
    got = [tuple(r) for r in inline.collect()]
    assert sorted(got) == sorted(tuple(r) for r in stored.collect())
    con = duckdb_con(str(sf_dir))
    res = con.execute(dd_sq8_topk_sql(k, nq))
    want = res.fetchall()
    cols = [d[0] for d in res.description]
    con.close()
    assert rows_multiset(inline.columns, got) == rows_multiset(cols, want)
    return sorted(got)


def _sf(tmp_path):
    sf = tmp_path / "sf"
    sf.mkdir()
    # duckdb_con views every catalog table; only embeddings is read
    for name in ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents"):
        pq.write_table(pa.table({"x": [0]}), str(sf / f"{name}.parquet"))
    return sf


def test_constant_dimension_self_match_and_ties(spark, tmp_path):
    """Dimension 1 is constant (mx == mn, code 0, reconstructed as mn);
    every other value sits on the 0/1 grid, so each row reconstructs
    exactly: query 0 is at distance 0 from itself and from its copies
    4 and 5, ties broken by c_id; rows 1 and 2 tie too."""
    sf = _sf(tmp_path)
    _write_embeddings(sf, [
        [0.0, 0.5, 1.0, 0.0],
        [1.0, 0.5, 0.0, 0.0],
        [0.0, 0.5, 1.0, 1.0],
        [1.0, 0.5, 1.0, 1.0],
        [0.0, 0.5, 1.0, 0.0],
        [0.0, 0.5, 1.0, 0.0],
    ])
    rows = _three_ways(spark, sf, tmp_path, k=4, nq=2)
    by_rank = sorted(rows, key=lambda r: (r[0], r[3]))
    q0 = [r for r in by_rank if r[0] == 0]
    assert [(c, d, rank) for _, c, d, rank in q0] == [
        (0, 0.0, 1), (4, 0.0, 2), (5, 0.0, 3), (2, 1.0, 4)]
    assert all(str(d) != "-0.0" for _, _, d, _ in rows)
    q1 = [r for r in by_rank if r[0] == 1]
    assert [(c, d) for _, c, d, _ in q1][:1] == [(1, 0.0)]
    assert [c for _, c, d, _ in q1 if d == 2.0] == [0, 3, 4]


@pytest.mark.parametrize("seed", [0, 1])
def test_seeded_corpus_agrees_with_the_duckdb_twin(spark, tmp_path, seed):
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((300, 16)).astype(np.float32)
    vecs[:, 3] = 0.25                      # a constant dimension
    vecs[7] = vecs[2]                      # an exact tie for query 2
    sf = _sf(tmp_path)
    _write_embeddings(sf, vecs)
    rows = _three_ways(spark, sf, tmp_path, k=5, nq=10)
    assert len(rows) == 50
    q2 = [(c, d) for q, c, d, _ in sorted(rows, key=lambda r: (r[0], r[3]))
          if q == 2]
    assert q2[0][1] == q2[1][1] and [q2[0][0], q2[1][0]] == [2, 7]
