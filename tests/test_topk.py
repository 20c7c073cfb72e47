"""The Arrow top-k kernel (functions/topk.py) against a brute-force sort.

The kernel's contract: per-batch local top-k followed by the final window
returns exactly the top-k a sort of ALL (query, row) pairs would: score
(-0.0 == 0.0; NaN, which leaves the scan as NULL, last in either
direction), then id ascending. The property test drives local_topk over
arbitrary batch splits and finishes with that reference order; the Spark
test runs scan_topk end to end.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_hybrid_doc_search_spark.functions import topk
from duckdb_hybrid_doc_search_spark.operators import knn

# few distinct values: heavy ties, signed zeros, infinities and NaN
SCORES = st.sampled_from([0.0, -0.0, 0.5, -0.5, 1.0, math.inf, -math.inf,
                          math.nan])


def _ref_key(score: float, cid: int, desc: bool):
    nan = math.isnan(score)
    return (nan, 0.0 if nan else (-score if desc else score), cid)


def _ref_topk(S, ids, k, desc, keep):
    """Per query column: the k best (id, score) pairs of a full sort."""
    out = []
    for j in range(S.shape[1]):
        rows = [i for i in range(len(ids)) if keep is None or keep[i, j]]
        rows.sort(key=lambda i: _ref_key(S[i, j], ids[i], desc))
        out.append([(int(ids[i]), S[i, j]) for i in rows[:k]])
    return out


def _same(a, b):
    """Pairwise equal lists of (id, score), NaN equal to NaN."""
    return len(a) == len(b) and all(
        ia == ib and (sa == sb or (math.isnan(sa) and math.isnan(sb)))
        for (ia, sa), (ib, sb) in zip(a, b)
    )


@st.composite
def cases(draw):
    n = draw(st.integers(0, 30))
    q = draw(st.integers(1, 4))
    S = np.array(draw(st.lists(SCORES, min_size=n * q, max_size=n * q)),
                 dtype=np.float64).reshape(n, q)
    ids = np.array(draw(st.permutations(range(n))), dtype=np.int64)
    mask = draw(st.sampled_from(["none", "all_false", "partial"]))
    keep = None
    if mask == "all_false":
        keep = np.zeros((n, q), dtype=bool)
    elif mask == "partial":
        keep = np.array(draw(st.lists(st.booleans(), min_size=n * q,
                                      max_size=n * q)),
                        dtype=bool).reshape(n, q)
    k = draw(st.integers(1, n + 3))  # k >= n included
    cuts = sorted(draw(st.lists(st.integers(0, n), max_size=4)))
    return S, ids, keep, k, draw(st.booleans()), [0, *cuts, n]


@settings(max_examples=300, deadline=None)
@given(cases())
def test_local_topk_then_window_equals_full_sort(case):
    S, ids, keep, k, desc, bounds = case
    q = S.shape[1]
    survivors = [[] for _ in range(q)]
    # batches between consecutive bounds, empty ones included
    for lo, hi in zip(bounds, bounds[1:]):
        bkeep = None if keep is None else keep[lo:hi]
        qi, ci = topk.local_topk(S[lo:hi], ids[lo:hi], k, desc, bkeep)
        local = [[] for _ in range(q)]
        for j, c in zip(qi, ci):
            local[j].append((int(ids[lo + c]), S[lo + c, j]))
        ref = _ref_topk(S[lo:hi], ids[lo:hi], k, desc, bkeep)
        for j in range(q):
            # the local order is the window's order
            assert _same(local[j], ref[j])
            survivors[j] += local[j]
    full = _ref_topk(S, ids, k, desc, keep)
    for j in range(q):
        # the window over the survivors: same order, first k
        survivors[j].sort(key=lambda p: _ref_key(p[1], p[0], desc))
        assert _same(survivors[j][:k], full[j])


def test_scan_topk_matches_full_sort(spark):
    """End to end: several Arrow batches, ties, NaN, a keep-mask, both
    directions — the ranked rows equal the brute-force top-k."""
    rng = np.random.default_rng(7)
    n, k = 60, 4
    S = rng.choice([0.25, 0.5, 0.75, np.nan], size=(n, 2))
    keep = rng.random((n, 2)) < 0.7
    ids = rng.permutation(n).astype(np.int64)
    rows = [(int(ids[i]), float(S[i, 0]), float(S[i, 1]),
             bool(keep[i, 0]), bool(keep[i, 1])) for i in range(n)]
    corpus = spark.createDataFrame(
        rows, "cid long, s0 double, s1 double, k0 boolean, k1 boolean"
    ).repartition(3)

    def score(pdf):
        return (pdf[["s0", "s1"]].to_numpy(),
                pdf[["k0", "k1"]].to_numpy())

    for desc in (True, False):
        got = topk.scan_topk(
            corpus, k, "q long, c_id long, s double", score,
            {"q": np.array([10, 20])}, {"c_id": "cid"}, "s", desc,
        ).collect()
        ref = _ref_topk(S, ids, k, desc, keep)
        for j, q in enumerate((10, 20)):
            # NaN scores come back as NULL
            mine = sorted((r["rank"], r["c_id"],
                           math.nan if r["s"] is None else r["s"])
                          for r in got if r["q"] == q)
            assert [r for r, _, _ in mine] == list(range(1, len(mine) + 1))
            assert _same([(c, s) for _, c, s in mine], ref[j])


def test_scan_topk_empty_batch_has_schema(spark):
    corpus = spark.createDataFrame([(1, 0.5)], "cid long, s double")
    out = topk.scan_topk(
        corpus, 3, "q long, c_id long, s double",
        lambda pdf: (pdf[["s"]].to_numpy(), None),
        {"q": np.array([], dtype=np.int64)}, {"c_id": "cid"}, "s", True,
    )
    assert out.columns == ["q", "c_id", "s", "rank"]
    assert out.count() == 0


def test_query_batch_bound(spark):
    from pyspark.sql import functions as F

    queries = spark.range(topk.MAX_QUERIES + 1).select(
        F.col("id").alias("q_id"), F.array(F.lit(1.0)).alias("q_vec"))
    corpus = spark.range(3).select(
        F.col("id").alias("c_id"), F.array(F.lit(1.0)).alias("c_vec"))
    with pytest.raises(ValueError, match="MAX_QUERIES"):
        knn.knn_join(queries, corpus, 2)


def test_no_topk_sort_outside_kernel():
    """The local top-k order lives in functions/topk.py only: a second
    copy could drift from the window's order."""
    pkg = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "duckdb_hybrid_doc_search_spark")
    offenders = []
    for sub in ("operators", "index", "search"):
        for root, _, files in os.walk(os.path.join(pkg, sub)):
            for name in files:
                if not name.endswith(".py"):
                    continue
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as f:
                    if "lexsort" in f.read():
                        offenders.append(os.path.relpath(path, pkg))
    assert not offenders, f"np.lexsort outside functions/topk.py: {offenders}"
