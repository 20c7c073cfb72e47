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
import re
import warnings

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


# a second copy of the top-k order or of the IVF cell rule (an argmax
# cell pick, a Spark ordering over centroid ids: a centroid window or
# an orderBy().limit(NPROBE))
KERNEL_COPIES = {
    "np.lexsort": re.compile(r"lexsort"),
    ".argmax(": re.compile(r"\.argmax\("),
    "ordering on cent_id": re.compile(
        r"F\.(asc|desc)\w*\(\s*[\"']cent_id|orderBy\([^)]*[\"']cent_id"),
    "limit(NPROBE)": re.compile(r"\.limit\(\s*NPROBE\b"),
}


def test_no_topk_sort_outside_kernel():
    """The local top-k order and the IVF cell rule live in
    functions/topk.py only (local_topk, top_cells): a second copy could
    drift from the window's order or from the oracles' cell rule."""
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
                    text = f.read()
                offenders += [(os.path.relpath(path, pkg), what)
                              for what, pat in KERNEL_COPIES.items()
                              if pat.search(text)]
    assert not offenders, f"outside functions/topk.py: {offenders}"


# vector components: small integers give exact cosine ties (parallel
# vectors), +-1e-9 rounds to -0.0 and 0.0, all-zero rows give NaN
COMPONENTS = st.sampled_from([0.0, 1.0, -1.0, 2.0, 1e-9, -1e-9])


@st.composite
def cell_cases(draw):
    d = draw(st.integers(1, 3))
    nq, nc = draw(st.integers(0, 5)), draw(st.integers(0, 7))
    Q, C = (np.array(draw(st.lists(COMPONENTS, min_size=m * d,
                                   max_size=m * d)),
                     dtype=np.float64).reshape(m, d) for m in (nq, nc))
    return Q, C, draw(st.integers(1, 9))


@settings(max_examples=300, deadline=None)
@given(cell_cases())
def test_top_cells_matches_sorted_reference(case):
    """top_cells picks what a full sort of each query's rounded cosines
    picks: descending, -0.0 == 0.0, ties to the lower position (id), NaN
    rows and columns (zero norms) last, n >= len(C) keeps every cell."""
    Q, C, n = case
    with warnings.catch_warnings():
        warnings.simplefilter("error")   # zero norms give NaN silently
        S = topk.rounded_cosine(Q, C)
        got = topk.top_cells(Q, C, n)
    assert got.shape == (len(Q), min(n, len(C)))
    for i in range(len(Q)):
        want = sorted(range(len(C)),
                      key=lambda j: _ref_key(S[i, j], j, True))[:n]
        assert got[i].tolist() == want


def test_top_cells_zero_norm_and_signed_zero():
    """A zero-norm centroid ranks last, not first (np.argmax returns the
    first NaN); -0.0 ties 0.0 and goes to the lower id."""
    C = np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 1.0]])
    X = np.array([[1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [0.0, 0.0]])
    with warnings.catch_warnings():
        warnings.simplefilter("error")   # zero norms give NaN silently
        assert topk.top_cells(X, C, 1)[:, 0].tolist() == [1, 1, 2, 0]
        assert topk.top_cells(X, C, 3).tolist() == [
            [1, 2, 0], [1, 2, 0], [2, 1, 0], [0, 1, 2]]
        assert np.isnan(topk.cosine(X, C)[3]).all()
    C = np.array([[-1e-9, 1.0], [1e-9, 1.0], [0.0, 1.0]])
    assert topk.top_cells(np.array([[1.0, 0.0]]), C, 3).tolist() == [
        [0, 1, 2]]


@pytest.mark.parametrize("desc", [True, False])
def test_grouped_topk_orders_as_local_topk(desc):
    """grouped_topk over a shuffled row list selects and orders what
    local_topk does over the dense block of the same rows (``keep``
    marks them): ties, +-0.0 and NaN included."""
    rng = np.random.default_rng(5)
    n, q = 300, 4
    S = rng.choice([0.25, -0.0, 0.0, np.nan, 0.75], size=(n, q))
    keep = rng.random((n, q)) < 0.3
    ids = rng.permutation(n).astype(np.int64) * 3
    gq, gr = keep.T.nonzero()
    perm = rng.permutation(len(gq))
    gq, gr = gq[perm], gr[perm]
    for k in (1, 5, 100, 400):
        qi, ci = topk.local_topk(S, ids, k, desc, keep)
        sel = topk.grouped_topk(gq, S[gr, gq], ids[gr], k, desc)
        assert (gq[sel] == qi).all() and (gr[sel] == ci).all(), k


def _check_local(S, ids, k, desc, keep):
    qi, ci = topk.local_topk(S, ids, k, desc, keep)
    got = [[] for _ in range(S.shape[1])]
    for j, c in zip(qi, ci):
        got[j].append((int(ids[c]), S[c, j]))
    ref = _ref_topk(S, ids, k, desc, keep)
    for j in range(S.shape[1]):
        assert _same(got[j], ref[j]), (k, desc, j)


@pytest.mark.parametrize("desc", [True, False])
def test_local_topk_prefilter_keeps_every_tie_of_kth_key(desc):
    """~2000 rows over 3 distinct scores: hundreds of rows tie the k-th
    key, and the id order among them decides the cut."""
    rng = np.random.default_rng(3)
    n = 2000
    S = rng.choice([0.25, -0.0, 0.75], size=(n, 3))
    S[rng.random((n, 3)) < 0.01] = 0.0  # +0.0 ties -0.0
    ids = rng.permutation(n).astype(np.int64) * 7
    partial = rng.random((n, 3)) < 0.4
    for k in (1, 5, 100, 650, 1999, 2000, 2500):
        for keep in (None, partial, np.zeros((n, 3), dtype=bool)):
            _check_local(S, ids, k, desc, keep)


@pytest.mark.parametrize("desc", [True, False])
def test_local_topk_fewer_finite_keys_than_k(desc):
    """Fewer than k non-NaN keys (the prefilter is skipped, NaN rows
    fill the top-k), exactly k, and one more than k."""
    rng = np.random.default_rng(5)
    n, k = 300, 20
    for finite in (0, 7, k - 1, k, k + 1):
        S = np.full((n, 2), np.nan)
        for j in range(2):
            rows = rng.choice(n, finite, replace=False)
            S[rows, j] = rng.choice([0.5, 1.0, -np.inf], size=finite)
        ids = rng.permutation(n).astype(np.int64)
        for keep in (None, rng.random((n, 2)) < 0.5):
            _check_local(S, ids, k, desc, keep)


def test_rounded_l2sq_is_the_scalar_fold():
    """rounded_l2sq equals the per-pair form it vectorizes: three left
    folds from 0.0, ``q·q - 2 q·x + x·x``, rounded half up at SCORE_ROUND
    with +0.0 for a negative value that rounds to zero (Spark's
    F.round)."""
    from duckdb_hybrid_doc_search_spark.config import SCORE_ROUND
    from duckdb_hybrid_doc_search_spark.utils import round_half_up

    def fold(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    rng = np.random.default_rng(11)
    X = rng.standard_normal((40, 7)).astype(np.float32).astype(np.float64)
    Q = np.vstack([X[:3], X[:3] + 1e-9, rng.standard_normal((4, 7))])
    got = topk.rounded_l2sq(X, Q)
    for i, x in enumerate(X):
        for j, q in enumerate(Q):
            d = fold(q, q) - 2.0 * fold(q, x) + fold(x, x)
            want = round_half_up(d, SCORE_ROUND) + 0.0
            assert got[i, j] == want and str(got[i, j]) == str(want)
