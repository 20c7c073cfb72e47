"""The Arrow top-k kernel: per-query top-k of a streamed corpus.

Every GEMM-shaped vector top-k in the engine — brute-force kNN, the kNN
evaluation operators, PQ and IVF-PQ ADC scans, the SQ8 scans (query-time
and written layout), every IVF probe (operators/knn.ivf_probe_topk) and
the batch hybrid VSS branch — runs through :func:`scan_topk`:
the bounded query batch is collected to the driver
(:func:`collect_queries`), each Arrow batch of the corpus is scored
against every query at once by a site-supplied score block, each query
keeps its best k rows of the batch (:func:`local_topk`), and one
``row_number`` window ranks the survivors.

Invariant: a batch's local top-k uses exactly the window's order — score
(descending or ascending) then candidate id ascending. A NaN score leaves
the scan as NULL and ranks last either way: numpy sorts NaN last and the
window orders NULLs last. Every row of a query's global top-k is in
the local top-k of the batch it came from, so the union of the local
top-k sets is a superset of the global top-k and the window over the
Q x k x n_batches survivors selects exactly the rows a window over all
N x Q pairs would.

:func:`grouped_topk` ranks a list of (group, score, id) rows in the same
order; the serving snapshot ranks its fused candidates with it.

The IVF cell rule — rounded cosine descending, ties to the lower
centroid id, NaN (a zero norm) last, as the DuckDB oracles' ``row_number``
over ``round(cosine) DESC, cent_id ASC`` — is :func:`top_cells` alone,
over a centroid table collected by :func:`collect_centroids`. Its sites:
the cell assignment (operators/knn.assign_to_centroids, which every IVF,
IVF-PQ and dedup layout build and append goes through), the cell picks
inside the IVF-PQ scans (knn.ivfpq_topk, knn.ivfpq_residual_topk), the
one IVF probe (knn.ivf_probe_topk: knn.ivf_topk, knn.ivf_kmeans_recall,
index/ivf_layout.ivf_frozen_layout_topk, search/engine.ivf_vss_topk) and
the probe pairs of knn.ivf_nprobe_curve and
index/ivfpq_layout.ivfpq_layout_topk (knn.probe_pairs).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import SCORE_ROUND
from ..utils import round_half_up_array

# Largest query batch a top-k scan collects to the driver; every query's
# scores for a whole Arrow batch are held at once. The largest registered
# batch is 50 queries (knn.CLS_N_QUERIES).
MAX_QUERIES = 1024

# Largest centroid table an IVF site collects to the driver: the nlist
# knn.derive_nlist gives a corpus of 2**32 vectors.
MAX_CENTROIDS = 65536

# one Arrow batch -> its (n, q) scores and an optional (n, q) keep-mask
ScoreBlock = Callable[[pd.DataFrame], tuple[np.ndarray, np.ndarray | None]]


def collect_queries(queries: DataFrame, key: str) -> list[Row]:
    """The query batch on the driver, sorted by ``key``. Raises
    ValueError rather than collect more than MAX_QUERIES rows."""
    return check_queries(queries.limit(MAX_QUERIES + 1).collect(), key)


def check_queries(rows: list[Row], key: str) -> list[Row]:
    """A collected query batch sorted by ``key``; ValueError when it has
    more than MAX_QUERIES rows."""
    if len(rows) > MAX_QUERIES:
        raise ValueError(
            f"top-k query batch has more than MAX_QUERIES={MAX_QUERIES} "
            "rows; the batch is collected to the driver, so split it"
        )
    return sorted(rows, key=lambda r: r[key])


def collect_centroids(cent: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(ids, C) of a (cent_id, cvec) centroid table on the driver, sorted
    by cent_id, the order :func:`top_cells` breaks ties in. Raises
    ValueError rather than collect more than MAX_CENTROIDS rows."""
    rows = cent.select("cent_id", "cvec").limit(MAX_CENTROIDS + 1).collect()
    if len(rows) > MAX_CENTROIDS:
        raise ValueError(
            f"centroid table has more than MAX_CENTROIDS={MAX_CENTROIDS} "
            "rows; it is collected to the driver"
        )
    rows.sort(key=lambda r: r["cent_id"])
    return (np.array([int(r["cent_id"]) for r in rows], dtype=np.int64),
            matrix(r["cvec"] for r in rows))


def matrix(vectors: Iterable[Sequence[float]]) -> np.ndarray:
    """float64 (n, d) matrix from n vectors (an array column of collected
    rows or of an Arrow batch)."""
    return np.array(list(vectors), dtype=np.float64)


def cosine(X: np.ndarray, Q: np.ndarray,
           xnorm: np.ndarray | None = None) -> np.ndarray:
    """(n, q) cosine similarity of the rows of X against the rows of Q;
    NaN where either row has a zero norm (0 / 0, without a warning).
    ``xnorm``, X's row norms ``np.sqrt((X * X).sum(axis=1))``, may be
    passed in when X is scored many times; the result is the same."""
    if xnorm is None:
        xnorm = np.sqrt((X * X).sum(axis=1))
    S = X @ Q.T
    with np.errstate(invalid="ignore"):
        S /= xnorm[:, None] * np.sqrt((Q * Q).sum(axis=1))[None, :]
    return S


def rounded_cosine(X: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """:func:`cosine` rounded at SCORE_ROUND — the value every cosine
    top-k orders by and its DuckDB oracle reproduces."""
    return np.round(cosine(X, Q), SCORE_ROUND)


def rounded_l2sq(X: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """(n, q) squared L2 of the rows of X to the rows of Q, rounded at
    SCORE_ROUND as Spark's ``F.round`` rounds: the dot identity
    ``q·q - 2 q·x + x·x`` with each dot a left fold from 0.0 over the
    dimensions, the float order of functions/vector.l2sq and its DuckDB
    twin; half up (utils.round_half_up_array)."""
    qq, xx = np.zeros(len(Q)), np.zeros(len(X))
    qx = np.zeros((len(X), len(Q)))
    for i in range(X.shape[1]):
        qq += Q[:, i] * Q[:, i]
        qx += X[:, i, None] * Q[None, :, i]
        xx += X[:, i] * X[:, i]
    return round_half_up_array((qq[None, :] - 2.0 * qx) + xx[:, None],
                               SCORE_ROUND)


def top_cells(Q: np.ndarray, C: np.ndarray, n: int) -> np.ndarray:
    """(q, min(n, len(C))) positions in C of each row of Q's n nearest
    cells by the IVF cell rule: rounded cosine descending, ties to the
    earlier (lower-id) centroid, NaN last — C must be sorted by centroid
    id (:func:`collect_centroids`). The one implementation of the rule:
    ``top_cells(X, C, 1)[:, 0]`` is each vector's assigned cell."""
    take = min(n, len(C))
    return np.argsort(-rounded_cosine(Q, C), axis=1, kind="stable")[:, :take]


def probe_mask(cells: np.ndarray, probe: np.ndarray) -> np.ndarray:
    """(n, q) keep-mask: row i's cell ``cells[i]`` is one of query j's
    probe cells ``probe[j]`` (a (q, nprobe) array from top_cells)."""
    return (cells[:, None, None] == probe[None, :, :]).any(axis=2)


def local_topk(S: np.ndarray, ids: np.ndarray, k: int, desc: bool,
               keep: np.ndarray | None = None
               ) -> tuple[np.ndarray, np.ndarray]:
    """(query column, row) index pairs of each query column's top-k rows
    of the score block ``S`` (n, q), by score then ``ids`` ascending,
    NaN last.
    ``keep`` (n, q) restricts each query to the rows marked True.

    Only the rows whose key ties or beats the column's k-th key (found in
    O(n) by ``np.partition``, which also sorts NaN last) are ordered;
    with fewer than k non-NaN keys the k-th key is NaN and every row is.
    """
    key = -S if desc else S
    every = np.arange(len(ids))
    qi, ci = [], []
    for j in range(S.shape[1]):
        rows = every if keep is None else np.flatnonzero(keep[:, j])
        col = key[rows, j]
        if 0 < k < len(rows):
            kth = np.partition(col, k - 1)[k - 1]
            if not np.isnan(kth):
                near = np.flatnonzero(col <= kth)
                rows, col = rows[near], col[near]
        sel = rows[np.lexsort((ids[rows], col))[:k]]
        qi.append(np.full(len(sel), j, dtype=np.int64))
        ci.append(sel)
    return np.concatenate(qi), np.concatenate(ci)


def grouped_topk(group: np.ndarray, score: np.ndarray, ids: np.ndarray,
                 k: int, desc: bool) -> np.ndarray:
    """Positions of the top-k rows of each group of a row list (in any
    order), group by group, each group's rows in :func:`local_topk`'s
    order: score (descending or ascending), then ``ids`` ascending, NaN
    last."""
    order = np.lexsort((ids, -score if desc else score, group))
    g = group[order]
    return order[np.arange(len(g)) - g.searchsorted(g) < k]


def scan_topk(corpus: DataFrame, k: int, schema: T.StructType | str,
              score: ScoreBlock | None,
              queries: dict[str, np.ndarray], cands: dict[str, str],
              score_col: str, desc: bool) -> DataFrame:
    """Per-query top-k of ``corpus``, ranked 1..k in a ``rank`` column.

    ``score(pdf)`` maps one Arrow batch of ``corpus`` to its (n, q) score
    block and an optional (n, q) keep-mask. ``queries`` maps each output
    query column to its q values, one per score column; the window
    partitions on all of them. ``cands`` maps each output candidate
    column to its corpus column; the first is the id that breaks score
    ties. ``schema`` lists the query columns, the candidate columns, then
    ``score_col``. ``score`` None, or no queries, gives no rows."""
    id_col = next(iter(cands))
    if score is None or not len(next(iter(queries.values()))):
        pairs = corpus.sparkSession.createDataFrame([], schema)
    else:
        def fn(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                S, keep = score(pdf)
                qi, ci = local_topk(S, pdf[cands[id_col]].to_numpy(), k,
                                    desc, keep)
                out = {col: vals[qi] for col, vals in queries.items()}
                for col, src in cands.items():
                    out[col] = pdf[src].to_numpy()[ci]
                out[score_col] = S[ci, qi]
                yield pd.DataFrame(out)

        pairs = corpus.mapInPandas(fn, schema)
    order = F.desc(score_col) if desc else F.asc_nulls_last(score_col)
    w = Window.partitionBy(*queries).orderBy(order, F.asc(id_col))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
