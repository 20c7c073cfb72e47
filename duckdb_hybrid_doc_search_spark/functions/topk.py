"""The Arrow top-k kernel: per-query top-k of a streamed corpus.

Every GEMM-shaped vector top-k in the engine — brute-force kNN, the kNN
evaluation operators, PQ and IVF-PQ ADC scans, the written-IVF-layout
probe and the batch hybrid VSS branch — runs through :func:`scan_topk`:
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
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import SCORE_ROUND

# Largest query batch a top-k scan collects to the driver; every query's
# scores for a whole Arrow batch are held at once. The largest registered
# batch is 50 queries (knn.CLS_N_QUERIES).
MAX_QUERIES = 1024

# one Arrow batch -> its (n, q) scores and an optional (n, q) keep-mask
ScoreBlock = Callable[[pd.DataFrame], tuple[np.ndarray, np.ndarray | None]]


def collect_queries(queries: DataFrame, key: str) -> list[Row]:
    """The query batch on the driver, sorted by ``key``. Raises
    ValueError rather than collect more than MAX_QUERIES rows."""
    rows = queries.limit(MAX_QUERIES + 1).collect()
    if len(rows) > MAX_QUERIES:
        raise ValueError(
            f"top-k query batch has more than MAX_QUERIES={MAX_QUERIES} "
            "rows; the batch is collected to the driver, so split it"
        )
    return sorted(rows, key=lambda r: r[key])


def matrix(vectors: Iterable[Sequence[float]]) -> np.ndarray:
    """float64 (n, d) matrix from n vectors (an array column of collected
    rows or of an Arrow batch)."""
    return np.array(list(vectors), dtype=np.float64)


def cosine(X: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """(n, q) cosine similarity of the rows of X against the rows of Q."""
    return (X @ Q.T) / (
        np.sqrt((X * X).sum(axis=1))[:, None]
        * np.sqrt((Q * Q).sum(axis=1))[None, :]
    )


def rounded_cosine(X: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """:func:`cosine` rounded at SCORE_ROUND — the value every cosine
    top-k orders by and its DuckDB oracle reproduces."""
    return np.round(cosine(X, Q), SCORE_ROUND)


def top_cells(Q: np.ndarray, C: np.ndarray, n: int) -> np.ndarray:
    """(q, min(n, len(C))) positions in C of each query's n probe cells:
    rounded cosine descending, ties to the earlier (lower-id) centroid
    — C must be sorted by centroid id."""
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
    ``keep`` (n, q) restricts each query to the rows marked True."""
    key = -S if desc else S
    qi, ci = [], []
    for j in range(S.shape[1]):
        rows = slice(None) if keep is None else np.flatnonzero(keep[:, j])
        order = np.lexsort((ids[rows], key[rows, j]))[:k]
        sel = order if keep is None else rows[order]
        qi.append(np.full(len(sel), j, dtype=np.int64))
        ci.append(sel)
    return np.concatenate(qi), np.concatenate(ci)


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
