"""Exact cosine kNN and corpus-to-corpus similarity joins.

Replaces the reference's HNSW probe (`array_cosine_distance(embedding, ?)
ORDER BY score ASC LIMIT ?`, searcher.py:127-143) with an exact scan: a
whole-stage-codegen'd dot-product expression over a NARROW embeddings table
(doc_id + vector only — §4.3 layout keeps 100 TB of `content` out of this
scan), then TakeOrderedAndProject top-k. Embarrassingly parallel: each
partition scores independently, only (k x partitions) rows reach the driver.

The 1-vs-N query probe generalizes to the M-vs-N similarity join (SURVEY.md
§2.4 extension): broadcast the smaller side, score per pair, per-query top-k
via window row_number — the scale path for ANN (IVF/LSH bucketing) lives in
operators/dedup.py (LSH) and can pre-bucket both sides of this join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import SCORE_ROUND
from ..functions import topk
from ..functions import vector as V


def cosine_distance_topk(embeddings: DataFrame, query_vec: Sequence[float],
                         k: int, id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """(doc_id, vss_score=cosine DISTANCE) ascending top-k — Q4 semantics;
    a zero-norm vector's NULL distance ranks last."""
    qv = V.lit_vector(query_vec)
    return (
        embeddings.select(
            F.col(id_col).alias("doc_id"),
            F.round(V.cosine_distance(F.col(vec_col), qv), SCORE_ROUND).alias(
                "vss_score"
            ),
        )
        .orderBy(F.asc_nulls_last("vss_score"), F.asc("doc_id"))
        .limit(k)
    )


def knn_join(queries: DataFrame, corpus: DataFrame, k: int,
             q_id: str = "q_id", q_vec: str = "q_vec",
             c_id: str = "c_id", c_vec: str = "c_vec") -> DataFrame:
    """Brute-force top-k neighbors per query row (higher similarity first).

    The queries side is bounded by contract (functions/topk.MAX_QUERIES)
    and collected to the driver; the corpus streams once through the
    Arrow top-k scan (functions/topk.scan_topk) on the rounded cosine.
    Output: q_id, c_id, cos_sim, rank.
    """
    import numpy as np
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField(q_id, queries.schema[q_id].dataType),
        T.StructField(c_id, corpus.schema[c_id].dataType),
        T.StructField("cos_sim", T.DoubleType()),
    ])
    qrows = topk.collect_queries(queries.select(q_id, q_vec), q_id)
    Q = topk.matrix(r[1] for r in qrows)
    return topk.scan_topk(
        corpus.select(c_id, c_vec), k, out_schema,
        lambda pdf: (topk.rounded_cosine(topk.matrix(pdf[c_vec]), Q), None),
        {q_id: np.array([r[0] for r in qrows])}, {c_id: c_id},
        "cos_sim", desc=True,
    )


CENTROID_MOD = 50   # deterministic centroid pick: vec_id % CENTROID_MOD == 0
NLIST_MIN = 16      # nlist floor: tiny corpora keep a useful cell count
NPROBE = 2


def derive_nlist(n: int) -> int:
    """nlist ~ sqrt(N), floored at NLIST_MIN — the standard IVF sizing
    rule (FAISS guidance: nlist between sqrt(N) and 16*sqrt(N)), chosen
    ONCE at index-build time from the corpus count and then FROZEN in
    the layout meta (appends assign against the build's centroid set;
    re-deriving is a rebuild). A probe reading NPROBE/nlist of the
    corpus then shrinks as the corpus grows — the r9 VERDICT's point
    that a fixed 16-cell index gives only a constant-factor discount at
    100 TB, not an index. math.isqrt, not floor(sqrt()): exact at the
    >2^52 counts where double sqrt rounds across integer boundaries
    (same rule as dedup.semdedup_mod; the oracle twin corrects the
    double guess by integer comparison — dd_nlist_scalar)."""
    import math

    return max(NLIST_MIN, math.isqrt(n))


def centroid_pred(id_col, nlist: int):
    """The deterministic IVF centroid-sample predicate, shared by every
    IVF variant (query-time assign, written cell layout, IVF-PQ, append
    path). Every CENTROID_MOD-th vector, capped at ``nlist`` centroids.
    ``nlist`` comes from derive_nlist(corpus count) at build time and is
    persisted in the layout meta — frozen thereafter, so assignment is
    O(N*nlist) with an O(sqrt(N))-size centroid broadcast and the cell
    definition never drifts under appends. Without a cap the centroid
    set is N/CENTROID_MOD rows: the assignment crossJoin is O(N^2/mod)
    and the broadcast side grows linearly with the corpus — at 100 TB it
    does not fit. A trained centroid set plugs into the same seam via
    embeddings_kmeans_train."""
    return (F.col(id_col) % CENTROID_MOD == 0) & (
        F.col(id_col) < CENTROID_MOD * nlist
    )


def dd_nlist_scalar(table: str = "embeddings") -> str:
    """Scalar-subquery twin of derive_nlist(count(table)) — EXACT integer
    sqrt: the double guess is corrected over +-2 by integer comparison
    (g*g <= n), so counts where float sqrt rounds across an integer
    boundary still match Python's math.isqrt (the dd_semdedup_sql
    stride pattern, proven oracle-safe since r8)."""
    return (
        f"(SELECT greatest({NLIST_MIN}, max(g)) FROM ("
        f"SELECT n, unnest(generate_series("
        f"greatest(CAST(floor(sqrt(n)) AS BIGINT) - 2, 0), "
        f"CAST(floor(sqrt(n)) AS BIGINT) + 2)) AS g "
        f"FROM (SELECT count(*)::BIGINT AS n FROM {table})"
        f") WHERE g * g <= n)"
    )


def dd_centroid_pred(id_col: str, table: str = "embeddings") -> str:
    """DuckDB twin of centroid_pred with the derived nlist — must stay
    token-equivalent (same modulus, same cap arithmetic)."""
    return (f"{id_col} % {CENTROID_MOD} = 0 "
            f"AND {id_col} < {CENTROID_MOD} * {dd_nlist_scalar(table)}")


def assign_to_centroids(vecs: DataFrame, cent: DataFrame,
                        p: int = 1, with_sim: bool = False,
                        keep_vec: bool = False) -> DataFrame:
    """(c_id, cell): each vector's nearest centroid by the IVF cell rule
    (functions/topk.top_cells: rounded cosine, tie -> lower centroid id,
    a zero-norm centroid last). `vecs` has (c_id, c_vec); `cent` has
    (cent_id, cvec) and is collected to the driver
    (topk.collect_centroids). Build-time assignment (ivf_assign) and
    incremental appends (index/ivf_layout.append_ivf_vectors) both come
    here, so appended cells cannot drift from built cells.

    ``p`` > 1 keeps each vector's top-p cells (one row per cell) — the
    MULTI-PROBE assignment the cell-bucketed dedup layout persists
    (r11 VERDICT #2: single-probe assignment loses near-dup pairs at
    cell boundaries; top-2 assignment recovers most of them at a
    bounded p^2 pair-space factor). The rank-1 row of a p>1 call is the
    p=1 call's row, so probe layouts and dedup layouts never disagree
    on a vector's primary cell.

    ``with_sim`` adds the kept cell's rounded cosine as ``csim`` and
    ``keep_vec`` passes the vector through — the SemDeDup keep rule
    needs both, and the in-plan IVF probe scores the passed-through
    vectors."""
    import numpy as np
    import pandas as pd

    cids, C = topk.collect_centroids(cent)
    take = min(p, len(cids))

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = topk.matrix(pdf["c_vec"])
            idx = topk.top_cells(X, C, p)
            out = {
                "c_id": np.repeat(pdf["c_id"].to_numpy(), take),
                "cell": cids[idx].ravel(),
            }
            if with_sim:
                out["csim"] = np.take_along_axis(
                    topk.rounded_cosine(X, C), idx, 1).ravel()
            if keep_vec:
                out["c_vec"] = pdf["c_vec"].repeat(take).reset_index(
                    drop=True)
            yield pd.DataFrame(out)

    schema = "c_id long, cell long"
    if with_sim:
        schema += ", csim double"
    if keep_vec:
        schema += ", c_vec array<double>"
    return vecs.select("c_id", "c_vec").mapInPandas(fn, schema)


def sample_centroids(emb: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     nlist: int | None = None) -> DataFrame:
    """The IVF centroid table (cent_id, cvec): a deterministic subsample
    (centroid_pred — every CENTROID_MOD-th id, capped at nlist
    centroids; a k-means stand-in that keeps the oracle exact).
    ``nlist`` defaults to derive_nlist(emb.count()) — one bounded scalar
    action, the same count the oracle computes as a scalar subquery;
    layout builders over a PARTIAL frame (the append-layout 80% base)
    must pass the full-corpus nlist explicitly or append equivalence
    breaks. THE single source of the sample-centroid derivation — the
    dedup bucketing and the written layouts must not re-implement it
    (r12 review: drift between copies silently corrupts cell
    membership)."""
    if nlist is None:
        nlist = derive_nlist(emb.count())
    return emb.where(centroid_pred(id_col, nlist)).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cvec")
    )


def ivf_assign(emb: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding",
               nlist: int | None = None,
               p: int = 1) -> tuple[DataFrame, DataFrame]:
    """(centroids, assignments) for the IVF index: the
    :func:`sample_centroids` table (~sqrt(N) rows) and every vector's
    (c_id, cell) by :func:`assign_to_centroids`; ``p`` > 1 keeps the
    top-p cells per vector (the multi-probe dedup assignment)."""
    cent = sample_centroids(emb, id_col, vec_col, nlist)
    assign = assign_to_centroids(
        emb.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")),
        cent,
        p=p,
    )
    return cent, assign


def pick_probes(cent: DataFrame, queries: DataFrame, nprobe: int):
    """(query rows sorted by q_id, their (q, d) matrix, (q, nprobe)
    probe cell ids): the query batch (q_id, q_vec) and the centroid
    table (cent_id, cvec) are collected to the driver, both bounded
    (topk.collect_queries, topk.collect_centroids), and each query's
    ``nprobe`` cells are picked by the cell rule (topk.top_cells). No
    query or no centroid gives a (q, 0) probe array."""
    import numpy as np

    cids, C = topk.collect_centroids(cent)
    qrows = topk.collect_queries(queries, "q_id")
    Q = topk.matrix(r["q_vec"] for r in qrows)
    if not (qrows and len(cids)):
        return qrows, Q, np.zeros((len(qrows), 0), dtype=np.int64)
    return qrows, Q, cids[topk.top_cells(Q, C, nprobe)]


def probe_pairs(cent: DataFrame, queries: DataFrame,
                nprobe: int) -> tuple[DataFrame, list[int]]:
    """(q_id, cell, probe_rn) rows of each query's ``nprobe`` cells
    (:func:`pick_probes`) as a driver-built frame, probe_rn 1..nprobe in
    the cell rule's order, and the sorted distinct probed cells. The
    frame comes from pandas, a local relation: a frame from a Python
    list is an RDD whose every use runs Python tasks."""
    import pandas as pd
    from pyspark.sql import types as T

    qrows, _, probe = pick_probes(cent, queries, nprobe)
    pairs = queries.sparkSession.createDataFrame(
        pd.DataFrame([(r["q_id"], int(c), rn)
                      for r, cells in zip(qrows, probe)
                      for rn, c in enumerate(cells, 1)],
                     columns=["q_id", "cell", "probe_rn"]),
        T.StructType([
            T.StructField("q_id", queries.schema["q_id"].dataType),
            T.StructField("cell", T.LongType()),
            T.StructField("probe_rn", T.IntegerType()),
        ]),
    )
    return pairs, sorted(set(probe.ravel().tolist()))


def ivf_probe_topk(cent: DataFrame, queries: DataFrame, corpus: DataFrame,
                   k: int, score=topk.rounded_cosine,
                   score_col: str = "cos_sim",
                   desc: bool = True) -> DataFrame:
    """The one IVF probe: each query's NPROBE cells of the centroid
    table ``cent`` (cent_id, cvec) are picked on the driver
    (:func:`pick_probes`), and the rows of ``corpus`` (c_id, c_vec,
    cell) in their union — a partition-pruned scan when ``corpus`` is a
    written cell layout — are scored by one Arrow top-k scan, each query
    keeping only the rows of its own cells. ``score(X, Q)`` is the
    site's (n, q) score block, ``score_col`` its output column and
    ``desc`` its order; the default is the rounded cosine, descending.
    ``queries`` carries (q_id, q_vec). The centroid source is a seam:
    sampled, trained and a layout's frozen centroids probe alike.

    Output: q_id, c_id, <score_col>, rank."""
    import numpy as np
    from pyspark.sql import types as T

    qrows, Q, probe = pick_probes(cent, queries, NPROBE)
    block = None
    if probe.size:
        def block(pdf):
            return (score(topk.matrix(pdf["c_vec"]), Q),
                    topk.probe_mask(pdf["cell"].to_numpy(), probe))

    schema = T.StructType([
        T.StructField("q_id", queries.schema["q_id"].dataType),
        T.StructField("c_id", corpus.schema["c_id"].dataType),
        T.StructField(score_col, T.DoubleType()),
    ])
    return topk.scan_topk(
        corpus.select("c_id", "c_vec", "cell")
        .where(F.col("cell").isin(sorted(set(probe.ravel().tolist())))),
        k, schema, block,
        {"q_id": np.array([r["q_id"] for r in qrows])}, {"c_id": "c_id"},
        score_col, desc,
    )


def _queries(emb: DataFrame, n_queries: int, id_col: str,
             vec_col: str) -> DataFrame:
    return emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )


def _vectors(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return emb.select(F.col(id_col).alias("c_id"),
                      F.col(vec_col).alias("c_vec"))


def ivf_topk(emb: DataFrame, k: int, n_queries: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF-bucketed ANN: probe the NPROBE nearest cells per query, exact
    top-k inside the probed cells only — the 100 TB scale path where the
    full-corpus scan of cosine_distance_topk is replaced by reading ~
    nprobe/n_cells of the data. Approximate by construction; recall vs the
    exact scan is a quality metric, not a correctness bug (flagged, not
    hidden — SURVEY.md §4.1). The in-plan form of the written layout's
    probe (index/ivf_layout.ivf_frozen_layout_topk): the cells come from
    assign_to_centroids, vectors passed through."""
    cent = sample_centroids(emb, id_col, vec_col)
    return ivf_probe_topk(
        cent, _queries(emb, n_queries, id_col, vec_col),
        assign_to_centroids(_vectors(emb, id_col, vec_col), cent,
                            keep_vec=True),
        k,
    )


# --- DuckDB oracle SQL ------------------------------------------------------


def dd_ivf_topk_sql(k: int, n_queries: int = 10, table: str = "embeddings",
                    id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    csim = V.dd_cosine_similarity("e.c_vec", "c.cvec")
    qsim = V.dd_cosine_similarity("q.q_vec", "c.cvec")
    sim = V.dd_cosine_similarity("p.q_vec", "e2.c_vec")
    return f"""
WITH cent AS (
  SELECT {id_col} AS cent_id, {vec_col} AS cvec FROM {table}
  WHERE {dd_centroid_pred(id_col, table)}
),
e AS (SELECT {id_col} AS c_id, {vec_col} AS c_vec FROM {table}),
assign AS (
  SELECT c_id, cent_id AS cell FROM (
    SELECT e.c_id, c.cent_id,
           row_number() OVER (PARTITION BY e.c_id
             ORDER BY round({csim}, {SCORE_ROUND}) DESC, c.cent_id ASC) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (SELECT {id_col} AS q_id, {vec_col} AS q_vec FROM {table}
      WHERE {id_col} < {n_queries}),
probes AS (
  SELECT q_id, q_vec, cent_id AS cell FROM (
    SELECT q.q_id, q.q_vec, c.cent_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({qsim}, {SCORE_ROUND}) DESC, c.cent_id ASC) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {NPROBE}
),
scored AS (
  SELECT p.q_id, a.c_id, round({sim}, {SCORE_ROUND}) AS cos_sim
  FROM probes p JOIN assign a ON p.cell = a.cell
  JOIN e e2 ON e2.c_id = a.c_id
)
SELECT q_id, c_id, cos_sim, rank FROM (
  SELECT q_id, c_id, cos_sim,
         row_number() OVER (PARTITION BY q_id
           ORDER BY cos_sim DESC, c_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}
""".strip()


def dd_cosine_distance_topk_sql(query_vec: Sequence[float], k: int,
                                table: str = "embeddings",
                                id_col: str = "vec_id",
                                vec_col: str = "embedding") -> str:
    qv = V.dd_lit_vector(query_vec)
    dist = V.dd_cosine_distance(vec_col, qv)
    return f"""
SELECT {id_col} AS doc_id, round({dist}, {SCORE_ROUND}) AS vss_score
FROM {table}
ORDER BY vss_score ASC, doc_id ASC LIMIT {k}
""".strip()


def dd_vss_scored_cte(query_vec: Sequence[float], k: int,
                      table: str = "embeddings", id_col: str = "vec_id",
                      vec_col: str = "embedding") -> str:
    qv = V.dd_lit_vector(query_vec)
    dist = V.dd_cosine_distance(vec_col, qv)
    return f"""
vss_scored AS (
  SELECT {id_col} AS doc_id, round({dist}, {SCORE_ROUND}) AS vss_score
  FROM {table}
  ORDER BY vss_score ASC, doc_id ASC LIMIT {k}
)
""".strip()


def dd_ivf_vss_cte(query_vec: Sequence[float], k: int,
                   table: str = "embeddings", id_col: str = "vec_id",
                   vec_col: str = "embedding") -> str:
    """``vss_scored`` CTE with IVF-probe semantics for ONE literal query
    vector: assign every corpus vector to its nearest deterministic
    centroid, pick the query's NPROBE nearest cells, and rank distances
    only inside those cells — the SQL twin of the partition-pruned probe
    over the written ``index/ivf_layout`` (same rounding and tie rules as
    :func:`dd_ivf_topk_sql`)."""
    qv = V.dd_lit_vector(query_vec)
    csim = V.dd_cosine_similarity("e.c_vec", "c.cvec")
    qsim = V.dd_cosine_similarity("c.cvec", qv)
    dist = V.dd_cosine_distance("e.c_vec", qv)
    return f"""
cent AS (
  SELECT {id_col} AS cent_id, {vec_col} AS cvec FROM {table}
  WHERE {dd_centroid_pred(id_col, table)}
),
e AS (SELECT {id_col} AS c_id, {vec_col} AS c_vec FROM {table}),
assign AS (
  SELECT c_id, cent_id AS cell FROM (
    SELECT e.c_id, c.cent_id,
           row_number() OVER (PARTITION BY e.c_id
             ORDER BY round({csim}, {SCORE_ROUND}) DESC, c.cent_id ASC) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
),
probe AS (
  SELECT cent_id FROM cent c
  ORDER BY round({qsim}, {SCORE_ROUND}) DESC, cent_id ASC LIMIT {NPROBE}
),
vss_scored AS (
  SELECT e.c_id AS doc_id, round({dist}, {SCORE_ROUND}) AS vss_score
  FROM e JOIN assign a USING (c_id)
  WHERE a.cell IN (SELECT cent_id FROM probe)
  ORDER BY vss_score ASC, doc_id ASC LIMIT {k}
)
""".strip()


def dd_knn_join_sql(k: int, queries_sql: str, table: str = "embeddings",
                    id_col: str = "vec_id", vec_col: str = "embedding") -> str:
    """Oracle for :func:`knn_join`; `queries_sql` yields (q_id, q_vec)."""
    sim = V.dd_cosine_similarity("q.q_vec", f"c.{vec_col}")
    return f"""
WITH q AS ({queries_sql}),
pairs AS (
  SELECT q.q_id, c.{id_col} AS c_id, round({sim}, {SCORE_ROUND}) AS cos_sim
  FROM {table} c CROSS JOIN q
),
ranked AS (
  SELECT q_id, c_id, cos_sim,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC) AS rank
  FROM pairs
)
SELECT q_id, c_id, cos_sim, rank FROM ranked WHERE rank <= {k}
""".strip()


# --- matryoshka (truncated-dimension) retrieval quality -----------------------

MRL_DIM = 16  # retrieval prefix: first 16 of the 64 embedding dims


def matryoshka_recall(emb: DataFrame, k: int, n_queries: int,
                      dim: int = MRL_DIM, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Recall@k of truncated-prefix retrieval vs the full-dim exact top-k
    — the evaluation behind Matryoshka-style cheap first-stage retrieval
    (store/scan only the first `dim` dims, rerank survivors full-width).

    ONE corpus scan: each (query, candidate) pair scores BOTH the full
    and the prefix cosine in the same score block, ranked per (query,
    metric); recall@k = |top-k ∩ top-k_trunc|/k.
    At 100 TB the query set is the bounded broadcast side (an eval
    sample), so cost is one corpus pass regardless of how many metric
    variants are scored per pair.

    Output: q_id, recall_at_k (one row per query, 0.0 when disjoint).

    The score block stacks both metrics' rounded cosines side by side,
    tagged by ``kind`` (f = full, t = truncated), so one Arrow top-k scan
    ranks each query under both orderings.
    """
    import numpy as np
    from pyspark.sql import types as T

    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    out_schema = T.StructType([
        T.StructField("q_id", emb.schema[id_col].dataType),
        T.StructField("kind", T.StringType()),
        T.StructField("c_id", emb.schema[id_col].dataType),
        T.StructField("sim", T.DoubleType()),
    ])
    qrows = topk.collect_queries(queries, "q_id")
    Q = topk.matrix(r["q_vec"] for r in qrows)
    q_ids = np.array([r["q_id"] for r in qrows])

    def score(pdf):
        X = topk.matrix(pdf[vec_col])
        return np.hstack([
            topk.rounded_cosine(X, Q),
            topk.rounded_cosine(X[:, :dim], Q[:, :dim]),
        ]), None

    ranked = topk.scan_topk(
        emb.select(id_col, vec_col), k, out_schema, score,
        {"q_id": np.concatenate([q_ids, q_ids]),
         "kind": np.repeat(["f", "t"], len(q_ids))},
        {"c_id": id_col}, "sim", desc=True,
    )
    top = {kind: ranked.where(F.col("kind") == kind).select("q_id", "c_id")
           for kind in ("f", "t")}
    hits = top["f"].join(top["t"], ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        queries.select("q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.round(F.coalesce(F.col("n_hit"), F.lit(0)) / k, 6)
            .alias("recall_at_k"),
        )
        .orderBy("q_id")
    )


def dd_matryoshka_recall_sql(k: int, n_queries: int, dim: int = MRL_DIM,
                             table: str = "embeddings",
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> str:
    sim_full = V.dd_cosine_similarity("q.q_vec", f"c.{vec_col}")
    sim_trunc = V.dd_cosine_similarity(
        f"list_slice(q.q_vec, 1, {dim})",
        f"list_slice(c.{vec_col}, 1, {dim})",
    )
    return f"""
WITH q AS (
  SELECT {id_col} AS q_id, {vec_col} AS q_vec FROM {table}
  WHERE {id_col} < {n_queries}
),
pairs AS (
  SELECT q.q_id, c.{id_col} AS c_id,
         round({sim_full}, {SCORE_ROUND}) AS cos_full,
         round({sim_trunc}, {SCORE_ROUND}) AS cos_trunc
  FROM {table} c CROSS JOIN q
),
ranked AS (
  SELECT q_id,
         row_number() OVER (PARTITION BY q_id
           ORDER BY cos_full DESC, c_id ASC) AS rf,
         row_number() OVER (PARTITION BY q_id
           ORDER BY cos_trunc DESC, c_id ASC) AS rt
  FROM pairs
)
SELECT q_id,
       round(sum(CASE WHEN rf <= {k} AND rt <= {k} THEN 1 ELSE 0 END)
             * 1.0 / {k}, 6) AS recall_at_k
FROM ranked GROUP BY q_id ORDER BY q_id
""".strip()


# --- kNN label classification (embedding-quality evaluation) ------------------

CLS_K = 5  # neighbors per vote


def knn_classify_accuracy(emb: DataFrame, k: int, n_queries: int,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          label_col: str = "label") -> DataFrame:
    """Leave-one-out kNN majority-vote accuracy per class — the standard
    "are these embeddings any good" probe over the labeled vector table:
    each query vector is classified by its k nearest neighbors' labels
    (self excluded; cosine ties broken by id, vote ties by smaller label)
    and scored against its true label.

    Scale shape: the evaluation query set is the bounded broadcast side;
    the corpus streams once; per-query state after the scan is k rows.

    The neighbor search is the Arrow top-k scan (functions/topk) with
    the query itself masked out of its own candidates.

    Output per true label: n, n_correct, accuracy.
    """
    import numpy as np

    qrows = topk.collect_queries(
        emb.where(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"),
                F.col(label_col).alias("q_label")),
        "q_id",
    )
    Q = topk.matrix(r["q_vec"] for r in qrows)
    q_ids = np.array([int(r["q_id"]) for r in qrows], dtype=np.int64)
    q_labels = np.array([int(r["q_label"]) for r in qrows], dtype=np.int32)

    def score(pdf):
        c_ids = pdf[id_col].to_numpy()
        return (topk.rounded_cosine(topk.matrix(pdf[vec_col]), Q),
                c_ids[:, None] != q_ids[None, :])

    nn = topk.scan_topk(
        emb.select(id_col, vec_col, label_col), k,
        "q_id long, q_label int, c_id long, c_label int, cos_sim double",
        score, {"q_id": q_ids, "q_label": q_labels},
        {"c_id": id_col, "c_label": label_col}, "cos_sim", desc=True,
    )
    votes = nn.groupBy("q_id", "q_label", "c_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w_vote = Window.partitionBy("q_id").orderBy(
        F.desc("n_votes"), F.asc("c_label")
    )
    pred = votes.withColumn("rv", F.row_number().over(w_vote)).where(
        F.col("rv") == 1
    )
    correct = F.when(F.col("c_label") == F.col("q_label"), 1).otherwise(0)
    return (
        pred.groupBy(F.col("q_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(correct).cast("long").alias("n_correct"),
            F.round(F.sum(correct) / F.count(F.lit(1)), 6)
            .alias("accuracy"),
        )
        .orderBy("label")
    )


def dd_knn_classify_sql(k: int, n_queries: int, table: str = "embeddings",
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        label_col: str = "label") -> str:
    sim = V.dd_cosine_similarity("q.q_vec", f"c.{vec_col}")
    return f"""
WITH q AS (
  SELECT {id_col} AS q_id, {vec_col} AS q_vec, {label_col} AS q_label
  FROM {table} WHERE {id_col} < {n_queries}
),
pairs AS (
  SELECT q.q_id, q.q_label, c.{id_col} AS c_id, c.{label_col} AS c_label,
         round({sim}, {SCORE_ROUND}) AS cos_sim
  FROM {table} c CROSS JOIN q
  WHERE c.{id_col} <> q.q_id
),
nn AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
      ORDER BY cos_sim DESC, c_id ASC) AS rnk
    FROM pairs
  ) WHERE rnk <= {k}
),
votes AS (
  SELECT q_id, q_label, c_label, count(*)::BIGINT AS n_votes
  FROM nn GROUP BY 1, 2, 3
),
pred AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY q_id
      ORDER BY n_votes DESC, c_label ASC) AS rv
    FROM votes
  ) WHERE rv = 1
)
SELECT q_label AS label, count(*)::BIGINT AS n,
       sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END)::BIGINT
         AS n_correct,
       round(sum(CASE WHEN c_label = q_label THEN 1 ELSE 0 END)
             * 1.0 / count(*), 6) AS accuracy
FROM pred GROUP BY q_label ORDER BY label
""".strip()


# --- IVF nprobe tuning curve ---------------------------------------------------

NPROBE_SWEEP = (1, 2, 4, 8)


def ivf_nprobe_curve(emb: DataFrame, k: int, n_queries: int,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     cent: DataFrame | None = None,
                     assign: DataFrame | None = None) -> DataFrame:
    """Recall@k vs scan cost across the NPROBE_SWEEP — the tuning curve
    every IVF deployment reads before picking nprobe (quality rises with
    probes, cost rises linearly; the knee is the operating point).

    ONE pass: candidates are gathered once at max(sweep) probes with
    their probe rank attached (:func:`probe_pairs`), each candidate's
    cosine is scored once, then the sweep values fan out by an explode
    and each (nprobe, query) slice ranks the candidates whose probe rank
    qualifies. Recall is against the exact brute-force top-k;
    mean_candidates records the per-query scan cost that bought it.

    ``cent``/``assign`` take a WRITTEN layout's frozen centroid table
    and stored (c_id, cell) assignment — the registered query passes
    them so the curve reads a two-column parquet scan instead of
    recomputing the O(N x nlist) assignment crossJoin per run (with
    derived nlist the in-plan assignment grew with sqrt(N): the r10
    bench paid 44-vs-16 centroid math on every execution; the layout
    already materialized the answer at build time).

    Output per nprobe: mean_recall, mean_candidates.
    """
    if cent is None or assign is None:
        cent, assign = ivf_assign(emb, id_col, vec_col)
    queries = _queries(emb, n_queries, id_col, vec_col)
    cand = (
        queries.join(probe_pairs(cent, queries, max(NPROBE_SWEEP))[0], "q_id")
        .join(assign, "cell")
        .join(_vectors(emb, id_col, vec_col), "c_id")
        .select(
            "q_id", "probe_rn", "c_id",
            F.round(V.cosine_similarity(F.col("q_vec"), F.col("c_vec")),
                    SCORE_ROUND).alias("cos_sim"),
        )
    )
    fanned = cand.select(
        "*",
        F.explode(F.array(*[F.lit(n) for n in NPROBE_SWEEP])).alias("nprobe"),
    ).where(F.col("probe_rn") <= F.col("nprobe"))
    wk = Window.partitionBy("nprobe", "q_id").orderBy(
        F.desc("cos_sim"), F.asc("c_id")
    )
    approx = (
        fanned.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("nprobe", "q_id", "c_id")
    )
    brute = knn_join(queries, _vectors(emb, id_col, vec_col), k).select(
        "q_id", "c_id")
    hits = approx.join(brute, ["q_id", "c_id"]).groupBy(
        "nprobe", "q_id"
    ).agg(F.count(F.lit(1)).alias("n_hit"))
    n_cand = fanned.groupBy("nprobe", "q_id").agg(
        F.count(F.lit(1)).alias("n_cand")
    )
    per_q = n_cand.join(hits, ["nprobe", "q_id"], "left")
    return (
        per_q.groupBy("nprobe")
        .agg(
            F.round(F.avg(F.coalesce(F.col("n_hit"), F.lit(0)) / k), 6)
            .alias("mean_recall"),
            F.round(F.avg("n_cand"), 6).alias("mean_candidates"),
        )
        .orderBy("nprobe")
    )


def dd_ivf_nprobe_curve_sql(k: int, n_queries: int,
                            table: str = "embeddings",
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> str:
    csim = V.dd_cosine_similarity("e.c_vec", "c.cvec")
    qsim = V.dd_cosine_similarity("q.q_vec", "c.cvec")
    sim = V.dd_cosine_similarity("p.q_vec", "e2.c_vec")
    bsim = V.dd_cosine_similarity("q.q_vec", "e.c_vec")
    sweep_vals = ", ".join(f"({n})" for n in NPROBE_SWEEP)
    return f"""
WITH cent AS (
  SELECT {id_col} AS cent_id, {vec_col} AS cvec FROM {table}
  WHERE {dd_centroid_pred(id_col, table)}
),
e AS (SELECT {id_col} AS c_id, {vec_col} AS c_vec FROM {table}),
assign AS (
  SELECT c_id, cent_id AS cell FROM (
    SELECT e.c_id, c.cent_id,
           row_number() OVER (PARTITION BY e.c_id
             ORDER BY round({csim}, {SCORE_ROUND}) DESC, c.cent_id ASC) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (SELECT {id_col} AS q_id, {vec_col} AS q_vec FROM {table}
      WHERE {id_col} < {n_queries}),
probes AS (
  SELECT q_id, q_vec, cent_id AS cell, rn AS probe_rn FROM (
    SELECT q.q_id, q.q_vec, c.cent_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({qsim}, {SCORE_ROUND}) DESC, c.cent_id ASC) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {max(NPROBE_SWEEP)}
),
cand AS (
  SELECT p.q_id, p.probe_rn, a.c_id,
         round({sim}, {SCORE_ROUND}) AS cos_sim
  FROM probes p JOIN assign a ON p.cell = a.cell
  JOIN e e2 ON e2.c_id = a.c_id
),
fanned AS (
  SELECT cand.*, s.nprobe
  FROM cand CROSS JOIN (VALUES {sweep_vals}) s(nprobe)
  WHERE probe_rn <= s.nprobe
),
approx AS (
  SELECT nprobe, q_id, c_id FROM (
    SELECT nprobe, q_id, c_id,
           row_number() OVER (PARTITION BY nprobe, q_id
             ORDER BY cos_sim DESC, c_id ASC) AS rank
    FROM fanned
  ) WHERE rank <= {k}
),
brute AS (
  SELECT q_id, c_id FROM (
    SELECT q.q_id, e.c_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({bsim}, {SCORE_ROUND}) DESC, e.c_id ASC) AS rank
    FROM e CROSS JOIN q
  ) WHERE rank <= {k}
),
hits AS (
  SELECT a.nprobe, a.q_id, count(*)::BIGINT AS n_hit
  FROM approx a JOIN brute b ON a.q_id = b.q_id AND a.c_id = b.c_id
  GROUP BY 1, 2
),
n_cand AS (
  SELECT nprobe, q_id, count(*)::BIGINT AS n_cand
  FROM fanned GROUP BY 1, 2
)
SELECT n.nprobe, round(avg(coalesce(h.n_hit, 0) * 1.0 / {k}), 6)
         AS mean_recall,
       round(avg(n.n_cand), 6) AS mean_candidates
FROM n_cand n LEFT JOIN hits h ON n.nprobe = h.nprobe AND n.q_id = h.q_id
GROUP BY n.nprobe ORDER BY n.nprobe
""".strip()


# --- product quantization (IVF-PQ-style compressed ANN) -----------------------

PQ_M = 4         # subspaces (64-dim embeddings -> 4 x 16-dim subvectors)
PQ_CB_MOD = 25   # deterministic codebook pick: vec_id % PQ_CB_MOD == 0
PQ_K = 32        # codebook size CAP per subspace (vec_id < PQ_CB_MOD*PQ_K)
PQ_DIM = 64      # testdata embedding width


def pq_sample_pred(id_col):
    """The deterministic codebook-sample predicate, shared by every PQ
    variant (raw, residual, written layout) and the tests: every PQ_CB_MOD-th
    vector, CAPPED at PQ_K codewords per subspace. The cap is the scale
    contract — a real PQ codebook is a FIXED K (FAISS default 256)
    independent of corpus size, so encode cost is O(N*K), not O(N^2/mod).
    Without it the codebook grows with the corpus and the encode join is
    quadratic (the r6 SCALING.md 1.0-1.17 slopes on the ivfpq rows)."""
    return (F.col(id_col) % PQ_CB_MOD == 0) & (
        F.col(id_col) < PQ_CB_MOD * PQ_K
    )


def dd_pq_sample_pred(id_col: str) -> str:
    """DuckDB twin of pq_sample_pred — must stay token-equivalent."""
    return f"{id_col} % {PQ_CB_MOD} = 0 AND {id_col} < {PQ_CB_MOD * PQ_K}"


def _pq_long(df: DataFrame, id_alias: str, vec_col: str,
             dim: int, m: int, extra: tuple[str, ...] = ()) -> DataFrame:
    """Long-form subvectors: one row per (id, subspace) with the slice
    (plus any `extra` carried columns).

    posexplode of a per-row array of slices — a single projection, no
    M-way union, stays in whole-stage codegen."""
    sub = dim // m
    slices = F.array(*[
        F.slice(F.col(vec_col), i * sub + 1, sub) for i in range(m)
    ])
    return df.select(
        F.col(id_alias),
        *[F.col(c) for c in extra],
        F.posexplode(slices).alias("m", "sub"),
    )


def pq_codebook(emb: DataFrame, id_col: str = "vec_id",
                vec_col: str = "embedding", dim: int = PQ_DIM,
                m: int = PQ_M) -> DataFrame:
    """(m, code, cw): per-subspace codewords sliced from a deterministic
    sample of corpus vectors (pq_sample_pred — every PQ_CB_MOD-th id,
    capped at PQ_K codewords so K is FIXED at scale; a trained codebook
    would plug in here via embeddings_kmeans_train).
    K x M subvectors — a few KB, always the broadcast side."""
    cb = emb.where(pq_sample_pred(id_col)).select(
        F.col(id_col).alias("code"), F.col(vec_col).alias("cw_full")
    )
    return _pq_long(cb, "code", "cw_full", dim, m).select(
        "m", "code", F.col("sub").alias("cw")
    )


def _pq_books(cb_rows, m: int) -> tuple[list, list]:
    """Per-subspace codeword matrices (code order) and their squared
    norms from (m, code, cw) rows sorted by (m, code)."""
    books = [topk.matrix(r["cw"] for r in cb_rows if r["m"] == mi)
             for mi in range(m)]
    return books, [(C * C).sum(axis=1) if len(C) else None for C in books]


def _pq_codes(X, books, sq, sub: int):
    """(n, m) position of each row's nearest codeword per subspace:
    squared L2 by the dot identity, rounded at SCORE_ROUND, first min =
    lowest code."""
    import numpy as np

    codes = np.empty((len(X), len(books)), dtype=np.int64)
    for mi, (C, cs) in enumerate(zip(books, sq)):
        S = X[:, mi * sub:(mi + 1) * sub]
        codes[:, mi] = np.round(
            (S * S).sum(axis=1)[:, None] - 2.0 * (S @ C.T) + cs[None, :],
            SCORE_ROUND,
        ).argmin(axis=1)
    return codes


def _pq_lut(Q, books, sq, sub: int) -> list:
    """Per-subspace (K, q) ADC lookup tables: the rounded squared L2 of
    each codeword to each query's subvector (the oracle's formula)."""
    import numpy as np

    lut = []
    for mi, (C, cs) in enumerate(zip(books, sq)):
        QS = Q[:, mi * sub:(mi + 1) * sub]
        lut.append(np.round(
            cs[:, None] - 2.0 * (C @ QS.T) + (QS * QS).sum(axis=1)[None, :],
            SCORE_ROUND,
        ))
    return lut


def _adc(codes, lut):
    """(n, q) ADC distances: the M table lookups of each row's codes,
    summed in subspace order and rounded at SCORE_ROUND."""
    import numpy as np

    adc = np.zeros((len(codes), lut[0].shape[1]))
    for mi, L in enumerate(lut):
        adc += L[codes[:, mi], :]
    return np.round(adc, SCORE_ROUND)


def pq_encode_with(df: DataFrame, cb: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", dim: int = PQ_DIM,
                   m: int = PQ_M) -> DataFrame:
    """(vec_id, m, code) against a PREBUILT (m, code, cw) codebook —
    the encode used by incremental append, where the codebook is FROZEN
    at build time and read back from the layout's side table rather than
    rederived from the (now larger) corpus. Same math as pq_encode.

    Scale shape: one Arrow-GEMM map pass over the corpus with the
    bounded K x M codebook collected to the driver; output IS the
    encoded size (M short rows per vector), map-only. The rule
    (_pq_codes): per-subspace squared-L2 via the dot identity, rounded
    at SCORE_ROUND, argmin ties to the LOWER code, pinned value-identical
    to the join+struct-min form by tests/test_pq.py and every downstream
    oracle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    sub = dim // m
    crows = sorted(cb.select("m", "code", "cw").collect(),
                   key=lambda r: (r["m"], r["code"]))
    books, sq = _pq_books(crows, m)
    codes_m = [np.array([r["code"] for r in crows if r["m"] == mi])
               for mi in range(m)]
    out_schema = T.StructType([
        T.StructField("vec_id", df.schema[id_col].dataType),
        T.StructField("m", T.IntegerType()),
        T.StructField("code", cb.schema["code"].dataType),
    ])
    if any(len(C) == 0 for C in books):
        # empty codebook subspace: the old inner join emitted nothing
        return df.sparkSession.createDataFrame([], out_schema)

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vids = pdf[id_col].to_numpy()
            codes = _pq_codes(topk.matrix(pdf[vec_col]), books, sq, sub)
            yield pd.concat([pd.DataFrame({
                "vec_id": vids,
                "m": np.full(len(vids), mi, dtype=np.int32),
                "code": codes_m[mi][codes[:, mi]],
            }) for mi in range(m)], ignore_index=True)

    return df.select(F.col(id_col), vec_col).mapInPandas(fn, out_schema)


def pq_encode(emb: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding", dim: int = PQ_DIM,
              m: int = PQ_M) -> DataFrame:
    """(vec_id, m, code): nearest-codeword assignment per subspace
    (rounded squared-L2, tie -> lower code) — the PQ compression step,
    with the codebook derived from the corpus itself (pq_sample_pred).
    See pq_encode_with for the plan-shape notes."""
    return pq_encode_with(emb, pq_codebook(emb, id_col, vec_col, dim, m),
                          id_col, vec_col, dim, m)


def pq_topk(emb: DataFrame, k: int, n_queries: int = 10,
            id_col: str = "vec_id", vec_col: str = "embedding",
            dim: int = PQ_DIM, m: int = PQ_M) -> DataFrame:
    """ADC (asymmetric distance computation) top-k over PQ codes: each
    query precomputes a (m, code) -> distance lookup table against the
    codebook (n_q x M x K rows — broadcast), then candidates are scored
    by SUMMING M table lookups over their codes — never touching the
    raw vectors. This is the scan that makes 100 TB of vectors readable:
    the codes table is ~dim*4/M times smaller than the embeddings and
    the per-candidate cost is M adds.

    Output: q_id, c_id, adc_dist (ascending = nearer), rank — approximate
    by construction; pq_recall records the quality.

    The LUT is built on the driver from the bounded codebook and query
    batch; each Arrow batch of the top-k scan encodes its vectors and
    sums their M LUT lookups, so the corpus streams once, map-only.
    """
    import numpy as np
    from pyspark.sql import types as T

    sub = dim // m
    books, sq = _pq_books(sorted(
        pq_codebook(emb, id_col, vec_col, dim, m).collect(),
        key=lambda r: (r["m"], r["code"]),
    ), m)
    qrows = topk.collect_queries(
        emb.where(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("q_id"), vec_col),
        "q_id",
    )
    out_schema = T.StructType([
        T.StructField("q_id", emb.schema[id_col].dataType),
        T.StructField("c_id", emb.schema[id_col].dataType),
        T.StructField("adc_dist", T.DoubleType()),
    ])
    score = None
    if qrows and all(len(C) for C in books):
        lut = _pq_lut(topk.matrix(r[1] for r in qrows), books, sq, sub)

        def score(pdf):
            codes = _pq_codes(topk.matrix(pdf[vec_col]), books, sq, sub)
            return _adc(codes, lut), None

    return topk.scan_topk(
        emb.select(id_col, vec_col), k, out_schema, score,
        {"q_id": np.array([r[0] for r in qrows])}, {"c_id": id_col},
        "adc_dist", desc=False,
    )


def pq_recall(emb: DataFrame, k: int, n_queries: int = 10,
              id_col: str = "vec_id", vec_col: str = "embedding",
              dim: int = PQ_DIM, m: int = PQ_M) -> DataFrame:
    """Recall@k of PQ/ADC retrieval vs the exact cosine top-k, per query
    — the recorded quality number for the compressed scan (same evaluation
    pattern as matryoshka_recall / ivf_nprobe_curve)."""
    approx = pq_topk(emb, k, n_queries, id_col, vec_col, dim, m).select(
        "q_id", "c_id"
    )
    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    exact = knn_join(
        queries,
        emb.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")),
        k,
    ).select("q_id", "c_id")
    hits = approx.join(exact, ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        queries.select("q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.round(F.coalesce(F.col("n_hit"), F.lit(0)) / k, 6)
            .alias("recall_at_k"),
        )
        .orderBy("q_id")
    )


def _dd_pq_base(n_queries: int, table: str, id_col: str, vec_col: str,
                dim: int, m: int) -> str:
    """Shared CTE prefix: subspace grid, codebook, encoded corpus, query
    LUT — mirrors pq_encode exactly (same slice bounds, rounding, and
    tie rules). Callers append their own candidate-set / ADC CTEs."""
    sub = dim // m
    ms = ", ".join(f"({i})" for i in range(m))
    lo = f"(s.m * {sub} + 1)"
    hi = f"((s.m + 1) * {sub})"
    d_enc = V.dd_l2sq("c.sub", "b.cw")
    d_lut = V.dd_l2sq("q.sub", "b.cw")
    return f"""
subs AS (SELECT m FROM (VALUES {ms}) t(m)),
cbsub AS (
  SELECT s.m, {id_col} AS code,
         list_slice({vec_col}, {lo}, {hi}) AS cw
  FROM {table} CROSS JOIN subs s WHERE {dd_pq_sample_pred(id_col)}
),
corp AS (
  SELECT {id_col} AS vid, s.m,
         list_slice({vec_col}, {lo}, {hi}) AS sub
  FROM {table} CROSS JOIN subs s
),
enc AS (
  SELECT vid, m, code FROM (
    SELECT c.vid, c.m, b.code,
           row_number() OVER (PARTITION BY c.vid, c.m
             ORDER BY round({d_enc}, {SCORE_ROUND}) ASC, b.code ASC) AS rn
    FROM corp c JOIN cbsub b ON c.m = b.m
  ) WHERE rn = 1
),
qsub AS (
  SELECT {id_col} AS q_id, s.m,
         list_slice({vec_col}, {lo}, {hi}) AS sub
  FROM {table} CROSS JOIN subs s WHERE {id_col} < {n_queries}
),
lut AS (
  SELECT q.q_id, b.m, b.code,
         round({d_lut}, {SCORE_ROUND}) AS d
  FROM qsub q JOIN cbsub b ON q.m = b.m
)
""".strip()


def _dd_pq_common(n_queries: int, table: str, id_col: str, vec_col: str,
                  dim: int, m: int) -> str:
    """PQ base CTEs plus the full-corpus ADC scores."""
    base = _dd_pq_base(n_queries, table, id_col, vec_col, dim, m)
    return f"""
{base},
adc AS (
  SELECT l.q_id, e.vid AS c_id, round(sum(l.d), {SCORE_ROUND}) AS adc_dist
  FROM enc e JOIN lut l ON e.m = l.m AND e.code = l.code
  GROUP BY l.q_id, e.vid
)
""".strip()


def dd_pq_topk_sql(k: int, n_queries: int = 10, table: str = "embeddings",
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   dim: int = PQ_DIM, m: int = PQ_M) -> str:
    common = _dd_pq_common(n_queries, table, id_col, vec_col, dim, m)
    return f"""
WITH {common}
SELECT q_id, c_id, adc_dist, rank FROM (
  SELECT q_id, c_id, adc_dist,
         row_number() OVER (PARTITION BY q_id
           ORDER BY adc_dist ASC, c_id ASC) AS rank
  FROM adc
) WHERE rank <= {k}
""".strip()


def dd_pq_recall_sql(k: int, n_queries: int = 10, table: str = "embeddings",
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     dim: int = PQ_DIM, m: int = PQ_M) -> str:
    common = _dd_pq_common(n_queries, table, id_col, vec_col, dim, m)
    sim = V.dd_cosine_similarity("q.q_vec", f"c.{vec_col}")
    return f"""
WITH {common},
approx AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           row_number() OVER (PARTITION BY q_id
             ORDER BY adc_dist ASC, c_id ASC) AS rank
    FROM adc
  ) WHERE rank <= {k}
),
q AS (
  SELECT {id_col} AS q_id, {vec_col} AS q_vec FROM {table}
  WHERE {id_col} < {n_queries}
),
exact AS (
  SELECT q_id, c_id FROM (
    SELECT q.q_id, c.{id_col} AS c_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({sim}, {SCORE_ROUND}) DESC,
                      c.{id_col} ASC) AS rank
    FROM {table} c CROSS JOIN q
  ) WHERE rank <= {k}
),
hits AS (
  SELECT a.q_id, count(*) AS n_hit
  FROM approx a JOIN exact e ON a.q_id = e.q_id AND a.c_id = e.c_id
  GROUP BY a.q_id
)
SELECT q.q_id,
       round(coalesce(h.n_hit, 0) * 1.0 / {k}, 6) AS recall_at_k
FROM q LEFT JOIN hits h ON q.q_id = h.q_id
ORDER BY q.q_id
""".strip()


def ivfpq_topk(emb: DataFrame, k: int, n_queries: int = 10,
               id_col: str = "vec_id", vec_col: str = "embedding",
               dim: int = PQ_DIM, m: int = PQ_M) -> DataFrame:
    """The composed 100 TB ANN shape — IVF cell pruning × PQ compressed
    scoring: a query reads only its NPROBE cells (IVF prunes WHERE to
    look) and scores the survivors by summing M LUT lookups over their
    codes (PQ shrinks WHAT is read ~64x). Production IVF-PQ encodes
    RESIDUALS (vector minus its cell centroid) for tighter quantization;
    codes here are over raw vectors so the DuckDB oracle stays exact —
    the residual refinement slots into pq_encode without changing this
    plan shape.

    Output: q_id, c_id, adc_dist, rank (ascending distance).

    ONE Arrow top-k scan: the bounded side tables (the ~sqrt(N)
    centroid sample, the K x M codebook, the query batch and its LUT)
    are collected to the driver, and each batch assigns its vectors to
    cells (the assign_to_centroids rule), encodes them (the
    pq_encode_with rule) and ADC-scores them for the queries whose
    NPROBE probe cells hold the row's cell. The three side tables are
    one collect of the rows any of their predicates keeps, split on the
    driver by the predicates' flags; a codebook row's M subvectors are
    slices of its vector.
    """
    import numpy as np
    from pyspark.sql import types as T

    sub = dim // m
    nlist = derive_nlist(emb.count())
    flags = {"cent": centroid_pred(id_col, nlist),
             "cb": pq_sample_pred(id_col),
             "q": F.col(id_col) < n_queries}
    bound = nlist + PQ_K + topk.MAX_QUERIES
    side = (
        emb.where(flags["cent"] | flags["cb"] | flags["q"])
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"),
                *[c.alias(n) for n, c in flags.items()])
        .limit(bound + 1).collect()
    )
    if len(side) > bound:
        raise ValueError(
            f"IVF-PQ side tables hold more than nlist + PQ_K + "
            f"MAX_QUERIES = {bound} rows; ids must be unique"
        )
    side.sort(key=lambda r: r["id"])
    cent_rows = [r for r in side if r["cent"]]
    cb_rows = [r for r in side if r["cb"]]
    qrows = topk.check_queries([r for r in side if r["q"]], "id")
    out_schema = T.StructType([
        T.StructField("q_id", emb.schema[id_col].dataType),
        T.StructField("c_id", emb.schema[id_col].dataType),
        T.StructField("adc_dist", T.DoubleType()),
    ])
    score = None
    if qrows and cent_rows and cb_rows:
        CC = topk.matrix(r["vec"] for r in cent_rows)
        cc_ids = np.array([int(r["id"]) for r in cent_rows], dtype=np.int64)
        Q = topk.matrix(r["vec"] for r in qrows)
        probe = cc_ids[topk.top_cells(Q, CC, NPROBE)]
        CB = topk.matrix(r["vec"] for r in cb_rows)
        books = [np.ascontiguousarray(CB[:, mi * sub:(mi + 1) * sub])
                 for mi in range(m)]
        sq = [(C * C).sum(axis=1) for C in books]
        lut = _pq_lut(Q, books, sq, sub)

        def score(pdf):
            X = topk.matrix(pdf[vec_col])
            cells = cc_ids[topk.top_cells(X, CC, 1)[:, 0]]
            return (_adc(_pq_codes(X, books, sq, sub), lut),
                    topk.probe_mask(cells, probe))

    return topk.scan_topk(
        emb.select(id_col, vec_col), k, out_schema, score,
        {"q_id": np.array([r["id"] for r in qrows])}, {"c_id": id_col},
        "adc_dist", desc=False,
    )


def ivfpq_recall(emb: DataFrame, k: int, n_queries: int = 10,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 dim: int = PQ_DIM, m: int = PQ_M) -> DataFrame:
    """Recall@k of the composed IVF-prune x PQ-ADC retrieval vs the
    exact cosine top-k — the quality number for the full compressed
    100 TB probe shape (IVF misses + quantization error together).
    Same evaluation pattern as pq_recall / sq8_recall: the approx and
    exact sides join on (q_id, c_id); n_queries rows out."""
    approx = ivfpq_topk(emb, k, n_queries, id_col, vec_col, dim, m).select(
        "q_id", "c_id"
    )
    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    exact = knn_join(
        queries,
        emb.select(F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")),
        k,
    ).select("q_id", "c_id")
    hits = approx.join(exact, ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        queries.select("q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.round(F.coalesce(F.col("n_hit"), F.lit(0)) / k, 6)
            .alias("recall_at_k"),
        )
        .orderBy("q_id")
    )


def _dd_ivfpq_ctes(n_queries: int, table: str, id_col: str,
                   vec_col: str, dim: int, m: int) -> str:
    """The composed IVF-prune + PQ-ADC CTE body (ends at `adc`), shared
    by the topk and recall twins so both stay token-identical."""
    csim = V.dd_cosine_similarity("e.c_vec", "c.cvec")
    qsim = V.dd_cosine_similarity("q.q_vec", "c.cvec")
    pq_base = _dd_pq_base(n_queries, table, id_col, vec_col, dim, m)
    return f"""
cent AS (
  SELECT {id_col} AS cent_id, {vec_col} AS cvec FROM {table}
  WHERE {dd_centroid_pred(id_col, table)}
),
e AS (SELECT {id_col} AS c_id, {vec_col} AS c_vec FROM {table}),
assign AS (
  SELECT c_id, cent_id AS cell FROM (
    SELECT e.c_id, c.cent_id,
           row_number() OVER (PARTITION BY e.c_id
             ORDER BY round({csim}, {SCORE_ROUND}) DESC, c.cent_id ASC) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (SELECT {id_col} AS q_id, {vec_col} AS q_vec FROM {table}
      WHERE {id_col} < {n_queries}),
probes AS (
  SELECT q_id, cent_id AS cell FROM (
    SELECT q.q_id, c.cent_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({qsim}, {SCORE_ROUND}) DESC, c.cent_id ASC) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {NPROBE}
),
{pq_base},
cand AS (
  SELECT p.q_id, a.c_id FROM probes p JOIN assign a ON p.cell = a.cell
),
adc AS (
  SELECT cd.q_id, cd.c_id, round(sum(l.d), {SCORE_ROUND}) AS adc_dist
  FROM cand cd
  JOIN enc en ON en.vid = cd.c_id
  JOIN lut l ON l.q_id = cd.q_id AND l.m = en.m AND l.code = en.code
  GROUP BY cd.q_id, cd.c_id
)
""".strip()


def dd_ivfpq_topk_sql(k: int, n_queries: int = 10,
                      table: str = "embeddings", id_col: str = "vec_id",
                      vec_col: str = "embedding", dim: int = PQ_DIM,
                      m: int = PQ_M) -> str:
    ctes = _dd_ivfpq_ctes(n_queries, table, id_col, vec_col, dim, m)
    return f"""
WITH {ctes}
SELECT q_id, c_id, adc_dist, rank FROM (
  SELECT q_id, c_id, adc_dist,
         row_number() OVER (PARTITION BY q_id
           ORDER BY adc_dist ASC, c_id ASC) AS rank
  FROM adc
) WHERE rank <= {k}
""".strip()


def dd_ivfpq_recall_sql(k: int, n_queries: int = 10,
                        table: str = "embeddings", id_col: str = "vec_id",
                        vec_col: str = "embedding", dim: int = PQ_DIM,
                        m: int = PQ_M) -> str:
    ctes = _dd_ivfpq_ctes(n_queries, table, id_col, vec_col, dim, m)
    sim = V.dd_cosine_similarity("q.q_vec", f"c.{vec_col}")
    return f"""
WITH {ctes},
approx AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           row_number() OVER (PARTITION BY q_id
             ORDER BY adc_dist ASC, c_id ASC) AS rank
    FROM adc
  ) WHERE rank <= {k}
),
exact AS (
  SELECT q_id, c_id FROM (
    SELECT q.q_id, c.{id_col} AS c_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({sim}, {SCORE_ROUND}) DESC,
                      c.{id_col} ASC) AS rank
    FROM {table} c CROSS JOIN q
  ) WHERE rank <= {k}
),
hits AS (
  SELECT a.q_id, count(*) AS n_hit
  FROM approx a JOIN exact e ON a.q_id = e.q_id AND a.c_id = e.c_id
  GROUP BY a.q_id
)
SELECT q.q_id,
       round(coalesce(h.n_hit, 0) * 1.0 / {k}, 6) AS recall_at_k
FROM q LEFT JOIN hits h ON q.q_id = h.q_id
ORDER BY q.q_id
""".strip()


# --- residual IVF-PQ (the production encoding) --------------------------------


def ivfpq_residual_topk(emb: DataFrame, k: int, n_queries: int = 10,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        dim: int = PQ_DIM, m: int = PQ_M) -> DataFrame:
    """Residual IVF-PQ — the PRODUCTION encoding (what FAISS-style
    IVF-PQ indexes actually quantize): each vector is encoded as PQ
    codes of its RESIDUAL against its cell centroid, which concentrates
    the quantizer's dynamic range on the within-cell offset instead of
    the absolute position. The query side builds a PER-PROBED-CELL
    residual LUT (q - centroid, n_q x nprobe x M x K rows — still
    broadcast-bounded), because the query's residual differs per cell.

    Same shape as ivfpq_topk: the bounded sides — the ~sqrt(N) centroid
    sample, the deterministic PQ_CB_MOD sample whose residuals form the
    codebook, the query batch with its per-probed-cell residual LUT —
    are collected to the driver, and each batch of ONE Arrow top-k scan
    assigns, computes residuals, encodes and ADC-scores its rows. Every
    distance is rounded at SCORE_ROUND with the same tie rules as the
    joined form; the deterministic codebook keeps the DuckDB oracle exact.
    """
    import numpy as np
    from pyspark.sql import types as T

    sub = dim // m
    _, CC = topk.collect_centroids(sample_centroids(emb, id_col, vec_col))
    srows = sorted(
        emb.where(pq_sample_pred(id_col))
        .select(F.col(id_col).alias("sid"), vec_col).collect(),
        key=lambda r: r["sid"],
    )
    qrows = topk.collect_queries(
        emb.where(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("q_id"), vec_col),
        "q_id",
    )
    out_schema = T.StructType([
        T.StructField("q_id", emb.schema[id_col].dataType),
        T.StructField("c_id", emb.schema[id_col].dataType),
        T.StructField("adc_dist", T.DoubleType()),
    ])
    score = None
    if qrows and len(CC) and srows:
        def assign_pos(X):
            return topk.top_cells(X, CC, 1)[:, 0]

        # residual codebook: residuals of the deterministic sample rows
        # against THEIR OWN cells
        Sv = topk.matrix(r[1] for r in srows)
        Rs = Sv - CC[assign_pos(Sv)]
        books = [Rs[:, mi * sub:(mi + 1) * sub] for mi in range(m)]
        sq = [(B * B).sum(axis=1) for B in books]
        Q = topk.matrix(r[1] for r in qrows)
        pidx = topk.top_cells(Q, CC, NPROBE)
        # per probe slot p, the (K, q) residual LUTs: query j's residual
        # against its p-th probed cell, round(l2sq(q - cvec, cw)) per
        # subspace — the oracle formula verbatim
        luts = []
        for p in range(pidx.shape[1]):
            R = Q - CC[pidx[:, p]]
            luts.append([
                np.stack([
                    np.round((qs @ qs) - 2.0 * (books[mi] @ qs) + sq[mi],
                             SCORE_ROUND)
                    for qs in R[:, mi * sub:(mi + 1) * sub]
                ], axis=1)
                for mi in range(m)
            ])

        def score(pdf):
            X = topk.matrix(pdf[vec_col])
            pos = assign_pos(X)
            codes = _pq_codes(X - CC[pos], books, sq, sub)
            adc = np.zeros((len(X), len(Q)))
            for p, lut in enumerate(luts):
                adc = np.where(pos[:, None] == pidx[None, :, p],
                               _adc(codes, lut), adc)
            return adc, topk.probe_mask(pos, pidx)

    return topk.scan_topk(
        emb.select(id_col, vec_col), k, out_schema, score,
        {"q_id": np.array([r[0] for r in qrows])}, {"c_id": id_col},
        "adc_dist", desc=False,
    )


def dd_ivfpq_residual_topk_sql(k: int, n_queries: int = 10,
                               table: str = "embeddings",
                               id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               dim: int = PQ_DIM, m: int = PQ_M) -> str:
    sub = dim // m
    ms = ", ".join(f"({i})" for i in range(m))
    csim = V.dd_cosine_similarity("e.c_vec", "c.cvec")
    qsim = V.dd_cosine_similarity("q.q_vec", "c.cvec")
    rsub = (f"list_transform(range(1, {dim + 1}), "
            f"i -> e.c_vec[i]::DOUBLE - c.cvec[i]::DOUBLE)")
    q_rsub = (f"list_transform(range(1, {dim + 1}), "
              f"i -> q.q_vec[i]::DOUBLE - c.cvec[i]::DOUBLE)")
    lo = f"(s.m * {sub} + 1)"
    hi = f"((s.m + 1) * {sub})"
    d_enc = V.dd_l2sq("r.sub", "b.cw")
    d_lut = V.dd_l2sq("p.sub", "b.cw")
    return f"""
WITH cent AS (
  SELECT {id_col} AS cent_id, {vec_col} AS cvec FROM {table}
  WHERE {dd_centroid_pred(id_col, table)}
),
e AS (SELECT {id_col} AS c_id, {vec_col} AS c_vec FROM {table}),
assign AS (
  SELECT c_id, cent_id AS cell FROM (
    SELECT e.c_id, c.cent_id,
           row_number() OVER (PARTITION BY e.c_id
             ORDER BY round({csim}, {SCORE_ROUND}) DESC, c.cent_id ASC) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
),
resid AS (
  SELECT e.c_id AS vid, a.cell, {rsub} AS rvec
  FROM e JOIN assign a ON a.c_id = e.c_id
  JOIN cent c ON c.cent_id = a.cell
),
subs AS (SELECT m FROM (VALUES {ms}) t(m)),
rcb AS (
  SELECT s.m, vid AS code, list_slice(rvec, {lo}, {hi}) AS cw
  FROM resid CROSS JOIN subs s WHERE {dd_pq_sample_pred("vid")}
),
rlong AS (
  SELECT vid, cell, s.m, list_slice(rvec, {lo}, {hi}) AS sub
  FROM resid CROSS JOIN subs s
),
codes AS (
  SELECT vid, cell, m, code FROM (
    SELECT r.vid, r.cell, r.m, b.code,
           row_number() OVER (PARTITION BY r.vid, r.m
             ORDER BY round({d_enc}, {SCORE_ROUND}) ASC, b.code ASC) AS rn
    FROM rlong r JOIN rcb b ON r.m = b.m
  ) WHERE rn = 1
),
q AS (SELECT {id_col} AS q_id, {vec_col} AS q_vec FROM {table}
      WHERE {id_col} < {n_queries}),
probes AS (
  SELECT q_id, cell, q_rvec FROM (
    SELECT q.q_id, c.cent_id AS cell, {q_rsub} AS q_rvec,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({qsim}, {SCORE_ROUND}) DESC, c.cent_id ASC) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {NPROBE}
),
plong AS (
  SELECT q_id, cell, s.m, list_slice(q_rvec, {lo}, {hi}) AS sub
  FROM probes CROSS JOIN subs s
),
lut AS (
  SELECT p.q_id, p.cell, b.m, b.code,
         round({d_lut}, {SCORE_ROUND}) AS d
  FROM plong p JOIN rcb b ON p.m = b.m
),
adc AS (
  SELECT l.q_id, cd.vid AS c_id, round(sum(l.d), {SCORE_ROUND}) AS adc_dist
  FROM probes p
  JOIN codes cd ON cd.cell = p.cell
  JOIN lut l ON l.q_id = p.q_id AND l.cell = cd.cell
            AND l.m = cd.m AND l.code = cd.code
  GROUP BY l.q_id, cd.vid
)
SELECT q_id, c_id, adc_dist, rank FROM (
  SELECT q_id, c_id, adc_dist,
         row_number() OVER (PARTITION BY q_id
           ORDER BY adc_dist ASC, c_id ASC) AS rank
  FROM adc
) WHERE rank <= {k}
""".strip()


# --- scalar quantization (SQ8) + PQ rescore ----------------------------------
#
# The two remaining standard compressed-ANN shapes (FAISS SQ8 / the
# shortlist-then-rescore pattern every production vector store runs):
#   - SQ8: per-dimension 8-bit codes — 4x smaller than float32, near-
#     lossless ranking (recall ~1.0), the "cheap" compression tier below
#     PQ's ~64x;
#   - rescore: ADC over PQ codes keeps k*RESCORE_MULT candidates, only
#     those fetch raw vectors for exact scoring — the exact math touches
#     O(k * mult * n_queries) rows, never the corpus.

SQ_LEVELS = 255.0   # 8-bit codes 0..255
RESCORE_MULT = 4    # PQ shortlist size = k * RESCORE_MULT


def _to_double(vec):
    return F.transform(vec, lambda v: v.cast("double"))


def sq_dim_stats(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """(d, mn, mx): the corpus min and max of each dimension d — the SQ8
    'codebook', one row per dimension regardless of corpus size; one
    explode + partial-agg pass."""
    long = emb.select(
        F.posexplode(_to_double(F.col(vec_col))).alias("d", "x")
    )
    return long.groupBy("d").agg(F.min("x").alias("mn"),
                                 F.max("x").alias("mx"))


def sq_stats(emb: DataFrame, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Single-row (mn_l, mx_l) of :func:`sq_dim_stats` in dimension
    order — the stats side table write_sq8_layout stores."""
    per = sq_dim_stats(emb, vec_col)
    return per.agg(
        F.transform(F.array_sort(F.collect_list(F.struct("d", "mn"))),
                    lambda s: s["mn"]).alias("mn_l"),
        F.transform(F.array_sort(F.collect_list(F.struct("d", "mx"))),
                    lambda s: s["mx"]).alias("mx_l"),
    )


def sq8_codes(X, mn, mx):
    """(n, d) codes of X's rows, as floats: each dimension clamped to
    [0, 1] against (mn, mx), times 255, floored; 0 for a constant
    dimension (mx == mn). A NaN ratio clamps to 1, as Spark's ``least``
    orders NaN last, and ``+ 0.0`` makes a -0.0 code 0, as the floor to
    an integer does — the integer write_sq8_layout stores and the DuckDB
    twin computes."""
    import numpy as np

    s = mx - mn
    with np.errstate(divide="ignore", invalid="ignore"):
        r = np.maximum(np.fmin((X - mn) / s, 1.0), 0.0)
    return np.where(s == 0.0, 0.0, np.floor(r * SQ_LEVELS) + 0.0)


def sq8_dequant(C, mn, mx):
    """Reconstruction ``mn + c / 255 * (mx - mn)`` of codes C (the
    DuckDB twin's association); a constant dimension maps to mn."""
    import numpy as np

    s = mx - mn
    return np.where(s == 0.0, mn, mn + C / SQ_LEVELS * s)


def sq8_scan_topk(corpus: DataFrame, k: int, mn, mx, queries: DataFrame,
                  id_col: str, vec_col: str, coded: bool) -> DataFrame:
    """SQ8 top-k of ``corpus`` (``vec_col`` raw vectors, or stored codes
    when ``coded``) for the (q_id, q_vec) ``queries``: raw query vs
    dequantized candidate, rounded squared L2 ascending, ties to the
    lower id. ``mn``/``mx`` are the per-dimension stats in dimension
    order. One Arrow top-k scan (functions/topk) with the query batch on
    the driver. Output: q_id, c_id, sq_dist, rank."""
    import numpy as np
    from pyspark.sql import types as T

    mn = np.array(mn, dtype=np.float64)
    mx = np.array(mx, dtype=np.float64)
    qrows = topk.collect_queries(queries, "q_id")
    Q = topk.matrix(r["q_vec"] for r in qrows)

    def score(pdf):
        X = topk.matrix(pdf[vec_col])
        codes = X if coded else sq8_codes(X, mn, mx)
        return topk.rounded_l2sq(sq8_dequant(codes, mn, mx), Q), None

    out_schema = T.StructType([
        T.StructField("q_id", queries.schema["q_id"].dataType),
        T.StructField("c_id", corpus.schema[id_col].dataType),
        T.StructField("sq_dist", T.DoubleType()),
    ])
    return topk.scan_topk(
        corpus.select(id_col, vec_col), k, out_schema, score,
        {"q_id": np.array([r["q_id"] for r in qrows])}, {"c_id": id_col},
        "sq_dist", desc=False,
    )


def sq8_topk(emb: DataFrame, k: int, n_queries: int = 10,
             id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """8-bit scalar-quantized top-k: raw query vs dequantized candidate
    squared-L2 (asymmetric, like ADC). The O(dim) per-dimension stats are
    collected (one row per dimension), then one scan quantizes and scores
    each batch map-side — the SQ8 scan of a 100 TB vector table reads
    1/4 the bytes.
    Output: q_id, c_id, sq_dist (ascending = nearer), rank."""
    dims = sorted(sq_dim_stats(emb, vec_col).collect())
    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    return sq8_scan_topk(emb, k, [r["mn"] for r in dims],
                         [r["mx"] for r in dims], queries, id_col, vec_col,
                         coded=False)


def sq8_recall(emb: DataFrame, k: int, n_queries: int = 10,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Recall@k of the SQ8 scan vs exact cosine top-k per query — the
    compression-quality number for the 4x tier (near 1.0 by design;
    contrast with PQ's deterministic-codebook recall)."""
    approx = sq8_topk(emb, k, n_queries, id_col, vec_col).select(
        "q_id", "c_id"
    )
    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    exact = knn_join(
        queries,
        emb.select(F.col(id_col).alias("c_id"),
                   F.col(vec_col).alias("c_vec")),
        k,
    ).select("q_id", "c_id")
    hits = approx.join(exact, ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        queries.select("q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.round(F.coalesce(F.col("n_hit"), F.lit(0)) / k, 6)
            .alias("recall_at_k"),
        )
        .orderBy("q_id")
    )


def rescore_exact(short: DataFrame, emb: DataFrame, k: int,
                  n_queries: int, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Exact cosine rerank of a (q_id, c_id) shortlist: ONLY shortlist
    rows fetch their raw vectors, so the exact math touches
    O(|short|) rows, never the corpus. Output: q_id, c_id, cos_sim,
    rank."""
    cand = short.join(
        emb.select(F.col(id_col).alias("c_id"),
                   F.col(vec_col).alias("c_vec")),
        "c_id",
    )
    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    scored = cand.join(F.broadcast(queries), "q_id").select(
        "q_id", "c_id",
        F.round(V.cosine_similarity(F.col("q_vec"), F.col("c_vec")),
                SCORE_ROUND).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"),
                                           F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def pq_rescore_topk(emb: DataFrame, k: int, n_queries: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    dim: int = PQ_DIM, m: int = PQ_M,
                    mult: int = RESCORE_MULT) -> DataFrame:
    """Compressed-scan shortlist + exact rerank — the production ANN
    pattern: ADC over PQ codes reads the ~64x-compressed table and keeps
    k*mult candidates per query; only those rows fetch their raw vectors
    for exact cosine scoring (rescore_exact). The registered query
    probes the WRITTEN codes layout instead
    (index/ivfpq_layout.pq_layout_rescore_topk — same semantics, encode
    paid at write time); this is the query-time spec."""
    short = pq_topk(emb, k * mult, n_queries, id_col, vec_col, dim,
                    m).select("q_id", "c_id")
    return rescore_exact(short, emb, k, n_queries, id_col, vec_col)


def _dd_sq8_base(n_queries: int, table: str, id_col: str,
                 vec_col: str) -> str:
    """Shared SQ8 CTEs — mirrors sq_dim_stats/sq8_codes/sq8_dequant
    (same clamp, floor, association; DuckDB's lambda index i is 1-based
    like the mn_l/mx_l subscripts)."""
    deq = (
        "CASE WHEN (s.mx_l[i] - s.mn_l[i]) = 0.0 THEN s.mn_l[i] "
        "ELSE s.mn_l[i] + floor(greatest(least((x - s.mn_l[i]) / "
        "(s.mx_l[i] - s.mn_l[i]), 1.0), 0.0) * 255.0) / 255.0 * "
        "(s.mx_l[i] - s.mn_l[i]) END"
    )
    return f"""
corp AS (SELECT {id_col} AS vid, {vec_col}::DOUBLE[] AS v FROM {table}),
dims AS (
  SELECT d, min(x) AS mn, max(x) AS mx FROM (
    SELECT unnest(v) AS x, generate_subscripts(v, 1) AS d FROM corp
  ) GROUP BY d
),
stats AS (
  SELECT list(mn ORDER BY d) AS mn_l, list(mx ORDER BY d) AS mx_l
  FROM dims
),
cand AS (
  SELECT c.vid AS c_id,
         list_transform(c.v, (x, i) -> {deq}) AS deq
  FROM corp c CROSS JOIN stats s
),
q AS (
  SELECT vid AS q_id, v AS q_vec FROM corp WHERE vid < {n_queries}
)
""".strip()


def dd_sq8_topk_sql(k: int, n_queries: int = 10,
                    table: str = "embeddings", id_col: str = "vec_id",
                    vec_col: str = "embedding") -> str:
    base = _dd_sq8_base(n_queries, table, id_col, vec_col)
    d = V.dd_l2sq("q.q_vec", "c.deq")
    return f"""
WITH {base}
SELECT q_id, c_id, sq_dist, rank FROM (
  SELECT q.q_id, c.c_id,
         round({d}, {SCORE_ROUND}) AS sq_dist,
         row_number() OVER (PARTITION BY q.q_id
           ORDER BY round({d}, {SCORE_ROUND}) ASC, c.c_id ASC) AS rank
  FROM cand c CROSS JOIN q
) WHERE rank <= {k}
""".strip()


def dd_sq8_recall_sql(k: int, n_queries: int = 10,
                      table: str = "embeddings", id_col: str = "vec_id",
                      vec_col: str = "embedding") -> str:
    base = _dd_sq8_base(n_queries, table, id_col, vec_col)
    d = V.dd_l2sq("q.q_vec", "c.deq")
    sim = V.dd_cosine_similarity("q.q_vec", "c.v")
    return f"""
WITH {base},
approx AS (
  SELECT q_id, c_id FROM (
    SELECT q.q_id, c.c_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({d}, {SCORE_ROUND}) ASC, c.c_id ASC) AS rank
    FROM cand c CROSS JOIN q
  ) WHERE rank <= {k}
),
exact AS (
  SELECT q_id, c_id FROM (
    SELECT q.q_id, c.vid AS c_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({sim}, {SCORE_ROUND}) DESC,
                      c.vid ASC) AS rank
    FROM corp c CROSS JOIN q
  ) WHERE rank <= {k}
),
hits AS (
  SELECT a.q_id, count(*) AS n_hit
  FROM approx a JOIN exact e ON a.q_id = e.q_id AND a.c_id = e.c_id
  GROUP BY a.q_id
)
SELECT q.q_id,
       round(coalesce(h.n_hit, 0) * 1.0 / {k}, 6) AS recall_at_k
FROM q LEFT JOIN hits h ON q.q_id = h.q_id
ORDER BY q.q_id
""".strip()


def dd_pq_rescore_topk_sql(k: int, n_queries: int = 10,
                           table: str = "embeddings",
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           dim: int = PQ_DIM, m: int = PQ_M,
                           mult: int = RESCORE_MULT) -> str:
    common = _dd_pq_common(n_queries, table, id_col, vec_col, dim, m)
    sim = V.dd_cosine_similarity("q.q_vec", f"c.{vec_col}")
    return f"""
WITH {common},
short AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           row_number() OVER (PARTITION BY q_id
             ORDER BY adc_dist ASC, c_id ASC) AS rank
    FROM adc
  ) WHERE rank <= {k * mult}
),
q AS (
  SELECT {id_col} AS q_id, {vec_col} AS q_vec FROM {table}
  WHERE {id_col} < {n_queries}
)
SELECT q_id, c_id, cos_sim, rank FROM (
  SELECT s.q_id, s.c_id,
         round({sim}, {SCORE_ROUND}) AS cos_sim,
         row_number() OVER (PARTITION BY s.q_id
           ORDER BY round({sim}, {SCORE_ROUND}) DESC, s.c_id ASC) AS rank
  FROM short s
  JOIN {table} c ON c.{id_col} = s.c_id
  JOIN q ON q.q_id = s.q_id
) WHERE rank <= {k}
""".strip()


def pq_rescore_recall(emb: DataFrame, k: int, n_queries: int = 10,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      dim: int = PQ_DIM, m: int = PQ_M,
                      mult: int = RESCORE_MULT) -> DataFrame:
    """Recall@k of raw ADC vs shortlist+exact-rescore, side by side per
    query — the number that justifies the shortlist architecture: the
    rescore pass must recover (most of) the recall the lossy PQ scan
    gives up, at the cost of exact math on only k*mult rows. Both
    retrievals share the same codes/LUT; `recall_rescore >=
    recall_adc` holds by construction whenever the true neighbor is in
    the shortlist but outside ADC's top-k ordering.

    Scale shape: three bounded per-query top-k's over the same broadcast
    pattern as pq_topk/rescore_exact; the comparison itself joins k-row
    sets. Output: q_id, recall_adc, recall_rescore.
    """
    # ONE ADC pass serves both sides: the shortlist is pq_topk at
    # k*mult, and raw-ADC top-k is its rank <= k prefix (same ordering,
    # same tie rule) — at 100 TB the compressed scan is the dominant
    # cost, so it must not run twice for a diagnostic.
    short_full = pq_topk(emb, k * mult, n_queries, id_col, vec_col,
                         dim, m).select("q_id", "c_id", "rank")
    adc = short_full.where(F.col("rank") <= k).select("q_id", "c_id")
    resc = rescore_exact(short_full.select("q_id", "c_id"), emb, k,
                         n_queries, id_col, vec_col).select("q_id", "c_id")
    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    exact = knn_join(
        queries,
        emb.select(F.col(id_col).alias("c_id"),
                   F.col(vec_col).alias("c_vec")),
        k,
    ).select("q_id", "c_id")
    hits_adc = adc.join(exact, ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_adc")
    )
    hits_resc = resc.join(exact, ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_resc")
    )
    return (
        queries.select("q_id")
        .join(hits_adc, "q_id", "left")
        .join(hits_resc, "q_id", "left")
        .select(
            "q_id",
            F.round(F.coalesce(F.col("n_adc"), F.lit(0)) / k, 6)
            .alias("recall_adc"),
            F.round(F.coalesce(F.col("n_resc"), F.lit(0)) / k, 6)
            .alias("recall_rescore"),
        )
        .orderBy("q_id")
    )


def dd_pq_rescore_recall_sql(k: int, n_queries: int = 10,
                             table: str = "embeddings",
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             dim: int = PQ_DIM, m: int = PQ_M,
                             mult: int = RESCORE_MULT) -> str:
    common = _dd_pq_common(n_queries, table, id_col, vec_col, dim, m)
    sim = V.dd_cosine_similarity("q.q_vec", f"c.{vec_col}")
    bsim = V.dd_cosine_similarity("q.q_vec", f"c.{vec_col}")
    return f"""
WITH {common},
q AS (
  SELECT {id_col} AS q_id, {vec_col} AS q_vec FROM {table}
  WHERE {id_col} < {n_queries}
),
adc_topk AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           row_number() OVER (PARTITION BY q_id
             ORDER BY adc_dist ASC, c_id ASC) AS rank
    FROM adc
  ) WHERE rank <= {k}
),
short AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           row_number() OVER (PARTITION BY q_id
             ORDER BY adc_dist ASC, c_id ASC) AS rank
    FROM adc
  ) WHERE rank <= {k * mult}
),
resc AS (
  SELECT q_id, c_id FROM (
    SELECT s.q_id, s.c_id,
           row_number() OVER (PARTITION BY s.q_id
             ORDER BY round({sim}, {SCORE_ROUND}) DESC, s.c_id ASC) AS rank
    FROM short s
    JOIN {table} c ON c.{id_col} = s.c_id
    JOIN q ON q.q_id = s.q_id
  ) WHERE rank <= {k}
),
exact AS (
  SELECT q_id, c_id FROM (
    SELECT q.q_id, c.{id_col} AS c_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({bsim}, {SCORE_ROUND}) DESC,
                      c.{id_col} ASC) AS rank
    FROM {table} c CROSS JOIN q
  ) WHERE rank <= {k}
),
hits_adc AS (
  SELECT a.q_id, count(*) AS n_adc
  FROM adc_topk a JOIN exact e ON a.q_id = e.q_id AND a.c_id = e.c_id
  GROUP BY a.q_id
),
hits_resc AS (
  SELECT r.q_id, count(*) AS n_resc
  FROM resc r JOIN exact e ON r.q_id = e.q_id AND r.c_id = e.c_id
  GROUP BY r.q_id
)
SELECT q.q_id,
       round(coalesce(ha.n_adc, 0) * 1.0 / {k}, 6) AS recall_adc,
       round(coalesce(hr.n_resc, 0) * 1.0 / {k}, 6) AS recall_rescore
FROM q LEFT JOIN hits_adc ha ON q.q_id = ha.q_id
LEFT JOIN hits_resc hr ON q.q_id = hr.q_id
ORDER BY q.q_id
""".strip()


# --- contrastive hard-negative mining ----------------------------------------


def hard_negatives(emb: DataFrame, k: int, n_queries: int,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label") -> DataFrame:
    """Mine HARD NEGATIVES for contrastive training: for each query
    vector, the top-k most-similar vectors whose label DIFFERS — the
    near-misses that make the best negative pairs (random negatives are
    too easy; the highest-similarity wrong-label neighbors carry the
    gradient). The standard pair-mining pass of every embedding-training
    pipeline (in-batch negatives' offline counterpart).

    Scale shape: identical to knn_join — the bounded query set is
    collected to the driver, the corpus streams once, and the label
    filter is the scan's keep-mask, applied BEFORE the per-batch top-k
    so per-query state stays k rows. Self-pairs are excluded by the
    label inequality itself.

    Output: q_id, q_label, c_id, c_label, cos_sim, rank.
    """
    import numpy as np
    from pyspark.sql import types as T

    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        F.col(label_col).alias("q_label"),
    )
    out_schema = T.StructType([
        T.StructField("q_id", emb.schema[id_col].dataType),
        T.StructField("q_label", emb.schema[label_col].dataType),
        T.StructField("c_id", emb.schema[id_col].dataType),
        T.StructField("c_label", emb.schema[label_col].dataType),
        T.StructField("cos_sim", T.DoubleType()),
    ])
    qrows = topk.collect_queries(queries, "q_id")
    Q = topk.matrix(r["q_vec"] for r in qrows)
    q_labels = np.array([r["q_label"] for r in qrows])

    def score(pdf):
        c_labels = pdf[label_col].to_numpy()
        return (topk.rounded_cosine(topk.matrix(pdf[vec_col]), Q),
                c_labels[:, None] != q_labels[None, :])

    return topk.scan_topk(
        emb.select(id_col, vec_col, label_col), k, out_schema, score,
        {"q_id": np.array([r["q_id"] for r in qrows]), "q_label": q_labels},
        {"c_id": id_col, "c_label": label_col}, "cos_sim", desc=True,
    )


def dd_hard_negatives_sql(k: int, n_queries: int,
                          table: str = "embeddings",
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          label_col: str = "label") -> str:
    sim = V.dd_cosine_similarity("q.q_vec", f"c.{vec_col}")
    return f"""
WITH q AS (
  SELECT {id_col} AS q_id, {vec_col} AS q_vec, {label_col} AS q_label
  FROM {table} WHERE {id_col} < {n_queries}
),
pairs AS (
  SELECT q.q_id, q.q_label, c.{id_col} AS c_id,
         c.{label_col} AS c_label,
         round({sim}, {SCORE_ROUND}) AS cos_sim
  FROM {table} c CROSS JOIN q
  WHERE c.{label_col} <> q.q_label
)
SELECT q_id, q_label, c_id, c_label, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id
    ORDER BY cos_sim DESC, c_id ASC) AS rank
  FROM pairs
) WHERE rank <= {k}
""".strip()


# --- kmeans-trained centroids plugged into the IVF seam -----------------------

KMEANS_IVF_ITERS = 4


def kmeans_centroids(emb: DataFrame, k: int | None = None,
                     iters: int = KMEANS_IVF_ITERS,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """TRAINED centroid table for the IVF seam: Lloyd's k-means (init =
    first k rows by id, the embeddings_kmeans_train recipe), returning
    (cent_id, cvec) shaped exactly like the deterministic sample
    (sample_centroids) — so trained centroids drop into ivf_probe_topk,
    assign_to_centroids, SemDeDup, or the written layouts unchanged.

    Scale shape: the driver loop holds only k x dim floats; each
    iteration is one Arrow-GEMM assignment pass plus a k-row aggregate
    (analytics._kmeans_assign_arrow — constant plan shape across
    iterations). Centroid coords round to SCORE_ROUND so downstream
    tie-breaks stay stable. Index build cost, paid once at write time.
    """
    from .analytics import _kmeans_iter_partials

    if k is None:
        # same nlist the deterministic sample would use, so the trained
        # and sampled probes in ivf_kmeans_recall compare like-for-like
        k = derive_nlist(emb.count())
    init = (
        emb.orderBy(id_col).select(id_col, vec_col).limit(k).collect()
    )
    cents = [(i, [float(x) for x in r[vec_col]])
             for i, r in enumerate(init)]
    emb_only = emb.select(F.col(vec_col).alias("embedding"))
    for _ in range(iters):
        # map-only partials merged driver-side (k x dim floats) — same
        # r14 swap as embeddings_kmeans_train: no exchange, no 2·dim
        # aggregate expressions, no N-row Arrow return per iteration
        agg: dict[int, tuple[int, list[float]]] = {}
        for r in _kmeans_iter_partials(emb_only, cents):
            cid = int(r["cluster_id"])
            n0, s0 = agg.get(cid, (0, None))
            sums = list(r["sums"]) if s0 is None else [
                a + b for a, b in zip(s0, r["sums"])
            ]
            agg[cid] = (n0 + int(r["n"]), sums)
        # empty clusters keep their previous centroid (standard Lloyd fix)
        cents = [
            (cid, [s / agg[cid][0] for s in agg[cid][1]]
             if cid in agg else vec)
            for cid, vec in cents
        ]
    rounded = [
        (cid, [round(x, SCORE_ROUND) for x in vec]) for cid, vec in cents
    ]
    return emb.sparkSession.createDataFrame(
        rounded, f"cent_id long, cvec array<double>"
    )


def ivf_kmeans_recall(emb: DataFrame, k: int, n_queries: int = 10,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      tcent: DataFrame | None = None,
                      tassign: DataFrame | None = None) -> DataFrame:
    """Per-query recall@k of the IVF probe with TRAINED centroids vs
    with the deterministic id-sample, side by side against the exact
    cosine top-k — the diagnostic that shows the centroid source is a
    pluggable quality knob on an unchanged probe plan (the claim the
    deterministic sample's docstrings make; this row records it).

    ``tcent``/``tassign`` (r12, r11 VERDICT #4): callers holding a
    WRITTEN trained layout pass its frozen centroid table and stored
    (c_id, c_vec, cell) assignment instead of retraining Lloyd in-plan per
    execution — the registered bench row was re-paying the write-time
    training cost (9.85s driver) on every run even though
    ensure_ivf_trained_layout persists the identical centroid set
    (identity pytest-pinned: the trainer is deterministic). Left None,
    both are computed in-plan — the seam-proving form the unit tests
    exercise.

    Rows-only by design: the kmeans iteration is a float loop whose
    assignment boundaries can flip across engines (same reason
    embeddings_kmeans_train is rows-only); both sides probe through
    ivf_probe_topk, as ivf_topk does. Output: q_id, recall_kmeans,
    recall_sample.
    """
    if tcent is None:
        tcent = kmeans_centroids(emb, None, KMEANS_IVF_ITERS,
                                 id_col, vec_col)
    if tassign is None:
        tassign = assign_to_centroids(_vectors(emb, id_col, vec_col), tcent,
                                      keep_vec=True)
    queries = _queries(emb, n_queries, id_col, vec_col)
    trained = ivf_probe_topk(tcent, queries, tassign, k).select(
        "q_id", "c_id")
    sampled = ivf_topk(emb, k, n_queries, id_col, vec_col).select(
        "q_id", "c_id"
    )
    exact = knn_join(queries, _vectors(emb, id_col, vec_col), k).select(
        "q_id", "c_id")
    hits_t = trained.join(exact, ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_t")
    )
    hits_s = sampled.join(exact, ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_s")
    )
    return (
        queries.select("q_id")
        .join(hits_t, "q_id", "left")
        .join(hits_s, "q_id", "left")
        .select(
            "q_id",
            F.round(F.coalesce(F.col("n_t"), F.lit(0)) / k, 6)
            .alias("recall_kmeans"),
            F.round(F.coalesce(F.col("n_s"), F.lit(0)) / k, 6)
            .alias("recall_sample"),
        )
        .orderBy("q_id")
    )
