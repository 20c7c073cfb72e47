"""Hybrid search — the reference's full query lifecycle as ONE Spark plan.

Reference flow (searcher.py:76-322, traced in SURVEY.md §3.2):
  Q1 tokenize query -> Q2 embed query -> Q3 BM25 top-k -> Q4 cosine top-k ->
  Q5/Q7 candidate merge -> Q8 fusion -> Q6 fetch display cols ->
  Q10 sort -> Q11 rerank -> Q12 threshold(0.01) -> Q13 limit(top_k).

Here Q3..Q13 compose into a single lazy DataFrame: Catalyst pushes the
query-term filter into the postings scan, broadcasts the two <=k-row
candidate sets, and the display-column fetch is a semi-join against the wide
`documents` table that touches only the <=2k candidate row groups. The
driver only computes q_tokens/q_vec (Q1/Q2) — tiny literals bound into the
plan — and collects <=k rows at the end.

Quirks preserved (SURVEY.md §2.6): raw-scale fusion (BM25 desc vs cosine
distance asc), NULL = branch-missing, threshold AFTER rerank, per-branch
top-k AND final top-k.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import SCORE_ROUND, SCORE_THRESHOLD, TOP_K_DEFAULT
from ..functions import topk
from ..functions.fusion import dd_fuse_scores, fuse
from ..models.embedder import hash_embed_text
from ..models.reranker import dd_overlap_rerank, overlap_rerank_expr
from ..models.tokenizer import tokenize_query
from ..operators.bm25 import (bm25_batch_topk_terms, bm25_topk_terms,
                              build_fts_index, dd_bm25_scored_cte,
                              dd_fts_index_ctes)
from ..operators.knn import cosine_distance_topk, dd_vss_scored_cte

DISPLAY_COLS = ["lang", "source"]


def hybrid_search(docs: DataFrame, embeddings: DataFrame, query: str,
                  top_k: int = TOP_K_DEFAULT, rerank: bool = False,
                  threshold: float = SCORE_THRESHOLD,
                  index: dict[str, DataFrame] | None = None,
                  allowed: DataFrame | None = None,
                  fts_qterms: list[str] | None = None) -> DataFrame:
    """Full hybrid search over (documents, embeddings) driver tables.

    Returns doc_id, score, fts_score, vss_score + display columns, ordered
    by score desc (doc_id tiebreak), <= top_k rows. Pass `index` (e.g. a
    written `index/fts_layout` handle) to probe a prebuilt FTS index
    instead of deriving it in-plan. Pass `allowed` (a doc_id set) to
    pre-filter BOTH branches before their top-k (metadata-filtered
    search: all k results qualify; IDF stays corpus-global).
    """
    # fts_qterms overrides the FTS branch's term set (the BPE analyzer
    # passes the query's subword encoding — §2.6.5 tokenizer identity:
    # the index and the query must use the same analyzer)
    qterms = tokenize_query(query) if fts_qterms is None else fts_qterms
    vss_corpus = embeddings
    if allowed is not None:
        vss_corpus = embeddings.join(
            allowed.select(F.col("doc_id").alias("vec_id")), "vec_id",
            "left_semi",
        )
    vss = cosine_distance_topk(vss_corpus, hash_embed_text(query), top_k)
    return _fused_top(docs, index, qterms, vss, top_k, threshold, rerank,
                      allowed)


def _fused_top(docs: DataFrame, index: dict[str, DataFrame] | None,
               qterms: list[str], vss: DataFrame, top_k: int,
               threshold: float, rerank: bool = False,
               allowed: DataFrame | None = None) -> DataFrame:
    """Everything of one hybrid query but its VSS branch ``vss``
    (doc_id, vss_score): the BM25 top-k of ``qterms``, fusion, the
    display-column fetch, the optional overlap rerank, the threshold and
    the final top-k."""
    if index is None:
        index = build_fts_index(docs)
    fts = bm25_topk_terms(index, qterms, top_k, allowed).withColumnRenamed(
        "score", "fts_score")
    # Q6 fetch: candidate set is <=2k rows — explicit broadcast guarantees
    # the BroadcastHashJoin shape at any corpus scale (AQE would convert it
    # here, but the hint makes the plan contract unconditional).
    out = F.broadcast(fuse(fts, vss, "doc_id")).join(docs, "doc_id", "inner")
    if rerank:
        out = out.withColumn(
            "score",
            F.round(overlap_rerank_expr(F.col("text"), qterms), SCORE_ROUND),
        )
    return (
        out.where(F.col("score") > F.lit(threshold))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(top_k)
        .select("doc_id", "score", "fts_score", "vss_score", *DISPLAY_COLS)
    )


def vss_distance(X: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """(n, q) VSS score block: the cosine DISTANCE of the rows of X to
    the rows of Q, rounded at SCORE_ROUND — hybrid_search's vss_score."""
    return np.round(1.0 - topk.cosine(X, Q), SCORE_ROUND)


def ivf_vss_topk(spark, embeddings: DataFrame, sf_dir: str,
                 qvec: list[float], top_k: int,
                 layout_root: str | None = None) -> DataFrame:
    """VSS branch served from the WRITTEN cell-partitioned IVF layout —
    the vector twin of the postings_scored probe: at 100 TB the full
    embeddings scan of cosine_distance_topk becomes a partition-pruned
    read of the query's NPROBE cells (PartitionFilters on `cell`), so
    scan cost tracks nprobe/n_cells of the corpus. Approximate by
    construction (cells the probe skips can hide true neighbors); the
    oracle carries identical probe semantics, so approximation is pinned,
    not fuzzy. The one IVF probe (index/ivf_layout.ivf_frozen_layout_topk)
    over the layout's frozen centroids, scored by the rounded cosine
    DISTANCE ascending, as batch_candidates scores it.
    """
    from ..index.ivf_layout import ensure_ivf_layout, ivf_frozen_layout_topk

    # layout_root: synthetic-corpus probes (tools/scale_probe DOC100X)
    # pass a temp root so their layouts never key into the shared
    # warehouse cache
    layout_dir = ensure_ivf_layout(spark, embeddings, sf_dir,
                                   root=layout_root)
    # from pandas, a local relation (a Python list would be an RDD that
    # runs Python tasks when the probe collects it)
    query = spark.createDataFrame(
        pd.DataFrame({"q_id": [0], "q_vec": [[float(x) for x in qvec]]}),
        "q_id int, q_vec array<double>")
    return ivf_frozen_layout_topk(
        spark, layout_dir, query, top_k,
        vss_distance, "vss_score", desc=False,
    ).select(F.col("c_id").alias("doc_id"), "vss_score")


def hybrid_search_ivf(spark, docs: DataFrame, embeddings: DataFrame,
                      sf_dir: str, query: str,
                      top_k: int = TOP_K_DEFAULT,
                      threshold: float = SCORE_THRESHOLD,
                      index: dict[str, DataFrame] | None = None,
                      layout_root: str | None = None) -> DataFrame:
    """Hybrid search with BOTH branches served from written layouts:
    BM25 probes the term-range postings_scored layout, VSS probes the
    cell-partitioned IVF layout. Fusion/threshold/ordering identical to
    :func:`hybrid_search`."""
    vss = ivf_vss_topk(spark, embeddings, sf_dir, hash_embed_text(query),
                       top_k, layout_root=layout_root)
    return _fused_top(docs, index, tokenize_query(query), vss, top_k,
                      threshold)


def dd_hybrid_search_ivf_sql(query: str, top_k: int = TOP_K_DEFAULT,
                             threshold: float = SCORE_THRESHOLD) -> str:
    """Oracle for :func:`hybrid_search_ivf` — same hybrid scaffold with
    the IVF-probed vss CTE swapped in."""
    from ..operators.knn import dd_ivf_vss_cte

    qterms = tokenize_query(query)
    qvec = hash_embed_text(query)
    score_expr = dd_fuse_scores("m.fts_score", "m.vss_score")
    display = ", ".join(f"d.{c}" for c in DISPLAY_COLS)
    return f"""
WITH {dd_fts_index_ctes()},
{dd_bm25_scored_cte(qterms)},
fts_topk AS (
  SELECT doc_id, score AS fts_score FROM bm25_scored
  ORDER BY score DESC, doc_id ASC LIMIT {top_k}
),
{dd_ivf_vss_cte(qvec, top_k)},
merged AS (
  SELECT doc_id, f.fts_score, v.vss_score
  FROM fts_topk f FULL OUTER JOIN vss_scored v USING (doc_id)
)
SELECT m.doc_id, round({score_expr}, {SCORE_ROUND}) AS score,
       m.fts_score, m.vss_score, {display}
FROM merged m JOIN documents d USING (doc_id)
WHERE round({score_expr}, {SCORE_ROUND}) > {threshold}
ORDER BY score DESC, m.doc_id ASC LIMIT {top_k}
""".strip()


def dd_hybrid_search_sql(query: str, top_k: int = TOP_K_DEFAULT,
                         rerank: bool = False,
                         threshold: float = SCORE_THRESHOLD,
                         lang: str | None = None) -> str:
    """DuckDB oracle for :func:`hybrid_search` over the same parquet views.

    `lang` mirrors the engine's `allowed` pre-filter: both branches are
    restricted before their top-k (one oracle builder for every hybrid
    variant, so fusion semantics cannot silently diverge between them).
    """
    qterms = tokenize_query(query)
    qvec = hash_embed_text(query)
    score_expr = (
        dd_overlap_rerank("d.text", qterms)
        if rerank
        else dd_fuse_scores("m.fts_score", "m.vss_score")
    )
    display = ", ".join(f"d.{c}" for c in DISPLAY_COLS)
    allowed_cte = fts_filter = ""
    emb_table = "embeddings"
    if lang is not None:
        allowed_cte = (
            f"allowed AS (SELECT doc_id FROM documents "
            f"WHERE lang = '{lang}'),\n"
        )
        fts_filter = "  WHERE doc_id IN (SELECT doc_id FROM allowed)\n"
        emb_table = (
            "(SELECT e.* FROM embeddings e JOIN allowed a "
            "ON e.vec_id = a.doc_id)"
        )
    return f"""
WITH {dd_fts_index_ctes()},
{dd_bm25_scored_cte(qterms)},
{allowed_cte}fts_topk AS (
  SELECT doc_id, score AS fts_score FROM bm25_scored
{fts_filter}  ORDER BY score DESC, doc_id ASC LIMIT {top_k}
),
{dd_vss_scored_cte(qvec, top_k, table=emb_table)},
merged AS (
  SELECT doc_id, f.fts_score, v.vss_score
  FROM fts_topk f FULL OUTER JOIN vss_scored v USING (doc_id)
)
SELECT m.doc_id, round({score_expr}, {SCORE_ROUND}) AS score,
       m.fts_score, m.vss_score, {display}
FROM merged m JOIN documents d USING (doc_id)
WHERE round({score_expr}, {SCORE_ROUND}) > {threshold}
ORDER BY score DESC, m.doc_id ASC LIMIT {top_k}
""".strip()


def dd_hybrid_search_bpe_sql(query: str, top_k: int = TOP_K_DEFAULT,
                             threshold: float = SCORE_THRESHOLD) -> str:
    """Oracle for the BPE-analyzed hybrid variant: the FTS branch's
    bm25_scored comes from operators/bpe.dd_bpe_bm25_ctes (merges
    derived + recursive encode, the bm25_bpe_topk machinery); fusion /
    threshold / fetch are byte-identical to dd_hybrid_search_sql."""
    from ..operators.bpe import dd_bpe_bm25_ctes

    qvec = hash_embed_text(query)
    score_expr = dd_fuse_scores("m.fts_score", "m.vss_score")
    display = ", ".join(f"d.{c}" for c in DISPLAY_COLS)
    return f"""
WITH RECURSIVE
{dd_bpe_bm25_ctes(query)},
fts_topk AS (
  SELECT doc_id, score AS fts_score FROM bm25_scored
  ORDER BY score DESC, doc_id ASC LIMIT {top_k}
),
{dd_vss_scored_cte(qvec, top_k)},
merged AS (
  SELECT doc_id, f.fts_score, v.vss_score
  FROM fts_topk f FULL OUTER JOIN vss_scored v USING (doc_id)
)
SELECT m.doc_id, round({score_expr}, {SCORE_ROUND}) AS score,
       m.fts_score, m.vss_score, {display}
FROM merged m JOIN documents d USING (doc_id)
WHERE round({score_expr}, {SCORE_ROUND}) > {threshold}
ORDER BY score DESC, m.doc_id ASC LIMIT {top_k}
""".strip()


def batch_candidates(index: dict[str, DataFrame], embeddings: DataFrame,
                     query_terms: list[list[str]], Q: np.ndarray,
                     top_k: int, id_col: str = "vec_id") -> DataFrame:
    """The fused candidates of a query batch, one plan for all queries:
    the batched BM25 top-k of each query's term list
    (operators/bm25.bm25_batch_topk_terms) and one Arrow top-k scan of
    ``embeddings`` (functions/topk) against the query vectors, the rows
    of ``Q``, ordered by the rounded cosine DISTANCE ascending
    (hybrid_search's vss_score), fused on (query_id, doc_id).
    ``id_col`` is the embeddings id; ``doc_id`` takes its type.

    Output: query_id, doc_id, fts_score, vss_score, score — at most
    2 * top_k rows per query."""
    fts = bm25_batch_topk_terms(index, query_terms, top_k).select(
        "query_id", "doc_id", F.col("score").alias("fts_score")
    )
    schema = T.StructType([
        T.StructField("query_id", T.IntegerType()),
        T.StructField("doc_id", embeddings.schema[id_col].dataType),
        T.StructField("vss_score", T.DoubleType()),
    ])
    vss = topk.scan_topk(
        embeddings.select(id_col, "embedding"), top_k, schema,
        lambda pdf: (vss_distance(topk.matrix(pdf["embedding"]), Q), None),
        {"query_id": np.arange(len(Q), dtype=np.int32)},
        {"doc_id": id_col}, "vss_score", desc=False,
    ).select("query_id", "doc_id", "vss_score")
    return fuse(fts, vss, ["query_id", "doc_id"])


def hybrid_search_batch(docs: DataFrame, embeddings: DataFrame,
                        queries: list[str],
                        top_k: int = TOP_K_DEFAULT,
                        threshold: float = SCORE_THRESHOLD,
                        index: dict[str, DataFrame] | None = None,
                        rerank: bool = False) -> DataFrame:
    """A whole query batch through the FULL hybrid lifecycle in ONE
    plan: :func:`batch_candidates`, fetch one broadcast join
    against documents, the optional token-overlap rerank in-plan, and
    the per-query threshold + top-k a single window. Per-query results
    equal hybrid_search(query) exactly (same fusion/threshold/tie-break
    constants) — the UNION-of-singles oracle
    (:func:`dd_hybrid_search_batch_sql`) hash-gates that equality.

    Output: query_id, doc_id, score, fts_score, vss_score + display
    columns, <= top_k rows per query."""
    from pyspark.sql import Window

    if index is None:
        index = build_fts_index(docs)
    qterms = [tokenize_query(q) for q in queries]
    Q = topk.matrix(hash_embed_text(q) for q in queries)
    fused = batch_candidates(index, embeddings, qterms, Q, top_k)
    out = F.broadcast(fused).join(docs, "doc_id", "inner")
    if rerank:
        # per-query token-overlap rerank IN-PLAN (the single path's
        # overlap_rerank_expr with per-query term sets joined in):
        # score <- |distinct_tokens(text[:2048]) ∩ qterms| / |qterms|,
        # replacing the fused score BEFORE threshold/top-k, exactly as
        # hybrid_search(rerank=True) orders the steps
        from ..functions.text import tokenize as text_tokenize
        from ..models.reranker import RERANK_TRUNCATE_CHARS

        spark = docs.sparkSession
        qdf = spark.createDataFrame(   # from pandas: a local relation
            pd.DataFrame({"query_id": range(len(qterms)),
                          "qterms": [sorted(set(t)) for t in qterms]}),
            "query_id int, qterms array<string>")
        truncated = F.substring(F.col("text"), 1, RERANK_TRUNCATE_CHARS)
        overlap = F.when(
            F.size("qterms") > 0,
            F.size(F.array_intersect(
                F.array_distinct(text_tokenize(truncated)),
                F.col("qterms"),
            )).cast("double") / F.size("qterms").cast("double"),
        ).otherwise(F.lit(0.0))
        out = (
            out.join(F.broadcast(qdf), "query_id")
            .withColumn("score", F.round(overlap, SCORE_ROUND))
        )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id"))
    return (
        out
        .where(F.col("score") > F.lit(threshold))
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= top_k)
        .select("query_id", "doc_id", "score", "fts_score", "vss_score",
                *DISPLAY_COLS)
        .orderBy("query_id", F.desc("score"), F.asc("doc_id"))
    )


def dd_hybrid_search_batch_sql(queries: list[str],
                               top_k: int = TOP_K_DEFAULT,
                               threshold: float = SCORE_THRESHOLD,
                               rerank: bool = False) -> str:
    """Oracle for :func:`hybrid_search_batch`: the UNION ALL of the
    per-query single-search oracles keyed by query id — batch == the
    singles, hash-gated by the driver (one oracle builder per query via
    dd_hybrid_search_sql, so batch fusion — and with ``rerank``, the
    overlap-rerank ladder — cannot silently diverge from the single
    path)."""
    parts = [
        f"SELECT {qi} AS query_id, * FROM (\n"
        f"{dd_hybrid_search_sql(q, top_k, rerank=rerank, threshold=threshold)}\n)"
        for qi, q in enumerate(queries)
    ]
    return "\nUNION ALL\n".join(parts)


def hybrid_search_filtered(docs: DataFrame, embeddings: DataFrame,
                           query: str, lang: str,
                           top_k: int = TOP_K_DEFAULT,
                           threshold: float = SCORE_THRESHOLD,
                           index: dict[str, DataFrame] | None = None
                           ) -> DataFrame:
    """Hybrid search restricted to documents with a given metadata value
    (lang) — the filtered-search shape every production engine serves.

    The filter lands BEFORE each branch's top-k (pre-filtering), so all
    k results satisfy it; post-filtering a top-k would return fewer than
    k (or zero) rows whenever the filter is selective. BM25 stats stay
    corpus-global (the standard choice: IDF describes the corpus, the
    filter restricts candidates). Thin wrapper over :func:`hybrid_search`
    with `allowed` = the lang-filtered id set — fusion/threshold/
    tie-break semantics live in exactly one place.
    """
    return hybrid_search(
        docs, embeddings, query, top_k, rerank=False, threshold=threshold,
        index=index, allowed=docs.where(F.col("lang") == lang)
        .select("doc_id"),
    )


def dd_hybrid_search_filtered_sql(query: str, lang: str,
                                  top_k: int = TOP_K_DEFAULT,
                                  threshold: float = SCORE_THRESHOLD) -> str:
    """DuckDB oracle for :func:`hybrid_search_filtered` — delegates to the
    single hybrid oracle builder."""
    return dd_hybrid_search_sql(query, top_k, rerank=False,
                                threshold=threshold, lang=lang)
