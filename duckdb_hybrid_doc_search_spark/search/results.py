"""Search-result enrichment: contextual snippets and facet counts.

The reference returns raw chunk text for each hit (searcher.py result
construction); real search UIs additionally want (a) a contextual snippet
around the matched term and (b) facet counts over the full candidate set.
Both are expressed as plans over the same BM25 probe the other doc-search
queries use — no extra index, no Python.

Scale shape:
- snippets: the top-k id set (bounded by k) broadcasts into the documents
  scan, so full text is read only for k rows regardless of corpus size;
- facets: the candidate set is bounded by the query-term postings slice,
  and the documents side joins on its key before a small grouped
  aggregate — the facet table is ≤ |langs|+|sources| rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators import bm25

SNIPPET_BEFORE = 40  # chars of context kept before the match
SNIPPET_LEN = 120  # total snippet length


def _first_match_pos(qterms: list[str]) -> F.Column:
    """1-based char position of the first query term (in sorted term
    order) found in lower(text); 1 when none occurs literally."""
    candidates = [
        F.nullif(F.locate(t, F.lower(F.col("text"))), F.lit(0))
        for t in qterms
    ]
    return F.coalesce(*candidates, F.lit(1))


def _matched_term(qterms: list[str]) -> F.Column:
    expr = F.lit(None).cast("string")
    for t in reversed(qterms):
        expr = F.when(
            F.locate(t, F.lower(F.col("text"))) > 0, F.lit(t)
        ).otherwise(expr)
    return expr


def bm25_snippets(
    index: dict[str, DataFrame],
    docs: DataFrame,
    query: str,
    k: int,
) -> DataFrame:
    """Top-k BM25 hits with a ±context snippet and the term that matched.

    The k-row hit set is broadcast into the documents join, so the full
    `text` column is materialized for exactly k documents.

    Output: rank, doc_id, score, matched_term, snippet.
    """
    from ..models.tokenizer import tokenize_query

    qterms = sorted(set(tokenize_query(query)))
    # the rank window runs over the already-limited k-row hit set — a
    # bounded single-partition sort, not a fact-table window
    hits = bm25.bm25_topk_from_index(index, query, k).withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("score"), F.asc("doc_id"))),
    )
    pos = _first_match_pos(qterms)
    start = F.greatest(F.lit(1), pos - F.lit(SNIPPET_BEFORE))
    joined = docs.join(F.broadcast(hits), "doc_id")
    return joined.select(
        "rank",
        "doc_id",
        "score",
        _matched_term(qterms).alias("matched_term"),
        F.substring(F.col("text"), start, F.lit(SNIPPET_LEN)).alias(
            "snippet"
        ),
    ).orderBy("rank")


def dd_bm25_snippets_sql(query_terms: list[str], k: int) -> str:
    qterms = sorted(set(query_terms))

    def esc(t: str) -> str:
        return t.replace("'", "''")

    pos = "coalesce(" + ", ".join(
        f"nullif(strpos(lower(text), '{esc(t)}'), 0)" for t in qterms
    ) + ", 1)"
    term_case = "CASE " + " ".join(
        f"WHEN strpos(lower(text), '{esc(t)}') > 0 THEN '{esc(t)}'"
        for t in qterms
    ) + " ELSE NULL END"
    return f"""
WITH {bm25.dd_fts_index_ctes()},
{bm25.dd_bm25_scored_cte(qterms)},
hits AS (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM bm25_scored
  ORDER BY score DESC, doc_id ASC LIMIT {k}
)
SELECT h.rank, h.doc_id, h.score,
       {term_case} AS matched_term,
       substr(text, greatest(1, {pos} - {SNIPPET_BEFORE}),
              {SNIPPET_LEN}) AS snippet
FROM hits h JOIN documents USING (doc_id)
ORDER BY h.rank
""".strip()


def bm25_facets(
    index: dict[str, DataFrame], docs: DataFrame, query: str
) -> DataFrame:
    """Facet counts over the FULL BM25 candidate set (every doc matching
    ≥1 query term): per-lang and per-source hit counts + best score, via
    one GROUPING SETS aggregate.

    Output: lang, source (one of the two NULL per row — the facet
    dimension), n_hits, best_score.
    """
    from ..models.tokenizer import tokenize_query

    cands = bm25.bm25_scores(index, tokenize_query(query))
    j = cands.join(docs.select("doc_id", "lang", "source"), "doc_id")
    j.createOrReplaceTempView("_facet_cands")
    return j.sparkSession.sql(
        """
        SELECT lang, source, count(*) AS n_hits,
               max(score) AS best_score
        FROM _facet_cands
        GROUP BY GROUPING SETS ((lang), (source))
        ORDER BY lang, source
        """
    )


def dd_bm25_facets_sql(query_terms: list[str]) -> str:
    qterms = sorted(set(query_terms))
    return f"""
WITH {bm25.dd_fts_index_ctes()},
{bm25.dd_bm25_scored_cte(qterms)}
SELECT d.lang, d.source, count(*)::BIGINT AS n_hits,
       max(b.score) AS best_score
FROM bm25_scored b JOIN documents d USING (doc_id)
GROUP BY GROUPING SETS ((d.lang), (d.source))
ORDER BY d.lang, d.source
""".strip()


# --- more-like-this ---------------------------------------------------------

MLT_SEED_TERMS = 5


def more_like_this(
    index: dict[str, DataFrame],
    docs: DataFrame,
    seed_doc_id: int,
    k: int,
) -> DataFrame:
    """Document-seeded search: take the seed doc's top tf·idf terms as
    the query and rank the rest of the corpus by BM25 — the classic
    "more like this" feature (the reference only supports free-text
    queries; this derives the query from a document).

    Two-phase probe, same pattern as the IVF cell probe: phase 1 reads
    ONE document row (doc_id filter pushed to the parquet scan) and
    joins its ≤|doc| distinct terms against docfreq to score tf·idf —
    the result is ≤ MLT_SEED_TERMS terms, a bounded driver collect;
    phase 2 feeds them to bm25_scores as literals so the term filter
    pushes down into the written postings_scored layout exactly like a
    user query. Seed selection is deterministic: tf·idf desc, term asc.
    """
    from ..functions.text import tokenize

    tf = (
        docs.where(F.col("doc_id") == seed_doc_id)
        .select(F.explode(tokenize(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    seed_terms = [
        r["term"]
        for r in (
            tf.join(index["docfreq"], "term")
            .crossJoin(F.broadcast(index["corpus_stats"]))
            .select("term", (F.col("tf") * idf).alias("sc"))
            .orderBy(F.desc("sc"), F.asc("term"))
            .limit(MLT_SEED_TERMS)
            .collect()
        )
    ]
    hits = (
        bm25.bm25_scores(index, seed_terms)
        .where(F.col("doc_id") != seed_doc_id)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
    return hits.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("score"), F.asc("doc_id"))),
    ).select("rank", "doc_id", "score")


def dd_more_like_this_sql(seed_doc_id: int, k: int) -> str:
    from ..config import BM25_B, BM25_K1, SCORE_ROUND

    return f"""
WITH {bm25.dd_fts_index_ctes()},
seed_tf AS (
  SELECT term, count(*)::BIGINT AS tf
  FROM (SELECT unnest(toks) AS term FROM toks WHERE doc_id = {seed_doc_id})
  GROUP BY term
),
seed_sc AS (
  SELECT s.term,
         s.tf * ln(1.0 + (cs.n_docs - d.df + 0.5) / (d.df + 0.5)) AS sc
  FROM seed_tf s JOIN docfreq d USING (term) CROSS JOIN corpus_stats cs
),
qt AS (SELECT term FROM seed_sc ORDER BY sc DESC, term ASC
       LIMIT {MLT_SEED_TERMS}),
scored AS (
  SELECT p.doc_id,
         round(sum(
           ln(1.0 + (cs.n_docs - d.df + 0.5) / (d.df + 0.5))
           * p.tf * {BM25_K1 + 1.0}
           / (p.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * ds.dl / cs.avgdl))
         ), {SCORE_ROUND}) AS score
  FROM postings p
  JOIN qt USING (term)
  JOIN docfreq d USING (term)
  JOIN docstats ds USING (doc_id)
  CROSS JOIN corpus_stats cs
  WHERE p.doc_id <> {seed_doc_id}
  GROUP BY p.doc_id
)
SELECT row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank,
       doc_id, score
FROM scored ORDER BY score DESC, doc_id ASC LIMIT {k}
""".strip()


# --- prefix autocompletion stats --------------------------------------------

PREFIX_LEN = 3
PREFIX_TOP = 20
COMPLETIONS_PER_PREFIX = 3


def term_prefix_completions(index: dict[str, DataFrame]) -> DataFrame:
    """Autocomplete table: for the PREFIX_TOP most-frequent 3-char term
    prefixes, the top COMPLETIONS_PER_PREFIX completion terms by document
    frequency — the precomputed structure behind search-as-you-type.

    Everything runs over docfreq (vocabulary-sized, already aggregated),
    never the corpus: one prefix aggregate, one broadcast semi-join of
    the winning prefixes, one per-prefix top-N window whose partitions
    are single prefixes. Deterministic ordering throughout (df desc,
    term asc; total desc, prefix asc).
    """
    terms = index["docfreq"].where(
        F.length(F.col("term")) >= PREFIX_LEN
    ).select(
        F.substring(F.col("term"), 1, PREFIX_LEN).alias("prefix"),
        "term",
        "df",
    )
    top_prefixes = (
        terms.groupBy("prefix")
        .agg(F.sum("df").alias("prefix_df"))
        .orderBy(F.desc("prefix_df"), F.asc("prefix"))
        .limit(PREFIX_TOP)
    )
    w = Window.partitionBy("prefix").orderBy(F.desc("df"), F.asc("term"))
    return (
        terms.join(F.broadcast(top_prefixes), "prefix")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= COMPLETIONS_PER_PREFIX)
        .select("prefix", "prefix_df", "rank", "term", "df")
        .orderBy("prefix", "rank")
    )


def dd_term_prefix_completions_sql() -> str:
    return f"""
WITH {bm25.dd_fts_index_ctes()},
terms AS (
  SELECT substr(term, 1, {PREFIX_LEN}) AS prefix, term, df
  FROM docfreq WHERE length(term) >= {PREFIX_LEN}
),
topp AS (
  SELECT prefix, sum(df)::BIGINT AS prefix_df
  FROM terms GROUP BY prefix
  ORDER BY prefix_df DESC, prefix ASC LIMIT {PREFIX_TOP}
)
SELECT t.prefix, topp.prefix_df, rnk AS rank, t.term, t.df
FROM (
  SELECT prefix, term, df,
         row_number() OVER (PARTITION BY prefix
                            ORDER BY df DESC, term ASC) AS rnk
  FROM terms
) t JOIN topp USING (prefix)
WHERE rnk <= {COMPLETIONS_PER_PREFIX}
ORDER BY t.prefix, rank
""".strip()


# --- lexical-vs-vector rank agreement ----------------------------------------


def rank_agreement(index: dict[str, DataFrame], emb: DataFrame,
                   queries: list[str], k: int) -> DataFrame:
    """How differently the two retrieval branches see the same queries:
    per query, the overlap@k and rank displacement (Spearman footrule
    over the common docs) between the BM25 top-k and the cosine top-k —
    the diagnostic every hybrid-search deployment records to decide
    fusion weights (disjoint branches = fusion adds recall; identical
    branches = vector index is redundant for that workload).

    One batched BM25 pass (postings scanned once for all queries) + one
    broadcast-query cosine scan; the agreement join touches 2*k*n_q rows.

    Output per query: query_id, n_common, overlap_at_k, footrule.
    """
    import pandas as pd

    from ..models.embedder import hash_embed_text
    from ..operators.knn import knn_join

    spark = emb.sparkSession
    bm = bm25.bm25_batch_topk_from_index(index, queries, k).select(
        "query_id", "doc_id", F.col("rank").alias("r_fts")
    )
    qdf = spark.createDataFrame(   # from pandas: a local relation
        pd.DataFrame({"q_id": range(len(queries)),
                      "q_vec": [hash_embed_text(q) for q in queries]}),
        "q_id int, q_vec array<float>",
    )
    cos = knn_join(
        qdf,
        emb.select(F.col("vec_id").alias("c_id"),
                   F.col("embedding").alias("c_vec")),
        k,
    ).select(
        F.col("q_id").alias("query_id"),
        F.col("c_id").alias("doc_id"),
        F.col("rank").alias("r_vss"),
    )
    per = (
        bm.join(cos, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.abs(F.col("r_fts") - F.col("r_vss"))).alias("footrule"),
        )
    )
    return (
        qdf.select(F.col("q_id").alias("query_id"))
        .join(per, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_common"), F.lit(0)).cast("long")
            .alias("n_common"),
            F.round(F.coalesce(F.col("n_common"), F.lit(0)) / k, 6)
            .alias("overlap_at_k"),
            F.coalesce(F.col("footrule"), F.lit(0)).cast("long")
            .alias("footrule"),
        )
        .orderBy("query_id")
    )


def dd_rank_agreement_sql(queries: list[str], k: int,
                          table: str = "documents") -> str:
    from ..functions import vector as V
    from ..models.embedder import hash_embed_text
    from ..models.tokenizer import tokenize_query
    from ..operators.knn import dd_knn_join_sql

    qvals = ", ".join(
        f"({qi}, '" + t.replace("'", "''") + "')"
        for qi, q in enumerate(queries)
        for t in sorted(set(tokenize_query(q)))
    )
    qvecs = ", ".join(
        f"({i}, {V.dd_lit_vector(hash_embed_text(q))})"
        for i, q in enumerate(queries)
    )
    spine = ", ".join(f"({i})" for i in range(len(queries)))
    knn = dd_knn_join_sql(
        k, f"SELECT q_id, q_vec FROM (VALUES {qvecs}) t(q_id, q_vec)"
    )
    return f"""
WITH {bm25.dd_fts_index_ctes(table)},
qterms(query_id, term) AS (VALUES {qvals}),
scored AS (
  SELECT q.query_id, p.doc_id,
         round(sum(
           ln(1.0 + (cs.n_docs - d.df + 0.5) / (d.df + 0.5))
           * p.tf * {bm25.BM25_K1 + 1.0}
           / (p.tf + {bm25.BM25_K1} * (1.0 - {bm25.BM25_B} + {bm25.BM25_B} * ds.dl / cs.avgdl))
         ), {bm25.SCORE_ROUND}) AS score
  FROM postings p
  JOIN qterms q USING (term)
  JOIN docfreq d USING (term)
  JOIN docstats ds USING (doc_id)
  CROSS JOIN corpus_stats cs
  GROUP BY q.query_id, p.doc_id
),
fts AS (
  SELECT query_id, doc_id, rank AS r_fts FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
             ORDER BY score DESC, doc_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {k}
),
vss AS (
  SELECT q_id AS query_id, c_id AS doc_id, rank AS r_vss
  FROM ({knn})
),
per AS (
  SELECT f.query_id, count(*)::BIGINT AS n_common,
         sum(abs(f.r_fts - v.r_vss))::BIGINT AS footrule
  FROM fts f JOIN vss v ON f.query_id = v.query_id AND f.doc_id = v.doc_id
  GROUP BY f.query_id
)
SELECT s.query_id, coalesce(p.n_common, 0)::BIGINT AS n_common,
       round(coalesce(p.n_common, 0) * 1.0 / {k}, 6) AS overlap_at_k,
       coalesce(p.footrule, 0)::BIGINT AS footrule
FROM (VALUES {spine}) s(query_id) LEFT JOIN per p ON s.query_id = p.query_id
ORDER BY s.query_id
""".strip()
