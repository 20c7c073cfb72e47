"""BM25 full-text scoring as pure Spark SQL over derived index tables.

Replaces the reference's DuckDB FTS probe
(`SELECT doc_id, fts_main_documents.match_bm25(doc_id, ?) AS score FROM
documents ORDER BY score DESC LIMIT ?`, searcher.py:112-120; index DDL
db.py:143-150 with stemmer/stopwords disabled) with a data-layout design:

    postings(term, doc_id, tf)   — inverted index, derived by explode+groupBy
    docfreq(term, df)            — document frequency per term
    docstats(doc_id, dl)         — document length in tokens
    corpus_stats(n_docs, avgdl)  — scalars, broadcast into the probe plan

Query = filter postings on the (tiny, broadcast) query-term set, join
docfreq + docstats, evaluate the Okapi BM25 expression JVM-side, partial+final
hash-aggregate per doc_id, TakeOrderedAndProject top-k. Zero Python in the
hot path; the probe never touches `content`/`embedding` bytes, so at 100 TB
the scan is bounded by the postings slice for the query terms (predicate
pushdown on `term`).

Formula (k1=1.2, b=0.75, config.py):
    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    tfn(t,d)= tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
    score   = sum over distinct query terms of idf * tfn
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import BM25_B, BM25_K1, SCORE_ROUND
from ..functions.text import dd_tokenize, tokenize
from ..index.catalog import read_table


def tokenize_docs(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    # repartition: a small single-file input is one split, which would run
    # the regex tokenization single-threaded; cluster inputs split naturally
    spark = docs.sparkSession
    return docs.repartition(spark.sparkContext.defaultParallelism).select(
        F.col(id_col).alias("doc_id"), tokenize(F.col(text_col)).alias("toks")
    )


def build_fts_index(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> dict[str, DataFrame]:
    """Derive the four FTS index tables (SURVEY.md §4.3 layout), LAZILY.

    No persist here: a one-shot caller gets Catalyst's lazy plan (a probe
    computes only the slice it needs), and long-lived sessions get reuse
    from a WRITTEN layout instead — ``index/fts_layout.ensure_fts_layout``
    builds these tables once on disk, term-ordered, so probes read a
    pushdown-pruned slice (the 100 TB shape).
    """
    return fts_tables(tokenize_docs(docs, id_col, text_col))


def fts_tables(toks: DataFrame) -> dict[str, DataFrame]:
    """The four FTS index tables of a (doc_id, toks) frame, lazily: the
    derivation behind build_fts_index. The index builder's writer
    (index/builder.build_fts_index_from_tokens) writes the same rows."""
    docstats = toks.select("doc_id", F.size("toks").alias("dl"))
    postings = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    docfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    corpus_stats = docstats.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    return {
        "postings": postings,
        "docfreq": docfreq,
        "docstats": docstats,
        "corpus_stats": corpus_stats,
    }


def scored_postings(index: dict[str, DataFrame]) -> DataFrame:
    """postings denormalized with every BM25 scoring input
    (term, doc_id, tf, df, dl, n_docs, avgdl) — derived once at index
    WRITE time (impact-list design); a probe over it needs zero joins.
    The constant-ish df/n_docs/avgdl columns RLE-compress to ~nothing."""
    return (
        index["postings"]
        .join(index["docfreq"], "term")
        .join(index["docstats"], "doc_id")
        .crossJoin(F.broadcast(index["corpus_stats"]))
        .select("term", "doc_id", "tf", "df", "dl", "n_docs", "avgdl")
    )


def okapi_contrib() -> F.Column:
    """Per-(term, doc) Okapi BM25 contribution over columns
    (tf, df, dl, n_docs, avgdl) — the ONE scoring expression shared by the
    joined in-plan path and the denormalized written-layout path, so both
    produce bit-identical floats from the same inputs."""
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    tfn = (
        F.col("tf") * F.lit(BM25_K1 + 1.0)
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))
        )
    )
    return idf * tfn


def _matched(index: dict[str, DataFrame], qterms: list[str]) -> DataFrame:
    """Rows (term, doc_id, tf, df, dl, n_docs, avgdl) matching the query.

    Written layouts carry `postings_scored` — every scoring input
    denormalized at index-build time (the impact-list design), so a probe
    is ONE term-pruned scan with zero joins. The in-plan index derives the
    same rows by joining the normalized tables.
    """
    if "postings_scored" in index:
        return index["postings_scored"].where(F.col("term").isin(qterms))
    postings = index["postings"].where(F.col("term").isin(qterms))
    # (r15: deriving the pruned docfreq from the pruned postings frame
    # was tried — one shared subtree instead of the dict's separate
    # full-vocab docfreq branch — and measured a consistent LOSS at
    # sf0.1: the broadcast side then DEPENDS on the postings exchange
    # and serializes a chain the old independent branches overlapped;
    # reverted, see OPTIMIZATION_r15.md)
    docfreq = index["docfreq"].where(F.col("term").isin(qterms))
    return (
        postings
        .join(F.broadcast(docfreq), "term")
        .join(index["docstats"], "doc_id")
        .crossJoin(F.broadcast(index["corpus_stats"]))
    )


def bm25_scores(index: dict[str, DataFrame], query_terms: list[str]) -> DataFrame:
    """(doc_id, score) for every doc matching >=1 query term (score desc-able).

    `term.isin(qterms)` is pushed down to the postings scan; docfreq and
    corpus_stats sides are broadcast (both tiny after the same pushdown).
    """
    qterms = sorted(set(query_terms))
    return (
        _matched(index, qterms)
        .groupBy("doc_id")
        .agg(F.round(F.sum(okapi_contrib()), SCORE_ROUND).alias("score"))
    )


def bm25_topk_terms(index: dict[str, DataFrame], query_terms: list[str],
                    k: int, allowed: DataFrame | None = None) -> DataFrame:
    """(doc_id, score) top-k of one query's term list: score descending,
    ties to the lower doc_id (one TakeOrderedAndProject). ``allowed`` (a
    doc_id frame) restricts the candidates before the top-k."""
    scores = bm25_scores(index, query_terms)
    if allowed is not None:
        scores = scores.join(allowed, "doc_id", "left_semi")
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def bm25_topk_from_index(index: dict[str, DataFrame], query: str,
                         k: int) -> DataFrame:
    """BM25 top-k against a prebuilt index dict (in-plan or written layout)."""
    from ..models.tokenizer import tokenize_query

    return bm25_topk_terms(index, tokenize_query(query), k)


def bm25_topk(docs: DataFrame, query: str, k: int,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """End-to-end BM25 top-k from a raw document table (Q3 in SURVEY.md §2.3)."""
    return bm25_topk_from_index(build_fts_index(docs, id_col, text_col),
                                query, k)


def bm25_batch_topk_terms(index: dict[str, DataFrame],
                          query_terms: list[list[str]], k: int) -> DataFrame:
    """Score MANY queries against the corpus in ONE plan — the bulk path
    the reference cannot express (it loops one DuckDB probe per query).
    ``query_terms[i]`` is query i's term list (the caller's analyzer).

    The query set becomes a tiny broadcast (query_id, term) table joined
    into postings; one groupBy (query_id, doc_id) scores everything, one
    window takes each query's top-k. Per-query cost amortizes: the
    postings scan happens once for the whole batch, so scoring 10k
    queries against 100 TB reads the posting lists once, not 10k times.

    Output: query_id, doc_id, score, rank.
    """
    import pandas as pd
    from pyspark.sql import Window

    # probe_only index dicts carry only postings_scored — derive the
    # session from whatever table is present (all that _matched needs)
    spark = next(iter(index.values())).sparkSession
    qrows = [
        (qi, t)
        for qi, terms in enumerate(query_terms)
        for t in sorted(set(terms))
    ]
    # from pandas, a local relation: a frame from a Python list is an
    # RDD whose every use runs Python tasks
    qterms = spark.createDataFrame(
        pd.DataFrame(qrows, columns=["query_id", "term"]),
        "query_id int, term string")
    all_terms = sorted({t for _, t in qrows})

    scored = (
        _matched(index, all_terms)
        .join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(okapi_contrib()), SCORE_ROUND).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def bm25_batch_topk_from_index(index: dict[str, DataFrame],
                               queries: list[str], k: int) -> DataFrame:
    """:func:`bm25_batch_topk_terms` of query strings, tokenized by the
    regex analyzer."""
    from ..models.tokenizer import tokenize_query

    return bm25_batch_topk_terms(
        index, [tokenize_query(q) for q in queries], k
    )


def bm25_batch_topk(docs: DataFrame, queries: list[str], k: int,
                    id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Batched BM25 from a raw document table (derives the index in-plan)."""
    return bm25_batch_topk_from_index(
        build_fts_index(docs, id_col, text_col), queries, k
    )


# --- DuckDB oracle SQL ------------------------------------------------------


def dd_fts_index_ctes(table: str = "documents", id_col: str = "doc_id",
                      text_col: str = "text") -> str:
    """Shared CTE block defining the same index tables in DuckDB SQL."""
    return f"""
toks AS (
  SELECT {id_col} AS doc_id, {dd_tokenize(text_col)} AS toks FROM {table}
),
docstats AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM toks),
corpus_stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM docstats
),
postings AS (
  SELECT term, doc_id, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
  GROUP BY term, doc_id
),
docfreq AS (SELECT term, count(*)::BIGINT AS df FROM postings GROUP BY term)
""".strip()


def dd_bm25_scored_cte(query_terms: list[str]) -> str:
    """CTE `bm25_scored(doc_id, score)` — mirrors :func:`bm25_scores`."""
    qterms = sorted(set(query_terms))
    qlist = ", ".join("'" + t.replace("'", "''") + "'" for t in qterms)
    return f"""
bm25_scored AS (
  SELECT p.doc_id,
         round(sum(
           ln(1.0 + (cs.n_docs - d.df + 0.5) / (d.df + 0.5))
           * p.tf * {BM25_K1 + 1.0}
           / (p.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * ds.dl / cs.avgdl))
         ), {SCORE_ROUND}) AS score
  FROM postings p
  JOIN docfreq d USING (term)
  JOIN docstats ds USING (doc_id)
  CROSS JOIN corpus_stats cs
  WHERE p.term IN ({qlist})
  GROUP BY p.doc_id
)
""".strip()


def dd_bm25_topk_sql(query_terms: list[str], k: int,
                     table: str = "documents") -> str:
    return f"""
WITH {dd_fts_index_ctes(table)},
{dd_bm25_scored_cte(query_terms)}
SELECT doc_id, score FROM bm25_scored
ORDER BY score DESC, doc_id ASC LIMIT {k}
""".strip()


def dd_bm25_batch_topk_sql(queries: list[str], k: int,
                           table: str = "documents") -> str:
    """Oracle for :func:`bm25_batch_topk`."""
    from ..models.tokenizer import tokenize_query

    qvals = ", ".join(
        f"({qi}, '" + t.replace("'", "''") + "')"
        for qi, q in enumerate(queries)
        for t in sorted(set(tokenize_query(q)))
    )
    return f"""
WITH {dd_fts_index_ctes(table)},
qterms(query_id, term) AS (VALUES {qvals}),
scored AS (
  SELECT q.query_id, p.doc_id,
         round(sum(
           ln(1.0 + (cs.n_docs - d.df + 0.5) / (d.df + 0.5))
           * p.tf * {BM25_K1 + 1.0}
           / (p.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * ds.dl / cs.avgdl))
         ), {SCORE_ROUND}) AS score
  FROM postings p
  JOIN qterms q USING (term)
  JOIN docfreq d USING (term)
  JOIN docstats ds USING (doc_id)
  CROSS JOIN corpus_stats cs
  GROUP BY q.query_id, p.doc_id
)
SELECT query_id, doc_id, score, rank FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
           ORDER BY score DESC, doc_id ASC) AS rank
  FROM scored
) WHERE rank <= {k}
""".strip()


#: probe-only scored-table handles, keyed by (Spark application id,
#: store dir) behind a file-stat signature (see segment_fts_index). The
#: app id keys out handles bound to a stopped session (the _OPEN memo's
#: rule, index/fts_layout.py); entries whose store dir is gone (per-run
#: temp stores) are swept on insert so the dict cannot accumulate dead
#: plans across a long session.
_SCORED_PROBE_MEMO: dict = {}


def segment_fts_index(spark, seg_dir: str,
                      probe_only: bool = False) -> dict[str, DataFrame]:
    """Open a SEGMENTED FTS store (index/fts_layout.write_fts_segments +
    append_fts_segment) as a normalized index dict for the standard
    probe operators. Global statistics are aggregated from per-segment
    deltas INSIDE the plan, so everything stays pushdown-prunable:

    - df        = sum of per-segment df (the term filter pushes through
                  the groupBy to the docfreq parquet scan);
    - n_docs    = sum of per-segment n_docs;
    - avgdl     = sum(sum_dl) / sum(n_docs) — both exact integers, so
                  the division is the SAME correctly-rounded double the
                  one-shot avg(dl) produces (bit-identical scores).

    The probe plan is then _matched's join path: term-pruned postings
    scan + broadcast(term-pruned df aggregate) + docstats join +
    broadcast 1-row stats — per-query cost tracks the matched slice,
    never the segment count (segments are just more parquet files under
    the same table dirs). On a FOLDED store
    (index/fts_layout.fold_fts_segments) the fold-time postings_scored
    table is present and _matched takes the one-shot layout's join-free
    term-pruned scan instead; an append deletes that table, so this
    function never serves stale scored rows."""
    import os

    from ..index.fts_layout import FOLD_READY, SEG_SCORED

    if os.path.exists(os.path.join(seg_dir, FOLD_READY)):
        raise RuntimeError(
            f"segmented FTS store at {seg_dir} has a marked fold swap in "
            "flight (or a crashed one): the table dirs may be mid-swap. "
            "Run index/fts_layout.complete_fold (any writer does this "
            "automatically) before probing."
        )
    scored_dir = os.path.join(seg_dir, SEG_SCORED)
    if probe_only and os.path.exists(scored_dir):
        # a probe over a FOLDED store consumes ONLY the denormalized
        # scored table (_matched short-circuits on it); opening the four
        # normalized dirs would pay their parquet footer/schema reads
        # per probe call for DataFrames the plan never touches. The
        # DataFrame handle is memoized per store dir behind a file-stat
        # signature (the same warm-repeat design as ensure_fts_layout's
        # probe path): any append/fold rewrites or deletes the scored
        # files, so a stale handle can never be served.
        import glob

        from ..index.fingerprint import stat_sig

        app_id = spark.sparkContext.applicationId
        key = (app_id, seg_dir)
        files = sorted(glob.glob(os.path.join(scored_dir, "*.parquet")))
        try:
            # an EMPTY glob is also the racing-writer case (a concurrent
            # append just emptied/deleted the dir): stat_sig([]) == ()
            # would otherwise be memoized as a "valid" signature
            sig = stat_sig(files) if files else None
        except OSError:
            sig = None  # racing writer: fall through to a fresh read
        hit = _SCORED_PROBE_MEMO.get(key)
        if sig is not None and hit is not None and hit[0] == sig:
            return {SEG_SCORED: hit[1]}
        if sig is not None:
            # the read itself can still lose the race (dir deleted
            # between the glob and the parquet footer read) — fall
            # through to the normalized four-table path below, which
            # serves the same rows from the segment tables
            try:
                df = read_table(spark, scored_dir)
            except Exception:
                sig = None
        if sig is not None:
            for k in list(_SCORED_PROBE_MEMO):
                if k[0] != app_id or not os.path.isdir(k[1]):
                    # dead session / deleted temp store; pop() tolerates
                    # a concurrent probe thread sweeping the same key
                    _SCORED_PROBE_MEMO.pop(k, None)
            _SCORED_PROBE_MEMO[key] = (sig, df)
            return {SEG_SCORED: df}
    postings = read_table(spark, os.path.join(seg_dir, "postings"))
    docfreq = (
        read_table(spark, os.path.join(seg_dir, "docfreq"))
        .groupBy("term")
        .agg(F.sum("df").cast("long").alias("df"))
    )
    docstats = read_table(spark, os.path.join(seg_dir, "docstats"))
    corpus_stats = (
        read_table(spark, os.path.join(seg_dir, "segstats"))
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            (F.sum("sum_dl") / F.sum("n_docs")).alias("avgdl"),
        )
    )
    index = {
        "postings": postings,
        "docfreq": docfreq,
        "docstats": docstats,
        "corpus_stats": corpus_stats,
    }
    if os.path.exists(scored_dir):
        try:
            index[SEG_SCORED] = read_table(spark, scored_dir)
        except Exception:
            pass  # racing append deleted it; the normalized tables serve
    return index
