"""Search over a BUILT index directory — the reference's full search
lifecycle (searcher.py:76-322) against the Parquet index tables.

This is the product surface a reference user lands on: open an index,
issue a query string, get ranked result dicts with the exact field set of
searcher.py:243-255 (doc_id, file_path, header_path, line_start, line_end,
content, score, fts_score, vss_score). All of Q3..Q13 composes into one
lazy plan per query; the index DataFrames persist across queries in the
session (the Spark analogue of the reference's long-lived read-only
connection, cli.py:325).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..config import SCORE_ROUND, SCORE_THRESHOLD, TOP_K_DEFAULT
from ..functions import topk
from ..functions.fusion import fuse
from ..models.embedder import hash_embed_text
from ..models.reranker import cross_encoder_scores
from ..models.tokenizer import tokenize_query
from ..operators.bm25 import bm25_topk_terms
from ..operators.chunker_core import add_path_prefix, trim_path_prefix
from ..operators.knn import cosine_distance_topk
from ..utils import round_half_up
from .engine import batch_candidates

RESULT_FIELDS = ("doc_id", "file_path", "header_path", "line_start",
                 "line_end", "content", "score", "fts_score", "vss_score")


class DocSearchEngine:
    """Long-lived engine over one index directory."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 embedding_model: str | None = None):
        from ..index.builder import read_meta, resolve_model

        self.spark = spark
        self.index_dir = index_dir
        self.meta = read_meta(index_dir)
        self.model, self.backend, self.dim = resolve_model(
            index_dir, embedding_model
        )
        load = lambda t: spark.read.parquet(f"{index_dir}/{t}")  # noqa: E731
        self.documents = load("documents").persist()
        self.embeddings = load("embeddings").persist()
        self.index = {
            "postings": load("postings").persist(),
            "docfreq": load("docfreq").persist(),
            "docstats": load("docstats").persist(),
            "corpus_stats": load("corpus_stats").persist(),
        }
        # newer indexes carry the denormalized probe table (join-free BM25
        # branch, operators/bm25._matched); older dirs fall back to joins
        if os.path.isdir(os.path.join(index_dir, "postings_scored")):
            self.index["postings_scored"] = load("postings_scored").persist()

    def close(self) -> None:
        """Release the session-held index caches (the engine owns their
        lifecycle; one-shot registered queries never persist at all)."""
        for df in (self.documents, self.embeddings, *self.index.values()):
            df.unpersist()

    def __enter__(self) -> "DocSearchEngine":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _embed_query(self, query: str) -> list[float]:
        if self.backend == "hash":
            return hash_embed_text(query, self.dim)
        from ..models.embedder import _ST_MODELS  # executor/driver cache

        try:  # real model on the driver (Q2, searcher.py:109)
            from sentence_transformers import SentenceTransformer

            m = _ST_MODELS.get(self.model)
            if m is None:
                m = _ST_MODELS[self.model] = SentenceTransformer(self.model)
            return [float(x) for x in m.encode([query])[0]]
        except ImportError:
            return hash_embed_text(query, self.dim)

    def _query_terms(self, query: str) -> list[str]:
        # the index's own analyzer (tokenizer identity, SURVEY.md §2.6.5)
        return tokenize_query(query, backend=self.meta.get("tokenizer",
                                                           "jp_heuristic"))

    def search(self, query: str, top_k: int = TOP_K_DEFAULT,
               rerank: bool = True,
               add_prefix: str | None = None,
               remove_prefix: str | None = None) -> list[dict[str, Any]]:
        qterms = self._query_terms(query)
        fts = bm25_topk_terms(self.index, qterms, top_k).withColumnRenamed(
            "score", "fts_score")
        vss = cosine_distance_topk(self.embeddings, self._embed_query(query),
                                   top_k, id_col="doc_id")
        rows = fuse(fts, vss, "doc_id").join(self.documents, "doc_id").select(
            *RESULT_FIELDS).collect()
        return self._finish(query, qterms, [r.asDict() for r in rows], top_k,
                            rerank, add_prefix, remove_prefix)

    def search_batch(self, queries: list[str], top_k: int = TOP_K_DEFAULT,
                     rerank: bool = True,
                     add_prefix: str | None = None,
                     remove_prefix: str | None = None
                     ) -> list[list[dict[str, Any]]]:
        """Bulk search: every query scored by ONE Spark plan and one
        collect. The candidates come from search/engine.batch_candidates,
        the plan hybrid_search_batch runs (batched BM25, one Arrow top-k
        scan of the embeddings, fusion on (query_id, doc_id)), over the
        persisted index; one broadcast join against documents fetches the
        result fields. The collect is at most 2 * top_k * len(queries)
        rows. Rerank, threshold, top-k and the path prefixes then run per
        query through search()'s own tail, so results match per-query
        `search()` exactly.

        Raises ValueError above functions/topk.MAX_QUERIES queries,
        before any Spark work."""
        if len(queries) > topk.MAX_QUERIES:
            raise ValueError(
                f"search_batch takes at most MAX_QUERIES={topk.MAX_QUERIES}"
                f" queries, got {len(queries)}; split the batch"
            )
        if not queries:
            return []
        qterms = [self._query_terms(q) for q in queries]
        Q = topk.matrix(self._embed_query(q) for q in queries)
        cands = batch_candidates(self.index, self.embeddings, qterms, Q,
                                 top_k, id_col="doc_id")
        rows: list[list[dict[str, Any]]] = [[] for _ in queries]
        for r in F.broadcast(cands).join(self.documents, "doc_id").select(
                "query_id", *RESULT_FIELDS).collect():
            d = r.asDict()
            rows[d.pop("query_id")].append(d)
        return [
            self._finish(q, t, r, top_k, rerank, add_prefix, remove_prefix)
            for q, t, r in zip(queries, qterms, rows)
        ]

    def _finish(self, query: str, qterms: list[str],
                rows: list[dict[str, Any]], top_k: int, rerank: bool,
                add_prefix: str | None, remove_prefix: str | None
                ) -> list[dict[str, Any]]:
        """Q10-Q13 of one query on the driver: rerank, sort, threshold,
        limit, then the path-prefix rewrite and the RESULT_FIELDS
        projection."""
        if rerank and rows:
            rows = self._rerank(query, qterms, rows)
        rows.sort(key=lambda r: (-r["score"], r["doc_id"]))
        rows = [r for r in rows if r["score"] > SCORE_THRESHOLD][:top_k]
        for r in rows:
            p = trim_path_prefix(r["file_path"], remove_prefix)
            r["file_path"] = add_path_prefix(p, add_prefix)
        return [{k: r[k] for k in RESULT_FIELDS} for r in rows]

    def _rerank(self, query: str, qterms: list[str],
                rows: list[dict[str, Any]]) -> list[dict[str, Any]]:
        """Q11 with the reference's fallback ladder (searcher.py:261-310):
        CrossEncoder if available, else deterministic token overlap; any
        failure keeps the original fused scores."""
        scores = None
        if self.backend == "sentence-transformers":
            scores = cross_encoder_scores(
                query, [r["content"] for r in rows], self.model
            )
        if scores is None:  # deterministic overlap reranker (FIXTURES.md §C)
            qset = set(qterms)
            if not qset:
                return rows
            tok = self.meta.get("tokenizer", "jp_heuristic")
            scores = [
                len(qset & set(tokenize_query(r["content"][:2048], tok)))
                / len(qset)
                for r in rows
            ]
        for r, s in zip(rows, scores):
            r["original_score"] = r["score"]
            r["score"] = round_half_up(float(s), SCORE_ROUND)
        return rows
