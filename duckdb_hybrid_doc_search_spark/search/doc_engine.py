"""Search over a BUILT index directory — the reference's full search
lifecycle (searcher.py:76-322) against the Parquet index tables.

This is the product surface a reference user lands on: open an index,
issue a query string, get ranked result dicts with the exact field set of
searcher.py:243-255 (doc_id, file_path, header_path, line_start, line_end,
content, score, fts_score, vss_score).

Spark builds the index; the engine serves it. Opening an engine reads
three of the tables index/builder writes — documents, embeddings and
postings_scored — once into a read-only driver snapshot (the analogue of
the reference's long-lived read-only connection, cli.py:325): the display
fields, the embedding matrix, and every posting's BM25 contribution,
computed in the JVM by the one Okapi expression
(operators/bm25.okapi_contrib). A search is then numpy on the driver and
runs no Spark job. An index directory without postings_scored is refused;
rebuild it with `index`. Corpora too large for a driver snapshot are
scored by the Spark plan of search/engine.hybrid_search_batch.
"""

from __future__ import annotations

import os
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession

from ..config import (RERANK_TRUNCATE_CHARS, SCORE_ROUND, SCORE_THRESHOLD,
                      TOP_K_DEFAULT)
from ..functions import topk
from ..functions.fusion import fuse_value
from ..models.embedder import hash_embed_text
from ..models.reranker import cross_encoder_scores
from ..models.tokenizer import tokenize_query
from ..operators.bm25 import okapi_contrib
from ..operators.chunker_core import add_path_prefix, trim_path_prefix
from ..utils import round_half_up_array

RESULT_FIELDS = ("doc_id", "file_path", "header_path", "line_start",
                 "line_end", "content", "score", "fts_score", "vss_score")
DISPLAY_FIELDS = RESULT_FIELDS[:6]

# Largest index, in on-disk bytes of the tables the snapshot reads, that
# an engine opens. On the 1031-chunk bench index (64-dim embeddings) the
# snapshot, rerank term ids included, held 2.7 bytes of driver memory per
# on-disk byte (2.61 MB for 0.98 MB: tracemalloc plus Arrow's allocator),
# so the bound is ~700 MB of driver memory.
MAX_SNAPSHOT_BYTES = 256 * 1024 * 1024


def _disk_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not f.startswith((".", "_")))


class _Snapshot:
    """The serving copy of one index, read-only after construction (MCP
    HTTP requests share it across threads), holding every per-document
    value a search reads so that a search does only per-query work:

    - the documents sorted by doc_id, so array position is the tie-break
      order; their display fields, and ``pos_of`` (doc_id -> position);
    - the float64 (n, d) embedding matrix in that order and its row
      norms ``xnorm``;
    - the BM25 contributions as a term-sorted CSR — term ``t``'s postings
      are ``pos[off[t]:off[t+1]]`` (doc positions) and ``contrib[...]``;
    - for the overlap reranker, the sorted distinct term ids of each
      document's ``content[:RERANK_TRUNCATE_CHARS]`` under the index's
      tokenizer, ``rr_ids[rr_off[p]:rr_off[p+1]]`` (int32). ``term_ix``
      numbers the posting terms first (ids below ``nterms``), then any
      token found only in a truncated content, such as a word cut at the
      truncation point.

    On the 1031-chunk bench index the rerank term ids, row norms and
    ``pos_of`` take ~0.02 s of tokenizing at open and 0.18 MB of driver
    memory (2.61 MB for the whole snapshot). Opening took a median 0.81 s
    against 0.72 s without them, within the spread of repeated opens
    (4-core VM)."""

    def __init__(self, documents: DataFrame, embeddings: DataFrame,
                 postings: DataFrame, tokenizer: str):
        docs = documents.select(*DISPLAY_FIELDS).toArrow()
        docs = docs.take(pc.sort_indices(docs["doc_id"]))
        ids = docs["doc_id"]
        self.fields = {c: docs[c].to_pylist() for c in DISPLAY_FIELDS}
        self.n = len(ids)
        self.pos_of = {d: p for p, d in enumerate(self.fields["doc_id"])}

        emb = embeddings.select("doc_id", "embedding").toArrow()
        emb = emb.take(pc.sort_indices(emb["doc_id"]))
        if not emb["doc_id"].equals(ids):
            raise ValueError("index tables disagree: documents and "
                             "embeddings hold different doc_ids")
        flat = pc.list_flatten(emb["embedding"]).to_numpy()
        self.X = flat.astype(np.float64).reshape(self.n, -1 if self.n else 0)
        self.xnorm = np.sqrt((self.X * self.X).sum(axis=1))

        post = postings.select(
            "term", "doc_id", okapi_contrib().alias("contrib")).toArrow()
        pos = pc.index_in(post["doc_id"], value_set=ids)
        post = pa.table({"term": post["term"], "pos": pos,
                         "contrib": post["contrib"]}).sort_by(
            [("term", "ascending"), ("pos", "ascending")])
        terms = post["term"].to_numpy(zero_copy_only=False)
        # the first row of each term's run; none without postings
        starts = np.flatnonzero(np.r_[len(terms) > 0, terms[1:] != terms[:-1]])
        self.term_ix = {t: i for i, t in enumerate(terms[starts])}
        self.nterms = len(starts)
        self.off = np.r_[starts, len(terms)]
        self.pos = post["pos"].to_numpy()
        self.contrib = post["contrib"].to_numpy()

        rr_ids, rr_len = [], [0]
        for text in self.fields["content"]:
            toks = set(tokenize_query(text[:RERANK_TRUNCATE_CHARS], tokenizer))
            rr_ids += sorted(self.term_ix.setdefault(t, len(self.term_ix))
                             for t in toks)
            rr_len.append(len(toks))
        self.rr_ids = np.array(rr_ids, dtype=np.int32)
        self.rr_off = np.cumsum(rr_len)

    def candidates(self, qterms: list[str], qvec: list[float], k: int
                   ) -> list[dict[str, Any]]:
        """Q3-Q9 of one query: the BM25 top-k (score descending) and
        the cosine-distance top-k (ascending), ties to the lower doc_id,
        fused — one row per candidate, at most 2k rows."""
        if not self.n:
            return []
        terms = sorted({i for i in map(self.term_ix.get, qterms)
                        if i is not None and i < self.nterms})
        ix = np.concatenate([np.zeros(0, np.int64)] + [
            np.arange(self.off[t], self.off[t + 1]) for t in terms])
        raw = np.bincount(self.pos[ix], self.contrib[ix], minlength=self.n)
        hit = np.unique(self.pos[ix])
        bm25 = round_half_up_array(raw[hit], SCORE_ROUND)
        _, top = topk.local_topk(bm25[:, None], hit, k, desc=True)
        fts = dict(zip(hit[top].tolist(), bm25[top].tolist()))

        dist = np.round(
            1.0 - topk.cosine(self.X, topk.matrix([qvec]), self.xnorm),
            SCORE_ROUND)
        _, top = topk.local_topk(dist, np.arange(self.n), k, desc=False)
        vss = dict(zip(top.tolist(), dist[top, 0].tolist()))

        rows, fused = [], []
        for p in fts.keys() | vss.keys():
            f, v = fts.get(p), vss.get(p)
            row = {c: self.fields[c][p] for c in DISPLAY_FIELDS}
            row.update(fts_score=f, vss_score=v)
            rows.append(row)
            fused.append(fuse_value(f, v))
        for row, s in zip(rows, round_half_up_array(
                np.array(fused, dtype=np.float64), SCORE_ROUND).tolist()):
            row["score"] = s
        return rows

    def overlap(self, qset: set[str], doc_ids: list[str]) -> np.ndarray:
        """The overlap rerank score of each document of ``doc_ids``:
        how many of the query terms ``qset`` (non-empty) its truncated
        content holds, over ``len(qset)``. A term outside ``term_ix``
        is in no document."""
        mask = np.zeros(len(self.term_ix), dtype=bool)
        mask[[self.term_ix[t] for t in qset if t in self.term_ix]] = True
        off, ids = self.rr_off, self.rr_ids
        hits = [np.count_nonzero(mask[ids[off[p]:off[p + 1]]])
                for p in map(self.pos_of.__getitem__, doc_ids)]
        return np.array(hits, dtype=np.float64) / len(qset)


class DocSearchEngine:
    """Long-lived engine over one index directory.

    ``documents``, ``embeddings`` and ``index["postings_scored"]`` are
    lazy Spark handles on the index tables (never persisted); the
    snapshot is read from them once, here. Opening raises
    FileNotFoundError when the directory has no meta.json, and
    ValueError, before any Spark work, when it has no postings_scored
    table or its three tables exceed MAX_SNAPSHOT_BYTES on disk. A
    search over a sentence-transformers index raises NotImplementedError
    when that package is not installed, as the build does."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 embedding_model: str | None = None):
        from ..index.builder import read_meta, resolve_model

        self.spark = spark
        self.index_dir = index_dir
        self.meta = read_meta(index_dir)
        self.model, self.backend, self.dim = resolve_model(
            index_dir, embedding_model
        )
        path = lambda t: os.path.join(index_dir, t)  # noqa: E731
        if not os.path.isdir(path("postings_scored")):
            raise ValueError(
                f"index {index_dir} has no postings_scored table: it was "
                "built by an older version; rebuild it with `index`"
            )
        size = sum(_disk_bytes(path(t))
                   for t in ("documents", "embeddings", "postings_scored"))
        if size > MAX_SNAPSHOT_BYTES:
            raise ValueError(
                f"index {index_dir} is {size} bytes on disk, above "
                f"MAX_SNAPSHOT_BYTES={MAX_SNAPSHOT_BYTES}: DocSearchEngine "
                "serves from a driver snapshot; search a corpus this size "
                "with search/engine.hybrid_search_batch"
            )
        load = lambda t: spark.read.parquet(path(t))  # noqa: E731
        self.documents = load("documents")
        self.embeddings = load("embeddings")
        self.index = {"postings_scored": load("postings_scored")}
        self._snap = _Snapshot(self.documents, self.embeddings,
                               self.index["postings_scored"],
                               self.meta.get("tokenizer", "jp_heuristic"))

    def close(self) -> None:
        """Drop the snapshot."""
        self._snap = None

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
        except ImportError as e:
            raise NotImplementedError(
                "sentence-transformers not installed; use the 'hash' backend"
            ) from e
        m = _ST_MODELS.get(self.model)
        if m is None:
            m = _ST_MODELS[self.model] = SentenceTransformer(self.model)
        return [float(x) for x in m.encode([query])[0]]

    def _query_terms(self, query: str) -> list[str]:
        # the index's own analyzer (tokenizer identity, SURVEY.md §2.6.5)
        return tokenize_query(query, backend=self.meta.get("tokenizer",
                                                           "jp_heuristic"))

    def search(self, query: str, top_k: int = TOP_K_DEFAULT,
               rerank: bool = True,
               add_prefix: str | None = None,
               remove_prefix: str | None = None) -> list[dict[str, Any]]:
        qterms = self._query_terms(query)
        rows = self._snap.candidates(qterms, self._embed_query(query), top_k)
        return self._finish(query, qterms, rows, top_k, rerank, add_prefix,
                            remove_prefix)

    def search_batch(self, queries: list[str], top_k: int = TOP_K_DEFAULT,
                     rerank: bool = True,
                     add_prefix: str | None = None,
                     remove_prefix: str | None = None
                     ) -> list[list[dict[str, Any]]]:
        """``[search(q, ...) for q in queries]``. Raises ValueError above
        functions/topk.MAX_QUERIES queries, before scoring any."""
        if len(queries) > topk.MAX_QUERIES:
            raise ValueError(
                f"search_batch takes at most MAX_QUERIES={topk.MAX_QUERIES}"
                f" queries, got {len(queries)}; split the batch"
            )
        return [self.search(q, top_k, rerank, add_prefix, remove_prefix)
                for q in queries]

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
            scores = self._snap.overlap(qset, [r["doc_id"] for r in rows])
        scores = round_half_up_array(np.asarray(scores, dtype=np.float64),
                                     SCORE_ROUND)
        for r, s in zip(rows, scores.tolist()):
            r["original_score"] = r["score"]
            r["score"] = s
        return rows
