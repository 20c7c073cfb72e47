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
runs no Spark job. There is one scoring path: ``search_batch`` scores its
queries together, block by block (one cosine GEMM, one BM25 bincount,
one fusion, one rerank pass and one sort per block of at most
BLOCK_BYTES-sized arrays), and ``search`` is a batch of one. An index
directory without postings_scored is refused;
rebuild it with `index`. Corpora too large for a driver snapshot are
scored by the Spark plan of search/engine.hybrid_search_batch.
"""

from __future__ import annotations

import os
from typing import Any, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession

from ..config import (RERANK_TRUNCATE_CHARS, SCORE_ROUND, SCORE_THRESHOLD,
                      TOP_K_DEFAULT)
from ..functions import topk
from ..functions.fusion import fuse_values
from ..index.catalog import read_table
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
# an engine opens. On the 1031-chunk bench index (64-dim embeddings,
# zstd-compressed tables) the snapshot, rerank term ids included, held
# 3.7 bytes of driver memory per on-disk byte (2.67 MB for 0.73 MB:
# tracemalloc plus Arrow's allocator), so the bound is ~700 MiB of
# driver memory.
MAX_SNAPSHOT_BYTES = 192 * 1024 * 1024

# Largest array, in bytes, a search builds for one block of its
# queries: a batch is scored in blocks of max(1, BLOCK_BYTES // (8 m))
# queries, m the larger of the document count n and the count of rerank
# term ids (``rr_ids``), so that neither the (n, q) float64 score blocks
# nor the rerank's gather of the candidates' term ids (at most all of
# them per query) exceeds it, whatever the batch size. A block holds a
# few such arrays at once: on the 1031-chunk bench index (28807 rerank
# term ids, so 36 queries a block) a 1024-query search_batch with top_k
# above n peaked at 30 MB of traced driver memory, its results included.
BLOCK_BYTES = 8 * 1024 * 1024


class _Candidates(NamedTuple):
    """The fused candidate rows of a query block, in query then position
    order: row i is document ``pos[i]`` for query ``qi[i]``, found by
    the branches ``has_fts[i]`` / ``has_vss[i]`` with the scores
    ``fts[i]`` / ``vss[i]`` (not read where not found) and fused to
    ``score[i]``, which the ranking rounds (at SCORE_ROUND)."""
    qi: np.ndarray
    pos: np.ndarray
    fts: np.ndarray
    vss: np.ndarray
    has_fts: np.ndarray
    has_vss: np.ndarray
    score: np.ndarray


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """The concatenated ``arange(s, s + l)`` of each ``(s, l)``."""
    ends = lens.cumsum()
    return (np.arange(ends[-1] if len(ends) else 0)
            + (starts - ends + lens).repeat(lens))


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

    :meth:`score` and :meth:`overlap` are the one scoring path: each
    takes a block of queries at once, so its numpy calls are per block,
    not per query.

    On the 1031-chunk bench index the rerank term ids, row norms and
    ``pos_of`` take ~0.02 s of tokenizing at open and 0.18 MB of driver
    memory (2.61 MB for the whole snapshot). Opening took a median 0.81 s
    against 0.72 s without them, within the spread of repeated opens
    (4-core VM). The range lengths ``tlen`` and ``rr_len`` and the
    positions ``ids``, kept so that a search does not derive them, add
    0.07 MB."""

    def __init__(self, documents: DataFrame, embeddings: DataFrame,
                 postings: DataFrame, tokenizer: str):
        docs = documents.select(*DISPLAY_FIELDS).toArrow()
        docs = docs.take(pc.sort_indices(docs["doc_id"]))
        ids = docs["doc_id"]
        self.fields = {c: docs[c].to_pylist() for c in DISPLAY_FIELDS}
        self.n = len(ids)
        self.ids = np.arange(self.n)
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
        self.tlen = np.diff(self.off)
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
        self.rr_len = np.diff(self.rr_off)

    def score(self, qterms: list[list[str]], Q: np.ndarray, k: int
              ) -> _Candidates:
        """Q3-Q8 of a block of queries — query ``j`` has the terms
        ``qterms[j]`` and the vector ``Q[j]`` — scored together: the BM25
        top-k (score descending) and the cosine-distance top-k
        (ascending) of each query, ties to the lower doc_id, fused; at
        most 2k rows per query. The (n, q) score blocks are dense, so
        the caller bounds q (BLOCK_BYTES)."""
        n, q = self.n, len(qterms)
        dist = topk.cosine(self.X, Q, self.xnorm)
        np.subtract(1.0, dist, out=dist)
        dist.round(SCORE_ROUND, out=dist)
        vq, vp = topk.local_topk(dist, self.ids, k, desc=False)

        # query j's distinct posting terms i, its postings keyed j * n +
        # pos: one bincount sums each key's contributions in posting
        # order, as a bincount of the one query does
        base, t = [], []
        for j, ts in enumerate(qterms):
            for i in sorted({self.term_ix.get(w, -1) for w in ts}):
                if 0 <= i < self.nterms:
                    base.append(j * n)
                    t.append(i)
        lens = self.tlen[t]
        ix = _ranges(self.off[t], lens)
        key = np.array(base, dtype=np.int64).repeat(lens) + self.pos[ix]
        bm25 = np.bincount(key, self.contrib[ix], minlength=q * n)
        hit = np.zeros(q * n, dtype=bool)
        hit[key] = True
        bm25[hit] = round_half_up_array(bm25[hit], SCORE_ROUND)
        bm25, hit = bm25.reshape(q, n), hit.reshape(q, n)
        fq, fp = topk.local_topk(bm25.T, self.ids, k, desc=True, keep=hit.T)

        has_fts = np.zeros((q, n), dtype=bool)
        has_fts[fq, fp] = True
        has_vss = np.zeros((q, n), dtype=bool)
        has_vss[vq, vp] = True
        at = (has_fts | has_vss).ravel().nonzero()[0]
        qi, pos = np.divmod(at, n)
        fts, vss = bm25.ravel()[at], dist[pos, qi]
        has_fts, has_vss = has_fts.ravel()[at], has_vss.ravel()[at]
        return _Candidates(qi, pos, fts, vss, has_fts, has_vss,
                           fuse_values(fts, vss, has_fts, has_vss))

    def overlap(self, qterms: list[list[str]], c: _Candidates
                ) -> np.ndarray:
        """The overlap rerank score of each candidate row: how many of
        its query's distinct terms the document's truncated content
        holds, over their count. A term outside ``term_ix`` is in no
        document. Rows of a query without terms score 0."""
        nt = len(self.term_ix)
        qsets = [set(t) for t in qterms]
        # the sorted keys j * |term_ix| + id of query j's terms, then a
        # key above every probe
        keys = np.array(sorted(j * nt + self.term_ix[t]
                               for j, ts in enumerate(qsets)
                               for t in ts if t in self.term_ix)
                        + [len(qsets) * nt], dtype=np.int64)
        lens = self.rr_len[c.pos]
        probe = ((c.qi * nt).repeat(lens)
                 + self.rr_ids[_ranges(self.rr_off[c.pos], lens)])
        found = keys[keys.searchsorted(probe)] == probe
        hits = np.bincount(
            np.arange(len(lens)).repeat(lens)[found], minlength=len(lens))
        size = np.array([max(len(s), 1) for s in qsets], np.float64)
        return hits / size[c.qi]


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
        load = lambda t: read_table(spark, path(t))  # noqa: E731
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
        """``search_batch([query], ...)[0]``."""
        return self.search_batch([query], top_k, rerank, add_prefix,
                                 remove_prefix)[0]

    def search_batch(self, queries: list[str], top_k: int = TOP_K_DEFAULT,
                     rerank: bool = True,
                     add_prefix: str | None = None,
                     remove_prefix: str | None = None
                     ) -> list[list[dict[str, Any]]]:
        """The ranked results of each query, equal to searching them one
        at a time. The one scoring path of the engine: the queries are
        scored in blocks bounded by BLOCK_BYTES, each block by one pass
        of the snapshot (``_Snapshot.score``), one rerank pass and one
        sort. Raises ValueError for ``top_k < 1`` or above
        functions/topk.MAX_QUERIES queries, before scoring any."""
        if top_k < 1:
            raise ValueError(f"top_k must be at least 1, got {top_k}")
        if len(queries) > topk.MAX_QUERIES:
            raise ValueError(
                f"search_batch takes at most MAX_QUERIES={topk.MAX_QUERIES}"
                f" queries, got {len(queries)}; split the batch"
            )
        snap = self._snap
        if not snap.n:
            return [[] for _ in queries]
        qterms = [self._query_terms(q) for q in queries]
        Q = topk.matrix([self._embed_query(q) for q in queries])
        step = max(1, BLOCK_BYTES // (8 * max(snap.n, len(snap.rr_ids))))
        out = []
        for b in range(0, len(queries), step):
            blk = slice(b, b + step)
            c = snap.score(qterms[blk], Q[blk], top_k)
            out += self._rank(queries[blk], qterms[blk], c, top_k, rerank,
                              add_prefix, remove_prefix)
        return out

    def _finish(self, query: str, qterms: list[str],
                rows: list[dict[str, Any]], top_k: int, rerank: bool,
                add_prefix: str | None, remove_prefix: str | None
                ) -> list[dict[str, Any]]:
        """:meth:`_rank` of one query over candidate rows given as
        dicts, such as the rows of the Spark plan of the same search."""
        val = lambda f: np.array([r[f] or 0.0 for r in rows])  # noqa: E731
        has = lambda f: np.array([r[f] is not None for r in rows])  # noqa
        pos = [self._snap.pos_of[r["doc_id"]] for r in rows]
        c = _Candidates(np.zeros(len(rows), np.int64), np.array(pos, np.int64),
                        val("fts_score"), val("vss_score"), has("fts_score"),
                        has("vss_score"), val("score"))
        return self._rank([query], [qterms], c, top_k, rerank, add_prefix,
                          remove_prefix)[0]

    def _rank(self, queries: list[str], qterms: list[list[str]],
              c: _Candidates, top_k: int, rerank: bool,
              add_prefix: str | None, remove_prefix: str | None
              ) -> list[list[dict[str, Any]]]:
        """Q9-Q13 of a query block on the driver: rerank, threshold,
        then each query's top_k rows by score descending then doc_id
        (position order), as the RESULT_FIELDS of their documents, file
        paths rewritten by the path prefixes."""
        score = c.score
        if rerank and len(c.pos):
            score = self._rerank(queries, qterms, c)
        score = round_half_up_array(score, SCORE_ROUND)
        above = (score > SCORE_THRESHOLD).nonzero()[0]
        order = above[topk.grouped_topk(c.qi[above], score[above],
                                        c.pos[above], top_k, desc=True)]
        out: list[list[dict[str, Any]]] = [[] for _ in queries]
        f = self._snap.fields
        for j, p, s, fv, vv, hf, hv in zip(
                *(a[order].tolist() for a in (c.qi, c.pos, score, c.fts,
                                              c.vss, c.has_fts, c.has_vss))):
            path = trim_path_prefix(f["file_path"][p], remove_prefix)
            out[j].append({
                "doc_id": f["doc_id"][p],
                "file_path": add_path_prefix(path, add_prefix),
                "header_path": f["header_path"][p],
                "line_start": f["line_start"][p],
                "line_end": f["line_end"][p],
                "content": f["content"][p],
                "score": s,
                "fts_score": fv if hf else None,
                "vss_score": vv if hv else None,
            })
        return out

    def _rerank(self, queries: list[str], qterms: list[list[str]],
                c: _Candidates) -> np.ndarray:
        """Q11 of a query block with the reference's fallback ladder
        (searcher.py:261-310), the new score of each candidate row:
        CrossEncoder if available (one call per query), else
        deterministic token overlap; the rows of a query that neither
        scores (a failed CrossEncoder and no query terms) keep their
        fused scores."""
        scores = self._snap.overlap(qterms, c)  # FIXTURES.md §C
        kept = np.array([not t for t in qterms], dtype=bool)
        if self.backend == "sentence-transformers":
            content = self._snap.fields["content"]
            for j, q in enumerate(queries):
                rows = np.flatnonzero(c.qi == j)
                ce = cross_encoder_scores(
                    q, [content[p] for p in c.pos[rows].tolist()],
                    self.model) if len(rows) else None
                if ce is not None:
                    scores[rows] = ce
                    kept[j] = False
        return np.where(kept[c.qi], c.score, scores)
