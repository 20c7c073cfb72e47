"""The serving snapshot's search against a per-query reference: the
reference rounds each score with the scalar Decimal form, tokenizes each
candidate's truncated content for the overlap reranker, computes the row
norms inside the cosine and orders each branch with a full lexsort over
the snapshot's documents. Results must be equal as JSON, NaN included."""

from __future__ import annotations

import json
import os
import pathlib
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_hybrid_doc_search_spark.config import (FUSION_WEIGHT_SINGLE,
                                                   SCORE_ROUND,
                                                   SCORE_THRESHOLD)
from duckdb_hybrid_doc_search_spark.functions import topk
from duckdb_hybrid_doc_search_spark.index.builder import index_directories
from duckdb_hybrid_doc_search_spark.models.embedder import hash_embed_text
from duckdb_hybrid_doc_search_spark.models.tokenizer import tokenize_query
from duckdb_hybrid_doc_search_spark.search import doc_engine
from duckdb_hybrid_doc_search_spark.search.doc_engine import (
    DISPLAY_FIELDS, RESULT_FIELDS, DocSearchEngine)
from duckdb_hybrid_doc_search_spark.utils import round_half_up

FIX = str(pathlib.Path(__file__).parent.parent / "fixtures" / "docs")


def _ref_search(engine, query: str, k: int, rerank: bool) -> list[dict]:
    """One search, the per-query way: only the snapshot's data (display
    fields, embeddings, the BM25 CSR) is shared with the engine."""
    snap = engine._snap
    tok = engine.meta.get("tokenizer", "jp_heuristic")
    qterms = tokenize_query(query, tok)
    rows = []
    if snap.n:
        terms = sorted({snap.term_ix[t] for t in qterms
                        if snap.term_ix.get(t, snap.nterms) < snap.nterms})
        ix = np.concatenate([np.zeros(0, np.int64)] + [
            np.arange(snap.off[t], snap.off[t + 1]) for t in terms])
        raw = np.bincount(snap.pos[ix], snap.contrib[ix], minlength=snap.n)
        hit = np.unique(snap.pos[ix])
        bm25 = np.array([round_half_up(x, SCORE_ROUND) for x in raw[hit]])
        top = np.lexsort((hit, -bm25))[:k]
        fts = {int(hit[i]): float(bm25[i]) for i in top}

        X, Q = snap.X, np.array([hash_embed_text(query, engine.dim)])
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = (X @ Q.T) / (np.sqrt((X * X).sum(axis=1))[:, None]
                               * np.sqrt((Q * Q).sum(axis=1))[None, :])
        dist = np.round(1.0 - cos[:, 0], SCORE_ROUND)
        top = np.lexsort((np.arange(snap.n), dist))[:k]
        vss = {int(p): float(dist[p]) for p in top}

        for p in fts.keys() | vss.keys():
            f, v = fts.get(p), vss.get(p)
            fused = ((f + v) / 2.0 if f is not None and v is not None
                     else (v if f is None else f) * FUSION_WEIGHT_SINGLE)
            row = {c: snap.fields[c][p] for c in DISPLAY_FIELDS}
            row.update(fts_score=f, vss_score=v,
                       score=round_half_up(fused, SCORE_ROUND))
            rows.append(row)
    qset = set(qterms)
    if rerank and rows and qset:
        for r in rows:
            toks = set(tokenize_query(r["content"][:2048], tok))
            r["score"] = round_half_up(len(qset & toks) / len(qset),
                                       SCORE_ROUND)
    # threshold first: a NaN score (zero-norm row) fails it, and left in
    # it would break the sort's order
    rows = [r for r in rows if r["score"] > SCORE_THRESHOLD]
    rows = sorted(rows, key=lambda r: (-r["score"], r["doc_id"]))[:k]
    return [{c: r[c] for c in RESULT_FIELDS} for r in rows]


def _same_json(got, want) -> bool:
    return json.dumps(got, sort_keys=True) == json.dumps(want, sort_keys=True)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("snapidx"))
    index_directories(spark, [FIX], out)
    return DocSearchEngine(spark, out)


def _sweep_queries(engine) -> list[str]:
    snap = engine._snap
    rng = np.random.default_rng(8)
    posting = sorted(t for t, i in snap.term_ix.items() if i < snap.nterms)
    cjk = [t for t in posting if not t.isascii()]
    ascii_ = [t for t in posting if t.isascii()]
    qs = ["", "   ", "!!! ??", "zzqxq", "zzqxq wvvqy", "全文検索",
          "全文検索 の 仕組み", "final text", "nested directory content",
          # tokens of a truncated content[:2048] only (a word cut at the
          # truncation point), with a term of the same chunk
          "word675 word", "word269 wor", "word wor", "wor"]
    for _ in range(30):
        qs.append(" ".join(rng.choice(ascii_, rng.integers(1, 4))))
    for _ in range(25):
        qs.append("".join(rng.choice(cjk, rng.integers(1, 3))))
    for _ in range(20):
        qs.append(" ".join([*rng.choice(ascii_, 1), *rng.choice(cjk, 1),
                            "zzqxq"]))
    return qs


def test_search_equals_per_query_reference(engine):
    snap = engine._snap
    # the fixtures' oversize chunks cut words at the truncation point, so
    # the out-of-vocabulary rerank path is exercised
    tail = {t for t, i in snap.term_ix.items() if i >= snap.nterms}
    assert {"word", "wor"} <= tail
    queries = _sweep_queries(engine)
    runs = 0
    for q in queries:
        for k in (1, 5, 100):
            for rerank in (False, True):
                got = engine.search(q, top_k=k, rerank=rerank)
                want = _ref_search(engine, q, k, rerank)
                assert _same_json(got, want), (q, k, rerank)
                runs += 1
    assert runs >= 500
    # a tail token scores: "word" is in the truncated content of the
    # chunk holding word675, which its truncation cuts off
    hits = engine.search("word675 word", top_k=5, rerank=True)
    assert any(r["score"] == 0.5 and "word675" in r["content"]
               for r in hits)


def _index_with_zero_embeddings(spark, tmp_path, bodies: list[str],
                                zero: list[int]) -> str:
    """An index of one document per body whose embeddings at the doc_id
    ranks ``zero`` are all zeros."""
    src = tmp_path / "src"
    src.mkdir()
    for i, body in enumerate(bodies):
        (src / f"d{i}.md").write_text(f"# Doc {i}\n\n{body}\n")
    out = str(tmp_path / "idx")
    index_directories(spark, [str(src)], out)
    emb_dir = os.path.join(out, "embeddings")
    emb = pq.read_table(emb_dir)
    vecs = emb["embedding"].to_pylist()
    ranked = sorted(range(len(vecs)), key=lambda i: emb["doc_id"][i].as_py())
    for r in zero:
        vecs[ranked[r]] = [0.0] * len(vecs[ranked[r]])
    emb = emb.set_column(emb.schema.get_field_index("embedding"),
                         emb.schema.field("embedding"),
                         pa.array(vecs, emb.schema.field("embedding").type))
    shutil.rmtree(emb_dir)
    os.makedirs(emb_dir)
    pq.write_table(emb, os.path.join(emb_dir, "part-0.parquet"))
    return out


def test_zero_norm_embedding_ranks_last_as_nan(spark, tmp_path):
    """An index whose embedding of one document is all zeros: its cosine
    distance is NaN, it ranks after every finite row of the VSS branch,
    nothing raises, and the search equals the per-query reference."""
    out = _index_with_zero_embeddings(
        spark, tmp_path,
        ["alpha beta gamma", "beta delta", "gamma epsilon alpha"], [0])
    eng = DocSearchEngine(spark, out)
    snap = eng._snap
    assert snap.n == 3 and snap.xnorm[0] == 0.0  # doc_id order: zero first
    queries = ["alpha", "beta delta", "zzqxq", ""]
    for q in queries:
        qterms = [eng._query_terms(q)]
        Q = topk.matrix([hash_embed_text(q, eng.dim)])
        full, short = snap.score(qterms, Q, 3), snap.score(qterms, Q, 2)
        zrow = full.has_vss & (full.pos == 0)
        assert zrow.sum() == 1 and np.isnan(full.vss[zrow]).all()
        # the two finite rows fill a VSS top-2, ahead of doc_id order
        assert not np.isnan(short.vss[short.has_vss]).any()
        for k in (1, 3):
            for rerank in (False, True):
                got = eng.search(q, top_k=k, rerank=rerank)
                assert _same_json(got, _ref_search(eng, q, k, rerank)), (
                    q, k, rerank)
                scores = [r["score"] for r in got]
                assert scores == sorted(scores, reverse=True)
    for k in (1, 3):
        for rerank in (False, True):
            got = eng.search_batch(queries, top_k=k, rerank=rerank)
            for q, res in zip(queries, got):
                assert _same_json(res, _ref_search(eng, q, k, rerank)), (
                    q, k, rerank)


def test_nan_scores_keep_the_ranking_sorted(spark, tmp_path):
    """Zero-norm documents between others in doc_id order: without
    rerank their fused scores are NaN, which the threshold drops; the
    other rows stay in score order."""
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    out = _index_with_zero_embeddings(
        spark, tmp_path, [" ".join(words[i:i + 3]) for i in range(6)],
        [1, 3])
    eng = DocSearchEngine(spark, out)
    queries = ["alpha", "beta zeta", "zzqxq", "", "gamma delta"]
    for q, got in zip(queries, eng.search_batch(queries, top_k=6,
                                                rerank=False)):
        scores = [r["score"] for r in got]
        assert scores == sorted(scores, reverse=True), q
        assert len(got) == 4, q  # the 4 finite rows pass the threshold
        assert _same_json(got, _ref_search(eng, q, 6, False)), q


@pytest.fixture(scope="module")
def refs(engine):
    """_ref_search of every sweep query at each top_k (one above the
    document count included) and rerank setting."""
    ks = (1, 5, 100, engine._snap.n + 1)
    queries = _sweep_queries(engine)
    return queries, {(q, k, r): _ref_search(engine, q, k, r)
                     for q in queries for k in ks for r in (False, True)}


@pytest.mark.parametrize("size", [1, 2, 7, 32, 88])
def test_search_batch_equals_per_query_reference(engine, refs, size):
    queries, want = refs
    assert len(queries) == 88
    for k in {k for _, k, _ in want}:
        for rerank in (False, True):
            for b in range(0, len(queries), size):
                batch = queries[b:b + size]
                got = engine.search_batch(batch, top_k=k, rerank=rerank)
                assert len(got) == len(batch)
                for q, res in zip(batch, got):
                    assert _same_json(res, want[q, k, rerank]), (
                        q, k, rerank, size)


def test_search_batch_repeats_and_empty_queries(engine, refs):
    _, want = refs
    batch = ["final text", "", "final text", "!!! ??", "   ", "全文検索",
             "", "final text", "zzqxq"]
    for rerank in (False, True):
        got = engine.search_batch(batch, top_k=5, rerank=rerank)
        for q, res in zip(batch, got):
            assert _same_json(res, want[q, 5, rerank]), (q, rerank)
    assert got[1] == got[6] and got[0] == got[2] == got[7]


def test_search_batch_split_into_query_blocks(engine, refs, monkeypatch):
    """A block budget of three queries splits an 88-query batch into 30
    blocks; the results equal the unsplit batch's."""
    queries, _ = refs
    whole = {r: engine.search_batch(queries, top_k=5, rerank=r)
             for r in (False, True)}
    sizes = []
    score = doc_engine._Snapshot.score

    def counted(self, qterms, Q, k):
        sizes.append(len(qterms))
        return score(self, qterms, Q, k)

    monkeypatch.setattr(doc_engine._Snapshot, "score", counted)
    snap = engine._snap
    monkeypatch.setattr(doc_engine, "BLOCK_BYTES",
                        3 * 8 * max(snap.n, len(snap.rr_ids)) + 7)
    for r in (False, True):
        sizes.clear()
        assert engine.search_batch(queries, top_k=5, rerank=r) == whole[r]
        assert sizes == [3] * 29 + [1]


def test_search_batch_takes_exactly_max_queries(engine, refs):
    queries, want = refs
    batch = (queries * (topk.MAX_QUERIES // len(queries) + 1)
             )[:topk.MAX_QUERIES]
    got = engine.search_batch(batch, top_k=5)
    assert len(got) == topk.MAX_QUERIES
    for q, res in zip(batch, got):
        assert _same_json(res, want[q, 5, True]), q
    with pytest.raises(ValueError, match="MAX_QUERIES"):
        engine.search_batch(batch + ["x"], top_k=5)


@pytest.mark.parametrize("k", [0, -1, -3])
def test_top_k_below_one_raises_before_scoring(engine, monkeypatch, k):
    def no_scoring(*args, **kwargs):
        raise AssertionError("scored a search with top_k < 1")

    monkeypatch.setattr(doc_engine._Snapshot, "score", no_scoring)
    with pytest.raises(ValueError, match="top_k"):
        engine.search("final text", top_k=k)
    with pytest.raises(ValueError, match="top_k"):
        engine.search_batch(["final text", ""], top_k=k)
