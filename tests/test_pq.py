"""Product-quantization ANN (operators/knn.py PQ section).

Parity with the DuckDB twin is covered by test_oracle_parity
(ann_pq_topk / ann_pq_recall); here: structural invariants of the
encoding and the quality floor of the ADC scan on this corpus.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from duckdb_hybrid_doc_search_spark.operators import knn

K, NQ = 10, 10


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_pq_encode_shape_and_code_domain(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    n = emb.count()
    codes = knn.pq_encode(emb)
    # exactly M codes per vector
    assert codes.count() == n * knn.PQ_M
    per_vec = codes.groupBy("vec_id").count().where(
        F.col("count") != knn.PQ_M
    )
    assert per_vec.count() == 0
    # every code is a codebook member id (pq_sample_pred)
    assert codes.where(~knn.pq_sample_pred("code")).count() == 0
    # subspace index domain
    assert codes.where(
        (F.col("m") < 0) | (F.col("m") >= knn.PQ_M)
    ).count() == 0


def test_pq_selfmatch_and_recall_floor(spark, sf_dir):
    """A query's own vector must stay rank-1 under ADC (its codes are
    the per-subspace argmin for itself, so its ADC distance is the
    minimum achievable for that query) — losing it would be an encode
    bug, not approximation. Mean recall on random vectors with the
    deterministic codebook is LOW by design (the quality story for a
    trained codebook lives in embeddings_kmeans_train); the floor just
    catches collapse."""
    emb = _emb(spark, sf_dir)
    top = knn.pq_topk(emb, K, NQ)
    self_rows = top.where(F.col("q_id") == F.col("c_id")).select(
        "q_id", "rank"
    ).collect()
    assert sorted(r.q_id for r in self_rows) == list(range(NQ))
    assert all(r.rank == 1 for r in self_rows)

    rec = knn.pq_recall(emb, K, NQ).collect()
    assert len(rec) == NQ
    mean = sum(r.recall_at_k for r in rec) / NQ
    assert mean >= 0.1, f"PQ recall collapsed: {mean:.2f}"


def test_pq_adc_distance_is_sum_of_lut_entries(spark, sf_dir):
    """ADC reconstructs exactly: for one (query, candidate) pair, the
    scored adc_dist equals the sum of the M per-subspace codeword
    distances computed directly."""
    emb = _emb(spark, sf_dir)
    top = knn.pq_topk(emb, K, NQ)
    row = top.where(
        (F.col("q_id") == 0) & (F.col("c_id") != 0)
    ).orderBy("rank").first()
    codes = {
        r.m: r.code
        for r in knn.pq_encode(emb).where(
            F.col("vec_id") == row.c_id
        ).collect()
    }
    vecs = {
        r.vec_id: r.embedding
        for r in emb.where(
            F.col("vec_id").isin([0] + sorted(set(codes.values())))
        ).collect()
    }
    sub = knn.PQ_DIM // knn.PQ_M
    total = 0.0
    for m in range(knn.PQ_M):
        q = vecs[0][m * sub:(m + 1) * sub]
        c = vecs[codes[m]][m * sub:(m + 1) * sub]
        dqq = sum(float(x) * float(x) for x in q)
        dqc = sum(float(x) * float(y) for x, y in zip(q, c))
        dcc = sum(float(x) * float(x) for x in c)
        total += round(dqq - 2.0 * dqc + dcc, 6)
    assert abs(round(total, 6) - row.adc_dist) <= 2e-6


def test_ivfpq_consistency_and_selfmatch(spark, sf_dir):
    """IVF-PQ = PQ scoring restricted to IVF-probed cells: every scored
    pair must carry the SAME adc_dist as the pure-PQ scan gives that
    pair, and the self-match survives (the query's rank-1 probed cell is
    its own assigned cell — same similarity and tie rule — and its ADC
    distance is the per-query minimum)."""
    emb = _emb(spark, sf_dir)
    ivfpq = knn.ivfpq_topk(emb, K, NQ)
    self_rows = ivfpq.where(F.col("q_id") == F.col("c_id")).select(
        "q_id", "rank"
    ).collect()
    assert sorted(r.q_id for r in self_rows) == list(range(NQ))
    assert all(r.rank == 1 for r in self_rows)

    # pairwise score agreement with the full-corpus PQ scan (rank can
    # differ — the candidate sets differ — but a pair's distance cannot)
    big_k = 100
    pq_scores = {
        (r.q_id, r.c_id): r.adc_dist
        for r in knn.pq_topk(emb, big_k, NQ).collect()
    }
    for r in knn.ivfpq_topk(emb, K, NQ).collect():
        key = (r.q_id, r.c_id)
        if key in pq_scores:
            assert pq_scores[key] == r.adc_dist, key


def test_ivfpq_residual_structure_and_selfmatch_rate(spark, sf_dir):
    """Residual encoding: WITHIN its own cell a query's self-match has
    the minimal achievable ADC distance (its codes are the per-subspace
    argmin of its own residual), but candidates from the OTHER probed
    cell are scored against a different query residual that can quantize
    smaller — so rank-1 self-match is a RATE here, not an invariant
    (unlike raw PQ, where test_pq_selfmatch_and_recall_floor proves it
    exactly). Gate: every query returns k rows, a large majority keep
    their self-match, and the centroid query (q_id 0, zero residual)
    works like any other."""
    emb = _emb(spark, sf_dir)
    rows = knn.ivfpq_residual_topk(emb, K, NQ).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r)
    assert sorted(per_q) == list(range(NQ))
    assert all(len(v) == K for v in per_q.values())
    assert all(r.adc_dist is not None for r in rows)
    self_hits = sum(
        1 for r in rows if r.q_id == r.c_id and r.rank <= K
    )
    assert self_hits >= int(0.8 * NQ), f"self-match rate {self_hits}/{NQ}"


def test_sq8_selfmatch_and_near_lossless_recall(spark, sf_dir):
    """SQ8 quality contract: a query's own vector stays rank-1 (its
    dequantized self is the closest reconstruction to itself under the
    per-dim min/max grid), and recall@k vs exact cosine is near 1.0 —
    8-bit per-dim codes are the near-lossless 4x tier, unlike PQ's
    deterministic-codebook ~64x tier."""
    emb = _emb(spark, sf_dir)
    top = knn.sq8_topk(emb, K, NQ)
    self_rows = top.where(F.col("q_id") == F.col("c_id")).select(
        "q_id", "rank"
    ).collect()
    assert sorted(r.q_id for r in self_rows) == list(range(NQ))
    assert all(r.rank == 1 for r in self_rows)

    rec = knn.sq8_recall(emb, K, NQ).collect()
    mean = sum(r.recall_at_k for r in rec) / NQ
    assert mean >= 0.8, f"SQ8 recall should be near-lossless: {mean:.2f}"


def test_pq_rescore_beats_plain_adc_recall(spark, sf_dir):
    """Rescoring exists to repair ADC ranking errors inside the
    shortlist: exact-reranked recall@k must be >= plain ADC recall@k
    for every query (the shortlist contains the ADC top-k, so rerank
    can only promote true neighbors, never lose one it had)."""
    emb = _emb(spark, sf_dir)
    exact = {
        (r.q_id, r.c_id)
        for r in knn.knn_join(
            emb.where(F.col("vec_id") < NQ).select(
                F.col("vec_id").alias("q_id"),
                F.col("embedding").alias("q_vec"),
            ),
            emb.select(F.col("vec_id").alias("c_id"),
                       F.col("embedding").alias("c_vec")),
            K,
        ).collect()
    }

    def recall(df):
        hits = {}
        for r in df.collect():
            hits.setdefault(r.q_id, 0)
            if (r.q_id, r.c_id) in exact:
                hits[r.q_id] += 1
        return {q: n / K for q, n in hits.items()}

    plain = recall(knn.pq_topk(emb, K, NQ))
    rescored = recall(knn.pq_rescore_topk(emb, K, NQ))
    assert set(rescored) == set(range(NQ))
    for q in rescored:
        assert rescored[q] >= plain.get(q, 0.0), q


def test_ivf_kmeans_centroids_plug_into_the_probe(spark, sf_dir):
    """Trained centroids are a drop-in for the deterministic sample:
    same probe plan, k rows, valid recalls for every query — and the
    trained index must not be WORSE on average than the id-sample one
    beyond noise (it sees the data; the sample doesn't)."""
    emb = _emb(spark, sf_dir)
    cent = knn.kmeans_centroids(emb)
    assert cent.count() == knn.derive_nlist(emb.count())
    assert cent.columns == ["cent_id", "cvec"]

    rows = knn.ivf_kmeans_recall(emb, K, NQ).collect()
    assert sorted(r.q_id for r in rows) == list(range(NQ))
    for r in rows:
        assert 0.0 <= r.recall_kmeans <= 1.0
        assert 0.0 <= r.recall_sample <= 1.0
    mean_t = sum(r.recall_kmeans for r in rows) / NQ
    mean_s = sum(r.recall_sample for r in rows) / NQ
    assert mean_t > 0.0
    # generous tolerance: tiny corpus, 4 Lloyd iterations
    assert mean_t >= mean_s - 0.2, (mean_t, mean_s)


def test_pq_rescore_recall_reports_the_gap_closing(spark, sf_dir):
    """pq_rescore_recall is the side-by-side quality record: per query
    recall_rescore >= recall_adc (rerank can only promote true neighbors
    within the shortlist), and on this corpus the MEAN must strictly
    improve — otherwise the rescore stage buys nothing and the registered
    claim would be vacuous."""
    rows = knn.pq_rescore_recall(_emb(spark, sf_dir), K, NQ).collect()
    assert sorted(r.q_id for r in rows) == list(range(NQ))
    for r in rows:
        assert 0.0 <= r.recall_adc <= r.recall_rescore <= 1.0, r
    mean_adc = sum(r.recall_adc for r in rows) / NQ
    mean_resc = sum(r.recall_rescore for r in rows) / NQ
    assert mean_resc > mean_adc, (mean_adc, mean_resc)


def test_ivfpq_side_collect_keeps_the_query_bound(spark, sf_dir,
                                                  monkeypatch):
    """The one side-table collect of ivfpq_topk still refuses a query
    batch over MAX_QUERIES, before any scan."""
    import pytest

    from duckdb_hybrid_doc_search_spark.functions import topk

    monkeypatch.setattr(topk, "MAX_QUERIES", NQ - 1)
    with pytest.raises(ValueError, match="MAX_QUERIES"):
        knn.ivfpq_topk(_emb(spark, sf_dir), K, NQ)
