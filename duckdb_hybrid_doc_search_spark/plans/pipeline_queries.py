"""LLM-data-pipeline operator registrations: dedup family, text analytics,
similarity search (brute-force + IVF) — the north-star extensions beyond the
reference's own surface, each gated against a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.catalog import load_table, read_table
from ..operators import bpe, curation, dedup, knn, packing, textstats, udtfs
from .registry import register

ANN_K = 5
ANN_N_QUERIES = 10


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# --- dedup family ------------------------------------------------------------


@register("dedup_exact", oracle=dedup.dd_dedup_exact_sql())
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_exact(_docs(spark, sf_dir))


@register("dedup_minhash_lsh", oracle=dedup.dd_dedup_minhash_lsh_sql())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_minhash_lsh(_docs(spark, sf_dir))


#: driver-gate bucket cap for dedup_minhash_lsh_bounded: the sf0.01/sf0.1
#: corpora have natural band buckets of at most ~3 docs, so the production
#: LSH_BUCKET_CAP=64 would never exercise the star-emission branch at the
#: gate's scale — cap=2 makes every 3-doc bucket take the star path while
#: 1-2 doc buckets take the exact all-pairs path, so BOTH branches are
#: hash-gated every rotation. The adversarial M-dup fixture test covers
#: production-sized clusters (tests/test_dedup_strategies.py, M to 2000).
LSH_GATE_CAP = 2


@register("dedup_minhash_lsh_bounded",
          oracle=dedup.dd_dedup_minhash_lsh_bounded_sql(cap=LSH_GATE_CAP))
def dedup_minhash_lsh_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-bucket-BOUNDED banded LSH (r13 VERDICT #1 — the band
    self-join was O(M²) inside a bucket of M docs, a scale-killer on
    web corpora where million-doc boilerplate clusters are the norm):
    buckets over the cap emit star pairs to the bucket's min doc_id (a
    spanning set — component grouping preserved exactly, pinned on an
    adversarial M-dup fixture), buckets at or under it keep the exact
    all-pairs emission with unchanged est_jaccard semantics."""
    return dedup.dedup_minhash_lsh_bounded(_docs(spark, sf_dir),
                                           cap=LSH_GATE_CAP)


@register("dedup_incremental_batch",
          oracle=dedup.dd_dedup_incremental_batch_sql())
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time dedup: each new-batch document decided against
    the already-kept corpus (exact fingerprint semi-join, then the
    banded LSH join restricted to batch x existing — never corpus x
    corpus). Since r8 this probes the WRITTEN append-only signature
    store (index/dedup_layout, built once per corpus fingerprint), so
    per-shard compute is batch-proportional: the existing side is a
    column-pruned scan of persisted hash tables, never a re-tokenize of
    the kept corpus (the r7 bench regression). Deterministic doc_id % 5
    split keeps the oracle exact; signatures are per-doc deterministic
    so probe == self-contained form, value for value."""
    from ..index.dedup_layout import (
        ensure_dedup_layout)

    docs = _docs(spark, sf_dir)
    existing = docs.where(F.col("doc_id") % dedup.BATCH_MOD != 0)
    layout = ensure_dedup_layout(spark, existing, sf_dir)
    return dedup.dedup_incremental_probe(spark, docs, layout)


@register("dedup_incremental_layout_probe",
          oracle=dedup.dd_dedup_incremental_batch_sql())
def dedup_incremental_layout_probe(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Append-path twin of dedup_incremental_batch: the signature store
    it probes REACHED its final state through incremental maintenance
    (base build over ~6/7 of the kept corpus + append_dedup_signatures
    for the rest), so a green row proves store maintenance doesn't
    drift — per-doc-deterministic signatures make build+append equal a
    one-shot build, and the result must match the same full-corpus
    oracle."""
    from ..index.dedup_layout import (
        ensure_dedup_append_layout)

    docs = _docs(spark, sf_dir)
    existing = docs.where(F.col("doc_id") % dedup.BATCH_MOD != 0)
    layout = ensure_dedup_append_layout(spark, existing, sf_dir)
    return dedup.dedup_incremental_probe(spark, docs, layout)


@register("dedup_ngram_jaccard", oracle=dedup.dd_dedup_ngram_jaccard_sql())
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_ngram_jaccard(_docs(spark, sf_dir))


@register("dedup_simhash", oracle=dedup.dd_simhash_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_signatures(_docs(spark, sf_dir))


@register("dedup_embedding_cosine", oracle=dedup.dd_dedup_embedding_cosine_sql())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_embedding_cosine(_emb(spark, sf_dir))


@register("dedup_embedding_whitened",
          oracle=dedup.dd_dedup_embedding_whitened_sql())
def dedup_embedding_whitened(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs on diagonally-WHITENED vectors (per-dimension
    standardization — the anisotropy correction semantic dedup applies
    before trusting cosine: common-direction energy otherwise
    manufactures similarity between unrelated documents). Same exact
    blocked-GEMM machinery and pair contract as dedup_embedding_cosine;
    one bounded 2D-scalar stats aggregate in front. Threshold 0.4 is
    3.2 sigma of the whitened-cosine null at D=64 (see
    WHITEN_DUP_THRESHOLD)."""
    return dedup.dedup_embedding_whitened(_emb(spark, sf_dir))


@register("dedup_embedding_ivf", oracle=dedup.dd_dedup_embedding_ivf_sql())
def dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-bucketed embedding near-dup pairs (r11; multi-probe r12,
    widened to top-3 in r13 per the r12 VERDICT #5 price sweep):
    candidates only within the frozen IVF cell assignment, each vector
    stored in its top-DEDUP_IVF_NPROBE cells
    (index/ivf_layout.write_ivf_multiprobe — recall vs the exact pair
    set 0.41 single-probe, 0.71 top-2, 0.92 top-3 at sf0.01; the >=0.8
    bar production SemDeDup sweeps want), pair space ~p^2 * N^1.5/2 —
    still never all-pairs; the price table lives in PERF_NOTES and the
    recall pins in tests/test_dedup_embedding_ivf.py. Reads the persisted multiprobe
    layout frame directly — (vec_id, embedding, cell) are co-located on
    disk, so no assignment crossJoin and no embeddings re-join (the
    nprobe curve's r11 pattern, taken one step further)."""
    from ..index.ivf_layout import ensure_ivf_multiprobe_layout

    emb = _emb(spark, sf_dir)
    out_dir = ensure_ivf_multiprobe_layout(spark, emb, sf_dir)
    return dedup.dedup_embedding_ivf(
        emb, cells=read_table(spark, out_dir)
        .select("vec_id", "embedding", "cell"),
    )


@register("dedup_embedding_ivf_whitened",
          oracle=dedup.dd_dedup_embedding_ivf_whitened_sql())
def dedup_embedding_ivf_whitened(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The whitening correction ON the 100 TB dedup path (r13 VERDICT
    #2 — dedup_embedding_whitened was exact-GEMM-only while the scale
    path bucketed raw anisotropic cosine): per-dimension standardize
    first (moments frozen in the layout meta, the centroid-contract
    pattern), then the same top-DEDUP_IVF_NPROBE multiprobe cell layout
    over z-vectors, within-cell pairs at WHITEN_DUP_THRESHOLD. Same
    (vec_a, vec_b, cos_sim) contract; recall vs the exact whitened
    pair set is in PERF_NOTES next to the raw table."""
    from ..index.ivf_layout import ensure_ivf_multiprobe_whitened_layout

    emb = _emb(spark, sf_dir)
    out_dir = ensure_ivf_multiprobe_whitened_layout(spark, emb, sf_dir)
    return dedup.dedup_embedding_ivf(
        emb, cells=read_table(spark, out_dir)
        .select("vec_id", "embedding", "cell"),
        threshold=dedup.WHITEN_DUP_THRESHOLD,
    )


@register("dedup_embedding_ivf_append_probe",
          oracle=dedup.dd_dedup_embedding_ivf_sql())
def dedup_embedding_ivf_append_probe(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Append-path twin of dedup_embedding_ivf (r12 VERDICT #2: the
    multiprobe layout was build-once): the top-3 cell layout it probes
    REACHED its final state through incremental maintenance — base
    build over ~80% of the vectors, the rest appended via
    append_multiprobe_vectors against the frozen centroid set. Frozen-
    centroid append equivalence means base+append equals a one-shot
    build row-for-row, so the near-dup pair set must hash-match the
    SAME full-table oracle as dedup_embedding_ivf — a drifted append
    (wrong p, re-derived nlist, duplicate rows) flips the row."""
    from ..index.ivf_layout import ensure_ivf_multiprobe_append_layout

    emb = _emb(spark, sf_dir)
    out_dir = ensure_ivf_multiprobe_append_layout(spark, emb, sf_dir)
    return dedup.dedup_embedding_ivf(
        emb, cells=read_table(spark, out_dir)
        .select("vec_id", "embedding", "cell"),
    )


@register("dedup_duplicate_spans",
          oracle=dedup.dd_dedup_duplicate_spans_sql())
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup (hashed n-gram form of Lee et al.
    2022): token positions whose 8-gram repeats anywhere in the corpus,
    merged into maximal per-doc spans — inverted index on the n-gram
    hash + gaps-and-islands windows, never all-pairs."""
    return dedup.dedup_duplicate_spans(_docs(spark, sf_dir))


@register("dedup_trim_spans",
          oracle=dedup.dd_dedup_trim_spans_sql())
def dedup_trim_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable output of span dedup: the corpus with every
    duplicated span REMOVED (kept tokens rejoined in order) — the
    text-emitting half of the Lee et al. pipeline. Coverage expands
    only the dup positions; the rebuild is a sorted-struct aggregate."""
    return dedup.dedup_trim_spans(_docs(spark, sf_dir))


@register("dedup_semantic_cells", oracle=dedup.dd_semdedup_sql())
def dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (cluster-bucketed semantic dedup): near-dup pairs sought
    ONLY within embedding clusters, keep-the-diverse rule per cluster —
    the published pipeline shape that bounds the pair space to k
    independent (N/k)^2 cells instead of one N^2."""
    return dedup.semdedup(_emb(spark, sf_dir))


@register("dedup_semantic_kmeans_cells", oracle=None, bench=False,
          executes_on_build=True)
def dedup_semantic_kmeans_cells(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Trained-centroid SemDeDup diagnostic: the unchanged cell-bounded
    plan run with Lloyd-trained centroids at the same k as the sqrt(N)
    id-stride, drop statistics side by side plus a delta row — proves
    the centroid seam is a build-time pluggable on the dedup side too
    (rows-only: the Lloyd float loop is not cross-engine SQL-stable;
    executes_on_build: counts + trains centroids when invoked)."""
    return dedup.semdedup_kmeans_cells(_emb(spark, sf_dir))


@register("dedup_components", oracle=dedup.dd_dedup_components_sql())
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.dedup_components(_docs(spark, sf_dir))


@register("dedup_components_star", oracle=dedup.dd_dedup_components_sql())
def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by alternating large-star/small-star rounds
    (Kiveris et al., SoCC 2014) — the extreme-scale twin
    dedup_components' docstring promises (r12): state is the edge set
    itself (two per-node min aggregates per round, no 3-way-unioned
    label table), O(log n) rounds, min-id labels. Same recursive-CTE
    oracle as dedup_components — the two algorithms converge to the
    identical fixpoint (also pinned directly in
    tests/test_dedup_strategies.py, incl. adversarial chain/star/bridge
    graphs via the injectable pair seam)."""
    return dedup.dedup_components_star(_docs(spark, sf_dir))


# --- corpus curation ---------------------------------------------------------


@register("corpus_sample_stratified",
          oracle=curation.dd_stratified_sample_sql())
def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.stratified_sample(_docs(spark, sf_dir))


@register("corpus_curation_pipeline",
          oracle=curation.dd_curation_pipeline_sql())
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.curation_pipeline(_docs(spark, sf_dir))


# --- text analytics ----------------------------------------------------------


@register("text_token_stats", oracle=textstats.dd_token_stats_sql())
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_stats(_docs(spark, sf_dir))


@register("text_quality_scores", oracle=textstats.dd_quality_scores_sql())
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_scores(_docs(spark, sf_dir))


@register("text_language_id", oracle=textstats.dd_language_id_sql())
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.language_id(_docs(spark, sf_dir))


@register("text_fingerprints", oracle=textstats.dd_doc_fingerprints_sql())
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.doc_fingerprints(_docs(spark, sf_dir))


@register("text_term_frequencies", oracle=textstats.dd_term_frequencies_sql())
def text_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.term_frequencies(_docs(spark, sf_dir))


@register("text_gopher_quality", oracle=textstats.dd_gopher_quality_sql())
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule set (Rae et al. 2021, arXiv:2112.11446 Table A1)
    as per-doc boolean gates — word-count/mean-word-length bounds,
    symbol and bullet/ellipsis line ratios, alphabetic-word fraction,
    required-stopword presence — every threshold an exact integer
    cross-multiplication so the oracle hashes identically. One scan,
    no joins: the canonical first-pass web-corpus filter shape."""
    return textstats.gopher_quality(_docs(spark, sf_dir))


@register("text_gopher_repetition",
          oracle=textstats.dd_gopher_repetition_sql())
def text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repetition half of the Gopher rules (arXiv:2112.11446 Table
    A1): top-2/3/4-gram character mass and duplicated-5/10-gram
    character mass, each gated by integer cross-multiplication against
    the paper's thresholds. One posexplode + per-doc lead() window
    builds every rule size's grams codegen-side; all sizes share one
    (doc_id, n, gram) aggregate (9.5x over the interpreted-HOF form)."""
    return textstats.gopher_repetition(_docs(spark, sf_dir))


@register("corpus_filter_funnel", oracle=textstats.dd_filter_funnel_sql())
def corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule attrition across the composed curation rules (Gopher
    quality -> repetition -> C4 page gates): n_in / n_removed / n_out
    per stage — the removal-rate report real pipelines publish
    (RefinedWeb Fig. 2 shape). One flag pass; each doc reduces to its
    first-failing-stage index, so the funnel is a <=11-row aggregate."""
    return textstats.filter_funnel(_docs(spark, sf_dir))


@register("corpus_c4_line_filters",
          oracle=textstats.dd_c4_line_filters_sql())
def corpus_c4_line_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2019, arXiv:1910.10683 §2.2)
    as per-doc counts + gates: terminal-punctuation + >=5-word line
    keeps, >=3-sentence page floor, lorem-ipsum / curly-brace page
    drops. Column expressions over one scan."""
    return textstats.c4_line_filters(_docs(spark, sf_dir))


# --- similarity search -------------------------------------------------------


_KNN_QUERIES_SQL = (
    f"SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings "
    f"WHERE vec_id < {ANN_N_QUERIES}"
)


@register(
    "ann_brute_topk",
    oracle=knn.dd_knn_join_sql(ANN_K, _KNN_QUERIES_SQL),
)
def ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    return knn.knn_join(queries, corpus, ANN_K)


_IVF_RECALL_ORACLE = f"""
WITH ivf_res AS ({knn.dd_ivf_topk_sql(ANN_K, ANN_N_QUERIES)}),
brute_res AS ({knn.dd_knn_join_sql(ANN_K, _KNN_QUERIES_SQL)}),
hits AS (
  SELECT b.q_id, count(*)::BIGINT AS n_hit
  FROM brute_res b JOIN ivf_res i ON b.q_id = i.q_id AND b.c_id = i.c_id
  GROUP BY b.q_id
),
qids AS (SELECT DISTINCT q_id FROM brute_res)
SELECT q.q_id,
       round(coalesce(h.n_hit, 0) * 1.0 / {ANN_K}, 6) AS recall_at_k
FROM qids q LEFT JOIN hits h ON q.q_id = h.q_id
""".strip()


@register("ann_ivf_recall", oracle=_IVF_RECALL_ORACLE)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation quality as a first-class, driver-recorded metric:
    recall@k of the IVF probe against the exact brute-force top-k, per
    query. Both inputs are deterministic, so the recall itself is
    oracle-gated, not just eyeballed in tests."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    corpus = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    from ..index.ivf_layout import ensure_ivf_layout, ivf_partitioned_topk

    brute = knn.knn_join(queries, corpus, ANN_K).select("q_id", "c_id")
    out_dir = ensure_ivf_layout(spark, emb, sf_dir)
    ivf = ivf_partitioned_topk(
        spark, out_dir, emb, ANN_K, ANN_N_QUERIES
    ).select("q_id", "c_id")
    hits = brute.join(ivf, ["q_id", "c_id"], "left_semi").groupBy(
        "q_id"
    ).agg(F.count(F.lit(1)).alias("n_hit"))
    qids = brute.select("q_id").distinct()
    return qids.join(hits, "q_id", "left").select(
        "q_id",
        F.round(
            F.coalesce(F.col("n_hit"), F.lit(0)) / F.lit(ANN_K), 6
        ).alias("recall_at_k"),
    )


@register("ann_hnsw_topk", oracle=None)
def ann_hnsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-ANN (HNSW-class) top-k via partition-local NSW graphs
    (operators/hnsw.py) — rows-only: greedy graph traversal is not
    SQL-expressible; quality is recorded by ann_hnsw_recall instead."""
    from ..operators.hnsw import hnsw_topk

    return hnsw_topk(_emb(spark, sf_dir), ANN_K, ANN_N_QUERIES)


@register("ann_hnsw_recall", oracle=None)
def ann_hnsw_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the graph search vs the exact scan (plus lost
    self-matches, which would be index bugs) — the approximation is a
    recorded number (rows-only: the graph side is not SQL-expressible)."""
    from ..operators.hnsw import hnsw_recall_vs_exact

    return hnsw_recall_vs_exact(_emb(spark, sf_dir), ANN_K, ANN_N_QUERIES)


@register("ann_ivf_topk", oracle=knn.dd_ivf_topk_sql(ANN_K, ANN_N_QUERIES))
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probes the PERSISTED cell-partitioned layout (built once per sf_dir,
    reused across runs) instead of re-deriving the assignment in-plan —
    the bench then measures the scale design: a partition-pruned scan of
    ~nprobe/n_cells of the corpus. Result identical to knn.ivf_topk
    (tests/test_ivf_layout.py asserts equality), so the oracle is unchanged.
    """
    from ..index.ivf_layout import ensure_ivf_layout, ivf_partitioned_topk

    emb = _emb(spark, sf_dir)
    out_dir = ensure_ivf_layout(spark, emb, sf_dir)
    return ivf_partitioned_topk(spark, out_dir, emb, ANN_K, ANN_N_QUERIES)


@register("ann_pq_topk", oracle=knn.dd_pq_topk_sql(ANN_K, ANN_N_QUERIES))
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k: corpus compressed to M=4 per-
    subspace codes against a deterministic codebook, queries scored by
    summing M lookup-table entries — the compressed-scan ANN family
    (IVF prunes WHERE to read; PQ shrinks WHAT is read ~64x). Probes the
    PERSISTED codes layout (encode is a write-time cost, the only place
    it happens at 100 TB); result identical to the query-time
    knn.pq_topk spec (tests/test_ivfpq_layout.py), so the oracle is
    unchanged. ann_pq_recall records the approximation quality."""
    from ..index.ivfpq_layout import ensure_ivfpq_layout, pq_layout_topk

    emb = _emb(spark, sf_dir)
    out_dir = ensure_ivfpq_layout(spark, emb, sf_dir)
    return pq_layout_topk(spark, out_dir, emb, ANN_K, ANN_N_QUERIES)


@register("ann_pq_recall", oracle=knn.dd_pq_recall_sql(ANN_K, ANN_N_QUERIES))
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the PQ/ADC scan vs the exact cosine top-k per query —
    the compression-quality number, recorded not hoped. Layout-backed
    like ann_pq_topk; the exact side scans raw vectors by design (it is
    the ground truth)."""
    from ..index.ivfpq_layout import ensure_ivfpq_layout, pq_layout_recall

    emb = _emb(spark, sf_dir)
    out_dir = ensure_ivfpq_layout(spark, emb, sf_dir)
    return pq_layout_recall(spark, out_dir, emb, ANN_K, ANN_N_QUERIES)


@register("ann_ivfpq_topk",
          oracle=knn.dd_ivfpq_topk_sql(ANN_K, ANN_N_QUERIES))
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed 100 TB ANN probe: IVF prunes to NPROBE cells, PQ
    scores the survivors by M LUT lookups over their codes — read
    nprobe/n_cells of a ~64x-compressed table instead of the corpus."""
    return knn.ivfpq_topk(_emb(spark, sf_dir), ANN_K, ANN_N_QUERIES)


@register("ann_ivfpq_residual_topk",
          oracle=knn.dd_ivfpq_residual_topk_sql(ANN_K, ANN_N_QUERIES))
def ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ — the production encoding (codes over vector
    minus cell centroid, per-probed-cell query LUT). Same pruned
    compressed-scan plan shape as ann_ivfpq_topk."""
    return knn.ivfpq_residual_topk(_emb(spark, sf_dir), ANN_K,
                                   ANN_N_QUERIES)


@register("embeddings_hard_negatives",
          oracle=knn.dd_hard_negatives_sql(ANN_K, ANN_N_QUERIES))
def embeddings_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: per query, the top-k most
    similar DIFFERENT-label vectors — offline counterpart of in-batch
    negatives; broadcast query side, label filter before the rank
    window."""
    return knn.hard_negatives(_emb(spark, sf_dir), ANN_K, ANN_N_QUERIES)


@register("ann_ivfpq_recall",
          oracle=knn.dd_ivfpq_recall_sql(ANN_K, ANN_N_QUERIES))
def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the composed IVF-prune x PQ-ADC probe vs the exact
    cosine top-k — the quality number for the full compressed 100 TB
    shape, capturing IVF cell misses AND quantization error together
    (ann_pq_recall isolates the latter; ann_ivf_nprobe_curve the
    former)."""
    return knn.ivfpq_recall(_emb(spark, sf_dir), ANN_K, ANN_N_QUERIES)


@register("ann_ivfpq_layout_probe",
          oracle=knn.dd_ivfpq_topk_sql(ANN_K, ANN_N_QUERIES))
def ann_ivfpq_layout_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ from DISK: probes the written cell-partitioned codes
    layout (index/ivfpq_layout.py — PartitionFilters prune to NPROBE
    cells of a ~64x-compressed table; raw vectors never read at query
    time). Same oracle as ann_ivfpq_topk: identical semantics, different
    physical source."""
    from ..index.ivfpq_layout import ensure_ivfpq_layout, ivfpq_layout_topk

    emb = _emb(spark, sf_dir)
    out_dir = ensure_ivfpq_layout(spark, emb, sf_dir)
    return ivfpq_layout_topk(spark, out_dir, emb, ANN_K, ANN_N_QUERIES)


@register("ann_sq8_topk", oracle=knn.dd_sq8_topk_sql(ANN_K, ANN_N_QUERIES))
def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-bit scalar-quantized top-k — the 4x compression tier below PQ's
    ~64x: per-dimension 0..255 codes against broadcast corpus min/max,
    asymmetric squared-L2 (raw query vs dequantized candidate). One
    map-side dequant pass + one top-k shuffle; near-lossless ranking
    (ann_sq8_recall records it)."""
    return knn.sq8_topk(_emb(spark, sf_dir), ANN_K, ANN_N_QUERIES)


@register("ann_sq8_recall",
          oracle=knn.dd_sq8_recall_sql(ANN_K, ANN_N_QUERIES))
def ann_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the SQ8 scan vs exact cosine top-k — recorded
    quality for the 4x tier (contrast with PQ's deterministic-codebook
    recall; SQ8 should sit near 1.0)."""
    return knn.sq8_recall(_emb(spark, sf_dir), ANN_K, ANN_N_QUERIES)


@register("ann_sq8_layout_probe",
          oracle=knn.dd_sq8_topk_sql(ANN_K, ANN_N_QUERIES))
def ann_sq8_layout_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 from DISK: probes the written array<smallint> codes layout
    (index/sq8_layout.py — the corpus stored once at 1/4 the bytes, raw
    vectors never read at query time; the O(dim) stats row broadcasts).
    Same oracle as ann_sq8_topk: identical semantics, different physical
    source (quantize-then-store == quantize-inline, bit-pinned by
    test_sq8_layout.py)."""
    from ..index.sq8_layout import ensure_sq8_layout, sq8_layout_topk

    emb = _emb(spark, sf_dir)
    out_dir = ensure_sq8_layout(spark, emb, sf_dir)
    return sq8_layout_topk(spark, out_dir, emb, ANN_K, ANN_N_QUERIES)


@register("ann_pq_rescore_topk",
          oracle=knn.dd_pq_rescore_topk_sql(ANN_K, ANN_N_QUERIES))
def ann_pq_rescore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortlist-then-rescore — the production ANN pattern at 100 TB:
    ADC over PQ codes keeps k*RESCORE_MULT candidates per query from the
    compressed table; only those fetch raw vectors for exact cosine
    rerank, so exact math touches O(k*mult*n_queries) rows, never the
    corpus. Probes the WRITTEN codes layout (encode is a write-time
    cost); identical to the query-time knn.pq_rescore_topk spec, so the
    oracle is unchanged. test_pq.py pins rescored recall >= plain ADC
    recall."""
    from ..index.ivfpq_layout import (ensure_ivfpq_layout,
                                      pq_layout_rescore_topk)

    emb = _emb(spark, sf_dir)
    out_dir = ensure_ivfpq_layout(spark, emb, sf_dir)
    return pq_layout_rescore_topk(spark, out_dir, emb, ANN_K,
                                  ANN_N_QUERIES)


@register("ann_ivf_kmeans_recall", oracle=None,
          executes_on_build=True)
def ann_ivf_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF probe with kmeans-TRAINED centroids vs the
    deterministic id-sample, side by side vs exact — proof that the
    centroid source is a pluggable seam on an unchanged probe plan
    (rows-only: the float Lloyd loop is not cross-engine SQL-stable;
    the probe plan itself is the oracled ivf_topk shape). r12 (r11
    VERDICT #4): the trained centroids AND their stored (c_id, c_vec,
    cell) assignment are read from the WRITTEN trained layout instead of
    retraining Lloyd in-plan per bench execution — the persisted set is
    identical by the trainer's determinism
    (tests/test_ivf_layout.py pins kmeans_centroids(emb) ==
    read_layout_centroids(trained_dir) row-for-row), so this row now
    measures the probe seam, not a redundant 10-second re-train; the
    in-plan training form stays exercised by the unit suite."""
    from ..index.ivf_layout import (ensure_ivf_trained_layout,
                                    read_layout_centroids)

    emb = _emb(spark, sf_dir)
    trained_dir = ensure_ivf_trained_layout(spark, emb, sf_dir)
    tcent = read_layout_centroids(spark, trained_dir)
    tassign = read_table(spark, trained_dir).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"),
        "cell")
    return knn.ivf_kmeans_recall(emb, ANN_K, ANN_N_QUERIES,
                                 tcent=tcent, tassign=tassign)


@register("ann_ivf_trained_recall", oracle=None,
          executes_on_build=True)
def ann_ivf_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the WRITTEN kmeans-trained IVF layout
    (index/ivf_layout.ensure_ivf_trained_layout — trained centroids
    persisted in the `_centroids` side table, cells partition-pruned at
    probe time) vs the id-sampled written layout, both against the
    exact scan. The production-shaped trained path: training happens
    once at layout-write time, probes read the frozen set — unlike
    ann_ivf_kmeans_recall, which trains in-query to prove the seam.
    Rows-only: the Lloyd float loop is not cross-engine SQL-stable;
    tests/test_ivf_layout.py pins mean(recall_trained) >=
    mean(recall_sample) on this corpus and append equivalence at the
    trained centroid set. Measured at sf0.01 (5000 vectors, nlist=70,
    nprobe=2): recall@5 trained 0.94 vs sampled 0.60 — the uplift the
    r10 VERDICT asked the written layout to record."""
    from ..index.ivf_layout import (ensure_ivf_layout,
                                    ensure_ivf_trained_layout,
                                    ivf_frozen_layout_topk)

    emb = _emb(spark, sf_dir)
    trained_dir = ensure_ivf_trained_layout(spark, emb, sf_dir)
    sampled_dir = ensure_ivf_layout(spark, emb, sf_dir)
    queries = emb.where(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    trained = ivf_frozen_layout_topk(spark, trained_dir, queries,
                                     ANN_K).select("q_id", "c_id")
    sampled = ivf_frozen_layout_topk(spark, sampled_dir, queries,
                                     ANN_K).select("q_id", "c_id")
    exact = knn.knn_join(
        queries,
        emb.select(F.col("vec_id").alias("c_id"),
                   F.col("embedding").alias("c_vec")),
        ANN_K,
    ).select("q_id", "c_id")
    hits_t = trained.join(exact, ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_t"))
    hits_s = sampled.join(exact, ["q_id", "c_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_s"))
    return (
        queries.select("q_id")
        .join(hits_t, "q_id", "left")
        .join(hits_s, "q_id", "left")
        .select(
            "q_id",
            F.round(F.coalesce(F.col("n_t"), F.lit(0)) / ANN_K, 6)
            .alias("recall_trained"),
            F.round(F.coalesce(F.col("n_s"), F.lit(0)) / ANN_K, 6)
            .alias("recall_sample"),
        )
        .orderBy("q_id")
    )


@register("ann_ivfpq_append_probe",
          oracle=knn.dd_ivfpq_topk_sql(ANN_K, ANN_N_QUERIES))
def ann_ivfpq_append_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODES-layout MAINTENANCE probe: the cell-partitioned PQ codes
    table reached its state through incremental append (base build over
    ~80%, the rest via append_ivfpq_vectors' frozen-centroid +
    frozen-codebook path, index/ivfpq_layout.py), then is probed exactly
    like ann_ivfpq_layout_probe. The oracle is the one-shot IVF-PQ SQL
    over the FULL table — append equivalence (appended codes layout ==
    full rebuild) is thereby driver-checked, not just pytest-asserted.
    At 100 TB an unappendable codes table forces full rebuilds; this is
    the row that proves it doesn't."""
    from ..index.ivfpq_layout import (ensure_ivfpq_append_layout,
                                      ivfpq_layout_topk)

    emb = _emb(spark, sf_dir)
    out_dir = ensure_ivfpq_append_layout(spark, emb, sf_dir)
    return ivfpq_layout_topk(spark, out_dir, emb, ANN_K, ANN_N_QUERIES)


@register("ann_pq_rescore_recall",
          oracle=knn.dd_pq_rescore_recall_sql(ANN_K, ANN_N_QUERIES))
def ann_pq_rescore_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The number that JUSTIFIES the shortlist architecture: per-query
    recall@k of raw ADC vs shortlist+exact-rescore, side by side vs the
    exact cosine top-k. The rescore pass must close (most of) the recall
    gap the lossy PQ scan opens, paying exact math on only k*mult rows —
    if recall_rescore ~= recall_adc there would be no reason to rescore;
    test_pq.py pins the mean strictly improving on this corpus."""
    return knn.pq_rescore_recall(_emb(spark, sf_dir), ANN_K,
                                 ANN_N_QUERIES)


@register("ann_ivf_append_probe",
          oracle=knn.dd_ivf_topk_sql(ANN_K, ANN_N_QUERIES))
def ann_ivf_append_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index MAINTENANCE probe: the layout reached its state through
    incremental append (base build over ~80%, the rest via
    append_ivf_vectors' frozen-centroid path, index/ivf_layout.py), then
    is probed exactly like ann_ivf_topk. The oracle is the one-shot IVF
    SQL over the FULL table — append equivalence (appended layout ==
    full rebuild) is thereby driver-checked, not just pytest-asserted."""
    from ..index.ivf_layout import (ensure_ivf_append_layout,
                                    ivf_partitioned_topk)

    emb = _emb(spark, sf_dir)
    out_dir = ensure_ivf_append_layout(spark, emb, sf_dir)
    return ivf_partitioned_topk(spark, out_dir, emb, ANN_K, ANN_N_QUERIES)


# --- JSONL source ------------------------------------------------------------

_JSONL_PATH = __import__("pathlib").Path(__file__).resolve(
).parent.parent.parent / "fixtures" / "jsonl" / "docs.jsonl"


@register(
    "jsonl_documents_scan",
    oracle=f"""
SELECT id, text, meta.source AS source, meta.lang AS lang,
       round(score, 6) AS score,
       len(regexp_split_to_array(trim(text), ' +')) AS n_tokens
FROM read_json('{_JSONL_PATH}',
               columns={{'id': 'BIGINT', 'text': 'VARCHAR',
                         'meta': 'STRUCT(source VARCHAR, lang VARCHAR)',
                         'score': 'DOUBLE'}})
ORDER BY id
""".strip(),
)
def jsonl_documents_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL training-corpus source: schema-pinned scan + nested-field
    projection + a derived token count (sources/jsonl.py)."""
    from ..sources.jsonl import read_jsonl

    df = read_jsonl(spark, str(_JSONL_PATH))
    return df.select(
        "id",
        "text",
        F.col("meta.source").alias("source"),
        F.col("meta.lang").alias("lang"),
        F.round("score", 6).alias("score"),
        F.size(F.split(F.trim("text"), " +")).alias("n_tokens"),
    ).orderBy("id")


@register("text_unigram_logprob", oracle=textstats.dd_unigram_logprob_sql())
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.unigram_logprob_scores(_docs(spark, sf_dir))


@register("documents_embed_hash", oracle=None)
def documents_embed_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk embedding generation as a first-class registered query (the
    north-star claim: embedding runs executor-parallel, not in a driver
    loop). Hash backend (seeded-RNG, deterministic but not
    SQL-expressible -> rows-only); emits per-doc norm + a content-coupled
    checksum so the driver artifact pins the exact vectors each round."""
    from ..models.embedder import embed_udf

    docs = _docs(spark, sf_dir)
    emb = docs.repartition(
        spark.sparkContext.defaultParallelism
    ).select(
        "doc_id", embed_udf("hash")(F.col("text")).alias("v")
    )
    return emb.select(
        "doc_id",
        F.round(
            F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x)), 4
        ).alias("norm"),
        F.round(F.element_at("v", 1).cast("double"), 6).alias("v0"),
        F.round(F.element_at("v", 2).cast("double"), 6).alias("v1"),
    )


@register("text_repetition_stats", oracle=textstats.dd_repetition_stats_sql())
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.repetition_stats(_docs(spark, sf_dir))


@register("text_paragraph_dedup", oracle=textstats.dd_paragraph_dedup_sql())
def text_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.paragraph_dedup(_docs(spark, sf_dir))


@register("text_redact_pii", oracle=textstats.dd_redact_pii_sql())
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.redact_pii(_docs(spark, sf_dir))


# --- corpus-assembly surface (operators/packing.py) --------------------------


FILTER_LANG = "de"
PACK_BUDGET_TOKENS = 100_000
LANG_CAP = 120


@register(
    "ann_filtered_topk",
    oracle=packing.dd_filtered_ann_topk_sql(FILTER_LANG, ANN_K,
                                            ANN_N_QUERIES),
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return packing.filtered_ann_topk(
        _emb(spark, sf_dir), _docs(spark, sf_dir), FILTER_LANG,
        ANN_K, ANN_N_QUERIES,
    )


@register(
    "corpus_pack_token_budget",
    oracle=packing.dd_pack_token_budget_sql(PACK_BUDGET_TOKENS),
)
def corpus_pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    return packing.pack_token_budget(_docs(spark, sf_dir),
                                     PACK_BUDGET_TOKENS)


@register(
    "corpus_lang_capped_sample",
    oracle=packing.dd_lang_capped_sample_sql(LANG_CAP),
)
def corpus_lang_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return packing.lang_capped_sample(_docs(spark, sf_dir), LANG_CAP)


@register(
    "corpus_decontaminate_ngrams",
    oracle=packing.dd_decontaminate_ngrams_sql(),
)
def corpus_decontaminate_ngrams(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    return packing.decontaminate_ngrams(_docs(spark, sf_dir))


@register("corpus_pack_bpe_budget",
          oracle=packing.dd_pack_bpe_token_budget_sql(PACK_BUDGET_TOKENS),
          executes_on_build=True)
def corpus_pack_bpe_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget selection metered in TOKENIZER tokens (the stored
    BPE merges) — the budget a training run actually enforces;
    whitespace word counts under-meter by the fertility factor (~4x
    here), so the same numeric budget keeps a very different set.
    Identical bucket-threshold selection to corpus_pack_token_budget;
    only the counter differs. executes_on_build: the first call
    trains+writes the tokenizer layout."""
    from ..index.bpe_layout import ensure_bpe_layout, read_bpe_merges

    docs = _docs(spark, sf_dir)
    merges = read_bpe_merges(spark, ensure_bpe_layout(spark, docs, sf_dir))
    return packing.pack_bpe_token_budget(docs, merges, PACK_BUDGET_TOKENS)


@register("corpus_pack_sequences", oracle=packing.dd_pack_sequences_sql())
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample packing into context windows (rows-only: next-fit binning
    carries running state, not expressible in plain SQL; invariants are
    pinned in tests/test_packing.py)."""
    return packing.pack_sequences(_docs(spark, sf_dir))


@register("text_countmin_error", oracle=textstats.dd_countmin_error_sql())
def text_countmin_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.countmin_error(_docs(spark, sf_dir))


@register("corpus_source_mix", oracle=textstats.dd_source_mix_sql())
def corpus_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.source_mix(_docs(spark, sf_dir))


@register("corpus_mixture_weights",
          oracle=curation.dd_mixture_weights_sql())
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.mixture_weights(_docs(spark, sf_dir))


@register("text_bigram_pmi", oracle=textstats.dd_bigram_pmi_sql())
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top corpus bigrams by PMI (count >= 5)."""
    return textstats.bigram_pmi(_docs(spark, sf_dir))


# --- CSV source --------------------------------------------------------------

_CSV_PATH = __import__("pathlib").Path(__file__).resolve(
).parent.parent.parent / "fixtures" / "csv" / "docs.csv"


@register(
    "csv_documents_scan",
    oracle=f"""
SELECT id, text, lang, source, round(score, 6) AS score,
       len(regexp_split_to_array(trim(text), ' +')) AS n_tokens,
       (strpos(text, '"') > 0) AS has_quote
FROM read_csv('{_CSV_PATH}', header=true,
              columns={{'id': 'BIGINT', 'text': 'VARCHAR',
                        'lang': 'VARCHAR', 'source': 'VARCHAR',
                        'score': 'DOUBLE'}})
ORDER BY id
""".strip(),
)
def csv_documents_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV corpus source: schema-pinned splittable scan with RFC-4180
    quoting (embedded commas + doubled quotes round-trip — the has_quote
    probe asserts the escapes survived); sources/csvsrc.py."""
    from ..sources.csvsrc import read_csv_docs

    df = read_csv_docs(spark, str(_CSV_PATH))
    return df.select(
        "id",
        "text",
        "lang",
        "source",
        F.round("score", 6).alias("score"),
        F.size(F.split(F.trim("text"), " +")).alias("n_tokens"),
        (F.locate('"', F.col("text")) > 0).alias("has_quote"),
    ).orderBy("id")


@register("text_top_terms_per_lang",
          oracle=textstats.dd_top_terms_per_lang_sql())
def text_top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-10 vocabulary (per-group top-N on the count table)."""
    return textstats.top_terms_per_lang(_docs(spark, sf_dir))


@register("corpus_length_histogram",
          oracle=textstats.dd_length_histogram_sql())
def corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two document-length histogram (long-tail profile)."""
    return textstats.length_histogram(_docs(spark, sf_dir))


@register("corpus_dedup_survivorship",
          oracle=dedup.dd_dedup_survivorship_sql())
def corpus_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dup survivorship keeping the highest-quality member per
    group (max(struct) aggregate — skew-proof, no per-group window)."""
    return dedup.dedup_survivorship(_docs(spark, sf_dir))


@register("corpus_near_dup_by_source",
          oracle=dedup.dd_near_dup_rate_by_source_sql())
def corpus_near_dup_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair matrix by source pair (where do duplicates come
    from) — LSH pair set joined to sources, canonicalized triangular."""
    return dedup.near_dup_rate_by_source(_docs(spark, sf_dir))


@register("corpus_quality_by_source",
          oracle=textstats.dd_quality_by_source_sql())
def corpus_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality dashboard (mean quality/stopword ratio, PII
    incidence, mean length) — slice-level curation report."""
    return textstats.quality_by_source(_docs(spark, sf_dir))


@register("text_tfidf_topk", oracle=textstats.dd_tfidf_topk_sql())
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 keywords by smoothed TF-IDF (shuffle-join on term,
    per-doc window bounded by doc vocabulary)."""
    return textstats.tfidf_topk(_docs(spark, sf_dir))


@register(
    "orc_documents_scan",
    oracle="""
SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
FROM documents ORDER BY doc_id
""".strip(),
)
def orc_documents_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC corpus source round-trip: documents migrated to ORC once per
    source generation (mtime+size-keyed cache, sources/orcsrc.py), read
    back splittably, every row's text md5-verified against the parquet
    original via the oracle."""
    from ..sources.orcsrc import ensure_orc_documents, read_orc_docs

    path = ensure_orc_documents(spark, sf_dir)
    df = read_orc_docs(spark, path)
    return df.select(
        "doc_id", "lang", "source", "n_chars",
        F.md5(F.col("text")).alias("text_md5"),
    ).orderBy("doc_id")


@register("corpus_perplexity_buckets",
          oracle=textstats.dd_perplexity_buckets_sql())
def corpus_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail terciles of the unigram-LM quality
    signal (distributed_ntile — no global single-partition sort)."""
    return textstats.perplexity_buckets(_docs(spark, sf_dir))


@register("dedup_graph_pagerank",
          oracle=dedup.dd_dedup_graph_pagerank_sql())
def dedup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the LSH near-dup graph (canonical-copy
    candidates by centrality). Oracled despite being iterative: the
    fixed PR_ITERS power iteration unrolls into chained CTEs with the
    identical per-round formula."""
    return dedup.dedup_graph_pagerank(_docs(spark, sf_dir))


@register("udtf_sentence_split", oracle=udtfs.dd_sentence_split_sql())
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4) via LATERAL: per-doc sentence table;
    tests pin it equal to the vectorized posexplode form the hot path
    uses (operators/udtfs.py)."""
    return udtfs.sentence_split_udtf(_docs(spark, sf_dir))


@register("text_bigram_logprob", oracle=textstats.dd_bigram_logprob_sql())
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc conditional bigram-LM quality signal (add-1 smoothed,
    prefix counts derived from the bigram table)."""
    return textstats.bigram_logprob_scores(_docs(spark, sf_dir))


@register("text_zipf_fit", oracle=textstats.dd_zipf_fit_sql())
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law slope over the top-1000 vocabulary head (rank bounded by
    TakeOrderedAndProject truncation)."""
    return textstats.zipf_fit(_docs(spark, sf_dir))


@register("text_readability_scores", oracle=textstats.dd_readability_sql())
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability (pure per-row expressions; scan-bound)."""
    return textstats.readability_scores(_docs(spark, sf_dir))


@register("corpus_train_val_test_split",
          oracle=curation.dd_train_val_test_split_sql())
def corpus_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 80/10/10 split by cross-engine id hash (no RNG, no
    order dependence) with per-split stats."""
    return curation.train_val_test_split(_docs(spark, sf_dir))


@register("corpus_benchmark_contamination",
          oracle=curation.dd_benchmark_contamination_sql())
def corpus_benchmark_contamination(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Train-set decontamination vs an in-plan benchmark set: per-source
    word-8-gram overlap report (broadcast benchmark shingles; the corpus
    is never shuffled on shingle)."""
    return curation.benchmark_contamination(_docs(spark, sf_dir))


@register("embeddings_matryoshka_recall",
          oracle=knn.dd_matryoshka_recall_sql(ANN_K, ANN_N_QUERIES))
def embeddings_matryoshka_recall(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Recall@k of truncated-prefix (first 16 of 64 dims) retrieval vs
    the full-dim exact top-k — one corpus scan scores both metrics per
    pair, two rank windows (Matryoshka cheap-first-stage evaluation)."""
    return knn.matryoshka_recall(_emb(spark, sf_dir), ANN_K, ANN_N_QUERIES)


CLS_N_QUERIES = 50


@register("embeddings_knn_classify",
          oracle=knn.dd_knn_classify_sql(knn.CLS_K, CLS_N_QUERIES))
def embeddings_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out kNN majority-vote accuracy per class over the
    labeled vector table (cosine, k=5; broadcast query sample, one
    corpus scan) — the embedding-quality evaluation probe."""
    return knn.knn_classify_accuracy(_emb(spark, sf_dir), knn.CLS_K,
                                     CLS_N_QUERIES)


@register("ann_ivf_nprobe_curve",
          oracle=knn.dd_ivf_nprobe_curve_sql(ANN_K, ANN_N_QUERIES))
def ann_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF tuning curve: recall@k + mean candidates scanned per query
    across nprobe in {1,2,4,8} — one candidate pass at max nprobe,
    exploded per sweep value. Since r11 the curve reads the PERSISTED
    layout's frozen centroids + stored cell assignment (a two-column
    scan) instead of recomputing the O(N x nlist) assignment in-plan —
    value-identical by the layout's append-equivalence contract, and
    the r10 bench's 44-vs-16 assignment cost drops out."""
    from ..index.ivf_layout import ensure_ivf_layout, read_layout_centroids

    emb = _emb(spark, sf_dir)
    out_dir = ensure_ivf_layout(spark, emb, sf_dir)
    return knn.ivf_nprobe_curve(
        emb, ANN_K, ANN_N_QUERIES,
        cent=read_layout_centroids(spark, out_dir),
        assign=read_table(spark, out_dir).select(
            F.col("vec_id").alias("c_id"), "cell"),
    )


@register("dedup_graph_triangles",
          oracle=dedup.dd_dedup_graph_triangles_sql())
def dedup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient of the LSH
    candidate graph (id-ordered pair joins over the bucket-local pair
    set) — dense cliques mean true dup groups, chains mean band-collision
    noise."""
    return dedup.dedup_graph_triangles(_docs(spark, sf_dir))


@register("dedup_threshold_curve",
          oracle=dedup.dd_dedup_threshold_curve_sql())
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup tuning curve: pairs / flagged docs / flagged fraction at
    each est-Jaccard cutoff — one LSH pass, thresholds fanned by
    explode."""
    return dedup.dedup_threshold_curve(_docs(spark, sf_dir))


@register("corpus_dsir_weights",
          oracle=curation.dd_dsir_importance_weights_sql())
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling weights (hashed unigram+bigram LMs:
    target = the en slice, raw = whole corpus; per-doc log weight =
    sum of count x bucket log-ratio). The model is a 1024-row broadcast
    table; the scoring pass is map-side."""
    return curation.dsir_importance_weights(_docs(spark, sf_dir))


@register("corpus_dsir_resample",
          oracle=curation.dd_dsir_gumbel_sample_sql())
def corpus_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The resampling half of DSIR: Gumbel-top-k over the importance
    weights (deterministic hash-uniform noise) = a reproducible draw of
    K docs with prob proportional to exp(log_w), executed as
    TakeOrderedAndProject — per-partition top-k, no global sort."""
    return curation.dsir_gumbel_sample(_docs(spark, sf_dir))


@register("corpus_ngram_novelty",
          oracle=curation.dd_ngram_novelty_sql())
def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source first-occurrence novelty (word 8-grams; the min-owner
    aggregate doubles as the novel-count table — no shingle-keyed
    big-big join)."""
    return curation.ngram_novelty_by_source(_docs(spark, sf_dir))


# --- BPE tokenizer training (operators/bpe.py) -------------------------------


@register("text_bpe_pair_counts", oracle=bpe.dd_bpe_pair_counts_sql())
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Initial BPE pair statistics (the rank-0 merge candidates):
    adjacent character-pair counts over the word histogram, weighted by
    word frequency — the oracled anchor of the BPE family. The word
    histogram is the family's only corpus-scale pass."""
    return bpe.bpe_pair_counts(_docs(spark, sf_dir))


@register("text_bpe_train", oracle=bpe.dd_bpe_train_sql(),
          executes_on_build=True)
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Sennrich BPE training (iterative, like
    embeddings_kmeans_train): 16 merges, per PASS one vocabulary-sized
    pair aggregate + a bounded ranked collect + JVM-side fold rewrites.
    Since r13 the trainer applies up to BPE_TRAIN_BATCH mutually
    non-interacting merges per pass (bpe._select_merge_batch — the r12
    VERDICT #4 driver-round fix, EXACT Sennrich equivalence pinned at
    256 merges against the pure-Python reference in tests/test_bpe.py).
    Deterministic tie-break (count desc, then smallest 'lhs rhs');
    ORACLED end-to-end: the trainer unrolls into 16 MATERIALIZED CTE
    stages in DuckDB (bpe.dd_bpe_train_sql), so the merge table is
    hash-gated like the rest of the registry."""
    return bpe.bpe_train(_docs(spark, sf_dir), batch=bpe.BPE_TRAIN_BATCH)


@register("bm25_bpe_topk", oracle=bpe.dd_bm25_bpe_topk_sql(
    "spark vector join fast merge", 10), executes_on_build=True)
def bm25_bpe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over the BPE-ANALYZED index — the subword-FTS remedy for
    whole-token BM25's silent degradation on unseen-vocabulary queries
    (r10 VERDICT #5): postings are subword tokens encoded with the
    STORED merge table (index/bpe_layout.py), and the query is encoded
    with the SAME merges (§2.6.5 tokenizer identity). Shares bm25's
    Okapi arithmetic; only the token stream differs. The oracle derives
    the same 16 merges (unrolled CTE stages), encodes corpus vocabulary
    AND query words with a recursive CTE, and runs the same BM25 SQL.
    executes_on_build: the first call trains+writes the tokenizer
    layout."""
    from ..index.bpe_layout import ensure_bpe_layout, read_bpe_merges

    docs = _docs(spark, sf_dir)
    layout = ensure_bpe_layout(spark, docs, sf_dir)
    return bpe.bm25_bpe_topk(docs, "spark vector join fast merge", 10,
                             read_bpe_merges(spark, layout))


@register("bm25_bpe_layout_probe", oracle=bpe.dd_bm25_bpe_topk_sql(
    "spark vector join fast merge", 10), executes_on_build=True)
def bm25_bpe_layout_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bm25_bpe_topk against the WRITTEN subword index
    (index/bpe_layout.ensure_bpe_fts_layout): encode happens once at
    layout-write time; the probe is _matched's join-free term-pruned
    postings_scored scan — identical results to the in-plan build
    (shared oracle), so the driver checks the layout path too. The
    production shape: at 100 TB the subword postings are built by the
    indexing job, never per query."""
    from ..index.bpe_layout import (ensure_bpe_fts_layout,
                                    ensure_bpe_layout, read_bpe_merges)
    from ..operators.bm25 import bm25_scores

    docs = _docs(spark, sf_dir)
    index = ensure_bpe_fts_layout(spark, docs, sf_dir)
    merges = read_bpe_merges(spark, ensure_bpe_layout(spark, docs, sf_dir))
    qterms = bpe.encode_query_terms("spark vector join fast merge", merges)
    return (
        bm25_scores(index, qterms)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


@register("text_bpe_encode_stats", oracle=bpe.dd_bpe_encode_stats_sql(),
          executes_on_build=True)
def text_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure the trained tokenizer per language: fertility (subword
    tokens per word) and chars-per-token. Probes the WRITTEN tokenizer
    layout (index/bpe_layout.py — trained once per corpus fingerprint,
    the production train-once/apply-everywhere shape); only the
    DISTINCT-word vocabulary is segmented in Python (Arrow-batched);
    corpus text never crosses the JVM boundary. Since r11 ORACLED: the
    recursive-CTE encoder (bm25_bpe_topk's machinery) makes the
    per-slice fertility aggregate SQL-expressible; encode parity is
    additionally pytest-pinned word-for-word against the pure-Python
    reference."""
    from ..index.bpe_layout import ensure_bpe_layout, read_bpe_merges

    docs = _docs(spark, sf_dir)
    layout = ensure_bpe_layout(spark, docs, sf_dir)
    return bpe.bpe_encode_stats(
        docs, merge_rows=read_bpe_merges(spark, layout))


@register("bm25_bpe_incremental_layout_probe",
          oracle=bpe.dd_bm25_bpe_incremental_sql(
              "spark vector join fast merge", 10),
          executes_on_build=True)
def bm25_bpe_incremental_layout_probe(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Subword-index MAINTENANCE probe: the segmented BPE store reached
    its state via incremental append (merges trained on the base slice,
    FROZEN in the store, appended docs encoded with them —
    index/bpe_layout.ensure_bpe_segment_layout), probed through the
    word analyzer's unchanged segment machinery. The oracle derives the
    merges from the SAME base slice and scores the full corpus — a
    green row proves subword indexes stay appendable without retraining
    or rebuild, the tokenizer-identity contract under maintenance."""
    from ..index.bpe_layout import (ensure_bpe_segment_layout,
                                    read_store_merges)
    from ..operators.bm25 import bm25_scores, segment_fts_index

    docs = _docs(spark, sf_dir)
    seg_dir = ensure_bpe_segment_layout(spark, docs, sf_dir)
    qterms = bpe.encode_query_terms("spark vector join fast merge",
                                    read_store_merges(spark, seg_dir))
    return (
        bm25_scores(segment_fts_index(spark, seg_dir), qterms)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


@register("corpus_leakage_safe_split",
          oracle=curation.dd_leakage_safe_split_sql())
def corpus_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/val/test split: near-duplicate CLUSTERS
    (LSH-graph connected components), not documents, are the assignment
    unit — a near-dup pair can never straddle train and test (the
    contamination-by-split leak). Singletons key by their own id; the
    oracle composes the recursive-CTE components closure with the same
    hash-bucket rule."""
    return curation.leakage_safe_split(_docs(spark, sf_dir))
