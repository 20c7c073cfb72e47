"""IVF-PQ as a written layout: PQ codes partitioned by IVF cell.

The storage half of the composed ANN story (operators/knn.ivfpq_topk is
the query-time form): at 100 TB the corpus is stored ONCE as an M-codes-
per-vector table partitioned by cell — a probe reads nprobe/n_cells of a
~64x-compressed table (PartitionFilters prune the cells, PQ shrinks the
bytes per row), plus two broadcast-sized side tables (centroids for cell
routing, codebook for the ADC lookup table). Raw vectors are never read
at query time.

tests/test_ivfpq_layout.py asserts probe-result equality with the
query-time operator and the pruned scan shape; the registered
``ann_ivfpq_layout_probe`` query carries the same DuckDB oracle as
``ann_ivfpq_topk`` (identical semantics, different physical source).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import SCORE_ROUND
from ..functions import vector as V
from ..operators.knn import (NPROBE, PQ_DIM, PQ_M, _pq_long, derive_nlist,
                             ivf_assign, pq_codebook, pq_encode, probe_pairs)
from .catalog import read_table
from .fingerprint import ensure_layout, layout_fingerprint


# Bump when the encode semantics change (codebook rule, code layout …):
# the fingerprint cache keys on SOURCE data only, so without a format
# token a semantics change would silently serve a stale layout.
LAYOUT_FORMAT = "v4"  # v4: nlist derived from corpus count at build

# Completion sentinel written LAST, after both side tables — parquet's
# _SUCCESS lands when the (first-written) codes dir commits, so a crash
# between the codes write and the centroids/codebook writes would
# otherwise leave a cached layout that looks complete but crashes every
# probe (fts_layout.py's write-the-sentinel-last convention).
LAYOUT_DONE = "_LAYOUT_DONE"


def _side_dir(out_dir: str, name: str) -> str:
    # next to, not inside, the cell root (a subdirectory would be
    # misread as data by the partitioned scan)
    return out_dir.rstrip("/") + "_" + name


def write_ivfpq_layout(emb: DataFrame, out_dir: str,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       dim: int = PQ_DIM, m: int = PQ_M,
                       nlist: int | None = None) -> None:
    """codes (vec_id, m, code) partitioned by cell, plus centroid and
    codebook side tables. One encode pass; the cell column comes from
    the same frozen assignment rule as index/ivf_layout, with nlist
    derived from the corpus count at build (or passed by the
    append-layout builder, whose base frame is a subset of the intended
    corpus) and persisted in the layout meta. The LAYOUT_DONE sentinel
    lands last, after both side tables and the meta."""
    from .ivf_layout import write_layout_meta

    if nlist is None:
        nlist = derive_nlist(emb.count())
    cent, assign = ivf_assign(emb, id_col, vec_col, nlist=nlist)
    codes = pq_encode(emb, id_col, vec_col, dim, m)
    (
        codes.join(assign, codes["vec_id"] == assign["c_id"])
        .select("vec_id", "m", "code", "cell")
        .write.mode("overwrite").partitionBy("cell").parquet(out_dir)
    )
    cent.write.mode("overwrite").parquet(_side_dir(out_dir, "centroids"))
    pq_codebook(emb, id_col, vec_col, dim, m).write.mode(
        "overwrite"
    ).parquet(_side_dir(out_dir, "codebook"))
    write_layout_meta(out_dir, nlist)
    with open(os.path.join(out_dir, LAYOUT_DONE), "w"):
        pass


def ensure_ivfpq_layout(spark: SparkSession, emb: DataFrame,
                        sf_dir: str, root: str | None = None) -> str:
    """Build (once per content) and return the layout dir."""
    return ensure_layout("ivfpq_layout", sf_dir, LAYOUT_FORMAT,
                         layout_fingerprint(emb, "vec_id", "embedding"),
                         lambda out_dir: write_ivfpq_layout(emb, out_dir),
                         LAYOUT_DONE, root)


def ivfpq_layout_topk(spark: SparkSession, out_dir: str, emb: DataFrame,
                      k: int, n_queries: int = 10,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      dim: int = PQ_DIM, m: int = PQ_M) -> DataFrame:
    """Same semantics as operators/knn.ivfpq_topk, but candidates come
    from the PRUNED partition scan of the written codes table and the
    LUT from the written codebook — the raw embeddings table supplies
    only the query vectors (the bounded side)."""
    cb = read_table(spark, _side_dir(out_dir, "codebook"))
    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    probes, cells = probe_pairs(
        read_table(spark, _side_dir(out_dir, "centroids")), queries, NPROBE)
    # the NPROBE * n_queries probed cells route the pruned scan
    codes = read_table(spark, out_dir).where(F.col("cell").isin(cells))
    q_long = _pq_long(
        emb.where(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("q_id"), vec_col),
        "q_id", vec_col, dim, m,
    )
    lut = q_long.join(F.broadcast(cb), "m").select(
        "q_id", "m", "code",
        F.round(V.l2sq(F.col("sub"), F.col("cw")),
                SCORE_ROUND).alias("d"),
    )
    scored = (
        probes.select("q_id", "cell").join(codes, "cell")
        .select("q_id", F.col("vec_id").alias("c_id"), "m", "code")
        .join(F.broadcast(lut), ["q_id", "m", "code"])
        .groupBy("q_id", "c_id")
        .agg(F.round(F.sum("d"), SCORE_ROUND).alias("adc_dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def pq_layout_topk(spark: SparkSession, out_dir: str, emb: DataFrame,
                   k: int, n_queries: int = 10,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   dim: int = PQ_DIM, m: int = PQ_M) -> DataFrame:
    """Pure-PQ ADC top-k over the WRITTEN codes table (all cells — no
    IVF pruning): same semantics as operators/knn.pq_topk, but the
    corpus encode happened at write time, which is the only place it
    happens at 100 TB; query-time work is the LUT build (broadcast-
    sized) plus one scan of the compressed codes."""
    cb = read_table(spark, _side_dir(out_dir, "codebook"))
    codes = read_table(spark, out_dir).select("vec_id", "m", "code")
    q_long = _pq_long(
        emb.where(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("q_id"), vec_col),
        "q_id", vec_col, dim, m,
    )
    lut = q_long.join(F.broadcast(cb), "m").select(
        "q_id", "m", "code",
        F.round(V.l2sq(F.col("sub"), F.col("cw")),
                SCORE_ROUND).alias("d"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .groupBy("q_id", F.col("vec_id").alias("c_id"))
        .agg(F.round(F.sum("d"), SCORE_ROUND).alias("adc_dist"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_dist"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def pq_layout_recall(spark: SparkSession, out_dir: str, emb: DataFrame,
                     k: int, n_queries: int = 10,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Recall@k of the layout-backed ADC scan vs the exact cosine top-k
    (same output contract as operators/knn.pq_recall)."""
    from ..operators.knn import knn_join

    approx = pq_layout_topk(spark, out_dir, emb, k, n_queries,
                            id_col, vec_col).select("q_id", "c_id")
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


# append-probe split rule: ~20% of non-slot ids arrive via append
# (mirrors ivf_layout.APPEND_SPLIT_*; vec_id % 5 == 3 is disjoint from
# every centroid/codebook slot — those are all ≡ 0 mod 5 — but the
# predicates below stay explicit so the contract survives constant drift)
APPEND_SPLIT_MOD = 5
APPEND_SPLIT_REM = 3


def ensure_ivfpq_append_layout(spark: SparkSession, emb: DataFrame,
                               sf_dir: str,
                               root: str | None = None) -> str:
    """Build (once) a CODES layout that reached its final state through
    incremental maintenance: base build over ~80% of the vectors, the
    rest appended via :func:`append_ivfpq_vectors` under the frozen
    centroid + frozen codebook contract. Probing it is how the
    registered ``ann_ivfpq_append_probe`` query earns a driver row for
    the append path — at 100 TB an unappendable codes table forces full
    rebuilds, so append equivalence (appended layout == one-shot build
    over the full table, hence == the one-shot DuckDB oracle) is the
    claim being driver-checked.

    Cached separately from ensure_ivfpq_layout (appends mutate the dir,
    so it must never share the build-once cache); `_APPEND_DONE` marks
    the completed build+append sequence.
    """
    from ..operators.knn import centroid_pred, pq_sample_pred

    def build(out_dir: str) -> None:
        # every centroid AND codebook slot must be in the BASE build so
        # the frozen side tables equal the full-table derivations — that
        # is what makes the appended layout probe-identical to a one-shot
        # build. nlist likewise comes from the FULL corpus count, not the
        # 80% base
        nlist = derive_nlist(emb.count())
        is_new = (
            (~centroid_pred("vec_id", nlist)) & (~pq_sample_pred("vec_id"))
            & (F.col("vec_id") % APPEND_SPLIT_MOD == APPEND_SPLIT_REM)
        )
        write_ivfpq_layout(emb.where(~is_new), out_dir, nlist=nlist)
        append_ivfpq_vectors(spark, out_dir, emb.where(is_new))

    return ensure_layout("ivfpq_append_layout", sf_dir, LAYOUT_FORMAT,
                         layout_fingerprint(emb, "vec_id", "embedding"),
                         build, "_APPEND_DONE", root)


def append_ivfpq_vectors(spark: SparkSession, out_dir: str,
                         new_emb: DataFrame,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         dim: int = PQ_DIM, m: int = PQ_M) -> None:
    """Incremental maintenance for the CODES layout: encode NEW vectors
    with the layout's FROZEN codebook, assign them to its FROZEN
    centroids, and append the code rows to their cell partitions — no
    rebuild, no rewrite of existing files. The 100 TB ingest shape:
    appends touch only the hot cells' directories and the compressed
    representation, probes keep pruning by partition
    (ivf_layout.append_ivf_vectors is the raw-vector twin).

    Both quantizer sides are frozen at build time and read back from the
    side tables, so the cell definition and the code space never drift
    under appends; re-training either is a rebuild, by design. A batch
    containing a centroid-slot id (knn.centroid_pred) OR a codebook-slot
    id (knn.pq_sample_pred) is REJECTED: query-time derivations treat
    those vec_ids as quantizer rows, so appending one as a plain member
    would fork the frozen quantizer from the one a fresh build over the
    same table produces. The disjoint-vec_id contract is enforced with a
    partition-PRUNED scan of only the batch's target cells (the codes
    table's vec_id column — never the full layout)."""
    from ..operators.knn import (assign_to_centroids, centroid_pred,
                                 pq_encode_with, pq_sample_pred)
    from .ivf_layout import read_layout_meta

    # the BUILD's frozen nlist, from the layout meta — never re-derived
    nlist = read_layout_meta(out_dir)["nlist"]
    n_slot_ids = new_emb.where(
        centroid_pred(id_col, nlist) | pq_sample_pred(id_col)
    ).count()
    if n_slot_ids:
        raise ValueError(
            f"append batch contains {n_slot_ids} vec_id(s) matching "
            "centroid_pred or pq_sample_pred: those ids are quantizer "
            "slots under the frozen-centroid/frozen-codebook contract — "
            "appending them as plain members would fork the layout's "
            "quantizers from a fresh build's. Rebuild the layout to "
            "re-train instead."
        )
    cent = read_table(spark, _side_dir(out_dir, "centroids"))
    cb = read_table(spark, _side_dir(out_dir, "codebook"))
    assign = assign_to_centroids(
        new_emb.select(F.col(id_col).alias("c_id"),
                       F.col(vec_col).alias("c_vec")),
        cent,
    )
    codes = pq_encode_with(new_emb, cb, id_col, vec_col, dim, m)
    batch = codes.join(
        assign, codes["vec_id"] == assign["c_id"]
    ).select("vec_id", "m", "code", "cell")
    # disjointness guard (pruned): only the target cells are scanned,
    # and only their vec_id column; the append batch is the broadcast side
    target_cells = sorted(
        r.cell for r in assign.select("cell").distinct().collect()
    )
    n_dup = (
        read_table(spark, out_dir)
        .where(F.col("cell").isin(target_cells))
        .select("vec_id").distinct()
        .join(F.broadcast(new_emb.select(F.col(id_col).alias("vec_id"))),
              "vec_id")
        .count()
    )
    if n_dup:
        raise ValueError(
            f"append batch overlaps the layout on {n_dup} vec_id(s): "
            "appending an existing id writes duplicate code rows into "
            "its cell partition and probes would return duplicate "
            "candidates. Append batches must carry NEW vec_ids only."
        )
    batch.write.mode("append").partitionBy("cell").parquet(out_dir)


def pq_layout_rescore_topk(spark: SparkSession, out_dir: str,
                           emb: DataFrame, k: int, n_queries: int = 10,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           dim: int = PQ_DIM, m: int = PQ_M,
                           mult: int | None = None) -> DataFrame:
    """Shortlist-then-rescore against the WRITTEN codes layout: the ADC
    shortlist (k*mult per query) comes from the compressed codes table
    — encode paid at write time, the 100 TB shape — and only shortlist
    rows fetch raw vectors for the exact cosine rerank
    (operators/knn.rescore_exact). Semantics identical to the query-time
    knn.pq_rescore_topk (same frozen codebook rule), so they share an
    oracle."""
    from ..operators.knn import RESCORE_MULT, rescore_exact

    mult = RESCORE_MULT if mult is None else mult
    short = pq_layout_topk(spark, out_dir, emb, k * mult, n_queries,
                           id_col, vec_col, dim, m).select("q_id", "c_id")
    return rescore_exact(short, emb, k, n_queries, id_col, vec_col)
