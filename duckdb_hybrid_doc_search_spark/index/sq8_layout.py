"""SQ8 as a written layout: 8-bit vector codes on disk.

The storage half of the scalar-quantization story (operators/knn.sq8_topk
is the query-time form): at 100 TB the corpus is stored ONCE as an
array<smallint> codes table — 0..255 per dimension, 4x smaller than
float32 before parquet's integer encodings shrink it further — plus a
single-row (mn_l, mx_l) stats side table (O(dim), independent of corpus
size). A probe reads codes only: dequantize map-side against the
collected stats row, score with the same asymmetric squared-L2, never
touching raw vectors.

Quantize-then-dequantize is bit-identical to the query-time
quantize-inline path (the stored code IS the floor() integer the inline
formula computes, and the reconstruction applies the same association),
so ``ann_sq8_layout_probe`` shares ``dd_sq8_topk_sql`` with
``ann_sq8_topk``; tests/test_sq8_layout.py pins the equality.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.knn import SQ_LEVELS, _to_double, sq8_scan_topk, sq_stats
from .catalog import read_table
from .fingerprint import ensure_layout, layout_fingerprint


# Encode-semantics version token in the cache key (see ivfpq_layout).
LAYOUT_FORMAT = "v1"

# Completion sentinel written LAST, after the stats side table — the
# codes dir's _SUCCESS commits before the stats write, so a crash in
# between would otherwise cache a 'complete' layout with no stats table
# (fts_layout.py's write-the-sentinel-last convention).
LAYOUT_DONE = "_LAYOUT_DONE"


def _side_dir(out_dir: str, name: str) -> str:
    # next to, not inside, the codes root (a subdirectory would be
    # misread as data by the scan)
    return out_dir.rstrip("/") + "_" + name


def _sq8_codes(vec, mn_l, mx_l):
    """floor-quantize each dimension to 0..255 against (mn, mx); a
    constant dim (mx == mn) stores code 0 (dequant maps it back to mn
    regardless). Same clamp/floor as knn.sq8_codes, so the stored integer
    is exactly the one the query-time path computes."""
    def one(x, i):
        mn = F.element_at(mn_l, i + F.lit(1))
        mx = F.element_at(mx_l, i + F.lit(1))
        s = mx - mn
        q = F.floor(
            F.greatest(F.least((x - mn) / s, F.lit(1.0)), F.lit(0.0))
            * F.lit(SQ_LEVELS)
        )
        return F.when(s == F.lit(0.0), F.lit(0)).otherwise(q).cast(
            "smallint"
        )

    return F.transform(vec, one)


def write_sq8_layout(emb: DataFrame, out_dir: str,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> None:
    """codes (vec_id, q8 array<smallint>) plus the single-row stats side
    table. One broadcast of the O(dim) stats row, one map-side encode
    pass over the corpus — the write-time cost that makes every later
    probe read 1/4 the bytes."""
    stats = sq_stats(emb, id_col, vec_col)
    (
        emb.crossJoin(F.broadcast(stats))
        .select(
            F.col(id_col).alias("vec_id"),
            _sq8_codes(_to_double(F.col(vec_col)),
                       F.col("mn_l"), F.col("mx_l")).alias("q8"),
        )
        .write.mode("overwrite").parquet(out_dir)
    )
    stats.write.mode("overwrite").parquet(_side_dir(out_dir, "stats"))
    with open(os.path.join(out_dir, LAYOUT_DONE), "w"):
        pass


def ensure_sq8_layout(spark: SparkSession, emb: DataFrame,
                      sf_dir: str, root: str | None = None) -> str:
    """Build (once per content) and return the layout dir."""
    return ensure_layout("sq8_layout", sf_dir, LAYOUT_FORMAT,
                         layout_fingerprint(emb, "vec_id", "embedding"),
                         lambda out_dir: write_sq8_layout(emb, out_dir),
                         LAYOUT_DONE, root)


def sq8_layout_topk(spark: SparkSession, out_dir: str, emb: DataFrame,
                    k: int, n_queries: int = 10,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """SQ8 top-k from DISK: the stats row collected from its side table,
    the codes table scanned and dequantized map-side by the one SQ8 scan
    (knn.sq8_scan_topk), raw queries vs reconstructions. Output: q_id,
    c_id, sq_dist, rank — identical to knn.sq8_topk."""
    stats = read_table(spark, _side_dir(out_dir, "stats")).first()
    queries = emb.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
    return sq8_scan_topk(read_table(spark, out_dir), k, stats["mn_l"],
                         stats["mx_l"], queries, "vec_id", "q8", coded=True)
