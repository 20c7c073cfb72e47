"""Table-layout maintenance: Z-order clustering and small-file compaction.

The write-time half of scan performance (SURVEY.md §4.3): parquet prunes
with per-file min/max stats, so WHICH rows share a file decides how much
a multi-predicate scan can skip. Z-ordering interleaves the bits of two
clustering keys so each file covers a tight rectangle in (a, b) space —
a query filtering BOTH columns skips every non-intersecting file, where a
single-column sort only helps its leading column. Compaction bounds the
file count after incremental appends (many small files = footer/task
overhead at scale, the classic lakehouse maintenance job).

Everything is expression-level (bit arithmetic compiles into codegen) and
deterministic; no Python crosses into the scan path.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import read_table

Z_BITS = 16  # per-key bits: 2 keys x 16 bits -> 32-bit z-value


def zvalue(a: Column, b: Column, bits: int = Z_BITS,
           a_max: int | None = None, b_max: int | None = None) -> Column:
    """Interleaved-bit (Morton) value of two non-negative ints, JVM-side.

    Pass each key's domain max to scale it into the full [0, 2^bits)
    range first — UNSCALED keys with unequal bit widths degenerate the
    curve (the wider key's high bits dominate and files stop being
    rectangles in the narrower dimension). Values outside the domain are
    clamped so a stray outlier cannot scramble the curve.
    """
    def scaled(c: Column, cmax: int | None) -> Column:
        c = c.cast("long")
        if cmax is not None and cmax > 0:
            c = F.floor(c * F.lit(1 << bits) / F.lit(cmax + 1)).cast("long")
        return c

    hi = F.lit((1 << bits) - 1)
    ca = F.least(F.greatest(scaled(a, a_max), F.lit(0)), hi)
    cb = F.least(F.greatest(scaled(b, b_max), F.lit(0)), hi)
    z = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(ca, i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(cb, i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(abit, 2 * i + 1)).bitwiseOR(
            F.shiftleft(bbit, 2 * i)
        )
    return z


def write_zordered(df: DataFrame, out_dir: str, col_a: str, col_b: str,
                   n_files: int, bits: int = Z_BITS,
                   balance_domains: bool = True) -> None:
    """Write df clustered on the Z-curve of (col_a, col_b).

    Range-partition + sort by z: each parquet file covers a contiguous
    curve segment, i.e. a tight (col_a, col_b) rectangle in its min/max
    stats — the pruning surface for two-predicate scans. Columns must be
    integer-like; by default both domains are scaled to the full bit
    range (one tiny max() aggregate at write time) so unequal key widths
    cannot degenerate the curve.
    """
    a_max = b_max = None
    if balance_domains:
        row = df.agg(
            F.max(F.col(col_a).cast("long")).alias("a"),
            F.max(F.col(col_b).cast("long")).alias("b"),
        ).collect()[0]
        a_max, b_max = int(row["a"] or 0), int(row["b"] or 0)
    (
        df.withColumn(
            "__z", zvalue(F.col(col_a), F.col(col_b), bits, a_max, b_max)
        )
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite").parquet(out_dir)
    )


def _int_div(x: Column, m: Column) -> Column:
    """Exact integer division of non-negative longs, expression-level:
    (x - x % m) / m — the numerator is an exact multiple, so the double
    division is exact below 2^53 and an external SQL oracle can mirror
    it with plain `//`. (pyspark's Column API has no div operator.)"""
    return ((x - x % m) / m).cast("long")


def zvalue_exact(a: Column, b: Column, bits: int,
                 a_max: int, b_max: int) -> Column:
    """:func:`zvalue` with INTEGER-division domain scaling — every
    intermediate is exact integer arithmetic, so a SQL oracle reproduces
    the value bit-for-bit (the float-scaled zvalue is fine for layout
    quality but its floor(x*c/m) sits on a double-rounding surface no
    oracle should have to chase)."""
    hi = F.lit((1 << bits) - 1)

    def scaled(c: Column, cmax: int) -> Column:
        c = c.cast("long")
        if cmax > 0:
            c = _int_div(c * F.lit(1 << bits), F.lit(cmax + 1))
        return F.least(F.greatest(c, F.lit(0)), hi)

    ca, cb = scaled(a, a_max), scaled(b, b_max)
    z = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(ca, i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(cb, i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(abit, 2 * i + 1)).bitwiseOR(
            F.shiftleft(bbit, 2 * i)
        )
    return z


def write_zordered_buckets(df: DataFrame, out_dir: str, col_a: str,
                           col_b: str, n_files: int,
                           bits: int = Z_BITS) -> None:
    """DETERMINISTIC z-order layout: equal-WIDTH z-range buckets instead
    of sampled range partitions (write_zordered's repartitionByRange
    draws boundaries from a sample, so which rows share a file varies
    run to run — the reason lineitem_zorder_prune_stats stayed a
    rows-only probe for 12 rounds). Bucket f = (z * n_files) div
    (zmax + 1), all-integer arithmetic; one parquet file per non-empty
    bucket via repartition-on-bucket + partitionBy (each bucket lands
    wholly in one task, so each bucket dir gets exactly one file).
    Every file's (col_a, col_b) footer-stats box is then a PURE
    FUNCTION of the table — which is what lets a DuckDB oracle
    recompute the skipped-file counts the probe measures from real
    footers. Equal-width buckets trade balanced file sizes for
    determinism; the pruning geometry (tight curve rectangles) is the
    same."""
    row = df.agg(
        F.max(F.col(col_a).cast("long")).alias("a"),
        F.max(F.col(col_b).cast("long")).alias("b"),
    ).collect()[0]
    a_max, b_max = int(row["a"] or 0), int(row["b"] or 0)
    z = df.withColumn(
        "__z", zvalue_exact(F.col(col_a), F.col(col_b), bits, a_max, b_max)
    )
    zmax = int(z.agg(F.max("__z")).collect()[0][0] or 0)
    (
        z.withColumn(
            "__zb", _int_div(F.col("__z") * F.lit(n_files),
                             F.lit(zmax + 1)))
        .repartition(n_files, "__zb")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite").partitionBy("__zb").parquet(out_dir)
    )


def write_sorted_buckets(df: DataFrame, out_dir: str, col: str,
                         n_files: int) -> None:
    """Deterministic single-column baseline for the z-order comparison:
    equal-width value buckets on ``col`` (f = (v * n_files) div
    (vmax + 1)), one file per non-empty bucket — the same
    oracle-derivable contract as write_zordered_buckets."""
    vmax = int(df.agg(
        F.max(F.col(col).cast("long"))).collect()[0][0] or 0)
    (
        df.withColumn(
            "__zb", _int_div(F.col(col).cast("long") * F.lit(n_files),
                             F.lit(vmax + 1)))
        .repartition(n_files, "__zb")
        .sortWithinPartitions(col)
        .write.mode("overwrite").partitionBy("__zb").parquet(out_dir)
    )


def skipped_files(out_dir: str, col_a: str, col_b: str,
                  a_range: tuple[int, int],
                  b_range: tuple[int, int]) -> tuple[int, int]:
    """(total data files, files a stats-based reader SKIPS for the query
    box) from real parquet footers — integer facts, no float parity
    surface."""
    stats = file_stats(out_dir, col_a, col_b)
    skipped = sum(
        1 for _, mina, maxa, minb, maxb in stats
        if maxa < a_range[0] or mina > a_range[1]
        or maxb < b_range[0] or minb > b_range[1]
    )
    return len(stats), skipped


def file_stats(out_dir: str, col_a: str,
               col_b: str) -> list[tuple[str, int, int, int, int]]:
    """(file, min_a, max_a, min_b, max_b) per data file from parquet
    footers — what a stats-based reader prunes with. Walks partitioned
    (subdirectory) layouts too."""
    import pyarrow.parquet as pq

    paths = []
    for root, _dirs, files in os.walk(out_dir):
        for name in files:
            if name.endswith(".parquet"):
                paths.append(os.path.join(root, name))
    rows = []
    for path in sorted(paths):
        name = os.path.relpath(path, out_dir)
        md = pq.ParquetFile(path).metadata
        mins_a, maxs_a, mins_b, maxs_b = [], [], [], []
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                leaf = c.path_in_schema
                if leaf == col_a and c.statistics is not None:
                    mins_a.append(c.statistics.min)
                    maxs_a.append(c.statistics.max)
                elif leaf == col_b and c.statistics is not None:
                    mins_b.append(c.statistics.min)
                    maxs_b.append(c.statistics.max)
        if mins_a and mins_b:
            rows.append((name, min(mins_a), max(maxs_a),
                         min(mins_b), max(maxs_b)))
    return rows


def pruned_fraction(out_dir: str, col_a: str, col_b: str,
                    a_range: tuple[int, int],
                    b_range: tuple[int, int]) -> float:
    """Fraction of data files whose stats rectangle misses the query box —
    the measured (not hoped-for) skipping rate for a two-predicate scan."""
    stats = file_stats(out_dir, col_a, col_b)
    if not stats:
        return 0.0
    missed = sum(
        1
        for (_, amin, amax, bmin, bmax) in stats
        if amax < a_range[0] or amin > a_range[1]
        or bmax < b_range[0] or bmin > b_range[1]
    )
    return missed / len(stats)


def compact_parquet_dir(spark: SparkSession, path: str,
                        target_bytes: int = 128 * 1024 * 1024) -> dict:
    """Rewrite a parquet dir into ceil(total_bytes / target) files.

    The standard post-append maintenance job: incremental writers leave
    many small files (one per micro-batch/task); footer parsing and task
    scheduling then dominate scan cost. Rewrites into a temp dir, then
    renames the live dir aside before promoting the temp dir, so the
    published path is only ever a complete table or (for the instant
    between the two renames) absent — a crash leaves the data intact in
    `<path>_compact_old` instead of losing the table.
    Returns {files_before, files_after, bytes}.
    """
    import shutil

    files = [
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(".parquet")
    ]
    total = sum(os.path.getsize(f) for f in files)
    n = max(1, math.ceil(total / target_bytes))
    tmp = path.rstrip("/") + "_compact_tmp"
    old = path.rstrip("/") + "_compact_old"
    read_table(spark, path).repartition(n).write.mode("overwrite").parquet(
        tmp
    )
    if os.path.exists(old):
        shutil.rmtree(old)
    os.replace(path, old)
    os.replace(tmp, path)
    shutil.rmtree(old)
    after = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    return {"files_before": len(files), "files_after": after,
            "bytes": total}
