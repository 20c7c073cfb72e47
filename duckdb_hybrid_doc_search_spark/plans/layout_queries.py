"""Layout-quality metrics as registered queries (rows-only: the measured
quantity is parquet FILE organization, which SQL cannot observe).

Same discipline as the ANN recall and bloom FPR rows: the scale claim
("z-order lets a two-predicate scan skip files", "compaction bounds file
count") is a RECORDED number the driver sees every round, not a hope in a
docstring. Both queries are deterministic: hash-free layouts, fixed query
boxes, fingerprint-cached builds.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..index.catalog import load_table, read_table
from ..index.fingerprint import (ensure_layout, layout_fingerprint,
                                 layout_name, sweep_siblings,
                                 warehouse_root)
from ..index.maintenance import (Z_BITS, compact_parquet_dir,
                                 skipped_files, write_sorted_buckets,
                                 write_zordered_buckets)
from .registry import register

ZO_FILES = 16
UNBOUNDED = (0, 1 << 40)
ZO_PART_BOX = (10, 20)  # narrow l_partkey probe (suppkey unconstrained)
ZO_SUPP_BOX = (1, 3)    # narrow l_suppkey probe (partkey unconstrained)


def _dd_zorder_oracle() -> str:
    """Formula oracle for lineitem_zorder_prune_stats (r12 VERDICT #8 —
    the last perpetual no_oracle probe slot): the deterministic bucket
    layouts (index/maintenance.write_zordered_buckets /
    write_sorted_buckets) make every file's (partkey, suppkey) stats
    box a pure function of the table — integer-division domain scaling,
    bit interleave, equal-width bucket id — so DuckDB recomputes the
    exact per-file boxes and counts which ones a stats-based reader
    skips for each probe box. The Spark side measures the SAME counts
    from REAL parquet footers; the hash match proves layout writer +
    footer stats + formula agree end to end."""
    nb = 1 << Z_BITS
    zterms = " | ".join(
        f"(((sa >> {i}) & 1) << {2 * i + 1}) | "
        f"(((sb >> {i}) & 1) << {2 * i})"
        for i in range(Z_BITS)
    )
    palo, pahi = ZO_PART_BOX
    sblo, sbhi = ZO_SUPP_BOX
    return f"""
WITH dom AS (
  SELECT max(l_partkey)::BIGINT AS am, max(l_suppkey)::BIGINT AS bm
  FROM lineitem
),
s AS (
  SELECT l_partkey::BIGINT AS a, l_suppkey::BIGINT AS b,
         (l_partkey::BIGINT * {nb}) // (am + 1) AS sa,
         (l_suppkey::BIGINT * {nb}) // (bm + 1) AS sb
  FROM lineitem CROSS JOIN dom
),
z AS (SELECT a, b, ({zterms})::BIGINT AS zv FROM s),
zm AS (SELECT max(zv) AS zmax FROM z),
zb AS (
  SELECT (zv * {ZO_FILES}) // (zmax + 1) AS f, a, b
  FROM z CROSS JOIN zm
),
zboxes AS (
  SELECT f, min(a) AS mina, max(a) AS maxa,
         min(b) AS minb, max(b) AS maxb
  FROM zb GROUP BY f
),
sk AS (
  SELECT (l_suppkey::BIGINT * {ZO_FILES}) // (bm + 1) AS f,
         l_partkey::BIGINT AS a, l_suppkey::BIGINT AS b
  FROM lineitem CROSS JOIN dom
),
sboxes AS (
  SELECT f, min(a) AS mina, max(a) AS maxa,
         min(b) AS minb, max(b) AS maxb
  FROM sk GROUP BY f
)
SELECT
  (SELECT count(*) FROM zboxes)::INT AS z_files,
  (SELECT count(*) FROM zboxes
   WHERE maxa < {palo} OR mina > {pahi})::INT AS z_skipped_partkey,
  (SELECT count(*) FROM zboxes
   WHERE maxb < {sblo} OR minb > {sbhi})::INT AS z_skipped_suppkey,
  (SELECT count(*) FROM sboxes)::INT AS sorted_files,
  (SELECT count(*) FROM sboxes
   WHERE maxa < {palo} OR mina > {pahi})::INT AS sorted_skipped_partkey,
  (SELECT count(*) FROM sboxes
   WHERE maxb < {sblo} OR minb > {sbhi})::INT AS sorted_skipped_suppkey
""".strip()


def _metrics_layout(sf_dir: str, kind: str, fp: str, write,
                    *old_kinds: str) -> str:
    """Build (once per corpus fingerprint) the ``{sf}-{kind}-{fp}``
    scratch layout with ``write(out_dir)``, then drop older generations
    of the SAME ``{sf}-{kind}-`` stem (r4 ADVICE: scratch grew
    unboundedly across corpus regenerations), and of the stems in
    ``old_kinds`` that a renamed kind left behind. The trailing '-' in
    the match keeps a distinct kind whose name merely extends this stem
    (e.g. 'sortb' vs a future 'sortb2') out of the sweep."""

    def build(out_dir: str) -> None:
        write(out_dir)
        for k in (kind, *old_kinds):
            sweep_siblings(out_dir, re.escape(layout_name(sf_dir, k, "")))

    return ensure_layout("layout_metrics", sf_dir, kind, fp, build,
                         "_SUCCESS")


@register("lineitem_zorder_prune_stats", oracle=_dd_zorder_oracle(),
          bench=True)
def lineitem_zorder_prune_stats(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Measured file-skipping of the z-ordered layout vs a single-column
    (suppkey) bucket sort, from REAL parquet footers, for TWO probes:
    one narrow on partkey, one narrow on suppkey. The suppkey layout
    prunes only its own column's probe; z-order prunes BOTH — the
    asymmetry multi-dimensional clustering exists for. ORACLED since
    r13 (r12 VERDICT #8, the recipe of the r9 layout upgrades): the
    layouts are the DETERMINISTIC equal-width bucket forms
    (index/maintenance.write_zordered_buckets — all-integer scaling,
    interleave, and bucket arithmetic; one file per non-empty bucket),
    so every file's stats box is a pure function of the table and the
    DuckDB oracle recomputes the skipped-file counts the Spark side
    reads from physical footers. Integer facts only — no float parity
    surface. Built once per corpus fingerprint."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    fp = layout_fingerprint(li, "l_partkey", "l_suppkey")
    zdir = _metrics_layout(
        sf_dir, "zorderd", fp,
        lambda path: write_zordered_buckets(li, path, "l_partkey",
                                            "l_suppkey", ZO_FILES))
    sdir = _metrics_layout(
        sf_dir, "sortbd", fp,
        lambda path: write_sorted_buckets(li, path, "l_suppkey", ZO_FILES))
    zn, zskip_p = skipped_files(zdir, "l_partkey", "l_suppkey",
                                ZO_PART_BOX, UNBOUNDED)
    _, zskip_s = skipped_files(zdir, "l_partkey", "l_suppkey",
                               UNBOUNDED, ZO_SUPP_BOX)
    sn, sskip_p = skipped_files(sdir, "l_partkey", "l_suppkey",
                                ZO_PART_BOX, UNBOUNDED)
    _, sskip_s = skipped_files(sdir, "l_partkey", "l_suppkey",
                               UNBOUNDED, ZO_SUPP_BOX)
    return spark.createDataFrame(
        [(zn, zskip_p, zskip_s, sn, sskip_p, sskip_s)],
        "z_files int, z_skipped_partkey int, z_skipped_suppkey int, "
        "sorted_files int, sorted_skipped_partkey int, "
        "sorted_skipped_suppkey int",
    )


_COMPACT_ORACLE = """
SELECT 40::INT AS files_before, 1::INT AS files_after,
       count(*)::BIGINT AS rows_before, count(*)::BIGINT AS rows_after,
       true AS lossless
FROM lineitem
""".strip()


@register("lineitem_compaction_stats", oracle=_COMPACT_ORACLE, bench=True)
def lineitem_compaction_stats(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Compaction effect, measured: fragment lineitem into many small
    files (the post-streaming-append state), compact to a byte target,
    record before/after file counts and that no rows were lost. Rebuilt
    each call in a scratch dir — the numbers are deterministic, so
    since r9 the row is oracle-gated (r8 VERDICT #6): 40 fragments in
    (repartition(40), every partition non-empty at the gate SFs), one
    file out (the byte total is far under the 1 GiB target at every
    test SF), and exact row counts from the table. The raw byte size is
    writer/encoder-dependent and deliberately NOT part of the gated row
    — losslessness and the file counts are the layout claims."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    frag = os.path.join(warehouse_root("layout_metrics"), "compact_scratch")
    li.repartition(40).write.mode("overwrite").parquet(frag)
    n_rows = read_table(spark, frag).count()
    stats = compact_parquet_dir(spark, frag, target_bytes=1 << 30)
    after_rows = read_table(spark, frag).count()
    return spark.createDataFrame(
        [(stats["files_before"], stats["files_after"],
          n_rows, after_rows, n_rows == after_rows)],
        "files_before int, files_after int, rows_before long, "
        "rows_after long, lossless boolean",
    )


N_SHARDS = 8
SHARD_MAX_RECORDS = 200


_SHARDS_ORACLE = f"""
SELECT shard, count(*)::BIGINT AS n_docs,
       ((count(*) + {SHARD_MAX_RECORDS - 1}) // {SHARD_MAX_RECORDS})::BIGINT
         AS n_files,
       sum(n_chars)::BIGINT AS total_chars
FROM (
  SELECT ((strpos('0123456789abcdef',
            substring(md5(CAST(doc_id AS VARCHAR)), 15, 1)) - 1)
          % {N_SHARDS})::BIGINT AS shard,
         n_chars
  FROM documents
)
GROUP BY shard ORDER BY shard
""".strip()


@register("corpus_write_shards", oracle=_SHARDS_ORACLE, bench=True)
def corpus_write_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data export: write the documents corpus as hash-bucketed
    parquet shards (partitionBy shard + maxRecordsPerFile bounding file
    size) and report measured per-shard stats from the written files —
    the sink side of a data pipeline, recorded like the other layout
    metrics. Shard assignment is md5-deterministic, so re-exports are
    stable and resumable; losslessness (row counts in == out) is part of
    the recorded output.

    Oracle-gated since r9 (r8 VERDICT #6): every column of the measured
    row is table-derivable — the shard key mod N_SHARDS only depends
    on the md5 prefix's last hex digit (16 = 0 mod 8), and
    repartition("shard") puts each shard wholly in one writer task, so
    the written file count is exactly ceil(n_docs / maxRecordsPerFile).
    A writer that splits shards across tasks, drops rows, or rolls
    files at the wrong boundary flips the hash.

    Output: shard, n_docs, n_files, total_chars.
    """
    docs = load_table(spark, sf_dir, "documents")
    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15),
               16, 10).cast("long"),
        F.lit(N_SHARDS),
    ).alias("shard")
    out = _metrics_layout(
        sf_dir, "shards", layout_fingerprint(docs, "doc_id", "text"),
        lambda path: (
            docs.select("doc_id", "text", "lang", "source", "n_chars", shard)
            .repartition("shard")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", SHARD_MAX_RECORDS)
            .partitionBy("shard")
            .parquet(path)
        ))
    written = read_table(spark, out)
    files = written.select(
        "shard", F.input_file_name().alias("f")
    ).distinct().groupBy("shard").agg(F.count(F.lit(1)).alias("n_files"))
    stats = written.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    return (
        stats.join(files, "shard")
        .select("shard", "n_docs", "n_files", "total_chars")
        .orderBy("shard")
    )


PRUNE_YEARS = (1996, 1997)  # two-year probe window


_PRUNE_ORACLE = """
WITH y AS (SELECT year(o_orderdate) AS yr FROM orders)
SELECT (SELECT count(DISTINCT yr) FROM y)::INT AS n_partitions,
       (SELECT count(DISTINCT yr) FROM y
        WHERE yr BETWEEN 1996 AND 1997)::INT AS partitions_matched,
       (SELECT count(DISTINCT yr) FROM y)::INT AS files_total,
       (SELECT count(DISTINCT yr) FROM y
        WHERE yr BETWEEN 1996 AND 1997)::INT AS files_read,
       (SELECT count(*) FROM y
        WHERE yr BETWEEN 1996 AND 1997)::BIGINT AS rows_read,
       true AS matches_unpartitioned
""".strip()


@register("orders_partition_prune_stats", oracle=_PRUNE_ORACLE, bench=True)
def orders_partition_prune_stats(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Measured HIVE-PARTITION pruning (directory-level, the coarse
    complement to z-order's file-level skipping): orders written
    partitionBy(o_year) once per corpus fingerprint, then a two-year
    probe is measured three ways — partition directories matched vs
    total, actual files opened by the pruned scan (input_file_name on
    the filtered read) vs files on disk, and a count+DECIMAL-checksum
    equality flag against the same filter on the unpartitioned source.
    At 100 TB partition pruning is the FIRST line of scan economics:
    the probe must never open a non-matching year's directory.

    Oracle-gated since r9 (r8 VERDICT #6): the write repartitions by
    o_year first, so each year directory holds EXACTLY one file and
    every measured column is table-derivable — files_read above
    partitions_matched means the pruned scan opened a directory it
    should have skipped, and the hash flips."""
    orders = load_table(spark, sf_dir, "orders")
    withy = orders.withColumn("o_year", F.year("o_orderdate"))
    # "opart1" (one file per year dir): the r9 repartition("o_year")
    # changed the written shape, so the cache key must not collide with
    # the pre-r9 multi-file layout; its generations under the OLD stem
    # ("{sf}-opart-") are swept too (r9 review finding)
    outdir = _metrics_layout(
        sf_dir, "opart1", layout_fingerprint(orders, "o_orderkey"),
        lambda path: (
            withy.repartition("o_year")
            .write.partitionBy("o_year").mode("overwrite").parquet(path)
        ),
        "opart")

    part_dirs = [d for d in os.listdir(outdir) if d.startswith("o_year=")]
    files_total = sum(
        1
        for d in part_dirs
        for f in os.listdir(os.path.join(outdir, d))
        if f.endswith(".parquet")
    )
    lo, hi = PRUNE_YEARS
    matched_dirs = [
        d for d in part_dirs
        if lo <= int(d.split("=", 1)[1]) <= hi
    ]

    pruned = read_table(spark, outdir).where(
        (F.col("o_year") >= lo) & (F.col("o_year") <= hi)
    )
    files_read = (
        pruned.select(F.input_file_name().alias("f")).distinct().count()
    )
    got = pruned.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(30,8)")).alias("s"),
    ).collect()[0]
    want = withy.where(
        (F.col("o_year") >= lo) & (F.col("o_year") <= hi)
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(30,8)")).alias("s"),
    ).collect()[0]

    return spark.createDataFrame(
        [(
            len(part_dirs), len(matched_dirs), files_total, files_read,
            int(got["n"]),
            bool(got["n"] == want["n"] and got["s"] == want["s"]),
        )],
        "n_partitions int, partitions_matched int, files_total int, "
        "files_read int, rows_read long, matches_unpartitioned boolean",
    )
