"""The one table reader (index/catalog.read_table): declared catalog
schemas, footer schemas of the written layouts, and the column check
that keeps a read with a given schema from filling a missing column
with NULLs."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_hybrid_doc_search_spark.index import catalog
from duckdb_hybrid_doc_search_spark.index.catalog import (SCHEMAS, TABLES,
                                                          load_table,
                                                          read_table,
                                                          written_schema)


@pytest.mark.parametrize("name", TABLES)
def test_declared_schema_is_the_inferred_one(spark, sf_dir, name):
    path = os.path.join(sf_dir, f"{name}.parquet")
    assert SCHEMAS[name] == spark.read.parquet(path).schema
    assert load_table(spark, sf_dir, name).schema == SCHEMAS[name]


def test_missing_declared_column_raises_naming_it(spark, sf_dir, tmp_path):
    emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    pq.write_table(emb.drop_columns(["label"]),
                   str(tmp_path / "embeddings.parquet"))
    with pytest.raises(ValueError, match="label"):
        load_table(spark, str(tmp_path), "embeddings")


def test_missing_catalog_path_still_raises_from_spark(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path / "nope"), "documents")


def test_non_spark_file_is_left_to_inference(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int16())}), path)
    assert written_schema(path) is None
    assert read_table(spark, path).schema == spark.read.parquet(path).schema


def test_partition_columns_take_the_inferred_type(spark, tmp_path):
    """int-range partition values are typed int from the directory names
    alone; a value past int's range leaves the table to inference."""
    from pyspark.sql import functions as F

    df = spark.range(6).withColumn("small", F.col("id") % 3)
    small, big = str(tmp_path / "small"), str(tmp_path / "big")
    df.write.partitionBy("small").parquet(small)
    df.withColumn("big", F.col("id") % 2 + F.lit(1 << 40)).write.partitionBy(
        "small", "big").parquet(big)
    assert written_schema(small).names == ["id", "small"]
    assert read_table(spark, small).schema == spark.read.parquet(
        small).schema
    assert dict(read_table(spark, small).dtypes) == {"id": "bigint",
                                                     "small": "int"}
    assert written_schema(big) is None
    assert read_table(spark, big).schema == spark.read.parquet(big).schema
    assert sorted(map(tuple, read_table(spark, small).collect())) == sorted(
        map(tuple, spark.read.parquet(small).collect()))


def _tables(out_dir: str) -> list[str]:
    """The table directories of a written layout: the root, its
    ``<root>_<side>`` siblings and its non-partition subdirectories,
    those that hold data."""
    parent, stem = os.path.split(out_dir.rstrip("/"))
    dirs = [out_dir]
    dirs += [os.path.join(parent, n) for n in sorted(os.listdir(parent))
             if n.startswith(stem + "_")]
    dirs += [os.path.join(out_dir, n) for n in sorted(os.listdir(out_dir))
             if "=" not in n and not catalog._hidden(n)]
    return [d for d in dirs if os.path.isdir(d) and any(
        "=" in n or not catalog._hidden(n) and os.path.isfile(
            os.path.join(d, n)) for n in os.listdir(d))]


def test_layout_reads_take_the_inferred_schema(spark, sf_dir):
    """Every layout kind a registered query reads, on its registered
    path: the footer schema (partition columns included) is the one
    Spark infers."""
    from pyspark.sql import functions as F

    from duckdb_hybrid_doc_search_spark.index import (dedup_layout,
                                                      fts_layout,
                                                      ivf_layout,
                                                      ivfpq_layout,
                                                      sq8_layout)
    from duckdb_hybrid_doc_search_spark.operators.dedup import BATCH_MOD

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    layouts = [
        ivf_layout.ensure_ivf_layout(spark, emb, sf_dir),
        ivf_layout.ensure_ivf_multiprobe_layout(spark, emb, sf_dir),
        sq8_layout.ensure_sq8_layout(spark, emb, sf_dir),
        ivfpq_layout.ensure_ivfpq_layout(spark, emb, sf_dir),
        dedup_layout.ensure_dedup_layout(   # the registered slice
            spark, docs.where(F.col("doc_id") % BATCH_MOD != 0), sf_dir),
        fts_layout.ensure_fts_segment_layout(spark, docs, sf_dir),
    ]
    seen = 0
    for out_dir in layouts:
        for table in _tables(out_dir):
            assert read_table(spark, table).schema == spark.read.parquet(
                table).schema, table
            seen += 1
    assert seen >= 14
    cells = read_table(spark, layouts[0])
    assert cells.columns[-1] == "cell"
