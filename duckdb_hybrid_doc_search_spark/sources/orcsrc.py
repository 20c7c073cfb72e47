"""ORC document source — Spark's second built-in splittable columnar
format (ref reads markdown/duckdb only; corpus interchange at scale also
arrives as ORC from Hive-era pipelines).

The scan query materializes an ORC copy of the documents table once per
source generation (cache keyed on the source parquet's mtime+size) and
then verifies the round-trip: every row's text must hash identically to
the parquet original — the property that makes a format migration
trustworthy. ORC files are splittable and carry their schema, so the
read side needs no inference pass.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from ..index.fingerprint import ensure_layout, layout_name, sweep_siblings

_ORC_VERSION = 1


def ensure_orc_documents(spark: SparkSession, sf_dir: str,
                         root: str | None = None) -> str:
    """Write (once per source generation) and return the ORC copy path;
    older generations of the same corpus are swept after a write."""
    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    tag = f"documents-v{_ORC_VERSION}"

    def build(out_dir: str) -> None:
        spark.read.parquet(src).write.mode("overwrite").orc(out_dir)
        sweep_siblings(out_dir, re.escape(layout_name(sf_dir, tag, "")))

    return ensure_layout("orc_docs", sf_dir, tag,
                         f"{st.st_mtime_ns}-{st.st_size}", build, "_SUCCESS",
                         root)


def read_orc_docs(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)
