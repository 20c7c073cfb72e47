"""Table catalog over a scale-factor directory of parquet tables, and the
one reader of every table the engine owns.

The driver test data (TESTDATA.md) is one parquet file per table; the engine
reads them with explicit column pruning left to Catalyst. At production
scale these would be partitioned/bucketed table roots — the API is the same.

Every read of a catalog table or a written layout goes through
:func:`read_table` with its schema given, so no read runs Spark's
one-task schema-inference job (``parquet at ...``, ~70 ms against ~10 ms
for a read with a schema). Catalog tables take theirs from ``SCHEMAS``
(the TESTDATA.md contract); layouts take the Spark schema their writer
stored in each part file's footer (:func:`written_schema`), which is what
Spark's own inference reads first.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


_TYPES = {
    "int": T.IntegerType(), "bigint": T.LongType(), "double": T.DoubleType(),
    "string": T.StringType(), "timestamp_ntz": T.TimestampNTZType(),
    "array<float>": T.ArrayType(T.FloatType()),
}


def _struct(ddl: str) -> T.StructType:
    return T.StructType([T.StructField(n, _TYPES[t]) for n, t in (
        col.split(" ") for col in ddl.split(", "))])


# The declared schema of each catalog table, as Spark reads its parquet
# (TESTDATA.md; tests/test_catalog.py pins them against inference).
SCHEMAS: dict[str, T.StructType] = {name: _struct(ddl) for name, ddl in {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, "
                "c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, "
                "s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, "
            "p_type string, p_size int, p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp_ntz, "
              "o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
                "l_linenumber int, l_quantity double, "
                "l_extendedprice double, l_discount double, l_tax double, "
                "l_returnflag string, l_linestatus string, "
                "l_shipdate timestamp_ntz",
    "events": "event_id bigint, ts timestamp_ntz, user_id bigint, "
              "event_type string, value double, props string",
    "documents": "doc_id bigint, text string, lang string, source string, "
                 "n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}.items()}

TABLES = tuple(SCHEMAS)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# footer key under which Spark's parquet writer stores the row schema
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

_INT = re.compile(r"[+-]?[0-9]+")


def ensure_session_conf(spark: SparkSession) -> None:
    """Settings the engine's results depend on, applied defensively: the
    harness may hand us a session built elsewhere (get_spark sets these at
    build time, but a foreign session won't have them).

    - nanosAsLong: Spark otherwise refuses the nanosecond-timestamp events
      parquet outright;
    - UTC session timezone: epoch extraction from TIMESTAMP_NTZ columns
      interprets wall time in the session zone — any other zone shifts
      results vs the (UTC-naive) DuckDB oracle.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _hidden(name: str) -> bool:
    """Spark's listing filter: ``_``/``.`` names are metadata, except
    partition directories (``_k=v``)."""
    return ((name.startswith("_") and "=" not in name)
            or name.startswith(".") or name.endswith("._COPYING_"))


def _first_part(path: str) -> str | None:
    """The first data file of a local table (the file itself, or the
    first non-hidden file under the directory in sorted order); None
    for a missing or non-local path."""
    if os.path.isfile(path):
        return path
    for d, subs, files in os.walk(path):
        subs[:] = sorted(s for s in subs if not _hidden(s))
        for f in sorted(files):
            if not _hidden(f):
                return os.path.join(d, f)
    return None


def _partition_fields(path: str) -> list[T.StructField] | None:
    """The ``k=v`` partition columns under ``path``, typed int as Spark's
    partition inference types int-range integers; None when some value is
    not one (Spark then infers the table)."""
    values: dict[str, list[str]] = {}
    for _, subs, _ in os.walk(path):
        subs[:] = sorted(s for s in subs if not _hidden(s))
        for s in subs:
            if "=" in s:
                k, v = s.split("=", 1)
                values.setdefault(k, []).append(v)
    if not all(_INT.fullmatch(v) and -2**31 <= int(v) < 2**31
               for vs in values.values() for v in vs):
        return None
    return [T.StructField(k, T.IntegerType()) for k in values]


def written_schema(path: str) -> T.StructType | None:
    """The schema Spark infers for a Spark-written table: the row schema
    its writer stored in the first part file's footer, then the partition
    columns. None when there is no such footer or a partition value is
    not an int."""
    import pyarrow.parquet as pq

    part = _first_part(path)
    if part is None:
        return None
    meta = pq.read_metadata(part).metadata or {}
    if SPARK_SCHEMA_KEY not in meta:
        return None
    schema = T.StructType.fromJson(json.loads(meta[SPARK_SCHEMA_KEY]))
    parts = _partition_fields(path)
    if parts is None:
        return None
    return T.StructType(schema.fields + parts)


def read_table(spark: SparkSession, path: str,
               schema: T.StructType | None = None) -> DataFrame:
    """Read a parquet table with its schema given: ``schema``, else the
    one its Spark writer stored (:func:`written_schema`). Only a table
    with neither (a glob path, or files not written by Spark) is left to
    inference."""
    schema = schema or written_schema(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Catalog table ``name`` of ``sf_dir`` with its declared schema. A
    local file lacking a declared column raises ValueError naming it (a
    read with a given schema would fill the column with NULLs)."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_session_conf(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    part = _first_part(path)
    if part is not None:
        import pyarrow.parquet as pq

        have = set(pq.read_schema(part).names)
        missing = [n for n in SCHEMAS[name].names if n not in have]
        if missing:
            raise ValueError(
                f"{path} lacks declared column(s) {missing} of catalog "
                f"table {name!r}"
            )
    return read_table(spark, path, SCHEMAS[name])
