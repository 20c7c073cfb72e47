"""Cross-engine deterministic 60-bit hashes.

Spark's ``xxhash64``/``hash`` and DuckDB's ``hash`` are different functions,
so anything hash-derived (minhash signatures, simhash bits, fingerprints,
deterministic ids) is built on md5 instead: both engines produce the same hex
digest, and the first 15 hex digits (60 bits) fit a signed BIGINT exactly.

Spark:  conv(substring(md5(x), 1, 15), 16, 10)::long
DuckDB: ('0x' || substr(md5(x), 1, 15))::BIGINT

Replaces the reference's ULID generation (indexer.py:107) with a
deterministic id — better for idempotent re-indexing at scale (SURVEY.md T9).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def h64(col: Column) -> Column:
    """60-bit non-negative deterministic hash of a string column."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def dd_h64(expr: str) -> str:
    """DuckDB SQL fragment computing the identical hash of ``expr``."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"
