"""Vector math as pure SQL expressions (Spark + DuckDB pairs).

Replaces the reference's HNSW-accelerated `array_cosine_distance` scan
(searcher.py:127-143, index at db.py:159-165) with an exact, embarrassingly
parallel expression over a narrow embeddings table — whole-stage-codegen'd
JVM arithmetic, no Python in the loop. Both engines fold left-to-right over
float64, so results are bit-comparable before the final rounding.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Left-to-right double fold of elementwise products.

    ``dim`` (r14): when the caller KNOWS the arrays' static width (PQ
    subvectors, fixed-dim embedding tables), the fold is emitted as an
    unrolled codegen expression — `aggregate(zip_with(...))` is a
    CodegenFallback higher-order function evaluated per row through the
    interpreted evaluator (measured 6x slower than the unrolled form on
    a 1M-row projection). The unrolled chain is the SAME float math:
    0.0 + p0 + p1 + ... left-to-right, bit-identical to the fold. Keep
    ``dim`` small-ish (subvector widths) — a 64-term chain per dot adds
    measurable driver-side planning cost to every plan build."""
    if dim is not None:
        acc = F.lit(0.0)
        for i in range(dim):
            acc = acc + a.getItem(i).cast("double") * b.getItem(i).cast(
                "double")
        return acc
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine_similarity(a: Column, b: Column, dim: int | None = None) -> Column:
    """NULL when a norm is 0, as DuckDB's ``0.0 / 0.0`` is (dd twin
    :func:`dd_cosine_similarity`), rather than ANSI mode's
    DIVIDE_BY_ZERO."""
    return F.try_divide(dot(a, b, dim), norm(a, dim) * norm(b, dim))


def cosine_distance(a: Column, b: Column) -> Column:
    """DuckDB `array_cosine_distance` semantics: 1 - cosine_similarity."""
    return F.lit(1.0) - cosine_similarity(a, b)


def lit_vector(vec: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def l2sq(a: Column, b: Column, dim: int | None = None) -> Column:
    """Squared L2 distance via the dot identity ||a||² - 2a·b + ||b||² —
    three left-to-right folds, so the DuckDB twin (dd_l2sq, same
    identity) is bit-comparable before rounding; an elementwise
    sum-of-squares would fold in a different order. ``dim`` unrolls the
    folds into codegen (see :func:`dot`) — identical float math."""
    return dot(a, a, dim) - F.lit(2.0) * dot(a, b, dim) + dot(b, b, dim)


# --- DuckDB fragments ------------------------------------------------------


def dd_lit_vector(vec: Sequence[float]) -> str:
    return "[" + ", ".join(repr(float(v)) for v in vec) + "]"


def dd_dot(a: str, b: str) -> str:
    return f"list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"


def dd_cosine_similarity(a: str, b: str) -> str:
    return (
        f"({dd_dot(a, b)} / (sqrt({dd_dot(a, a)}) * sqrt({dd_dot(b, b)})))"
    )


def dd_cosine_distance(a: str, b: str) -> str:
    return f"(1.0 - {dd_cosine_similarity(a, b)})"


def dd_l2sq(a: str, b: str) -> str:
    """Same dot-identity formula as :func:`l2sq` for bit-parity."""
    return f"({dd_dot(a, a)} - 2.0 * {dd_dot(a, b)} + {dd_dot(b, b)})"
