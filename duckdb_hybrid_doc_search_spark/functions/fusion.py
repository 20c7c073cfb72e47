"""Hybrid score fusion — the reference's quirky rule, preserved verbatim.

Reference searcher.py:218-241: both branches present -> mean of the RAW
values; FTS-only -> fts*0.8; VSS-only -> vss*0.8; neither -> 0.0. The quirk
(SURVEY.md §2.6.1): fts_score is BM25 (higher=better, unbounded) while
vss_score is cosine DISTANCE (lower=better, [0,2]) — the mean of mismatched
scales is intentional-by-accident and the oracle replicates it exactly.
NULL on a branch means "not found by that branch" (§2.6.2).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import FUSION_WEIGHT_SINGLE, SCORE_ROUND


def fuse_scores(fts: Column, vss: Column) -> Column:
    w = F.lit(FUSION_WEIGHT_SINGLE)
    return (
        F.when(fts.isNotNull() & vss.isNotNull(), (fts + vss) / F.lit(2.0))
        .when(fts.isNotNull(), fts * w)
        .when(vss.isNotNull(), vss * w)
        .otherwise(F.lit(0.0))
    )


def fuse_values(fts: np.ndarray, vss: np.ndarray, has_fts: np.ndarray,
                has_vss: np.ndarray) -> np.ndarray:
    """:func:`fuse_scores` of candidate rows on the driver, unrounded:
    ``has_fts`` / ``has_vss`` mark the rows each branch found, and the
    value of a branch that did not find a row is ignored."""
    return np.where(has_fts & has_vss, (fts + vss) / 2.0,
                    np.where(has_fts, fts, np.where(has_vss, vss, 0.0))
                    * FUSION_WEIGHT_SINGLE)


def fuse(fts: DataFrame, vss: DataFrame, keys: str | Sequence[str]
         ) -> DataFrame:
    """The candidate merge (Q5/Q7) and fusion (Q8): the full-outer join of
    the two branch top-k sets (``fts_score`` / ``vss_score`` columns) on
    ``keys``, plus the fused ``score`` rounded at SCORE_ROUND."""
    return fts.join(vss, keys, "full_outer").withColumn(
        "score",
        F.round(fuse_scores(F.col("fts_score"), F.col("vss_score")),
                SCORE_ROUND),
    )


def dd_fuse_scores(fts: str = "fts_score", vss: str = "vss_score") -> str:
    w = FUSION_WEIGHT_SINGLE
    return (
        f"CASE WHEN {fts} IS NOT NULL AND {vss} IS NOT NULL"
        f" THEN ({fts} + {vss}) / 2.0"
        f" WHEN {fts} IS NOT NULL THEN {fts} * {w}"
        f" WHEN {vss} IS NOT NULL THEN {vss} * {w}"
        f" ELSE 0.0 END"
    )
