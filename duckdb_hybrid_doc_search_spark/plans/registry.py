"""Registry of driver-checkable queries.

Every operator the engine claims (SURVEY.md §2 inventory + the LLM-pipeline
extensions) registers here as a (Spark callable, DuckDB oracle SQL) pair;
``__spark_entry__.py`` re-exports the registry to the correctness driver.
Oracle is None only for genuinely non-SQL-expressible ops (the driver then
records a weaker rows-only check).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryDef:
    name: str
    spark_fn: SparkQuery
    oracle: str | None
    bench: bool = True  # include in bench.py's timed loop
    # True = do NOT window-jump this round (late additions that would
    # otherwise displace higher-priority unchecked/RECHECK entries from
    # the gate's ~50-row window; they rotate in next round when the flag
    # is cleared alongside RECHECK)
    defer_gate: bool = False
    # True = calling spark_fn EXECUTES work (e.g. drives a bounded stream
    # to completion) rather than just building a plan — plan-only tools
    # (tools/audit_plans.py) must skip these. Explicit flag, not a name
    # convention (r4 ADVICE: a streaming query not named `streaming_*`
    # would have been executed during a plan-only audit).
    executes_on_build: bool = False


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None = None, bench: bool = True,
             defer_gate: bool = False, executes_on_build: bool = False):
    def deco(fn: SparkQuery) -> SparkQuery:
        REGISTRY[name] = QueryDef(name, fn, oracle, bench, defer_gate,
                                  executes_on_build)
        return fn

    return deco


def bench_queries() -> dict[str, SparkQuery]:
    """Queries included in the timed benchmark loop (excludes wrappers
    whose cost is dominated by third-party internals, e.g. MLlib
    approxSimilarityJoin — their correctness/recall is still tested)."""
    _load_all()
    return {n: qd.spark_fn for n, qd in REGISTRY.items() if qd.bench}


# Queries whose IMPLEMENTATION changed since their last green driver row —
# they jump the gate queue right after never-checked queries. Maps name ->
# round the change landed in: the flag SELF-CLEARS once a driver row from
# that round (or later) comes back green, so stale entries stop costing
# window slots without per-round manual cleanup.
# Round 16: every GEMM top-k site moved onto the one Arrow top-k kernel
# (functions/topk.py) — value-identical, executed path changed.
RECHECK: dict[str, int] = dict.fromkeys([
    "ann_brute_topk", "ann_filtered_topk", "ann_hnsw_recall",
    "ann_ivf_append_probe", "ann_ivf_kmeans_recall",
    "ann_ivf_nprobe_curve", "ann_ivf_recall", "ann_ivf_topk",
    "ann_ivf_trained_recall", "ann_ivfpq_recall",
    "ann_ivfpq_residual_topk", "ann_ivfpq_topk", "ann_pq_recall",
    "ann_pq_rescore_recall", "ann_sq8_recall",
    "embeddings_hard_negatives", "embeddings_knn_classify",
    "embeddings_matryoshka_recall", "hybrid_search_batch",
    "hybrid_search_batch_reranked", "search_rank_agreement",
    "streaming_ivf_append",
    # ... and the PQ encode shared with it builds the IVF-PQ layouts
    "ann_ivfpq_append_probe", "ann_ivfpq_layout_probe", "ann_pq_topk",
    "ann_pq_rescore_topk",
], 16)


def _check_history() -> dict[str, tuple[int, bool, str | None]]:
    """name -> (newest round with a driver row, green at that round,
    err string at that round or None).

    The external gate only verifies the first ~50 entries of ``queries()``
    per round, so ordering is coverage policy. Reading the UNION of all
    CORRECTNESS_r{N}.json files (latest status wins) lets the ordering
    distinguish "never had a driver row" (highest priority) from "green
    two rounds ago" (rotates by staleness) — keying off only the newest
    file would mark everything outside its 50-row window as unchecked and
    starve genuinely-new queries of slots.
    """
    import glob
    import json
    import re

    here = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)
    )))
    hist: dict[str, tuple[int, bool, str | None]] = {}
    rounds: list[tuple[int, dict]] = []
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        if isinstance(data, dict):
            rounds.append((int(m.group(1)), data))
    for n, data in sorted(rounds):
        for name, row in data.items():
            green = bool(
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match", True)
                and not row.get("err")
            )
            err = row.get("err") if isinstance(row, dict) else None
            hist[name] = (n, green, str(err) if err else None)
    return hist


def _gate_ordered() -> list[str]:
    hist = _check_history()

    # An ``err: no_oracle`` driver row is TERMINAL: the driver cannot
    # check oracle-less entries at all (r5 burned ~20 of ~50 window
    # slots proving this), so retrying them every round starves real
    # coverage. They park behind the green tail — except ONE rotating
    # probe slot (the stalest such entry) kept in case the driver
    # gains rows-only checking later.
    no_oracle_parked = {
        name for name, (_, green, err) in hist.items()
        if not green and err == "no_oracle"
        and name in REGISTRY and REGISTRY[name].oracle is None
    }
    probe = (min(no_oracle_parked, key=lambda n: hist[n][0])
             if no_oracle_parked else None)

    def rank(item: tuple[int, tuple[str, QueryDef]]) -> tuple[int, int, int]:
        order, (name, qd) = item
        checked = hist.get(name)
        if qd.defer_gate and checked is None and name not in RECHECK:
            # late additions held back one round so they don't displace
            # the priority set from the window. Applies ONLY while the
            # query has no driver history: once checked (esp. a FAILED
            # row) or RECHECK-flagged, the normal tiers govern — a stale
            # defer flag must never park a red query out of the window.
            return (4, 0, order)
        if qd.oracle is None:
            # rows-only: weaker signal, but nonzero — a never-checked
            # entry still earns one probe row; after that, no_oracle
            # errs are terminal (see above), other errs retry.
            if checked is None:
                return (2, 0, order)
            last_round, green, err = checked
            if name in no_oracle_parked:
                if name == probe:
                    return (2, 1, last_round)  # rotating probe slot
                return (5, 0, last_round)  # terminal: behind green tail
            if not green:
                return (2, 1, last_round)  # genuine err row: retry
            return (3, 0, last_round)
        if checked is None:
            return (0, 0, order)  # never had any driver row: jump the queue
        last_round, green, _err = checked
        recheck_pending = (
            name in RECHECK and (last_round < RECHECK[name] or not green)
        )
        if recheck_pending or not green:
            return (1, 0, order)  # impl changed or last check failed
        return (3, 0, last_round)  # green tail: stalest check rotates first

    items = list(enumerate(REGISTRY.items()))
    return [n for _, (n, _) in sorted(items, key=rank)]


def queries() -> dict[str, SparkQuery]:
    _load_all()
    return {name: REGISTRY[name].spark_fn for name in _gate_ordered()}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {
        name: REGISTRY[name].oracle
        for name in _gate_ordered()
        if REGISTRY[name].oracle is not None
    }


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    from . import (analytics_queries, chunker_queries,  # noqa: F401
                   doc_search_queries, layout_queries, mining_queries,
                   mllib_queries, multimodal_queries, pipeline_queries,
                   relational_queries, sql_queries, streaming_queries)

    _LOADED = True
