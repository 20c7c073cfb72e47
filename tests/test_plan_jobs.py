"""Spark jobs per warm run of the catalog top-k queries: no
schema-inference job (``parquet at ...``) and no more jobs than each
plan needs. Counted per job group with the status tracker, UI off."""

from __future__ import annotations

import time

import pytest

from duckdb_hybrid_doc_search_spark.plans import registry

# jobs of one warm run (the noop write included): side-table and query
# collects, the top-k scan's shuffle stage and the write
MAX_JOBS = {
    "ann_brute_topk": 3,        # queries; scan; write
    "ann_ivf_topk": 4,          # centroids; queries; scan; write
    "ann_ivfpq_topk": 5,        # count (2); side tables; scan; write
    "ann_sq8_topk": 5,          # dimension stats (2); queries; scan; write
    "ann_sq8_layout_probe": 4,  # stats row; queries; scan; write
    "dedup_embedding_ivf": 3,
}


def _run_jobs(spark, sf_dir, name, group):
    """(job count, stage names) of one run of ``name`` through the noop
    sink in job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        registry.REGISTRY[name].spark_fn(spark, sf_dir).write.format(
            "noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    deadline = time.monotonic() + 10
    while True:   # the listener bus reports jobs asynchronously
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        if all(j is not None and j.status == "SUCCEEDED" for j in jobs) \
                or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    names = [st.getStageInfo(s).name for j in jobs for s in j.stageIds
             if st.getStageInfo(s) is not None]
    return len(jobs), names


@pytest.mark.parametrize("name", sorted(MAX_JOBS))
def test_warm_run_jobs(spark, sf_dir, name):
    registry._load_all()
    _run_jobs(spark, sf_dir, name, f"cold.{name}")
    n_jobs, stages = _run_jobs(spark, sf_dir, name, f"warm.{name}")
    assert not [s for s in stages if s.startswith("parquet at")], stages
    assert n_jobs <= MAX_JOBS[name], stages
