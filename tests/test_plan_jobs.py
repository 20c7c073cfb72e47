"""Spark jobs per warm run of the catalog top-k queries: no
schema-inference job (``parquet at ...``) and no more jobs than each
plan needs. Counted per job group with the status tracker, UI off."""

from __future__ import annotations

import pathlib
import shutil
import time

import pytest

from duckdb_hybrid_doc_search_spark.index.builder import (index_directories,
                                                          index_incremental)
from duckdb_hybrid_doc_search_spark.plans import registry

FIX = pathlib.Path(__file__).parent.parent / "fixtures" / "docs"

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


# jobs of an index build of fixtures/docs, one above the 12 and 24
# measured: a write job per table, plus the postings shuffle, the
# docfreq shuffle, and postings_scored's docfreq shuffle and broadcast;
# an incremental pass adds its added/kept/removed counts (18 and 30
# jobs before the writer derived the FTS tables once)
MAX_BUILD_JOBS = {"full": 13, "incremental": 25}


def _jobs(spark, group, fn):
    """(job count, stage names) of ``fn()`` run in job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
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


def _run_jobs(spark, sf_dir, name, group):
    """(job count, stage names) of one run of ``name`` through the noop
    sink in job group ``group``."""
    return _jobs(spark, group, lambda: registry.REGISTRY[name].spark_fn(
        spark, sf_dir).write.format("noop").mode("overwrite").save())


def test_index_build_jobs(spark, tmp_path):
    """A full build and an incremental pass (one file edited, one added,
    one removed) run no more jobs than the one writer needs."""
    corpus, out = tmp_path / "corpus", str(tmp_path / "idx")
    shutil.copytree(FIX, corpus)
    dirs = [str(corpus)]
    n_full, stages = _jobs(spark, "build.full",
                           lambda: index_directories(spark, dirs, out))
    assert n_full <= MAX_BUILD_JOBS["full"], stages
    (corpus / "no_headers.md").write_text("an EDITED paragraph\n")
    (corpus / "brand_new.md").write_text("# New Doc\n\nfresh content\n")
    (corpus / "dup_content.md").unlink()
    n_incr, stages = _jobs(spark, "build.incremental",
                           lambda: index_incremental(spark, dirs, out))
    assert n_incr <= MAX_BUILD_JOBS["incremental"], stages


@pytest.mark.parametrize("name", sorted(MAX_JOBS))
def test_warm_run_jobs(spark, sf_dir, name):
    registry._load_all()
    _run_jobs(spark, sf_dir, name, f"cold.{name}")
    n_jobs, stages = _run_jobs(spark, sf_dir, name, f"warm.{name}")
    assert not [s for s in stages if s.startswith("parquet at")], stages
    assert n_jobs <= MAX_JOBS[name], stages
