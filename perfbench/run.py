"""Benchmark of the hybrid doc-search engine's product path.

Run from the root of a checkout:

    python3 perfbench/run.py --workload doc_search --seed 1 \
        --seconds 14 --trace 0

Workloads: doc_search, catalog_vector (see BENCHMARK.json for why each
exists). Each metric is printed as a
"<name> <value> <unit>" line, after one for failed_ratio (failed checks
and ops over attempted ones). The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json. With
--trace 1 they are all its per-layer ones: after the workload, the traced
run runs every other workload for PROBE_SHARE of --seconds in the same
session and takes the layers of each from it. The traced-run report
(per-layer sample counts, medians and high percentiles, the trace
overhead and its base, and the end-to-end metric each layer metric
should move) plus the raw spans are written under
.perfbench_work/<workload>/. An untraced run writes report.json there.

Inputs are generated from --seed inside .perfbench_work/; nothing outside
the checkout is read or written. --record-digests adds the run's output
digests to perfbench/digests.json, the ones the default seed is checked
against.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

from tracing import summary

ROOT = os.getcwd()
PKG = "duckdb_hybrid_doc_search_spark"
# the JVM heap: the session default exceeds small hosts, and at 3g GC
# pauses doubled catalog pass times in some runs
DRIVER_MEM, DRIVER_MIN_HEAP = "6g", "3g"
DEADLINE_S = 170  # a run that hangs fails instead of outliving its slot

# per-layer metric -> (the workload whose ops it times, the end-to-end
# metric it should move there); "all" is the traced run's own workload.
# The names and units are BENCHMARK.json's per_layer list.
_SPARK = ("jobs_per_op", "stages_per_op", "tasks_per_op",
          "shuffle_write_bytes_per_op", "input_bytes_per_op")
_INDEX_TABLES = ("documents", "embeddings", "postings", "docfreq",
                 "docstats", "corpus_stats", "postings_scored")
_MOVES = {
    "all": {"session.start_s": "setup_s",
            "session.peak_rss_mb": "none",
            "trace.overhead_ratio": "none",
            **{f"spark.{k}": "latency_p50_ms" for k in _SPARK}},
    "doc_search": {
        # the MCP calls of the run
        **{f"search.doc_engine.{k}": "latency_p50_ms" for k in (
            "search_ms", "collects_per_op", "collect_ms", "driver_self_ms",
            "candidates_per_result")},
        "mcp_http.overhead_ms": "latency_p50_ms",
        "models.tokenizer.tokenize_ms": "latency_p50_ms",
        "models.embedder.embed_query_ms": "latency_p50_ms",
        "models.reranker.rerank_ms": "latency_p50_ms",
        "operators.bm25.fts_branch_ms": "latency_p50_ms",
        "operators.knn.vss_branch_ms": "latency_p50_ms",
        # its search_batch calls
        **{f"spark.batch.{k}": "queries_per_s" for k in _SPARK},
        **{f"search.doc_engine.{k}": "queries_per_s" for k in (
            "search_batch_ms", "batch_collects_per_op", "batch_collect_ms",
            "batch_self_ms", "batch_candidates_per_result")},
        "models.reranker.batch_rerank_ms": "queries_per_s",
        "operators.bm25.batch_fts_ms": "queries_per_s",
        # the write path: the index build of the set-up
        **{k: "setup_s" for k in (
            "sources.markdown.read_s", "sources.markdown.files",
            "operators.chunker.chunk_s", "operators.chunker.chunks",
            "models.embedder.embed_s", "index.builder.fts_derive_s",
            "index.builder.write_s", "index.builder.recount_s")},
        "index.builder.bytes_per_corpus_byte": "index_bytes_per_input_byte",
        **{f"index.builder.{kind}.{t}": "index_bytes_per_input_byte"
           for t in _INDEX_TABLES for kind in ("rows", "bytes")}},
}
# a traced run also runs every other workload, for this share of
# --seconds each, so that it reports every per-layer metric
PROBE_SHARE = 0.5


def _layers() -> dict[str, tuple[str, str]]:
    """Every per-layer metric: (workload, end-to-end metric it moves)."""
    from workloads import CATALOG, TRACED_ONLY

    out = {k: (w, m) for w, ms in _MOVES.items() for k, m in ms.items()}
    for fams, moves in ((CATALOG, "latency_p50_ms"), (TRACED_ONLY, "none")):
        for fam, qs in fams.items():
            out[f"plans.family.{fam}_s"] = ("catalog_vector", moves)
            for q in qs:
                out[f"plans.{q}_s"] = out[f"spark.jobs.{q}"] = (
                    "catalog_vector", moves)
    return out


class Env:
    """What a workload gets: paths, seed, run length and, in a traced
    run, the tracer and Spark job-group counter."""

    def __init__(self, args, work: str):
        self.root, self.work = ROOT, work
        self.seed, self.seconds = args.seed, args.seconds
        self.trace = bool(args.trace)
        self.record = args.record_digests
        self.tracer = self.sparkops = None
        self.spark = None
        self.session_start_s = 0.0

    def log(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    def start_spark(self):
        """The run's one session, started on the first call."""
        from duckdb_hybrid_doc_search_spark.session import get_spark
        from tracing import SparkOps, Tracer

        if self.spark is not None:
            return self.spark
        t = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.session_start_s = time.perf_counter() - t
        if self.trace:
            self.tracer, self.sparkops = Tracer(), SparkOps(self.spark)
        return self.spark

    def stop_spark(self) -> None:
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(30)
        self.spark = None


def _configure(work: str, trace: bool) -> None:
    ncpu = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = ["spark.ui.showConsoleProgress=false",
            f"spark.local.dir={local}"]
    if trace:
        conf += ["spark.ui.retainedJobs=20000",
                 "spark.ui.retainedStages=20000"]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_UI": "true" if trace else "false",
        "SPARK_LOCAL_DIRS": local,
        # temporary files of the JVM and Python stay in the checkout too
        "TMPDIR": local,
        "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {c}" for c in conf)
        # a fixed initial heap: grown by GC heuristics instead, it stayed
        # small in some runs, whose GC pauses doubled request latency
        + f" --driver-java-options '-Xms{DRIVER_MIN_HEAP} "
        f"-Djava.io.tmpdir={local} -XX:-UsePerfData' pyspark-shell",
        # Python workers import the package by name
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # one BLAS thread per Spark task: at most nproc busy threads
        "OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    })


def _peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def _end_to_end(res) -> dict[str, float]:
    """Every end-to-end metric a run can give, from its untraced ops."""
    return {
        "setup_s": res.setup_s,
        "latency_p50_ms": statistics.median(res.latency_s) * 1000.0,
        "queries_per_s": res.batch_queries / statistics.median(res.batch_s),
        "index_bytes_per_input_byte": res.index_bytes / res.input_bytes,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="store this run's output digests among the "
                    "recorded ones of the default seed")
    args = ap.parse_args()
    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, PKG)) \
            or not os.path.isfile(spec_file):
        print(f"perfbench: run from the repository root ({PKG}/ or "
              "BENCHMARK.json not found)", file=sys.stderr)
        return 2
    with open(spec_file) as f:
        spec = json.load(f)
    sys.path.insert(1, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    layers = _layers()
    if set(layers) != set(units):
        print("perfbench: per-layer metrics of BENCHMARK.json and run.py "
              f"differ: {sorted(set(layers) ^ set(units))}", file=sys.stderr)
        return 2

    def on_deadline(*_):
        raise TimeoutError(f"run exceeded {DEADLINE_S}s")

    signal.signal(signal.SIGALRM, on_deadline)
    signal.alarm(DEADLINE_S)
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _configure(work, bool(args.trace))
    env = Env(args, work)
    layouts_before = workloads.warehouse_entries(ROOT)
    try:
        res = workloads.WORKLOADS[args.workload](env)
        if args.trace:
            env.seconds = args.seconds * PROBE_SHARE
            for name, fn in workloads.WORKLOADS.items():
                if name == args.workload:
                    continue
                env.log(f"traced run: probing {name} for its layers")
                probe = fn(env)
                res.attempted += probe.attempted
                res.failed += probe.failed
                res.layers.update({k: v for k, v in probe.layers.items()
                                   if layers.get(k, ("",))[0] == name})
                res.report.setdefault("probes", {})[name] = {
                    "attempted": probe.attempted, "failed": probe.failed,
                    "seconds": env.seconds, **probe.report}
        from pyspark import SparkContext
        peak_mb = _peak_rss_mb([os.getpid(), SparkContext._gateway.proc.pid])
    finally:
        if env.tracer:
            env.tracer.unwrap_all()
        env.stop_spark()
        # layouts written by this run: removed, so no run starts warm
        for path in workloads.warehouse_entries(ROOT) - layouts_before:
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)
        signal.alarm(0)
    if args.record_digests:
        with open(workloads.DIGESTS_FILE) as f:
            recorded = json.load(f)
        recorded.setdefault(args.workload, {}).update(res.digests)
        with open(workloads.DIGESTS_FILE, "w") as f:
            json.dump(recorded, f, indent=1, sort_keys=True)
            f.write("\n")
    report = {"workload": args.workload, "seed": args.seed,
              "attempted": res.attempted, "failed": res.failed,
              "failed_ratio": res.failed / res.attempted,
              "peak_rss_mb": peak_mb, **res.report}
    if args.trace:
        values = {"session.start_s": env.session_start_s,
                  "session.peak_rss_mb": peak_mb,
                  "trace.overhead_ratio":
                      res.report["trace.overhead_ratio"], **res.layers}
        missing = sorted(set(units) - set(values))
        if missing:
            raise RuntimeError(f"per-layer metrics not measured: {missing}")
        metrics = {k: {"value": float(values[k]), "unit": u}
                   for k, u in units.items()}
        report["moves"] = {
            k: {"end_to_end": m,
                "workload": args.workload if w == "all" else w}
            for k, (w, m) in layers.items()}
        report["metrics"] = {k: v["value"] for k, v in metrics.items()}
        with open(os.path.join(work, "trace_report.json"), "w") as f:
            json.dump(report, f, indent=1)
        env.tracer.dump(os.path.join(work, "spans.jsonl"))
    else:
        values = _end_to_end(res)
        metrics = {m["name"]: {"value": float(values[m["name"]]),
                               "unit": m["unit"]}
                   for m in spec["end_to_end"]}
        report["latency_s"] = {"values": res.latency_s,
                               **summary(res.latency_s)}
        report["batch_s"] = {"values": res.batch_s, **summary(res.batch_s)}
        report["metrics"] = {k: v["value"] for k, v in metrics.items()}
        with open(os.path.join(work, "report.json"), "w") as f:
            json.dump(report, f, indent=1)
    print(f"failed_ratio {report['failed_ratio']} ratio "
          f"({res.failed} of {res.attempted} checks and ops)")
    for k, v in metrics.items():
        print(f"{k} {v['value']} {v['unit']}")
    print(json.dumps({"correct": res.failed == 0,
                      "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
