"""The benchmark's workloads. Each drives the program through its public
functions only and returns a `Result`.

An operation ("op") is one MCP `tools/call` round trip or one
`search_batch` call (the two op kinds `doc_search` interleaves), or one
pass over the catalog queries (`catalog_vector`). End-to-end metrics come from
untraced runs. A traced run alternates traced and untraced ops: per-layer
numbers come from the traced ones, and the ratio of the two medians is
`trace.overhead_ratio`.
"""

from __future__ import annotations

import http.client
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

import inputs
from tracing import SparkOps, Tracer, summary

DEFAULT_SEED = 1
TOP_K = 5
SEARCH_SECTIONS = 1000  # the doc_search corpus
MCP_SHARE = 0.45  # of the timed op time; search_batch gets the rest
MCP_WARMUP = 5  # requests
BULK_WARMUP = 1  # batches
BULK_BATCH = 32  # queries per search_batch call
CATALOG_DOCS, CATALOG_VECS = 1000, 1000
CATALOG_WARM_PASSES = 1
# one registered query per top-k kernel copy: operators/knn.py (brute
# force), index/ivf_layout.py, index/ivfpq_layout.py, index/sq8_layout.py
# and the grouped pair kernel of operators/dedup.py
CATALOG = {
    "ann": ["ann_brute_topk", "ann_ivf_topk", "ann_ivfpq_topk",
            "ann_sq8_topk"],
    "dedup_embedding": ["dedup_embedding_ivf"],
}
CATALOG_QUERIES = [q for qs in CATALOG.values() for q in qs]
# the one-plan hybrid search of search/engine.py and BM25 over the written
# FTS layout: timed in traced runs only, because building that layout cold
# would add ~10 s to every run's set-up
TRACED_ONLY = {"hybrid": ["hybrid_search_fused"], "bm25": ["bm25_topk"]}
INDEX_TABLES = ("documents", "embeddings", "postings", "docfreq",
                "docstats", "corpus_stats", "postings_scored")
# output digests of the default seed, per workload
DIGESTS_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "digests.json")


@dataclass
class Result:
    setup_s: float
    latency_s: list[float]  # untraced ops of an untraced run
    batch_s: list[float]  # untraced throughput ops ...
    batch_queries: int  # ... of this many queries each
    attempted: int
    failed: int
    index_bytes: int = 0  # index structures written in set-up
    input_bytes: int = 0  # the inputs they were built from
    digests: dict[str, str] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    report: dict = field(default_factory=dict)


@dataclass
class Phase:
    """The timed ops of one loop: untraced op times of an untraced run,
    traced and untraced op times of a traced run, per-layer values."""
    op_s: list[float] = field(default_factory=list)
    traced_s: list[float] = field(default_factory=list)
    untraced_s: list[float] = field(default_factory=list)
    layer_ops: list[dict[str, float]] = field(default_factory=list)
    traced_ops: list[list[str]] = field(default_factory=list)
    ops: int = 0
    failed: int = 0

    def add(self, tracer, traced: bool, dt: float) -> None:
        (self.traced_s if traced else self.untraced_s).append(dt)
        if tracer is None:
            self.op_s.append(dt)


class Clock:
    """Runs ops until `seconds` have passed (at least `min_ops`)."""

    def __init__(self, seconds: float, min_ops: int = 2):
        self.seconds, self.min_ops = seconds, min_ops
        self.t0 = time.perf_counter()
        self.n = 0

    def more(self) -> bool:
        self.n += 1
        return (self.n <= self.min_ops
                or time.perf_counter() - self.t0 < self.seconds)


def _hashable(df, skip: tuple[str, ...] = ()):
    """Columns normalised for an order-independent digest: floating
    values rounded to 6 places (aggregation order moves the last bits)
    with -0.0 folded into 0.0; maps, structs and nested arrays rendered
    as strings."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    floating = (T.FloatType, T.DoubleType)

    def norm(c, dt):
        if isinstance(dt, floating):
            return F.round(c, 6) + F.lit(0.0)
        if isinstance(dt, T.ArrayType) and isinstance(dt.elementType,
                                                      floating):
            return F.transform(c, lambda x: F.round(x, 6) + F.lit(0.0))
        if isinstance(dt, (T.MapType, T.StructType)) or (
                isinstance(dt, T.ArrayType) and not isinstance(
                    dt.elementType, (T.StringType, T.IntegralType))):
            return c.cast("string")
        return c

    return [norm(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields
            if f.name not in skip]


def _digest_exprs(df, skip: tuple[str, ...] = ()):
    from pyspark.sql import functions as F

    return (F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*_hashable(df, skip)).cast("decimal(38,0)"))
            .alias("h"))


def _digest_value(row) -> str:
    return f"{row['n']}:{int(row['h'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}"


def _check_recorded(env, workload: str, res: Result) -> None:
    """For the default seed, compare `res.digests` with the recorded
    ones; each is one attempted check."""
    if env.seed != DEFAULT_SEED or env.record:
        return
    with open(DIGESTS_FILE) as f:
        recorded = json.load(f).get(workload, {})
    for k, v in res.digests.items():
        res.attempted += 1
        if recorded.get(k) != v:
            env.log(f"{k}: digest {v} != recorded {recorded.get(k)}")
            res.failed += 1


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _layer_medians(layer_ops: list[dict[str, float]]
                   ) -> tuple[dict[str, float], dict[str, dict]]:
    """Per-layer medians over the traced ops, and their summaries."""
    keys = layer_ops[0] if layer_ops else {}
    return ({k: _median([lo[k] for lo in layer_ops]) for k in keys},
            {k: summary([lo[k] for lo in layer_ops]) for k in keys})


def _spark_layers(sops: SparkOps, ops: list[list[str]],
                  prefix: str = "spark.") -> dict[str, float]:
    """Median per op of the Spark counts summed over the op's job
    groups, named `prefix` + what was counted + `_per_op`."""
    counts = sops.counts([g for op in ops for g in op])
    per = [{k: sum(counts[g][k] for g in op) for k in counts[op[0]]}
           for op in ops if op]
    return {f"{prefix}{k}_per_op": _median([c[k] for c in per])
            for k in ("jobs", "stages", "tasks", "shuffle_write_bytes",
                      "input_bytes")}


def _overhead(traced: list[float], untraced: list[float]) -> dict:
    ratio = (_median(traced) / _median(untraced)
             if traced and untraced else 0.0)
    return {"trace.overhead_ratio": ratio,
            "overhead_base": {"traced_op_s": summary(traced),
                              "untraced_op_s": summary(untraced)}}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs
               if not f.startswith((".", "_")))


# ------------------------------------------------------- the search index

class SearchIndex:
    """The set-up of doc_search: a seeded Markdown corpus,
    a Spark session, `index_directories` with the defaults into a fresh
    directory, and a `DocSearchEngine` over it. In a traced run the
    build's Parquet writes and count re-reads are timed."""

    def __init__(self, env, sections: int):
        from duckdb_hybrid_doc_search_spark.index.builder import \
            index_directories
        from duckdb_hybrid_doc_search_spark.search.doc_engine import \
            DocSearchEngine

        self.env = env
        self.corpus = os.path.join(env.work, "corpus")
        self.size = inputs.write_corpus(
            self.corpus, env.seed, sections,
            os.path.join(env.root, "fixtures", "docs"))
        self.t0 = time.perf_counter()
        self.spark = spark = env.start_spark()
        tracer = env.tracer
        if tracer:
            df = spark.range(1)  # the session's concrete DataFrame classes
            tracer.wrap(type(df.write), "parquet", "index.builder.write")
            tracer.wrap(type(df), "count", "index.builder.recount")
            tracer.op, tracer.enabled = "build", True
            env.sparkops.begin("build")
        self.index_dir = os.path.join(env.work, "index")
        t = time.perf_counter()
        # relative file paths: the index is the same wherever the corpus is
        self.counts = index_directories(
            spark, [self.corpus], self.index_dir,
            remove_path_prefix=self.corpus + os.sep)
        self.build_s = time.perf_counter() - t
        if tracer:
            tracer.enabled = False
            tracer.unwrap_all()
        self.engine = DocSearchEngine(spark, self.index_dir)

    def check(self, workload: str, res: Result) -> None:
        """documents = embeddings = docstats rows = corpus_stats.n_docs,
        and, for the default seed, every table's row count and content
        digest equal the recorded ones (doc_id, a hash of the
        absolute path, is left out). Adds the index size to `res`."""
        spark = self.spark
        c = self.counts
        n_docs = spark.read.parquet(os.path.join(
            self.index_dir, "corpus_stats")).first()["n_docs"]
        res.attempted += 1
        if not c["documents"] == c["embeddings"] == c["docstats"] \
                == n_docs > 0:
            self.env.log(f"index counts disagree: {c}, n_docs={n_docs}")
            res.failed += 1
        if self.env.seed == DEFAULT_SEED:
            for t in INDEX_TABLES:
                df = spark.read.parquet(os.path.join(self.index_dir, t))
                res.digests[f"index.{t}"] = _digest_value(
                    df.agg(*_digest_exprs(df, skip=("doc_id",))).first())
            _check_recorded(self.env, workload, res)
        res.index_bytes = sum(_dir_bytes(os.path.join(self.index_dir, t))
                              for t in INDEX_TABLES)
        res.input_bytes = self.size["bytes"]
        res.report["input"] = {**self.size, "index_rows": c,
                               "index_bytes": res.index_bytes}
        res.report["build_s"] = self.build_s

    def build_layers(self) -> dict[str, float]:
        """The write path's per-layer numbers: each prefix of the build
        chain materialised to `noop` (a layer's time is its prefix minus
        the one before; chunks are persisted before the embedding and FTS
        steps, as the builder does), plus the timed writes and re-reads
        of the set-up build and each table's rows and bytes."""
        from pyspark.sql import functions as F

        from duckdb_hybrid_doc_search_spark.config import TEST_EMBED_DIM
        from duckdb_hybrid_doc_search_spark.index.builder import \
            build_fts_index_from_tokens
        from duckdb_hybrid_doc_search_spark.models.embedder import embed_udf
        from duckdb_hybrid_doc_search_spark.operators.chunker import (
            chunk_documents, with_doc_ids)
        from duckdb_hybrid_doc_search_spark.sources.markdown import \
            read_markdown_dirs

        def noop(df) -> float:
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t

        self.env.sparkops.begin("build-prefix")
        files = read_markdown_dirs(self.spark, [self.corpus])
        read_s = noop(files)
        chunks = with_doc_ids(chunk_documents(files))
        chunk_s = noop(chunks) - read_s
        cached = chunks.persist()
        n_chunks = cached.count()
        embed_s = noop(cached.select(
            "doc_id", embed_udf("hash", "hash-embedder", TEST_EMBED_DIM)(
                F.col("content")).alias("embedding")))
        fts = build_fts_index_from_tokens(cached.select(
            "doc_id", "file_path", "header_path", "line_start", "line_end",
            "content", "tokens"))
        fts_s = sum(noop(df) for df in fts.values())
        cached.unpersist()
        tracer = self.env.tracer
        layers = {"sources.markdown.read_s": read_s,
                  "sources.markdown.files": files.count(),
                  "operators.chunker.chunk_s": chunk_s,
                  "operators.chunker.chunks": n_chunks,
                  "models.embedder.embed_s": embed_s,
                  "index.builder.fts_derive_s": fts_s,
                  "index.builder.write_s":
                      tracer.total("build", "index.builder.write"),
                  "index.builder.recount_s":
                      tracer.total("build", "index.builder.recount")}
        total = 0
        for t in INDEX_TABLES:
            b = _dir_bytes(os.path.join(self.index_dir, t))
            total += b
            layers[f"index.builder.rows.{t}"] = self.counts[t]
            layers[f"index.builder.bytes.{t}"] = b
        layers["index.builder.bytes_per_corpus_byte"] = \
            total / self.size["bytes"]
        return layers

    def close(self) -> None:
        self.engine.close()


# ----------------------------------------------------------------- doc_search

class McpClient:
    """Closed-loop streamable-HTTP MCP client on one keep-alive
    connection."""

    def __init__(self, port: int, path: str = "/mcp"):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
        self.path, self.sid, self.next_id = path, None, 0

    def post(self, msg: dict) -> tuple[int, dict | None]:
        headers = {"Content-Type": "application/json",
                   "Accept": "application/json, text/event-stream"}
        if self.sid:
            headers["Mcp-Session-Id"] = self.sid
        self.conn.request("POST", self.path, json.dumps(msg), headers)
        r = self.conn.getresponse()
        body = r.read()
        self.sid = r.getheader("Mcp-Session-Id") or self.sid
        return r.status, (json.loads(body) if body else None)

    def initialize(self) -> None:
        status, _ = self.post({"jsonrpc": "2.0", "id": 0,
                               "method": "initialize",
                               "params": {"protocolVersion": "2025-03-26",
                                          "capabilities": {},
                                          "clientInfo": {"name": "perfbench",
                                                         "version": "1"}}})
        if status != 200 or not self.sid:
            raise RuntimeError(f"MCP initialize failed: HTTP {status}")
        self.post({"jsonrpc": "2.0", "method": "notifications/initialized"})

    def search(self, query: str) -> list[dict] | None:
        """Results of one search_documents call, None on any error."""
        self.next_id += 1
        status, resp = self.post({
            "jsonrpc": "2.0", "id": self.next_id, "method": "tools/call",
            "params": {"name": "search_documents",
                       "arguments": {"query": query, "top_k": TOP_K}}})
        if status != 200 or not resp or "result" not in resp \
                or resp["result"].get("isError"):
            return None
        return resp["result"]["structuredContent"]["results"]

    def close(self) -> None:
        if self.sid:
            self.conn.request("DELETE", self.path,
                              headers={"Mcp-Session-Id": self.sid})
            self.conn.getresponse().read()
        self.conn.close()


def doc_search(env) -> Result:
    """Set-up builds the index, serves its engine over MCP HTTP and warms
    both read paths. The run times search_batch calls and MCP tool calls
    in turn, MCP_SHARE of the time going to the latter. The checks
    compare MCP answers with direct engine.search calls,
    search_batch(qs)[i] with search(qs[i]), and the index with the
    recorded one. A traced run also gives the write
    path's per-layer numbers."""
    from duckdb_hybrid_doc_search_spark import mcp_http, server
    from duckdb_hybrid_doc_search_spark.mcp_stdio import SEARCH_TOOL_SCHEMA

    pool = inputs.query_pool(env.seed, 200)
    stream = inputs.zipf_stream(env.seed, pool, 5000)
    warm_queries = inputs.query_pool(env.seed + 104729, MCP_WARMUP)
    batches = inputs.query_batches(env.seed, 100, BULK_BATCH)
    warm_batches = inputs.query_batches(env.seed + 104729, BULK_WARMUP,
                                        BULK_BATCH)

    idx = SearchIndex(env, SEARCH_SECTIONS)
    engine, tracer = idx.engine, env.tracer
    tool = server.make_search_tool(engine)
    if tracer:
        tool = _traced_tool(idx.spark, tool, tracer, env.sparkops)
    ready = threading.Event()
    srv = threading.Thread(target=mcp_http.serve_http, kwargs=dict(
        tool_name="search_documents", tool_description="perfbench",
        input_schema=SEARCH_TOOL_SCHEMA, tool_fn=tool, host="127.0.0.1",
        port=0, ready=ready), daemon=True)
    srv.start()
    try:
        if not ready.wait(30):
            raise RuntimeError("MCP server did not start")
        client = McpClient(ready.server.server_address[1])
        client.initialize()
        for q in warm_queries:
            client.search(q)
        for batch in warm_batches:
            engine.search_batch(batch, top_k=TOP_K)
        setup_s = time.perf_counter() - idx.t0
        mcp_ops = _McpOps(env, engine, client, stream)
        bulk_ops = _BulkOps(env, engine, batches)
        _interleave(env.seconds, mcp_ops, bulk_ops)
        mcp_ops.check()
        bulk_ops.check()
        client.close()
        mcp, bulk = mcp_ops.ph, bulk_ops.ph
        res = Result(setup_s, mcp.op_s, bulk.op_s, BULK_BATCH,
                     mcp.ops + bulk.ops,
                     mcp.failed + bulk.failed,
                     report={"pool": len(pool), "batch_size": BULK_BATCH})
        idx.check("doc_search", res)
        if tracer:
            sops = env.sparkops
            res.layers, res.report["samples"] = _layer_medians(
                mcp.layer_ops)
            layers, samples = _layer_medians(bulk.layer_ops)
            res.layers.update(layers)
            res.report["samples"].update(samples)
            res.layers.update(_spark_layers(sops, mcp.traced_ops,
                                            "spark."))
            res.layers.update(_spark_layers(sops, bulk.traced_ops,
                                            "spark.batch."))
            res.layers.update(idx.build_layers())
            res.report.update(_overhead(mcp.traced_s, mcp.untraced_s))
            res.report["batch_overhead"] = _overhead(
                bulk.traced_s, bulk.untraced_s)
    finally:
        if ready.is_set():
            ready.server.shutdown()
        srv.join(30)
        idx.close()
    return res


def _traced_tool(spark, tool, tracer: Tracer, sops: SparkOps):
    from duckdb_hybrid_doc_search_spark.search import doc_engine

    tracer.wrap(doc_engine.DocSearchEngine, "search",
                "search.doc_engine.search")
    tracer.wrap(doc_engine.DocSearchEngine, "search_batch",
                "search.doc_engine.search_batch")
    tracer.wrap(doc_engine.DocSearchEngine, "_rerank",
                "models.reranker.rerank")
    tracer.wrap(doc_engine, "tokenize_query", "models.tokenizer.tokenize")
    tracer.wrap(doc_engine, "hash_embed_text", "models.embedder.embed_query")
    tracer.wrap(type(spark.range(1)), "collect", "search.doc_engine.collect",
                count=len)

    def traced(*args, **kwargs):
        # runs on the HTTP server's thread: the job group must be set here
        if not tracer.enabled:
            sops.begin("untraced")
            return tool(*args, **kwargs)
        sops.begin(tracer.op)
        sp = tracer.start("server.search_documents")
        try:
            out = tool(*args, **kwargs)
        finally:
            tracer.end(sp)
        return out

    return traced


def _interleave(seconds: float, mcp: _McpOps, bulk: _BulkOps) -> None:
    """Runs MCP calls and search_batch calls in turn for `seconds`, and
    at least two of each, giving MCP calls MCP_SHARE of the op time.
    Both metrics then sample the whole run, so a slow spell of the shared
    host weighs on them alike."""
    spent = {mcp: 0.0, bulk: 0.0}
    clock = Clock(seconds, min_ops=0)
    while not (mcp.done() or bulk.done()) and (
            clock.more() or min(mcp.ph.ops, bulk.ph.ops) < 2):
        ops = mcp if spent[mcp] < MCP_SHARE * sum(spent.values()) else bulk
        spent[ops] += ops.step()


class _McpOps:
    """Closed-loop MCP tool calls over a Zipf stream, one per step."""

    def __init__(self, env, engine, client: McpClient, stream: list[str]):
        self.env, self.engine, self.client = env, engine, client
        self.stream = stream
        self.ph = Phase()
        self.sent: list[str] = []

    def done(self) -> bool:
        return self.ph.ops >= len(self.stream)

    def step(self) -> float:
        tracer, ph = self.env.tracer, self.ph
        q = self.stream[ph.ops]
        ph.ops += 1
        traced = tracer is not None and ph.ops % 2 == 1
        op = f"req{ph.ops}"
        if tracer:
            tracer.op, tracer.enabled = op, traced
        t = time.perf_counter()
        results = self.client.search(q)
        dt = time.perf_counter() - t
        if tracer:
            tracer.enabled = False
        if results is None:
            ph.failed += 1
            return dt
        self.sent.append(q)
        ph.add(tracer, traced, dt)
        if traced:
            ph.traced_ops.append([op])
            ph.layer_ops.append(_request_layers(tracer, op, dt, results))
            self.env.sparkops.begin(op + "-branches")
            ph.layer_ops[-1].update(_branch_layers(self.engine, q))
        return dt

    def check(self) -> None:
        """The MCP answer must equal a direct engine.search of the same
        query."""
        for q in sorted(set(self.sent))[:2]:
            self.ph.ops += 1
            direct = json.loads(json.dumps(
                self.engine.search(q, top_k=TOP_K)))
            if self.client.search(q) != direct:
                self.env.log(
                    f"MCP result differs from engine.search for {q!r}")
                self.ph.failed += 1


def _request_layers(tracer: Tracer, op: str, rtt: float,
                    results: list) -> dict[str, float]:
    ms = 1000.0
    tool = tracer.total(op, "server.search_documents")
    collected = tracer.counted(op, "search.doc_engine.collect")
    return {
        "mcp_http.overhead_ms": (rtt - tool) * ms,
        "search.doc_engine.search_ms":
            tracer.total(op, "search.doc_engine.search") * ms,
        "models.tokenizer.tokenize_ms":
            tracer.total(op, "models.tokenizer.tokenize") * ms,
        "models.embedder.embed_query_ms":
            tracer.total(op, "models.embedder.embed_query") * ms,
        "search.doc_engine.collects_per_op":
            tracer.calls(op, "search.doc_engine.collect"),
        "search.doc_engine.collect_ms":
            tracer.total(op, "search.doc_engine.collect") * ms,
        "models.reranker.rerank_ms":
            tracer.total(op, "models.reranker.rerank") * ms,
        "search.doc_engine.driver_self_ms":
            tracer.self_time(op, "search.doc_engine.search") * ms,
        "search.doc_engine.candidates_per_result":
            collected / max(1, len(results)),
        "search.doc_engine.results_per_op": len(results),
    }


def _branch_layers(engine, query: str) -> dict[str, float]:
    """Each retrieval branch of a search, run and collected on its own
    over the engine's persisted tables."""
    from pyspark.sql import functions as F

    from duckdb_hybrid_doc_search_spark.config import SCORE_ROUND
    from duckdb_hybrid_doc_search_spark.functions.vector import (
        cosine_distance, lit_vector)
    from duckdb_hybrid_doc_search_spark.models.embedder import \
        hash_embed_text
    from duckdb_hybrid_doc_search_spark.models.tokenizer import \
        tokenize_query
    from duckdb_hybrid_doc_search_spark.operators.bm25 import bm25_scores

    qterms = tokenize_query(query, backend=engine.meta["tokenizer"])
    t = time.perf_counter()
    (bm25_scores(engine.index, qterms)
     .orderBy(F.desc("score"), F.asc("doc_id")).limit(TOP_K).collect())
    fts_ms = (time.perf_counter() - t) * 1000.0
    qvec = hash_embed_text(query, engine.dim)
    t = time.perf_counter()
    (engine.embeddings.select(
        "doc_id", F.round(cosine_distance(F.col("embedding"),
                                          lit_vector(qvec)),
                          SCORE_ROUND).alias("vss_score"))
     .orderBy(F.asc("vss_score"), F.asc("doc_id")).limit(TOP_K).collect())
    vss_ms = (time.perf_counter() - t) * 1000.0
    return {"operators.bm25.fts_branch_ms": fts_ms,
            "operators.knn.vss_branch_ms": vss_ms}


class _BulkOps:
    """search_batch calls over distinct batches, one per step."""

    def __init__(self, env, engine, batches: list[list[str]]):
        self.env, self.engine, self.batches = env, engine, batches
        self.ph = Phase()
        self.first: list[list[dict]] = []

    def done(self) -> bool:
        return self.ph.ops >= len(self.batches)

    def step(self) -> float:
        tracer, sops, ph = self.env.tracer, self.env.sparkops, self.ph
        batch = self.batches[ph.ops]
        ph.ops += 1
        traced = tracer is not None and ph.ops % 2 == 1
        op = f"batch{ph.ops}"
        if tracer:
            tracer.op, tracer.enabled = op, traced
            sops.begin(op if traced else "untraced")
        t = time.perf_counter()
        out = self.engine.search_batch(batch, top_k=TOP_K)
        dt = time.perf_counter() - t
        if tracer:
            tracer.enabled = False
        if len(out) != len(batch):
            self.env.log(f"search_batch answered {len(out)} of {len(batch)}")
            ph.failed += 1
            return dt
        self.first = self.first or out
        ph.add(tracer, traced, dt)
        if traced:
            ph.traced_ops.append([op])
            ph.layer_ops.append(_batch_layers(tracer, op, out))
            sops.begin(op + "-fts")
            ph.layer_ops[-1].update(_batch_fts_layer(self.engine, batch))
        return dt

    def check(self) -> None:
        """search_batch(qs)[i] == search(qs[i]), as its docstring claims;
        the sample holds a no-match query (every tenth one)."""
        for i in (0, 9):
            self.ph.ops += 1
            q = self.batches[0][i]
            if self.engine.search(q, top_k=TOP_K) != self.first[i]:
                self.env.log(f"search_batch differs from search for {q!r}")
                self.ph.failed += 1


def _batch_layers(tracer: Tracer, op: str,
                  out: list[list[dict]]) -> dict[str, float]:
    ms = 1000.0
    n = sum(len(r) for r in out)
    return {
        "search.doc_engine.search_batch_ms":
            tracer.total(op, "search.doc_engine.search_batch") * ms,
        "search.doc_engine.batch_collects_per_op":
            tracer.calls(op, "search.doc_engine.collect"),
        "search.doc_engine.batch_collect_ms":
            tracer.total(op, "search.doc_engine.collect") * ms,
        "models.reranker.batch_rerank_ms":
            tracer.total(op, "models.reranker.rerank") * ms,
        "search.doc_engine.batch_self_ms":
            tracer.self_time(op, "search.doc_engine.search_batch") * ms,
        "search.doc_engine.batch_candidates_per_result":
            tracer.counted(op, "search.doc_engine.collect") / max(1, n),
        "search.doc_engine.batch_results_per_op": n,
    }


def _batch_fts_layer(engine, batch: list[str]) -> dict[str, float]:
    """The batched BM25 branch on its own over the engine's index."""
    from duckdb_hybrid_doc_search_spark.operators.bm25 import \
        bm25_batch_topk_from_index

    t = time.perf_counter()
    bm25_batch_topk_from_index(engine.index, batch, TOP_K).collect()
    return {"operators.bm25.batch_fts_ms":
            (time.perf_counter() - t) * 1000.0}


# ------------------------------------------------------------- catalog_vector

def warehouse_entries(root: str) -> set[str]:
    """Layout directories under `root`/spark-warehouse, two levels
    deep."""
    wh = os.path.join(root, "spark-warehouse")
    if not os.path.isdir(wh):
        return set()
    return {os.path.join(wh, leaf, e) for leaf in os.listdir(wh)
            if os.path.isdir(os.path.join(wh, leaf))
            for e in os.listdir(os.path.join(wh, leaf))}


def catalog_vector(env) -> Result:
    """Set-up runs every catalog query cold (the input files are new in
    every run, so every layout fingerprint misses and the layouts are
    built here) and then CATALOG_WARM_PASSES more times. The timed ops
    are passes over the queries; every execution is checked against the
    cold pass's digest, and that against the recorded one."""
    from pyspark.sql import Observation

    sf = os.path.join(env.work, "sf")
    inputs.write_vector_tables(sf, env.seed, CATALOG_DOCS, CATALOG_VECS)
    layouts_before = warehouse_entries(env.root)
    t_setup = time.perf_counter()
    spark = env.start_spark()
    from duckdb_hybrid_doc_search_spark.plans import registry

    fns = registry.bench_queries()
    tracer, sops = env.tracer, env.sparkops

    def run(name: str, group: str | None) -> tuple[float, str]:
        """One execution through the noop sink, as bench.py runs it; the
        digest is observed on the same execution."""
        if sops:
            sops.begin(group or "untraced")
        t = time.perf_counter()
        df = fns[name](spark, sf)
        obs = Observation()
        df.observe(obs, *_digest_exprs(df)).write.format("noop").mode(
            "overwrite").save()
        dt = time.perf_counter() - t
        spark.catalog.clearCache()
        return dt, _digest_value(obs.get)

    cold = {q: run(q, None) for q in CATALOG_QUERIES}
    digests = {q: d for q, (_, d) in cold.items()}
    failed = sum(run(q, None)[1] != digests[q]
                 for _ in range(CATALOG_WARM_PASSES) for q in CATALOG_QUERIES)
    attempted = len(CATALOG_QUERIES) * (1 + CATALOG_WARM_PASSES)
    setup_s = time.perf_counter() - t_setup

    ph = Phase()
    per_query: dict[str, list[float]] = {q: [] for q in CATALOG_QUERIES}
    clock = Clock(env.seconds)
    while clock.more():
        ph.ops += 1
        traced = tracer is not None and ph.ops % 2 == 1
        groups = [f"p{ph.ops}.{q}" for q in CATALOG_QUERIES]
        total = 0.0
        for q, group in zip(CATALOG_QUERIES, groups):
            attempted += 1
            dt, digest = run(q, group if traced else None)
            if traced or not tracer:
                per_query[q].append(dt)
            if digest != digests[q]:
                env.log(f"{q}: digest {digest} != {digests[q]}")
                failed += 1
            total += dt
        ph.add(tracer, traced, total)
        if traced:
            ph.traced_ops.append(groups)
    res = Result(setup_s, ph.op_s, ph.op_s, len(CATALOG_QUERIES), attempted,
                 failed, digests=digests)
    res.input_bytes = _dir_bytes(sf)
    res.index_bytes = sum(_dir_bytes(e) for e in
                          warehouse_entries(env.root) - layouts_before)
    res.report = {"input": {"documents": CATALOG_DOCS,
                            "embeddings": CATALOG_VECS,
                            "bytes": res.input_bytes,
                            "layout_bytes": res.index_bytes},
                  "passes": ph.ops,
                  "cold_s": {q: t for q, (t, _) in cold.items()},
                  "per_query_s": per_query}
    if tracer:
        groups = [g for op in ph.traced_ops for g in op]
        for q in (q for qs in TRACED_ONLY.values() for q in qs):
            digests[q] = run(q, None)[1]  # cold: builds the layout
            per_query[q] = []
            for i in range(2):
                groups.append(f"x{i}.{q}")
                dt, digest = run(q, groups[-1])
                per_query[q].append(dt)
                res.attempted += 1
                res.failed += digest != digests[q]
        counts = sops.counts(groups)
        for fam, qs in {**CATALOG, **TRACED_ONLY}.items():
            for q in qs:
                res.layers[f"plans.{q}_s"] = _median(per_query[q])
                res.layers[f"spark.jobs.{q}"] = _median(
                    [counts[g]["jobs"] for g in groups
                     if g.endswith("." + q)])
            res.layers[f"plans.family.{fam}_s"] = sum(
                res.layers[f"plans.{q}_s"] for q in qs)
        res.layers.update(_spark_layers(sops, ph.traced_ops))
        res.report.update(_overhead(ph.traced_s, ph.untraced_s))
        res.report["samples"] = {f"plans.{q}_s": summary(v)
                                 for q, v in per_query.items()}
    _check_recorded(env, "catalog_vector", res)
    return res


WORKLOADS = {"doc_search": doc_search, "catalog_vector": catalog_vector}
