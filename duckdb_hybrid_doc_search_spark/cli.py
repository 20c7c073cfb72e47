"""CLI mirroring the reference's command surface (cli.py:22-434):
index / search / serve / version — argparse instead of Typer (not in this
environment), same flags and defaults.

Usage:
    python -m duckdb_hybrid_doc_search_spark.cli index DIR... --db OUT
    python -m duckdb_hybrid_doc_search_spark.cli search --db OUT -q QUERY
    python -m duckdb_hybrid_doc_search_spark.cli serve --db OUT
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from . import __version__
from .config import TOP_K_DEFAULT


def _spark():
    from .session import get_spark

    return get_spark("hybrid-doc-search-cli")


def cmd_index(args: argparse.Namespace) -> int:
    from .index.builder import index_directories

    counts = index_directories(
        _spark(),
        args.dirs,
        args.db,
        chunk_size=args.chunk_size,
        chunk_overlap=args.chunk_overlap,
        strategy=args.strategy,
        tokenizer=args.tokenizer,
        embed_backend=args.embedding_backend,
        embedding_model=args.embedding_model,
        remove_path_prefix=args.trim_path_prefix,
    )
    print(json.dumps({"indexed": counts}))
    return 0


def cmd_search(args: argparse.Namespace) -> int:
    from .search.doc_engine import DocSearchEngine

    engine = DocSearchEngine(_spark(), args.db, args.embedding_model)
    if len(args.query) > 1:
        # bulk mode: one result list per query
        batches = engine.search_batch(
            args.query,
            top_k=args.top_k,
            rerank=not args.no_rerank,
            add_prefix=args.add_path_prefix,
            remove_prefix=args.remove_path_prefix,
        )
        print(
            json.dumps(
                {
                    "batches": [
                        {"query": q, "results": res}
                        for q, res in zip(args.query, batches)
                    ]
                },
                ensure_ascii=False,
            )
        )
        return 0
    results = engine.search(
        args.query[0],
        top_k=args.top_k,
        rerank=not args.no_rerank,
        add_prefix=args.add_path_prefix,
        remove_prefix=args.remove_path_prefix,
    )
    if args.json:
        print(json.dumps({"results": results}, ensure_ascii=False))
    else:
        for i, r in enumerate(results, 1):
            loc = f"{r['file_path']}:{r['line_start']}-{r['line_end']}"
            print(f"{i}. [{r['score']:.4f}] {loc}  {r['header_path']}")
            print(f"   {r['content'][:160]!r}")
    return 0


def cmd_serve(args: argparse.Namespace) -> int:
    from .server import run_server

    # serve defaults add_path_prefix to dirname(db) when unset
    # (reference cli.py:187-189)
    add_prefix = args.add_path_prefix or os.path.dirname(
        os.path.abspath(args.db)
    )
    return run_server(
        db=args.db,
        transport=args.transport,
        host=args.host,
        port=args.port,
        path=args.path,
        tool_name=args.tool_name,
        tool_description=args.tool_description,
        add_path_prefix=add_prefix,
        remove_path_prefix=args.remove_path_prefix,
        embedding_model=args.embedding_model,
    )


def cmd_download_models(args: argparse.Namespace) -> int:
    """Warm the model caches so executors don't all hit the network on
    first use (reference cli.py:400-434)."""
    if args.embedding_model in (None, "hash-embedder"):
        print("hash-embedder needs no download (deterministic, local)")
        return 0
    try:
        from sentence_transformers import CrossEncoder, SentenceTransformer
    except ImportError:
        print(
            "sentence-transformers is not installed in this environment; "
            "real models unavailable — the deterministic hash-embedder "
            "backend works without downloads.",
            file=sys.stderr,
        )
        return 2
    SentenceTransformer(args.embedding_model)  # pragma: no cover
    if args.rerank_model:  # pragma: no cover
        CrossEncoder(args.rerank_model)
    print("models cached")  # pragma: no cover
    return 0  # pragma: no cover


def cmd_query(args: argparse.Namespace) -> int:
    """Run any registered analytics/pipeline query by name against a
    scale-factor directory (the full catalog beyond doc search: TPC-H,
    dedup, curation, events, ANN, ...). `--list` enumerates names."""
    from .plans import registry

    registry._load_all()
    if args.list:
        for name, qd in sorted(registry.REGISTRY.items()):
            kind = "oracle" if qd.oracle else "rows-only"
            print(f"{name}\t{kind}")
        return 0
    if not args.name:
        print("query name required (or --list)", file=sys.stderr)
        return 2
    if args.name not in registry.REGISTRY:
        print(f"unknown query: {args.name} (see --list)", file=sys.stderr)
        return 2
    from .session import get_spark

    spark = get_spark(f"query-{args.name}")
    df = registry.REGISTRY[args.name].spark_fn(spark, args.sf_dir)
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        print(f"wrote {args.output}")
    else:
        rows = df.limit(args.limit).collect()
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="hybrid-doc-search-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("index", help="index Markdown directories")
    pi.add_argument("dirs", nargs="+")
    pi.add_argument("--db", required=True, help="output index directory")
    pi.add_argument("--chunk-size", type=int, default=512)
    pi.add_argument("--chunk-overlap", type=int, default=50)
    pi.add_argument("--strategy", choices=["header", "recursive"],
                    default="header")
    pi.add_argument("--tokenizer",
                    choices=["regex", "jp_heuristic", "lindera"],
                    default="jp_heuristic")
    pi.add_argument("--embedding-backend",
                    choices=["hash", "sentence-transformers"], default="hash")
    pi.add_argument("--embedding-model", default="hash-embedder")
    pi.add_argument("--trim-path-prefix", default=None)
    pi.add_argument("--clear", action="store_true",
                    help="(always true: builds overwrite)")
    pi.set_defaults(fn=cmd_index)

    ps = sub.add_parser("search", help="query an index")
    ps.add_argument("--db", required=True)
    ps.add_argument("--query", "-q", required=True, action="append",
                    help="repeat for bulk search (one batched plan)")
    ps.add_argument("--top-k", type=int, default=TOP_K_DEFAULT,
                    choices=range(1, 101), metavar="[1-100]")
    ps.add_argument("--no-rerank", action="store_true")
    ps.add_argument("--add-path-prefix", default=None)
    ps.add_argument("--remove-path-prefix", default=None)
    ps.add_argument("--embedding-model", default=None)
    ps.add_argument("--json", action="store_true")
    ps.set_defaults(fn=cmd_search)

    pv = sub.add_parser("serve", help="run the MCP server")
    pv.add_argument("--db", required=True)
    pv.add_argument("--transport", choices=["stdio", "streamable-http"],
                    default="stdio")
    pv.add_argument("--host", default="0.0.0.0")
    pv.add_argument("--port", type=int, default=8765)
    pv.add_argument("--path", default="/mcp")
    pv.add_argument("--tool-name", default="search_documents")
    pv.add_argument("--tool-description",
                    default="Hybrid BM25+vector search over indexed docs")
    pv.add_argument("--add-path-prefix", default=None)
    pv.add_argument("--remove-path-prefix", default=None)
    pv.add_argument("--embedding-model", default=None)
    pv.set_defaults(fn=cmd_serve)

    pd = sub.add_parser(
        "download-models",
        help="pre-warm embedding/rerank model caches (reference "
        "cli.py:400-434); no-op with a clear message when "
        "sentence-transformers is absent",
    )
    pd.add_argument("--embedding-model", default="hash-embedder")
    pd.add_argument("--rerank-model", default=None)
    pd.set_defaults(fn=cmd_download_models)

    pq = sub.add_parser(
        "query",
        help="run a registered analytics/pipeline query by name "
        "(--list to enumerate the catalog)",
    )
    pq.add_argument("name", nargs="?", default=None)
    pq.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pq.add_argument("--limit", type=int, default=20,
                    help="rows printed as JSON lines (stdout mode)")
    pq.add_argument("--output", default=None,
                    help="write full result as parquet instead of printing")
    pq.add_argument("--list", action="store_true")
    pq.set_defaults(fn=cmd_query)

    pver = sub.add_parser("version")
    pver.set_defaults(fn=lambda a: (print(__version__), 0)[1])
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
