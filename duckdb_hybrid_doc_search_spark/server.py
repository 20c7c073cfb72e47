"""MCP server veneer (reference server.py:15-103).

The tool handler closes over a long-lived DocSearchEngine (a driver
snapshot of the index) and returns {"results": [...]} exactly like the reference
(server.py:95). When FastMCP is installed it runs the server exactly like
the reference; when it is not, BOTH transports fall back to built-in
minimal MCP implementations per the public spec — stdio (mcp_stdio.py,
newline-delimited JSON-RPC 2.0) and streamable-http (mcp_http.py,
single-endpoint POST + Mcp-Session-Id lifecycle) — sharing one dispatch
so they answer identically. ``serve`` genuinely works on both transports
in this container; each is protocol-tested AND subprocess-round-trip
tested in tests/test_mcp_protocol.py.
"""

from __future__ import annotations

import sys
from typing import Any


def make_search_tool(engine, add_path_prefix=None, remove_path_prefix=None):
    """The MCP tool body, independent of the transport (server.py:70-95)."""

    def search_documents(query: str, top_k: int = 5) -> dict[str, Any]:
        top_k = max(1, min(100, int(top_k)))  # server.py:74 bounds
        results = engine.search(
            query, top_k=top_k, rerank=True,
            add_prefix=add_path_prefix, remove_prefix=remove_path_prefix,
        )
        return {"results": results}

    return search_documents


def run_server(db: str, transport: str = "stdio", host: str = "0.0.0.0",
               port: int = 8765, path: str = "/mcp",
               tool_name: str = "search_documents",
               tool_description: str = "",
               add_path_prefix: str | None = None,
               remove_path_prefix: str | None = None,
               embedding_model: str | None = None) -> int:
    try:
        from mcp.server.fastmcp import FastMCP  # type: ignore
    except ImportError:
        FastMCP = None

    from .search.doc_engine import DocSearchEngine
    from .session import get_spark

    engine = DocSearchEngine(get_spark("mcp-server"), db, embedding_model)
    tool = make_search_tool(engine, add_path_prefix, remove_path_prefix)

    if FastMCP is None:
        # built-in minimal transports (public MCP spec shapes); both
        # route through mcp_stdio.dispatch so semantics match FastMCP's
        from .mcp_stdio import SEARCH_TOOL_SCHEMA, serve_stdio

        if transport == "stdio":
            return serve_stdio(
                tool_name,
                tool_description or "Search for local documents",
                SEARCH_TOOL_SCHEMA, tool,
            )
        from .mcp_http import serve_http

        print(f"MCP streamable-http on http://{host}:{port}{path} "
              "(built-in transport; install 'mcp' for FastMCP)",
              file=sys.stderr)
        return serve_http(
            tool_name, tool_description or "Search for local documents",
            SEARCH_TOOL_SCHEMA, tool, host=host, port=port, path=path,
        )

    mcp = (
        FastMCP(name="hybrid-doc-search", host=host, port=port,
                streamable_http_path=path)
        if transport == "streamable-http"
        else FastMCP(name="hybrid-doc-search")
    )
    mcp.tool(name=tool_name, description=tool_description)(tool)
    mcp.run(transport="stdio" if transport == "stdio" else "streamable-http")
    return 0
