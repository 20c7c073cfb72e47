"""Minimal MCP stdio server (JSON-RPC 2.0, newline-delimited).

Implements the subset of the Model Context Protocol needed to expose one
search tool over the stdio transport when the official ``mcp`` package is
not installed: ``initialize``, the ``notifications/initialized``
notification, ``ping``, ``tools/list`` and ``tools/call``. Message shapes
follow the public MCP specification (https://modelcontextprotocol.io,
revision 2025-03-26): the stdio transport is newline-delimited JSON-RPC
2.0 on stdin/stdout, ``tools/call`` returns ``content`` blocks plus
``structuredContent``, and protocol errors use standard JSON-RPC codes.

Reference parity: reference server.py:66-103 runs FastMCP over the same
transport; this module makes ``serve --transport stdio`` genuinely work
in environments without the ``mcp`` dependency (the handler logic itself
lives in server.make_search_tool either way).
"""

from __future__ import annotations

import json
import sys
from typing import Any, Callable, TextIO

PROTOCOL_VERSION = "2025-03-26"
# versions this server can actually speak — the negotiation rule is to
# echo the CLIENT's requested version only when supported, else respond
# with the latest version the server supports (MCP spec, Lifecycle §
# version negotiation); echoing an arbitrary client string would claim
# support for semantics this server does not implement
SUPPORTED_VERSIONS = ("2025-03-26", "2024-11-05")

# JSON-RPC 2.0 error codes (spec §5.1)
PARSE_ERROR = -32700
INVALID_REQUEST = -32600
METHOD_NOT_FOUND = -32601
INVALID_PARAMS = -32602
INTERNAL_ERROR = -32603


def _write(out: TextIO, msg: dict[str, Any]) -> None:
    # newline-delimited framing: messages MUST NOT contain embedded
    # newlines (MCP stdio transport requirement)
    out.write(json.dumps(msg, ensure_ascii=False, separators=(",", ":")))
    out.write("\n")
    out.flush()


def _error(out: TextIO, req_id: Any, code: int, message: str) -> None:
    _write(out, {"jsonrpc": "2.0", "id": req_id,
                 "error": {"code": code, "message": message}})


_JSON_TYPES: dict[str, type | tuple[type, ...]] = {
    "string": str,
    "integer": int,
    "number": (int, float),
    "boolean": bool,
    "array": list,
    "object": dict,
    "null": type(None),
}


def _schema_violation(args: Any, schema: dict[str, Any]) -> str | None:
    """First violation of ``args`` against a flat object schema, or None.

    Checks the subset of JSON Schema the tool declarations here use:
    required keys, no undeclared keys, and scalar/array/object type tags.
    Run BEFORE calling the tool so invalid params are a -32602 protocol
    error while exceptions inside the tool body stay tool results."""
    if not isinstance(args, dict):
        return f"arguments must be an object, got {type(args).__name__}"
    props = schema.get("properties", {})
    for key in schema.get("required", []):
        if key not in args:
            return f"missing required argument: {key!r}"
    for key, val in args.items():
        if key not in props:
            return f"unexpected argument: {key!r}"
        want = props[key].get("type")
        pytype = _JSON_TYPES.get(want)
        if pytype is not None and not isinstance(val, pytype):
            return (f"argument {key!r} must be {want}, "
                    f"got {type(val).__name__}")
        if want == "integer" and isinstance(val, bool):
            return f"argument {key!r} must be integer, got bool"
    return None


def serve_stdio(
    tool_name: str,
    tool_description: str,
    input_schema: dict[str, Any],
    tool_fn: Callable[..., dict[str, Any]],
    stdin: TextIO | None = None,
    stdout: TextIO | None = None,
    server_name: str = "hybrid-doc-search",
    server_version: str = "0.1.0",
) -> int:
    """Serve one tool over MCP stdio until EOF. Returns 0 on clean EOF.

    ``tool_fn`` is called with the request's ``arguments`` as kwargs and
    must return a JSON-serializable dict (the tool's structured result).
    """
    fin = stdin if stdin is not None else sys.stdin
    fout = stdout if stdout is not None else sys.stdout

    for line in fin:
        line = line.strip()
        if not line:
            continue
        try:
            msg = json.loads(line)
        except json.JSONDecodeError:
            _error(fout, None, PARSE_ERROR, "parse error")
            continue
        resp = dispatch(msg, tool_name, tool_description, input_schema,
                        tool_fn, server_name, server_version)
        if resp is not None:
            _write(fout, resp)

    return 0


def dispatch(
    msg: Any,
    tool_name: str,
    tool_description: str,
    input_schema: dict[str, Any],
    tool_fn: Callable[..., dict[str, Any]],
    server_name: str = "hybrid-doc-search",
    server_version: str = "0.1.0",
) -> dict[str, Any] | None:
    """Handle ONE already-parsed JSON-RPC message; return the response
    dict, or None when the message is a notification (JSON-RPC 2.0 §4.1
    forbids answering those, even with id:null).

    Transport-independent: the stdio loop above and the streamable-HTTP
    transport (mcp_http.py) both route through here, so protocol
    semantics (version negotiation, schema-validated params, isError
    tool results) are defined exactly once.
    """

    def result(req_id: Any, payload: dict[str, Any]) -> dict[str, Any]:
        return {"jsonrpc": "2.0", "id": req_id, "result": payload}

    def error(req_id: Any, code: int, message: str) -> dict[str, Any]:
        return {"jsonrpc": "2.0", "id": req_id,
                "error": {"code": code, "message": message}}

    if not isinstance(msg, dict) or msg.get("jsonrpc") != "2.0":
        return error(msg.get("id") if isinstance(msg, dict) else None,
                     INVALID_REQUEST, "invalid request")
    method = msg.get("method")
    req_id = msg.get("id")
    params = msg.get("params") or {}
    # a client-sent RESPONSE (has result/error, no method) is not
    # answerable: JSON-RPC 2.0 forbids responding to a response, and the
    # MCP streamable-HTTP spec says posted client responses get 202 with
    # no body — returning None here keeps stdio silent and lets the HTTP
    # transport emit 202 instead of a bogus -32601
    if method is None and ("result" in msg or "error" in msg):
        return None
    # a request without an id is a notification: no response, ever
    is_notification = req_id is None

    if method == "notifications/initialized":
        return None
    if is_notification:
        return None  # unknown/other notifications: silently ignored
    if method == "initialize":
        client_pv = params.get("protocolVersion")
        # echo the client's version only when it's one we can speak,
        # else offer ours (MCP version-negotiation rule)
        pv = (client_pv if client_pv in SUPPORTED_VERSIONS
              else PROTOCOL_VERSION)
        return result(req_id, {
            "protocolVersion": pv,
            "capabilities": {"tools": {}},
            "serverInfo": {"name": server_name,
                           "version": server_version},
        })
    if method == "ping":
        return result(req_id, {})
    if method == "tools/list":
        return result(req_id, {
            "tools": [{
                "name": tool_name,
                "description": tool_description,
                "inputSchema": input_schema,
            }],
        })
    if method == "tools/call":
        name = params.get("name")
        if name != tool_name:
            return error(req_id, INVALID_PARAMS, f"unknown tool: {name!r}")
        args = params.get("arguments") or {}
        # Validate against the declared schema BEFORE calling: a bad
        # argument shape is a -32602 protocol error, but a TypeError
        # raised INSIDE the tool body is a tool failure and must be
        # reported as an isError result, not a protocol error —
        # catching TypeError around the call conflates the two.
        bad = _schema_violation(args, input_schema)
        if bad is not None:
            return error(req_id, INVALID_PARAMS, bad)
        try:
            out = tool_fn(**args)
        except Exception as exc:  # tool errors are results, not
            # protocol errors (MCP spec: isError content block)
            return result(req_id, {
                "content": [{"type": "text",
                             "text": f"{type(exc).__name__}: {exc}"}],
                "isError": True,
            })
        return result(req_id, {
            "content": [{"type": "text",
                         "text": json.dumps(out, ensure_ascii=False)}],
            "structuredContent": out,
            "isError": False,
        })
    return error(req_id, METHOD_NOT_FOUND, f"method not found: {method!r}")


SEARCH_TOOL_SCHEMA: dict[str, Any] = {
    "type": "object",
    "properties": {
        "query": {"type": "string", "description": "Search query"},
        "top_k": {"type": "integer", "default": 5, "minimum": 1,
                  "maximum": 100,
                  "description": "Number of results to return"},
    },
    "required": ["query"],
}
