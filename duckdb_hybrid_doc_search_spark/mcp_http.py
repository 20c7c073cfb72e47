"""Minimal MCP Streamable HTTP server (stdlib http.server).

Implements the subset of the Model Context Protocol's Streamable HTTP
transport (public spec, https://modelcontextprotocol.io, revision
2025-03-26) needed to expose one search tool when the official ``mcp``
package (FastMCP) is not installed — the same gap mcp_stdio.py fills for
the stdio transport. Reference parity: reference server.py:97-103 runs
FastMCP's streamable-http transport on (host, port, path).

Spec shapes implemented:
- single MCP endpoint (default ``/mcp``) accepting POST;
- a POSTed JSON-RPC *request* returns the JSON-RPC response as
  ``application/json`` (this server never opens an SSE stream — allowed:
  the server chooses between SSE and plain JSON per request);
- a POSTed *notification* (or client response) returns ``202 Accepted``
  with no body;
- the ``initialize`` response assigns an ``Mcp-Session-Id`` header;
  subsequent requests must echo it (``400`` when missing, ``404`` for an
  unknown/terminated session — the spec's signal to re-initialize);
- ``DELETE`` terminates the session (``200``); ``GET`` (the optional
  server-push stream) returns ``405 Method Not Allowed``;
- invalid JSON → HTTP 400 carrying a JSON-RPC parse-error body;
- a negative or non-numeric ``Content-Length`` → 400 and one above
  MAX_BODY_BYTES → 413, both before the body is read (the connection is
  then closed, since its unread body cannot be skipped).

Protocol semantics (version negotiation, schema-validated params,
isError tool results) are NOT duplicated here: every parsed message is
routed through mcp_stdio.dispatch, so both transports answer
identically by construction (tests/test_mcp_protocol.py pins this).
"""

from __future__ import annotations

import json
import secrets
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Callable

from .mcp_stdio import PARSE_ERROR, dispatch

# Largest request body read; a longer Content-Length is refused with 413
# before any of it is read.
MAX_BODY_BYTES = 1 << 20


def make_handler(
    tool_name: str,
    tool_description: str,
    input_schema: dict[str, Any],
    tool_fn: Callable[..., dict[str, Any]],
    path: str = "/mcp",
    server_name: str = "hybrid-doc-search",
    server_version: str = "0.1.0",
) -> type[BaseHTTPRequestHandler]:
    """Build the request-handler class closed over one tool.

    Session state is a plain set of issued ids guarded by a lock — the
    transport is stateless per request beyond "was this session
    initialized", matching the spec's minimal session contract.
    """
    sessions: set[str] = set()
    lock = threading.Lock()

    class MCPHandler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        # TCP_NODELAY: a response is two writes (headers, then body), and
        # with Nagle on the body waits for the client's delayed ACK of
        # the headers, ~40 ms on a keep-alive connection
        disable_nagle_algorithm = True

        # quiet: BaseHTTPRequestHandler logs every request to stderr
        def log_message(self, fmt: str, *args: Any) -> None:
            pass

        def _send(self, status: int, body: bytes | None,
                  extra: dict[str, str] | None = None) -> None:
            self.send_response(status)
            for k, v in (extra or {}).items():
                self.send_header(k, v)
            if body is not None:
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
            else:
                self.send_header("Content-Length", "0")
            self.end_headers()
            if body is not None:
                self.wfile.write(body)

        def _send_json(self, status: int, obj: dict[str, Any],
                       extra: dict[str, str] | None = None) -> None:
            self._send(
                status,
                json.dumps(obj, ensure_ascii=False,
                           separators=(",", ":")).encode(),
                extra,
            )

        def do_POST(self) -> None:  # noqa: N802 (http.server convention)
            if self.path.rstrip("/") != path.rstrip("/"):
                self._send_json(404, {"error": "unknown endpoint"})
                return
            length = self.headers.get("Content-Length", "0").strip()
            if not (length.isascii() and length.isdigit()):
                # rfile.read(-1) would wait for the peer to close
                self.close_connection = True
                self._send_json(400, {"error": "invalid Content-Length"},
                                {"Connection": "close"})
                return
            if int(length) > MAX_BODY_BYTES:
                self.close_connection = True
                self._send_json(413, {
                    "error": f"body exceeds {MAX_BODY_BYTES} bytes",
                }, {"Connection": "close"})
                return
            try:
                msg = json.loads(self.rfile.read(int(length)))
            except (ValueError, json.JSONDecodeError):
                self._send_json(400, {
                    "jsonrpc": "2.0", "id": None,
                    "error": {"code": PARSE_ERROR, "message": "parse error"},
                })
                return
            is_init = isinstance(msg, dict) and msg.get("method") == \
                "initialize"
            sid = self.headers.get("Mcp-Session-Id")
            if not is_init:
                # session gate (spec: 400 missing, 404 unknown ->
                # client must re-initialize)
                if sid is None:
                    self._send_json(400, {"error": "Mcp-Session-Id required"})
                    return
                with lock:
                    known = sid in sessions
                if not known:
                    self._send(404, None)
                    return
            resp = dispatch(msg, tool_name, tool_description, input_schema,
                            tool_fn, server_name, server_version)
            if resp is None:  # notification/response: accepted, no body
                self._send(202, None)
                return
            extra = {}
            if is_init and "result" in resp:
                new_sid = secrets.token_hex(16)
                with lock:
                    sessions.add(new_sid)
                extra["Mcp-Session-Id"] = new_sid
            self._send_json(200, resp, extra)

        def do_GET(self) -> None:  # noqa: N802
            # the optional server-initiated SSE stream is not offered
            self._send(405, None, {"Allow": "POST, DELETE"})

        def do_DELETE(self) -> None:  # noqa: N802
            sid = self.headers.get("Mcp-Session-Id")
            if sid is None:
                self._send_json(400, {"error": "Mcp-Session-Id required"})
                return
            with lock:
                found = sid in sessions
                sessions.discard(sid)
            self._send(200 if found else 404, None)

    return MCPHandler


def serve_http(
    tool_name: str,
    tool_description: str,
    input_schema: dict[str, Any],
    tool_fn: Callable[..., dict[str, Any]],
    host: str = "0.0.0.0",
    port: int = 8765,
    path: str = "/mcp",
    server_name: str = "hybrid-doc-search",
    server_version: str = "0.1.0",
    ready: threading.Event | None = None,
) -> int:
    """Serve one tool over MCP Streamable HTTP until interrupted.

    ``ready`` (when given) is set once the socket is bound — the test
    harness uses it to avoid connect races; passing port=0 binds an
    ephemeral port (readable via the event holder's ``server`` attr)."""
    handler = make_handler(tool_name, tool_description, input_schema,
                           tool_fn, path, server_name, server_version)
    httpd = ThreadingHTTPServer((host, port), handler)
    if ready is not None:
        ready.server = httpd  # type: ignore[attr-defined]
        ready.set()
    try:
        httpd.serve_forever(poll_interval=0.2)
    except KeyboardInterrupt:
        pass
    finally:
        httpd.server_close()
    return 0
