"""MCP stdio protocol round-trip over a REAL subprocess (SURVEY §2 S9).

Implements the 3-message client side of the public MCP spec directly —
initialize → notifications/initialized → tools/list → tools/call —
against ``cli serve --transport stdio`` running the built-in transport
(mcp_stdio.py), with no ``mcp`` package on either side. This is the
protocol-level evidence the FastMCP import-gate alone could not provide:
a client that speaks newline-delimited JSON-RPC 2.0 over the spawned
server's stdin/stdout gets spec-shaped responses and real search results
(reference server.py:66-103 behavior).

Plus fast in-process transport-edge tests over StringIO.
"""

from __future__ import annotations

import io
import json
import os
import subprocess
import sys

import pytest

from duckdb_hybrid_doc_search_spark import cli
from duckdb_hybrid_doc_search_spark.mcp_stdio import (SEARCH_TOOL_SCHEMA,
                                                      serve_stdio)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def mcp_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("mcp") / "idx")
    rc = cli.main(["index", "fixtures/docs", "--db", out])
    assert rc == 0
    return out


def _rpc(method: str, req_id: int | None = None, **params) -> str:
    msg: dict = {"jsonrpc": "2.0", "method": method}
    if req_id is not None:
        msg["id"] = req_id
    if params:
        msg["params"] = params
    return json.dumps(msg) + "\n"


def test_mcp_stdio_subprocess_round_trip(mcp_index):
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    env["SPARK_GRAFT_CPUS"] = "4"
    proc = subprocess.Popen(
        [sys.executable, "-m", "duckdb_hybrid_doc_search_spark.cli",
         "serve", "--db", mcp_index, "--transport", "stdio"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True, cwd=REPO, env=env,
    )
    try:
        # the server reads sequentially, so the whole conversation can be
        # written up front — responses arrive in request order
        proc.stdin.write(_rpc(
            "initialize", 1,
            protocolVersion="2025-03-26",
            capabilities={},
            clientInfo={"name": "pytest-client", "version": "0"},
        ))
        proc.stdin.write(_rpc("notifications/initialized"))
        proc.stdin.write(_rpc("tools/list", 2))
        proc.stdin.write(_rpc("tools/call", 3, name="search_documents",
                              arguments={"query": "deep nested",
                                         "top_k": 3}))
        proc.stdin.flush()
        proc.stdin.close()

        responses = []
        for line in proc.stdout:
            line = line.strip()
            if not line.startswith("{"):
                continue  # tolerate stray non-JSON stdout noise
            try:
                responses.append(json.loads(line))
            except json.JSONDecodeError:
                continue
        rc = proc.wait(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
    assert rc == 0
    by_id = {r.get("id"): r for r in responses}
    assert set(by_id) == {1, 2, 3}, f"got: {responses}"

    init = by_id[1]["result"]
    assert init["protocolVersion"] == "2025-03-26"
    assert "tools" in init["capabilities"]
    assert init["serverInfo"]["name"] == "hybrid-doc-search"

    tools = by_id[2]["result"]["tools"]
    assert len(tools) == 1
    assert tools[0]["name"] == "search_documents"
    assert tools[0]["inputSchema"]["required"] == ["query"]

    call = by_id[3]["result"]
    assert call["isError"] is False
    assert call["content"][0]["type"] == "text"
    results = call["structuredContent"]["results"]
    assert 1 <= len(results) <= 3
    # reference result shape (server.py:86-95 / searcher.py)
    for r in results:
        for key in ("file_path", "content", "score", "header_path"):
            assert key in r
    # content block mirrors the structured result
    assert json.loads(call["content"][0]["text"])["results"] == results


# ---- in-process transport edges (no Spark, no subprocess) -------------


def _drive(lines: list[str], tool=None):
    fin = io.StringIO("".join(line + "\n" for line in lines))
    fout = io.StringIO()
    rc = serve_stdio(
        "search_documents", "d", SEARCH_TOOL_SCHEMA,
        tool or (lambda query, top_k=5: {"results": [{"q": query}]}),
        stdin=fin, stdout=fout,
    )
    out = [json.loads(x) for x in fout.getvalue().splitlines() if x]
    return rc, out


def test_parse_error_and_unknown_method():
    rc, out = _drive([
        "this is not json",
        json.dumps({"jsonrpc": "2.0", "id": 7, "method": "nope"}),
        json.dumps({"jsonrpc": "2.0", "method": "notifications/unknown"}),
    ])
    assert rc == 0
    assert out[0]["error"]["code"] == -32700
    assert out[1] == {"jsonrpc": "2.0", "id": 7,
                      "error": {"code": -32601,
                                "message": "method not found: 'nope'"}}
    assert len(out) == 2  # unknown notification: silently ignored


def test_unknown_tool_and_bad_args_are_invalid_params():
    rc, out = _drive([
        json.dumps({"jsonrpc": "2.0", "id": 1, "method": "tools/call",
                    "params": {"name": "other", "arguments": {}}}),
        json.dumps({"jsonrpc": "2.0", "id": 2, "method": "tools/call",
                    "params": {"name": "search_documents",
                               "arguments": {"bogus": 1}}}),
    ])
    assert out[0]["error"]["code"] == -32602
    assert out[1]["error"]["code"] == -32602


def test_tool_exception_is_isError_result_not_protocol_error():
    def boom(query, top_k=5):
        raise ValueError("engine exploded")

    rc, out = _drive([
        json.dumps({"jsonrpc": "2.0", "id": 1, "method": "tools/call",
                    "params": {"name": "search_documents",
                               "arguments": {"query": "x"}}}),
    ], tool=boom)
    res = out[0]["result"]
    assert res["isError"] is True
    assert "engine exploded" in res["content"][0]["text"]


def test_ping_and_version_negotiation_fallback():
    rc, out = _drive([
        json.dumps({"jsonrpc": "2.0", "id": 1, "method": "initialize",
                    "params": {}}),  # no client protocolVersion
        json.dumps({"jsonrpc": "2.0", "id": 2, "method": "ping"}),
    ])
    assert out[0]["result"]["protocolVersion"]  # server offers its own
    assert out[1]["result"] == {}


def test_unsupported_client_version_gets_server_version():
    # negotiation rule: echo the client's version ONLY when supported;
    # an arbitrary string must come back as a version we actually speak
    from duckdb_hybrid_doc_search_spark.mcp_stdio import (
        PROTOCOL_VERSION, SUPPORTED_VERSIONS)

    rc, out = _drive([
        json.dumps({"jsonrpc": "2.0", "id": 1, "method": "initialize",
                    "params": {"protocolVersion": "9999-01-01"}}),
        json.dumps({"jsonrpc": "2.0", "id": 2, "method": "initialize",
                    "params": {"protocolVersion": "2024-11-05"}}),
    ])
    assert out[0]["result"]["protocolVersion"] == PROTOCOL_VERSION
    assert out[1]["result"]["protocolVersion"] == "2024-11-05"
    assert "2024-11-05" in SUPPORTED_VERSIONS


def test_tool_body_typeerror_is_isError_not_invalid_params():
    # a TypeError raised INSIDE the tool (after args validated against
    # the schema) is a tool failure, not a -32602 protocol error
    def inner_type_bug(query, top_k=5):
        return {"n": len(None)}  # TypeError from the tool body

    rc, out = _drive([
        json.dumps({"jsonrpc": "2.0", "id": 1, "method": "tools/call",
                    "params": {"name": "search_documents",
                               "arguments": {"query": "x"}}}),
    ], tool=inner_type_bug)
    res = out[0]["result"]
    assert res["isError"] is True
    assert "TypeError" in res["content"][0]["text"]


def test_wrong_arg_type_is_invalid_params():
    rc, out = _drive([
        json.dumps({"jsonrpc": "2.0", "id": 1, "method": "tools/call",
                    "params": {"name": "search_documents",
                               "arguments": {"query": 42}}}),
        json.dumps({"jsonrpc": "2.0", "id": 2, "method": "tools/call",
                    "params": {"name": "search_documents",
                               "arguments": {"query": "x",
                                             "top_k": "five"}}}),
    ])
    assert out[0]["error"]["code"] == -32602
    assert out[1]["error"]["code"] == -32602


# ---- streamable-HTTP transport (mcp_http.py) --------------------------


import contextlib
import http.client
import threading


@contextlib.contextmanager
def _http_server(tool=None):
    from duckdb_hybrid_doc_search_spark.mcp_http import serve_http

    ready = threading.Event()
    t = threading.Thread(
        target=serve_http,
        args=("search_documents", "d", SEARCH_TOOL_SCHEMA,
              tool or (lambda query, top_k=5: {"results": [{"q": query}]})),
        kwargs={"host": "127.0.0.1", "port": 0, "ready": ready},
        daemon=True,
    )
    t.start()
    assert ready.wait(10)
    httpd = ready.server  # type: ignore[attr-defined]
    try:
        yield httpd.server_address[1]
    finally:
        httpd.shutdown()


def _req(port, method, path="/mcp", body=None, headers=None):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    payload = json.dumps(body) if isinstance(body, dict) else body
    conn.request(method, path, body=payload, headers=headers or {})
    r = conn.getresponse()
    data = r.read()
    out = json.loads(data) if data else None
    hdrs = dict(r.getheaders())
    conn.close()
    return r.status, out, hdrs


def _rpc_msg(method, req_id=None, **params):
    msg = {"jsonrpc": "2.0", "method": method}
    if req_id is not None:
        msg["id"] = req_id
    if params:
        msg["params"] = params
    return msg


def test_http_lifecycle_and_sessions():
    with _http_server() as port:
        # initialize assigns a session id
        st, body, hdrs = _req(port, "POST", body=_rpc_msg(
            "initialize", 1, protocolVersion="2025-03-26",
            capabilities={}, clientInfo={"name": "t", "version": "0"}))
        assert st == 200
        assert body["result"]["protocolVersion"] == "2025-03-26"
        sid = hdrs.get("Mcp-Session-Id")
        assert sid

        # notification with the session -> 202, no body
        st, body, _ = _req(port, "POST",
                           body=_rpc_msg("notifications/initialized"),
                           headers={"Mcp-Session-Id": sid})
        assert st == 202 and body is None

        # request without a session id -> 400; unknown session -> 404
        st, _, _ = _req(port, "POST", body=_rpc_msg("ping", 2))
        assert st == 400
        st, _, _ = _req(port, "POST", body=_rpc_msg("ping", 2),
                        headers={"Mcp-Session-Id": "deadbeef"})
        assert st == 404

        # tools/list + tools/call with the session
        st, body, _ = _req(port, "POST", body=_rpc_msg("tools/list", 3),
                           headers={"Mcp-Session-Id": sid})
        assert st == 200
        assert body["result"]["tools"][0]["name"] == "search_documents"
        st, body, _ = _req(
            port, "POST",
            body=_rpc_msg("tools/call", 4, name="search_documents",
                          arguments={"query": "x"}),
            headers={"Mcp-Session-Id": sid})
        assert st == 200 and body["result"]["isError"] is False
        assert body["result"]["structuredContent"]["results"][0]["q"] == "x"

        # GET (server-push stream) is not offered
        st, _, hdrs = _req(port, "GET")
        assert st == 405 and "POST" in hdrs.get("Allow", "")

        # DELETE terminates the session; afterwards requests 404
        st, _, _ = _req(port, "DELETE",
                        headers={"Mcp-Session-Id": sid})
        assert st == 200
        st, _, _ = _req(port, "POST", body=_rpc_msg("ping", 5),
                        headers={"Mcp-Session-Id": sid})
        assert st == 404


def test_http_parse_error_and_protocol_errors():
    with _http_server() as port:
        st, body, _ = _req(port, "POST", body="this is not json")
        assert st == 400 and body["error"]["code"] == -32700

        st, _, hdrs = _req(port, "POST", body=_rpc_msg(
            "initialize", 1, protocolVersion="2025-03-26"))
        sid = hdrs["Mcp-Session-Id"]
        # unknown method -> JSON-RPC error over HTTP 200 (the transport
        # succeeded; the protocol error is in-band)
        st, body, _ = _req(port, "POST", body=_rpc_msg("nope", 2),
                           headers={"Mcp-Session-Id": sid})
        assert st == 200 and body["error"]["code"] == -32601
        # bad args -> -32602, same rule as stdio (shared dispatch)
        st, body, _ = _req(
            port, "POST",
            body=_rpc_msg("tools/call", 3, name="search_documents",
                          arguments={"bogus": 1}),
            headers={"Mcp-Session-Id": sid})
        assert st == 200 and body["error"]["code"] == -32602
        # wrong endpoint
        st, _, _ = _req(port, "POST", path="/other",
                        body=_rpc_msg("ping", 4))
        assert st == 404


def test_http_bad_content_length_is_refused_before_reading():
    """A negative or non-numeric Content-Length gets 400 and one above
    MAX_BODY_BYTES gets 413 — without the server waiting for a body the
    client never sends (rfile.read(-1) blocks on a keep-alive socket)."""
    from duckdb_hybrid_doc_search_spark.mcp_http import MAX_BODY_BYTES

    with _http_server() as port:
        for length, status in (("-1", 400), ("abc", 400),
                               (str(MAX_BODY_BYTES + 1), 413)):
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
            conn.putrequest("POST", "/mcp")
            conn.putheader("Content-Length", length)
            conn.endheaders()
            r = conn.getresponse()
            body = json.loads(r.read())
            conn.close()
            assert r.status == status and "error" in body


def test_http_subprocess_round_trip(mcp_index):
    """REAL subprocess drive of `cli serve --transport streamable-http`:
    the built-in HTTP transport serves actual search results end-to-end
    — the evidence the FastMCP import-gate alone could not provide for
    the reference's second transport (reference server.py:97-103)."""
    import socket
    import time as _time

    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    env["SPARK_GRAFT_CPUS"] = "4"
    with socket.socket() as s:  # pick a free port
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    proc = subprocess.Popen(
        [sys.executable, "-m", "duckdb_hybrid_doc_search_spark.cli",
         "serve", "--db", mcp_index, "--transport", "streamable-http",
         "--host", "127.0.0.1", "--port", str(port)],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, cwd=REPO,
        env=env,
    )
    try:
        # Spark startup under a fully-loaded 32-thread suite can
        # exceed 120s (one flake observed r13); the deadline is a
        # ceiling, not a typical cost — success returns immediately
        deadline = _time.monotonic() + 240
        last = None
        while _time.monotonic() < deadline:
            try:
                st, body, hdrs = _req(port, "POST", body=_rpc_msg(
                    "initialize", 1, protocolVersion="2025-03-26",
                    capabilities={},
                    clientInfo={"name": "t", "version": "0"}))
                break
            except OSError as exc:
                last = exc
                _time.sleep(1.0)
        else:
            raise AssertionError(f"server never came up: {last}")
        assert st == 200
        sid = hdrs["Mcp-Session-Id"]
        st, body, _ = _req(
            port, "POST",
            body=_rpc_msg("tools/call", 2, name="search_documents",
                          arguments={"query": "deep nested", "top_k": 3}),
            headers={"Mcp-Session-Id": sid})
        assert st == 200
        res = body["result"]
        assert res["isError"] is False
        results = res["structuredContent"]["results"]
        assert 1 <= len(results) <= 3
        for r in results:
            for key in ("file_path", "content", "score", "header_path"):
                assert key in r
    finally:
        proc.terminate()
        try:
            proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            proc.kill()


def test_request_methods_as_notifications_get_no_response():
    # JSON-RPC 2.0 forbids responding to a notification — even with
    # id:null; ping/tools/list/tools/call without an id must be dropped
    rc, out = _drive([
        json.dumps({"jsonrpc": "2.0", "method": "ping"}),
        json.dumps({"jsonrpc": "2.0", "method": "tools/list"}),
        json.dumps({"jsonrpc": "2.0", "method": "tools/call",
                    "params": {"name": "search_documents",
                               "arguments": {"query": "x"}}}),
        json.dumps({"jsonrpc": "2.0", "method": "initialize",
                    "params": {"protocolVersion": "2025-03-26"}}),
        json.dumps({"jsonrpc": "2.0", "id": 9, "method": "ping"}),
    ])
    assert rc == 0
    assert len(out) == 1 and out[0]["id"] == 9  # only the real request


def test_client_responses_are_not_answered():
    # a posted client RESPONSE (result/error present, no method) is not
    # answerable: JSON-RPC 2.0 forbids responding to a response and the
    # MCP streamable-HTTP spec accepts them with 202 and no body — the
    # pre-r8 dispatch fell through to a bogus -32601
    rc, out = _drive([
        json.dumps({"jsonrpc": "2.0", "id": 1, "result": {"ok": True}}),
        json.dumps({"jsonrpc": "2.0", "id": 2,
                    "error": {"code": -32000, "message": "client-side"}}),
        json.dumps({"jsonrpc": "2.0", "id": 9, "method": "ping"}),
    ])
    assert rc == 0
    assert len(out) == 1 and out[0]["id"] == 9  # only the real request
