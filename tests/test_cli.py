"""CLI command surface: index -> search (single + bulk) -> version,
driven through the argparse entry point exactly as a user would
(reference cli.py:22-434 command surface)."""

from __future__ import annotations

import json
import os

import pytest

from duckdb_hybrid_doc_search_spark import cli


@pytest.fixture(scope="module")
def cli_index(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cli") / "idx")
    rc = cli.main(["index", "fixtures/docs", "--db", out])
    assert rc == 0
    return out


def test_cli_search_json(cli_index, capsys):
    rc = cli.main([
        "search", "--db", cli_index, "-q", "deep nested", "--json",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["results"], "expected at least one hit"
    first = out["results"][0]
    assert {"file_path", "score", "content"} <= set(first)


def test_cli_search_bulk_two_queries(cli_index, capsys):
    rc = cli.main([
        "search", "--db", cli_index,
        "-q", "deep nested", "-q", "front matter",
        "--remove-path-prefix", os.path.abspath("fixtures/docs"),
        "--add-path-prefix", "/mnt/docs",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(out["batches"]) == 2
    assert out["batches"][0]["query"] == "deep nested"
    paths = [r["file_path"] for b in out["batches"] for r in b["results"]]
    assert paths, "expected at least one hit"
    assert all(p.startswith("/mnt/docs/") for p in paths), paths


def test_cli_search_top_k_bound_rejected(cli_index):
    with pytest.raises(SystemExit):
        cli.main(["search", "--db", cli_index, "-q", "x", "--top-k", "101"])


@pytest.mark.parametrize("k", ["0", "-3"])
def test_cli_search_top_k_below_one_rejected(cli_index, capsys, k):
    with pytest.raises(SystemExit) as e:
        cli.main(["search", "--db", cli_index, "-q", "x", "--top-k", k])
    assert e.value.code == 2  # argparse's usage error, before any search
    assert "--top-k" in capsys.readouterr().err


def test_cli_version(capsys):
    rc = cli.main(["version"])
    assert rc == 0
    assert capsys.readouterr().out.strip()


def test_cli_serve_http_without_mcp_uses_builtin_transport(cli_index):
    """streamable-http no longer exits 2 without the external package:
    it serves via the built-in transport (mcp_http.py). Drive it in a
    thread against an ephemeral port, then shut the server down — the
    full protocol surface is covered in tests/test_mcp_protocol.py;
    this pins the CLI wiring (serve actually serves, correct path)."""
    import http.client
    import importlib.util
    import json as _json
    import threading
    import time as _time

    if importlib.util.find_spec("mcp") is not None:
        pytest.skip("mcp installed; fallback unreachable")
    import socket

    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    t = threading.Thread(
        target=cli.main,
        args=(["serve", "--db", cli_index, "--transport",
               "streamable-http", "--host", "127.0.0.1",
               "--port", str(port)],),
        daemon=True,
    )
    t.start()
    deadline = _time.monotonic() + 60
    last = None
    while _time.monotonic() < deadline:
        try:
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=5)
            conn.request("POST", "/mcp", body=_json.dumps({
                "jsonrpc": "2.0", "id": 1, "method": "initialize",
                "params": {"protocolVersion": "2025-03-26"},
            }))
            r = conn.getresponse()
            body = _json.loads(r.read())
            conn.close()
            break
        except OSError as exc:
            last = exc
            _time.sleep(0.5)
    else:
        raise AssertionError(f"built-in http transport never served: {last}")
    assert r.status == 200
    assert body["result"]["serverInfo"]["name"] == "hybrid-doc-search"
    # daemon thread: the server dies with the test process; no shutdown
    # handle is exposed through the CLI (matches real serve semantics)


def test_cli_query_list_and_run(capsys, sf_dir):
    rc = cli.main(["query", "--list"])
    assert rc == 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert any(ln.startswith("tpch_q1_pricing_summary\toracle") for ln in lines)
    assert len(lines) > 100

    rc = cli.main(["query", "tpch_q6_forecast_revenue", "--sf-dir", sf_dir])
    assert rc == 0
    row = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "revenue" in row


def test_cli_query_unknown_name(capsys):
    rc = cli.main(["query", "definitely_not_registered"])
    assert rc == 2
    assert "unknown query" in capsys.readouterr().err
