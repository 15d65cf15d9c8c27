"""X9 twin: the minimal MCP stdio server (jobs/mcp_server.py) speaks
real JSON-RPC 2.0 with the MCP 2024-11-05 shapes — driven here exactly
as an MCP client would, over a subprocess pipe."""

import base64
import json
import subprocess
import sys


def _rpc_session(requests, env=None):
    """Feed newline-delimited JSON-RPC requests, return parsed replies."""
    import os

    run_env = dict(os.environ)
    if env:
        run_env.update(env)
    proc = subprocess.run(
        [sys.executable, "jobs/mcp_server.py"],
        input="\n".join(json.dumps(r) for r in requests) + "\n",
        capture_output=True, text=True, timeout=120, env=run_env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return [json.loads(line) for line in proc.stdout.strip().splitlines()]


def test_mcp_handshake_and_tools():
    out = _rpc_session([
        {"jsonrpc": "2.0", "id": 1, "method": "initialize",
         "params": {"protocolVersion": "2024-11-05", "capabilities": {}}},
        {"jsonrpc": "2.0", "method": "notifications/initialized"},
        {"jsonrpc": "2.0", "id": 2, "method": "tools/list"},
        {"jsonrpc": "2.0", "id": 3, "method": "no/such"},
    ])
    init, tools, err = out
    assert init["result"]["protocolVersion"] == "2024-11-05"
    assert init["result"]["serverInfo"]["name"] == "exstruct-spark"
    names = [t["name"] for t in tools["result"]["tools"]]
    assert names == ["extract_html", "render_table_images", "media_probe",
                     "read_table_range", "edit_document", "make_document",
                     "extract_file", "validate_input", "get_runtime_info",
                     "list_ops", "describe_op", "read_links_map",
                     "read_colors_map"]
    # the edit tool's description lists every op it accepts
    from exstruct_spark.kernels.edits import _OPS

    (edit,) = [t for t in tools["result"]["tools"]
               if t["name"] == "edit_document"]
    assert all(op in edit["description"] for op in _OPS)
    assert err["error"]["code"] == -32601


def test_mcp_extract_render_and_range_roundtrip():
    html = (
        "<html><body><main><h1>T</h1>"
        "<table><caption>sales</caption>"
        "<tr><th>region</th><th>rev</th></tr>"
        "<tr><td>north</td><td>1.50</td></tr>"
        "<tr><td>south</td><td>7</td></tr></table>"
        "<p>Main body text with several words in it.</p></main>"
        "</body></html>"
    )
    out = _rpc_session([
        {"jsonrpc": "2.0", "id": 1, "method": "tools/call",
         "params": {"name": "extract_html",
                    "arguments": {"url": "https://x/a", "html": html}}},
        {"jsonrpc": "2.0", "id": 2, "method": "tools/call",
         "params": {"name": "render_table_images",
                    "arguments": {"url": "https://x/a", "html": html}}},
    ])
    ex = json.loads(out[0]["result"]["content"][0]["text"])
    assert out[0]["result"]["isError"] is False
    assert ex["status"] == "ok"
    table = ex["extraction"]["tables"][0]
    assert table["name"] == "sales"
    assert table["rows"][1]["c"]["1"] == 1.5

    ri = json.loads(out[1]["result"]["content"][0]["text"])
    assert ri["n_images"] == 1
    png = base64.b64decode(ri["images"][0]["png_base64"])
    from exstruct_spark.kernels.png import decode_png

    assert decode_png(png).shape == (
        ri["images"][0]["height"], ri["images"][0]["width"], 3
    )

    # range slice over the extraction we just got (B1:B3, normalized)
    out2 = _rpc_session([
        {"jsonrpc": "2.0", "id": 3, "method": "tools/call",
         "params": {"name": "read_table_range",
                    "arguments": {
                        "extraction_json": json.dumps(ex["extraction"]),
                        "table_id": 0, "range": "B1:B3",
                        "normalize": True}}},
    ])
    sl = json.loads(out2[0]["result"]["content"][0]["text"])
    assert [r["c"]["0"] for r in sl["rows"]] == ["rev", 1.5, 7]
    assert [r["r"] for r in sl["rows"]] == [0, 1, 2]

    # in-band tool error (MCP isError), not a protocol failure
    out3 = _rpc_session([
        {"jsonrpc": "2.0", "id": 4, "method": "tools/call",
         "params": {"name": "read_table_range",
                    "arguments": {"extraction_json": "{}",
                                  "range": "A1:B2"}}},
    ])
    assert out3[0]["result"]["isError"] is True
    assert "no table" in out3[0]["result"]["content"][0]["text"]


def test_mcp_extract_html_external_css():
    """Round 7: extract_html accepts external stylesheet texts — rules
    cascade below same-document <style>, matching the corpus join; a
    non-array value is an in-band tool error."""
    html = ("<html><body><table id='zt'>"
            "<tr><th>k</th><th>v</th></tr>"
            "<tr><td>a</td><td>1</td></tr>"
            "<tr><td>b</td><td>2</td></tr></table></body></html>")
    sheets = ["#zt tr:nth-child(even) { background-color: #EEF }",
              "#zt th { background: #222 }"]
    out = _rpc_session([
        {"jsonrpc": "2.0", "id": 1, "method": "tools/call",
         "params": {"name": "extract_html",
                    "arguments": {"url": "mcp://x", "html": html,
                                  "external_css": sheets}}},
        {"jsonrpc": "2.0", "id": 2, "method": "tools/call",
         "params": {"name": "extract_html",
                    "arguments": {"html": html,
                                  "external_css": "not-a-list"}}},
    ])
    ex = json.loads(out[0]["result"]["content"][0]["text"])
    cm = ex["extraction"]["tables"][0]["colors_map"]
    assert cm == {"222222": [[1, 0], [1, 1]],
                  "EEEEFF": [[2, 0], [2, 1]]}
    assert out[1]["result"]["isError"] is True


def test_mcp_media_probe_real_decode():
    """media_probe decodes a real PNG through the server: genuine
    dimensions and pixel statistics come back over the protocol."""
    import numpy as np

    from exstruct_spark.kernels.png import encode_png

    img = np.random.default_rng(3).integers(0, 256, (9, 13, 3),
                                            dtype=np.uint8)
    blob = base64.b64encode(encode_png(img)).decode("ascii")
    out = _rpc_session([
        {"jsonrpc": "2.0", "id": 1, "method": "tools/call",
         "params": {"name": "media_probe",
                    "arguments": {"blob_base64": blob}}},
    ])
    meta = json.loads(out[0]["result"]["content"][0]["text"])
    assert meta["media_type"] == "image/png" and meta["decoded"]
    assert (meta["width"], meta["height"]) == (13, 9)
    assert abs(meta["px_mean"] - float(round(img.mean(), 4))) < 1e-9


def test_mcp_chunked_read_table_range(tmp_path):
    """VERDICT r4 #8a: read_table_range pages outputs larger than one
    response (reference mcp/chunk_reader.py analogue) — page_size rows
    per reply, an opaque next_cursor to continue, pages concatenate to
    the full result, and a corrupt cursor errors in-band."""
    rows = [{"r": i + 1, "c": {"0": f"v{i}", "1": i}} for i in range(23)]
    ejson = json.dumps({"tables": [{"id": 0, "range": "A1:B23",
                                    "rows": rows}]})

    def call(msg_id, extra):
        args = {"extraction_json": ejson, "range": "A1:B23",
                "page_size": 10}
        args.update(extra)
        return {"jsonrpc": "2.0", "id": msg_id, "method": "tools/call",
                "params": {"name": "read_table_range", "arguments": args}}

    out = _rpc_session([call(1, {})])
    page1 = json.loads(out[0]["result"]["content"][0]["text"])
    assert len(page1["rows"]) == 10 and page1["total_rows"] == 23
    cur = page1["next_cursor"]
    out = _rpc_session([call(1, {"cursor": cur})])
    page2 = json.loads(out[0]["result"]["content"][0]["text"])
    assert len(page2["rows"]) == 10 and page2["offset"] == 10
    out = _rpc_session([call(1, {"cursor": page2["next_cursor"]})])
    page3 = json.loads(out[0]["result"]["content"][0]["text"])
    assert len(page3["rows"]) == 3 and "next_cursor" not in page3
    assert (page1["rows"] + page2["rows"] + page3["rows"]) == rows
    # corrupt cursor: in-band tool error, server stays up
    out = _rpc_session([call(1, {"cursor": "!!notb64!!"}),
                        call(2, {})])
    assert out[0]["result"]["isError"] is True
    assert json.loads(out[1]["result"]["content"][0]["text"])["offset"] == 0


def test_mcp_extract_file_root_confinement(tmp_path):
    """VERDICT r4 #8b: extract_file serves only the confined root —
    an in-root file extracts; ../ escapes and symlinks pointing outside
    resolve to their real path and are refused in-band."""
    import os

    root = tmp_path / "root"
    root.mkdir()
    (root / "doc.html").write_text(
        "<html><body><table><tr><td>a</td><td>1</td></tr>"
        "<tr><td>b</td><td>2</td></tr><tr><td>c</td><td>3</td></tr>"
        "</table></body></html>")
    secret = tmp_path / "secret.html"
    secret.write_text("<html><body><p>outside</p></body></html>")
    os.symlink(secret, root / "leak.html")
    env = {"EXSTRUCT_MCP_ROOT": str(root)}

    def call(msg_id, path):
        return {"jsonrpc": "2.0", "id": msg_id, "method": "tools/call",
                "params": {"name": "extract_file",
                           "arguments": {"path": path}}}

    out = _rpc_session([
        call(1, "doc.html"),                       # relative, in root
        call(2, str(root / "doc.html")),           # absolute, in root
        call(3, "../secret.html"),                 # .. escape
        call(4, str(secret)),                      # absolute outside
        call(5, "leak.html"),                      # symlink escape
        call(6, "missing.html"),                   # absent but in-root
    ], env=env)
    ok1 = json.loads(out[0]["result"]["content"][0]["text"])
    ok2 = json.loads(out[1]["result"]["content"][0]["text"])
    assert ok1["extraction"]["tables"][0]["range"] == "A1:B3"
    assert ok2["extraction"]["tables"][0]["range"] == "A1:B3"
    for i in (2, 3, 4):
        assert out[i]["result"]["isError"] is True
        assert "outside served root" in out[i]["result"]["content"][0]["text"]
    assert out[5]["result"]["isError"] is True   # FileNotFoundError in-band
    assert "outside" not in out[5]["result"]["content"][0]["text"]


def test_mcp_extract_file_size_cap(tmp_path):
    """ADVICE r5: extract_file must refuse files above the byte cap
    in-band (caps-not-crashes) instead of reading multi-GB files into
    memory; under-cap files still extract, and the cap is env-tunable."""
    root = tmp_path / "root"
    root.mkdir()
    small = ("<html><body><table><tr><td>a</td><td>1</td></tr>"
             "<tr><td>b</td><td>2</td></tr><tr><td>c</td><td>3</td></tr>"
             "</table></body></html>")
    (root / "small.html").write_text(small)
    (root / "big.html").write_text(small + "<!--" + "x" * 4096 + "-->")
    env = {"EXSTRUCT_MCP_ROOT": str(root),
           "EXSTRUCT_MCP_MAX_FILE_BYTES": "1024"}

    def call(msg_id, path):
        return {"jsonrpc": "2.0", "id": msg_id, "method": "tools/call",
                "params": {"name": "extract_file",
                           "arguments": {"path": path}}}

    out = _rpc_session([call(1, "big.html"), call(2, "small.html")], env=env)
    assert out[0]["result"]["isError"] is True
    assert "file too large" in out[0]["result"]["content"][0]["text"]
    # the refusal is in-band: the server stays up and serves the next call
    ok = json.loads(out[1]["result"]["content"][0]["text"])
    assert ok["extraction"]["tables"][0]["range"] == "A1:B3"


def test_mcp_make_document_generative_roundtrip(tmp_path):
    """make_document (the exstruct_make twin) over the pipe: the built
    HTML re-extracts to the input record's table family; out_path writes
    under the confined root only."""
    root = tmp_path / "root"
    root.mkdir()
    env = {"EXSTRUCT_MCP_ROOT": str(root)}
    record = {"title": "Gen", "tables": [{
        "id": 0, "name": "made",
        "rows": [{"r": 1, "c": {"0": "h", "1": "n"}},
                 {"r": 2, "c": {"0": "a", "1": 3}}],
        "colors_map": {"00FF00": [[2, 1]]},
    }]}

    def call(msg_id, name, args):
        return {"jsonrpc": "2.0", "id": msg_id, "method": "tools/call",
                "params": {"name": name, "arguments": args}}

    out = _rpc_session([
        call(1, "make_document",
             {"extraction": record, "out_path": "gen.html"}),
        call(2, "make_document",
             {"extraction": record, "out_path": "../escape.html"}),
        call(3, "make_document", {"extraction_json": "not json"}),
    ], env=env)
    made = json.loads(out[0]["result"]["content"][0]["text"])
    assert made["n_tables"] == 1 and made["path"].endswith("gen.html")
    assert (root / "gen.html").read_text() == made["html"]
    assert out[1]["result"]["isError"] is True
    assert "outside served root" in out[1]["result"]["content"][0]["text"]
    assert out[2]["result"]["isError"] is True

    # generative round trip through the extractor
    from exstruct_spark.config import ExtractOptions
    from exstruct_spark.golden import extract_document

    rec = extract_document("file://gen", made["html"].encode(),
                           ExtractOptions())
    t = json.loads(rec["extraction_json"])["tables"][0]
    assert t["rows"] == record["tables"][0]["rows"]
    assert t["colors_map"] == {"00FF00": [[2, 1]]}
    assert t["name"] == "made"


def test_mcp_introspection_and_reader_tools(tmp_path):
    """The thin tool-breadth wave (VERDICT r5 #5): validate_input's
    is_readable/warnings/errors triage, get_runtime_info, the op
    registry introspected from the live edit table, and the
    links_map/colors_map readers over an extraction record."""
    root = tmp_path / "root"
    root.mkdir()
    (root / "ok.html").write_text("<p>x</p>")
    (root / "odd.bin").write_text("zz")
    (root / "big.html").write_text("y" * 2000)
    env = {"EXSTRUCT_MCP_ROOT": str(root),
           "EXSTRUCT_MCP_MAX_FILE_BYTES": "1024"}

    def call(msg_id, name, args):
        return {"jsonrpc": "2.0", "id": msg_id, "method": "tools/call",
                "params": {"name": name, "arguments": args}}

    ejson = json.dumps({"tables": [
        {"id": 0, "rows": [
            {"r": 1, "c": {"0": "a", "1": "b"},
             "links": {"1": "https://x/a"}},
            {"r": 2, "c": {"0": "c"}, "links": {"0": "https://x/a"}},
        ], "colors_map": {"FF0000": [[1, 0]]}},
        {"id": 1, "rows": [{"r": 1, "c": {"0": "z"}}]},
    ]})
    out = _rpc_session([
        call(1, "validate_input", {"path": "ok.html"}),
        call(2, "validate_input", {"path": "odd.bin"}),
        call(3, "validate_input", {"path": "big.html"}),
        call(4, "validate_input", {"path": "../escape.html"}),
        call(5, "validate_input", {"path": "missing.html"}),
        call(6, "get_runtime_info", {}),
        call(7, "list_ops", {}),
        call(8, "describe_op", {"op": "merge_cells"}),
        call(9, "describe_op", {"op": "nope"}),
        call(10, "read_links_map", {"extraction_json": ejson}),
        call(11, "read_colors_map",
             {"extraction_json": ejson, "table_id": 0}),
        call(12, "read_colors_map",
             {"extraction_json": ejson, "table_id": 9}),
    ], env=env)

    def body(i):
        return json.loads(out[i]["result"]["content"][0]["text"])

    assert body(0) == {"is_readable": True, "warnings": [], "errors": []}
    odd = body(1)
    assert odd["is_readable"] and "Unusual extension" in odd["warnings"][0]
    big = body(2)
    assert not big["is_readable"] and "file too large" in big["errors"][0]
    esc = body(3)
    assert not esc["is_readable"] and "outside served root" in esc["errors"][0]
    assert not body(4)["is_readable"]
    info = body(5)
    assert info["root"] == str(root) and info["max_file_bytes"] == 1024
    ops = body(6)
    names = {o["op"] for o in ops["ops"]}
    assert ops["total"] == 19 and {"set_value", "merge_cells",
                                   "draw_grid_border", "set_style",
                                   "restore_design_snapshot"} <= names
    desc = body(7)
    assert desc["op"] == "merge_cells"
    assert [a["name"] for a in desc["args"]] == ["table", "r1", "c1",
                                                 "r2", "c2"]
    assert all(a["required"] for a in desc["args"])
    assert out[8]["result"]["isError"] is True
    links = body(9)["tables"]
    assert links[0]["links_map"] == {"https://x/a": [[1, "1"], [2, "0"]]}
    assert links[0]["n_links"] == 2 and links[1]["links_map"] == {}
    colors = body(10)["tables"]
    assert len(colors) == 1
    assert colors[0]["colors_map"] == {"FF0000": [[1, 0]]}
    assert out[11]["result"]["isError"] is True  # unknown table_id


def test_mcp_edit_document_roundtrip():
    """edit_document applies the cell-op family over the pipe and the
    patched HTML re-extracts with the edit visible; bad ops skip."""
    html = ("<table><tr><td>a</td><td>1</td></tr>"
            "<tr><td>b</td><td>2</td></tr></table>")
    ops = [
        {"op": "set_value", "table": 0, "row": 0, "col": 1, "value": 9.5},
        {"op": "add_row", "table": 0, "row": 2, "values": ["c", 3]},
        {"op": "set_value", "table": 7, "row": 0, "col": 0, "value": "x"},
    ]
    out = _rpc_session([
        {"jsonrpc": "2.0", "id": 1, "method": "tools/call",
         "params": {"name": "edit_document",
                    "arguments": {"html": html, "ops": ops}}},
    ])
    res = json.loads(out[0]["result"]["content"][0]["text"])
    assert res["op_status"] == ["applied", "applied", "skipped"]
    assert res["applied"] == 2 and res["skipped"] == 1
    assert "<td>9.5</td>" in res["html"]
    assert "<tr><td>c</td><td>3</td></tr>" in res["html"]
    # patched html round-trips through extract_html
    out2 = _rpc_session([
        {"jsonrpc": "2.0", "id": 2, "method": "tools/call",
         "params": {"name": "extract_html",
                    "arguments": {"html": res["html"]}}},
    ])
    ex = json.loads(out2[0]["result"]["content"][0]["text"])
    rows = ex["extraction"]["tables"][0]["rows"]
    assert rows[0]["c"]["1"] == 9.5
    assert rows[2]["c"] == {"0": "c", "1": 3}


def _load_server():
    """``jobs/mcp_server.py`` as a module, to call ``handle`` in-process."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "jobs", "mcp_server.py")
    spec = importlib.util.spec_from_file_location("mcp_server_in_process",
                                                  path)
    server = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(server)
    return server


def _tool_text(server, name, arguments):
    resp = server.handle({"jsonrpc": "2.0", "id": 7, "method": "tools/call",
                          "params": {"name": name, "arguments": arguments}})
    assert resp["result"]["isError"] is False, resp
    return resp["result"]["content"][0]["text"]


def test_extraction_replies_splice_the_record_json(tmp_path, monkeypatch):
    """For every fingerprint input, and a record whose extraction_json is
    empty, the extract_html and extract_file replies hold the record's
    extraction_json verbatim, and their ``extraction`` parses to it.
    The record is the one the tool got from ``golden.extract_document``,
    looked up at call time (the traced server rebinds that name)."""
    import os

    from exstruct_spark import golden
    from test_kernel_fingerprint import _slice

    server = _load_server()
    root = os.path.realpath(tmp_path)
    monkeypatch.setattr(server, "SERVED_ROOT", root)
    extract = golden.extract_document
    records = []

    def recording(*args, **kwargs):
        rec = extract(*args, **kwargs)
        if records and records[-1] == "blank":
            rec = dict(rec, extraction_json="")
        records.append(rec)
        return rec

    monkeypatch.setattr(golden, "extract_document", recording)
    cases = [(url, raw) for _, url, raw in _slice()]
    cases.append(("https://blank.example/", b"<p>blank record json</p>"))
    for k, (url, raw) in enumerate(cases):
        path = os.path.join(root, f"doc{k}.html")
        with open(path, "wb") as fh:
            fh.write(raw)
        for name, arguments, head in (
                ("extract_html",
                 {"url": url, "html": raw.decode("utf-8", "replace")}, []),
                ("extract_file", {"path": f"doc{k}.html"}, ["path"])):
            if k == len(cases) - 1:
                records.append("blank")
            text = _tool_text(server, name, arguments)
            rec = records.pop()
            records.clear()
            reply = json.loads(text)
            assert list(reply) == head + ["status", "main_text",
                                          "extraction", "truncated"]
            assert rec["extraction_json"] in text
            assert reply["extraction"] == json.loads(
                rec["extraction_json"] or "{}")
            assert reply["status"] == rec["status"]
            assert reply["main_text"] == rec["main_text"]
            assert reply["truncated"] is bool(rec["truncated"])
            if head:
                assert reply["path"] == path
    assert rec["extraction_json"] == "" and reply["extraction"] == {}
