"""The ``tool_calls`` workload and the MCP layer measurement.

One closed-loop client: each ``tools/call extract_html`` request is sent
to a real ``python jobs/mcp_server.py`` subprocess over stdio only after
the previous reply has been read, with no think time.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

from exstruct_spark.kernels.extract import extract_document
from tracing import DOC_SPAN

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_CALLS = 1000


class McpServer:
    """A server subprocess speaking MCP on stdio.  With ``spans_out``
    it is the traced launcher, which writes its spans there on exit."""

    def __init__(self, root: str, spans_out: str = None):
        if spans_out is None:
            cmd = [sys.executable, os.path.join(root, "jobs", "mcp_server.py")]
        else:
            cmd = [sys.executable, os.path.join(HERE, "mcp_traced.py"), spans_out]
        self.proc = subprocess.Popen(
            cmd, cwd=root, stdin=subprocess.PIPE, stdout=subprocess.PIPE)
        self._in, self._out = self.proc.stdin, self.proc.stdout
        reply = self.call(json.dumps({
            "jsonrpc": "2.0", "id": 0, "method": "initialize",
            "params": {"protocolVersion": "2024-11-05", "capabilities": {},
                       "clientInfo": {"name": "perfbench", "version": "1"}},
        }).encode())
        if b'"protocolVersion"' not in reply:
            raise RuntimeError(f"MCP server failed to initialize: {reply[:200]!r}")
        self._in.write(b'{"jsonrpc": "2.0", "method": "notifications/initialized"}\n')
        self._in.flush()

    def call(self, line: bytes) -> bytes:
        self._in.write(line + b"\n")
        self._in.flush()
        reply = self._out.readline()
        if not reply:
            raise RuntimeError("MCP server closed its output")
        return reply

    def close(self) -> None:
        """Close stdin (the server's end-of-input) and wait for exit."""
        try:
            self._in.close()
        except BrokenPipeError:
            pass
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self._out.close()


def request_tails(pages: list) -> list:
    """Per page, the request line after its ``id`` member, so a call is
    one bytes concatenation."""
    tails = []
    for p in pages:
        body = json.dumps({
            "method": "tools/call",
            "params": {"name": "extract_html",
                       "arguments": {"url": p["url"],
                                     "html": p["html"].decode("utf-8")}},
        })
        tails.append(b", " + body[1:].encode())
    return tails


def call_loop(server: McpServer, tails: list, first_id: int, min_calls: int,
              seconds: float, tracer=None) -> list:
    """Closed loop for at least ``seconds`` and ``min_calls``; the call
    with id ``i`` sends page ``i % len(tails)``, so loops with
    consecutive ids cycle on through the pages where the last one
    stopped.  Returns ``(id, page_index, latency_ns, reply)`` per
    call.  With a tracer, each call is an ``mcp.call`` span whose trace
    id is the request id."""
    out = []
    n = len(tails)
    k = 0
    clock = time.perf_counter_ns
    deadline = clock() + int(seconds * 1e9)
    while k < min_calls or clock() < deadline:
        req_id = first_id + k
        line = b'{"jsonrpc": "2.0", "id": %d' % req_id + tails[req_id % n]
        if tracer is not None:
            with tracer.span("mcp.call", trace_id=req_id):
                t0 = clock()
                reply = server.call(line)
                dt = clock() - t0
        else:
            t0 = clock()
            reply = server.call(line)
            dt = clock() - t0
        out.append((req_id, req_id % n, dt, reply))
        k += 1
    return out


def expected_records(pages: list) -> list:
    """In-process ``extract_document`` record per page."""
    return [extract_document(p["url"], p["html"]) for p in pages]


def check_replies(calls: list, records: list, checker) -> None:
    """Each reply answers its own id with ``isError: false`` and an
    ``extraction`` equal to the in-process record for its page."""
    checker.attempt(len(calls))
    expected = [json.loads(r["extraction_json"]) for r in records]
    for req_id, idx, _, reply in calls:
        try:
            msg = json.loads(reply)
            result = msg["result"]
            ok = (msg["id"] == req_id and result["isError"] is False
                  and json.loads(result["content"][0]["text"])["extraction"]
                  == expected[idx])
        except (ValueError, KeyError, IndexError, TypeError):
            ok = False
        if not ok:
            checker.fail(f"tools/call id {req_id}: wrong or error reply")


def mcp_layer_metrics(calls: list, server_spans: list) -> dict:
    """``mcp.*`` per-layer metrics from client latencies and the traced
    server's spans (trace id = request id)."""
    handle = {}
    doc = {}
    for trace_id, _, _, name, t0, t1 in server_spans:
        if name == "mcp.handle":
            handle[trace_id] = t1 - t0
        elif name == DOC_SPAN:
            doc[trace_id] = doc.get(trace_id, 0) + (t1 - t0)
    server, encode, transport = [], [], []
    errors = 0
    for req_id, _, lat, reply in calls:
        if b'"isError": false' not in reply:
            errors += 1
        h = handle.get(req_id)
        if h is None:
            continue
        server.append(h)
        encode.append(h - doc.get(req_id, 0))
        transport.append(lat - h)
    med = lambda xs: statistics.median(xs) / 1e6 if xs else 0.0  # noqa: E731
    return {
        "mcp.server_ms_p50": med(server),
        "mcp.encode_ms_p50": med(encode),
        "mcp.transport_ms_p50": med(transport),
        "mcp.error_ratio": errors / len(calls) if calls else 0.0,
    }
