"""Per-layer metrics: what each one measures, what it should move, and
the in-process kernel replay that produces the kernel-layer numbers.

``PER_LAYER`` is the single source for ``BENCHMARK.json``'s ``per_layer``
list and for the design table in ``README.md``: for each layer metric,
the end-to-end metrics it should move, on which workload, and the
prediction for the other workloads.
"""

from __future__ import annotations

import time

import exstruct_spark.kernels.extract as kernel_extract

from tracing import (
    DOC_SPAN, Tracer, install_kernel_wrappers, layer_totals, node_count,
    remove_kernel_wrappers,
)

# (name, unit, better, moves, on, prediction elsewhere).  The job-rung
# metrics (sink, staging, resume, waves, skew, fallbacks) belong to the
# write path, which no kept workload measures end to end.
_WRITE_PATH = ("-", "-", "large_pages, tool_calls none")
PER_LAYER = [
    ("engine.scan_s", "s", "lower", "docs_per_s, peak_rss_mb", "large_pages",
     "tool_calls none"),
    ("engine.exchange_s", "s", "lower", "docs_per_s, peak_rss_mb",
     "large_pages", "tool_calls none"),
    ("engine.arrow_handoff_s", "s", "lower", "docs_per_s, peak_rss_mb",
     "large_pages", "tool_calls none"),
    ("engine.kernel_stage_s", "s", "lower", "docs_per_s", "large_pages",
     "tool_calls none"),
    ("engine.batch_wall_ms_p50", "ms", "lower", "docs_per_s", "large_pages",
     "tool_calls none"),
    ("engine.batches", "count", "lower", "docs_per_s, peak_rss_mb",
     "large_pages", "tool_calls none"),
    ("engine.sink_s", "s", "lower", *_WRITE_PATH),
    ("engine.stage_input_s", "s", "lower", *_WRITE_PATH),
    ("engine.resume_plan_s", "s", "lower", *_WRITE_PATH),
    ("engine.spark_jobs", "count", "lower", *_WRITE_PATH),
    ("engine.waves", "count", "lower", *_WRITE_PATH),
    ("engine.partition_skew", "ratio", "lower", *_WRITE_PATH),
    ("engine.fallback_ratio", "ratio", "lower", *_WRITE_PATH),
    ("kernel.ms_per_doc", "ms", "lower", "all throughput and latency", "all",
     "-"),
    ("kernel.self_ms_per_doc", "ms", "lower", "all throughput and latency",
     "all", "-"),
    ("dom.decode_ms_per_doc", "ms", "lower", "docs_per_s", "large_pages",
     "tool_calls smaller"),
    ("dom.parse_ms_per_doc", "ms", "lower", "docs_per_s", "large_pages",
     "tool_calls smaller"),
    ("dom.nodes_per_doc", "count", "lower", "docs_per_s", "large_pages",
     "tool_calls smaller"),
    ("dom.parse_ns_per_node", "ns", "lower", "docs_per_s", "large_pages",
     "tool_calls smaller"),
    ("boilerplate.ms_per_doc", "ms", "lower", "docs_per_s; p50_ms",
     "large_pages; tool_calls", "-"),
    ("css.resolver_ms_per_doc", "ms", "lower", "docs_per_s; p50_ms",
     "large_pages; tool_calls", "-"),
    ("structured.ms_per_doc", "ms", "lower", "docs_per_s; p50_ms",
     "large_pages; tool_calls", "-"),
    ("tables.extract_ms_per_doc", "ms", "lower", "p50_ms; docs_per_s",
     "tool_calls; large_pages", "-"),
    ("tables.grid_detect_ms_per_doc", "ms", "lower", "p50_ms; docs_per_s",
     "tool_calls; large_pages", "-"),
    ("tables.per_doc", "count", "higher", "p50_ms; docs_per_s",
     "tool_calls; large_pages", "-"),
    ("charts.ms_per_doc", "ms", "lower", "p50_ms", "tool_calls",
     "large_pages smaller"),
    ("shapes.svg_ms_per_doc", "ms", "lower", "p50_ms", "tool_calls",
     "large_pages smaller"),
    ("shapes.lists_ms_per_doc", "ms", "lower", "p50_ms", "tool_calls",
     "large_pages smaller"),
    ("serialize.ms_per_doc", "ms", "lower", "p50_ms", "tool_calls",
     "large_pages small"),
    ("serialize.json_kb_per_doc", "KB", "lower", "p50_ms", "tool_calls",
     "large_pages small"),
    ("mcp.server_ms_p50", "ms", "lower", "p50_ms, p99_ms", "tool_calls",
     "large_pages none"),
    ("mcp.encode_ms_p50", "ms", "lower", "p50_ms, p99_ms", "tool_calls",
     "large_pages none"),
    ("mcp.transport_ms_p50", "ms", "lower", "p50_ms, p99_ms", "tool_calls",
     "large_pages none"),
    ("mcp.error_ratio", "ratio", "lower", "p50_ms, p99_ms", "tool_calls",
     "large_pages none"),
    ("bench.tracing_overhead_pct", "%", "lower", "-", "all", "-"),
    ("bench.unattributed_pct", "%", "lower", "-", "all", "-"),
]

UNITS = {row[0]: row[1] for row in PER_LAYER}

# kernel layer label -> per-doc metric name
_KERNEL_MS = {
    "dom.decode": "dom.decode_ms_per_doc",
    "dom.parse": "dom.parse_ms_per_doc",
    "boilerplate": "boilerplate.ms_per_doc",
    "css.resolver": "css.resolver_ms_per_doc",
    "structured": "structured.ms_per_doc",
    "tables.extract": "tables.extract_ms_per_doc",
    "tables.grid_detect": "tables.grid_detect_ms_per_doc",
    "charts": "charts.ms_per_doc",
    "shapes.svg": "shapes.svg_ms_per_doc",
    "shapes.lists": "shapes.lists_ms_per_doc",
    "serialize": "serialize.ms_per_doc",
}


def kernel_replay(rows: list, rounds: int = 3) -> tuple:
    """Replay ``rows`` (dicts with url and html) in-process through
    ``kernels.extract.extract_document``: each document once plain and
    once with the kernel-layer names wrapped, back to back, for
    ``rounds`` rounds.  Returns ``(metrics, spans, overhead_pct)``:
    per-doc layer times from the wrapped calls, and the wrapped-over-plain
    gap of their summed wall times."""
    extract = kernel_extract.extract_document
    clock = time.perf_counter_ns
    for r in rows:  # warm caches and lazy imports
        extract(r["url"], r["html"])
    tracer = Tracer()
    plain_ns = traced_ns = 0
    nodes = json_bytes = n_tables = 0
    for k in range(rounds):
        for i, r in enumerate(rows):
            t0 = clock()
            extract(r["url"], r["html"])
            plain_ns += clock() - t0
            originals = install_kernel_wrappers(tracer, kernel_extract)
            try:
                t0 = clock()
                with tracer.span(DOC_SPAN, trace_id=(k, i)):
                    rec = extract(r["url"], r["html"])
                traced_ns += clock() - t0
            finally:
                remove_kernel_wrappers(kernel_extract, originals)
            json_bytes += len(rec["extraction_json"].encode())
            n_tables += rec["n_tables"]
            nodes += sum(node_count(root) for root in tracer.parse_roots)
            tracer.parse_roots.clear()

    docs = len(rows) * rounds
    totals = layer_totals(tracer.spans)
    ms = lambda layer: totals.get(layer, {}).get("self_ns", 0) / 1e6 / docs  # noqa: E731
    parse_ns = totals.get("dom.parse", {}).get("total_ns", 0)
    metrics = {name: ms(layer) for layer, name in _KERNEL_MS.items()}
    metrics.update({
        "kernel.ms_per_doc": totals[DOC_SPAN]["total_ns"] / 1e6 / docs,
        "kernel.self_ms_per_doc": ms(DOC_SPAN),
        "dom.nodes_per_doc": nodes / docs,
        "dom.parse_ns_per_node": parse_ns / nodes if nodes else 0.0,
        "tables.per_doc": n_tables / docs,
        "serialize.json_kb_per_doc": json_bytes / 1024 / docs,
    })
    return metrics, tracer.spans, 100.0 * (traced_ns / plain_ns - 1)


def markdown_table() -> str:
    """``PER_LAYER`` as the design table ``README.md`` carries."""
    lines = ["| layer metric | unit | should move | on | prediction elsewhere |",
             "|---|---|---|---|---|"]
    for name, unit, _, moves, on, elsewhere in PER_LAYER:
        lines.append(f"| `{name}` | {unit} | {moves} | {on} | {elsewhere} |")
    return "\n".join(lines)
