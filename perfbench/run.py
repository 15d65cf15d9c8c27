#!/usr/bin/env python3
"""Benchmark of the extraction engine: two workloads, each doing most of
its work in a different layer.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload {large_pages,tool_calls} \\
        --seed N --seconds S --trace {0,1}

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` is the separate traced run that reports the per-layer
metrics (``layers.PER_LAYER``).  Inputs are generated from ``--seed``
into a fresh directory under ``.perfbench_work/`` in the checkout, which
is removed at the end; a traced run keeps its spans in
``.perfbench_traces/``.  The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; the line
before it carries informational fields (sample counts, output digest,
host control gauge).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)  # the program under test: exstruct_spark, jobs/

# these import the program; outside a checkout the run stops here, with
# no result line
import checks  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
import mcp_wl  # noqa: E402
import proctree  # noqa: E402
import spark_wl  # noqa: E402
from tracing import Tracer  # noqa: E402

WORKLOADS = ("large_pages", "tool_calls")
LARGE_DOCS = 320
LARGE_PARTITIONS = 8
LARGE_SAMPLE = 12        # golden-checked documents
LARGE_REPLAY = 24        # documents replayed for the kernel and MCP layers
RICH_DOCS = 270          # ten of each rich archetype
MIN_PASSES = 3
SETUP_REPEATS = 3
LADDER_REPS = 2
BLOCK_S = 0.5            # length of one tool_calls block
SETTLE_CALLS = 2         # untimed calls before each block
MEASURED_IDS = 1_000_000  # JSON-RPC ids of measured calls; warm-up ids are below
E2E_UNITS = {"setup_s": "s", "docs_per_s": "1/s", "p50_ms": "ms",
             "p99_ms": "ms", "peak_rss_mb": "MB"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return ap.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every scratch file of this run and its children inside
    ``work``: Python temp files, Spark local dirs, JVM temp dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, [
        os.environ.get("SPARK_SUBMIT_OPTS"),
        f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]))
    # Python workers import the package under test from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")]))


def p50_p99(values: list) -> tuple:
    q = statistics.quantiles(values, n=100, method="inclusive")
    return q[49], q[98]


def run_large_pages(args, work: str, checker, tracer) -> tuple:
    t0 = time.perf_counter()
    spark = spark_wl.start_session()
    try:
        rows = inputs.large_pages(args.seed, LARGE_DOCS)
        path = inputs.write_parquet(rows, os.path.join(work, "input"), 4)
        large = spark_wl.LargePages(spark, path, LARGE_PARTITIONS)
        # the warm-up pass is the checked one: the full extract_stage plan
        # with a collect of the hash columns in place of the noop sink
        hashes = spark_wl.collect_hashes(large.extracted())
        setup_s = time.perf_counter() - t0
        checker.attempt(len(rows))
        checker.urls_once([r["url"] for r in rows], [h[0] for h in hashes],
                          "large_pages checked pass")
        checker.rows_match({h[0]: (h[1], h[2]) for h in hashes},
                           checks.golden_hashes(_sample(rows, args.seed,
                                                        LARGE_SAMPLE)),
                           "large_pages vs golden")
        info = {"docs_per_pass": len(rows), "digest": checks.digest(hashes)}

        if tracer is None:
            times = spark_wl.timed_passes(large.run_pass, args.seconds,
                                          MIN_PASSES)
            checker.attempt(len(rows) * len(times))
            info.update({"passes": len(times),
                         "pass_s": [round(t, 4) for t in times]})
            return _pass_metrics(times, len(rows), setup_s), None, info
        per_layer, med = _spark_layers(
            spark, path, LARGE_PARTITIONS, work, tracer,
            _sample(rows, args.seed, LARGE_REPLAY), large.run_pass,
            lambda _: checker.attempt(len(rows)))
        per_layer["bench.unattributed_pct"] = _unattributed(
            med["workload.pass"], med["engine.kernel_stage"])
        return None, per_layer, info
    finally:
        spark_wl.stop_session(spark)


def _pass_metrics(times: list, docs: int, setup_s: float) -> dict:
    p50, p99 = p50_p99([t * 1000.0 for t in times])
    return {
        "setup_s": setup_s,
        "docs_per_s": statistics.median(docs / t for t in times),
        "p50_ms": p50,
        "p99_ms": p99,
    }


def _unattributed(e2e_s: float, attributed_s: float) -> float:
    return 100.0 * (e2e_s - attributed_s) / e2e_s


def _sample(rows: list, seed: int, k: int) -> list:
    return [rows[i] for i in inputs.sample_indices(seed, len(rows), k)]


def _spark_layers(spark, path, partitions, work, tracer, sample,
                  workload_pass, after_pass) -> tuple:
    """Per-layer metrics of a Spark workload: the stage ladder with the
    workload's own pass as its last rung, then the in-process kernel
    replay and an MCP replay of ``sample``.  Returns ``(metrics, median
    rung times)``."""
    out, med = spark_wl.stage_ladder(spark, path, partitions, work, tracer,
                                     LADDER_REPS, workload_pass, after_pass)
    kernel, spans, overhead = layers.kernel_replay(sample)
    tracer.spans.extend(spans)
    out.update(kernel)
    out["bench.tracing_overhead_pct"] = overhead
    out.update(_mcp_replay(sample, work, tracer))
    return out, med


def _mcp_replay(pages: list, work: str, tracer) -> dict:
    """``mcp.*`` metrics: ``pages`` sent once each through the traced
    server, after one untimed round."""
    spans_out = os.path.join(work, "mcp-replay-spans.json")
    tails = mcp_wl.request_tails(pages)
    server = mcp_wl.McpServer(ROOT, spans_out)
    try:
        mcp_wl.call_loop(server, tails, 1, len(tails), 0)
        calls = mcp_wl.call_loop(server, tails, MEASURED_IDS, len(tails), 0,
                                 tracer)
    finally:
        server.close()
    with open(spans_out) as fh:
        server_spans = json.load(fh)["spans"]
    tracer.spans.extend(server_spans)
    return mcp_wl.mcp_layer_metrics(calls, server_spans)


def run_tool_calls(args, work: str, checker, tracer) -> tuple:
    # client and servers share one CPU, so neither of a call's two
    # wake-ups waits on a second vCPU the hypervisor has descheduled:
    # unpinned, the p99 of 3-s blocks spread 107 % (IQR/median) on a
    # 4-vCPU host with steal, pinned 9 %.  Servers inherit the affinity.
    # Each set-up and each measured block runs on the next CPU in turn
    # (see _call_blocks).
    cpus = os.sched_getaffinity(0)
    setups = []
    server = traced = None
    try:
        for k in range(SETUP_REPEATS):
            if server is not None:
                server.close()
            os.sched_setaffinity(0, {sorted(cpus)[k % len(cpus)]})
            t0 = time.perf_counter()
            server = mcp_wl.McpServer(ROOT)
            pages = inputs.rich_pages(args.seed, RICH_DOCS)
            req_path = os.path.join(work, f"requests{k}.jsonl")
            with open(req_path, "wb") as fh:
                fh.writelines(t + b"\n" for t in mcp_wl.request_tails(pages))
            with open(req_path, "rb") as fh:
                tails = [line.rstrip(b"\n") for line in fh]
            warm = mcp_wl.call_loop(server, tails, 1, len(tails), 0)
            setups.append(time.perf_counter() - t0)
        records = mcp_wl.expected_records(pages)
        mcp_wl.check_replies(warm, records, checker)
        if tracer is not None:
            spans_out = os.path.join(work, "mcp-spans.json")
            traced = mcp_wl.McpServer(ROOT, spans_out)
            mcp_wl.call_loop(traced, tails, 1, len(tails), 0)
        blocks, plain_blocks = _call_blocks(
            server, tails, args.seconds, sorted(cpus),
            lambda calls: mcp_wl.check_replies(calls, records, checker),
            tracer, traced)
    finally:
        for srv in (server, traced):
            if srv is not None:
                srv.close()
        os.sched_setaffinity(0, cpus)
    calls = [c for _, b in blocks for c in b]
    rates = [len(b) / s for s, b in blocks]
    if tracer is None:
        blocks = fastest_blocks(blocks)
    measured = [c for _, b in blocks for c in b]
    info = {"calls": len(calls), "calls_measured": len(measured),
            "samples_beyond_p99": len(measured) // 100,
            "blocks_measured": len(blocks),
            "block_calls_per_s": [round(r, 1) for r in rates],
            "digest": checks.digest((r["url"], r["text_sha256"], r["json_sha256"])
                                    for r in records)}
    lat = [c[2] for c in measured]
    if tracer is None:
        p50, p99 = p50_p99([ns / 1e6 for ns in lat])
        e2e = {"setup_s": statistics.median(setups),
               "docs_per_s": len(measured) / sum(s for s, _ in blocks),
               "p50_ms": p50, "p99_ms": p99}
        return e2e, None, info

    with open(spans_out) as fh:
        server_spans = json.load(fh)["spans"]
    tracer.spans.extend(server_spans)
    per_layer = mcp_wl.mcp_layer_metrics(calls, server_spans)
    plain = [c[2] for _, b in plain_blocks for c in b]
    per_layer["bench.tracing_overhead_pct"] = 100.0 * (
        statistics.median(lat) / statistics.median(plain) - 1)
    per_layer["bench.unattributed_pct"] = _unattributed(
        sum(s for s, _ in blocks), sum(lat) / 1e9)
    kernel, spans, _ = layers.kernel_replay(pages)
    tracer.spans.extend(spans)
    per_layer.update(kernel)
    per_layer.update(_tool_calls_engine(pages, work, tracer))
    return None, per_layer, info


def _call_blocks(plain, tails, seconds, cpus, check, tracer=None,
                 traced=None) -> tuple:
    """Closed-loop calls in ``BLOCK_S`` blocks until ``seconds`` of calls
    and at least ``mcp_wl.MIN_CALLS`` measured calls ran.  Without a
    ``traced`` server every block goes to ``plain``.  With one, blocks
    alternate: measured (traced) blocks on ``traced``, and after each a
    block on ``plain`` for the tracing-overhead comparison.  Returns
    ``(measured blocks, plain comparison blocks)``, each block
    ``(seconds, calls)``.  Each block's calls are handed to ``check``
    as it ends; the untraced run then drops their replies, so the
    client's memory does not grow with the number of calls made.  The
    first call after a move to another CPU, or after that pause, runs
    cold (1.5 ms against a 0.9-ms median): ``SETTLE_CALLS`` untimed,
    checked calls precede each block.

    Each measured block runs client and servers on the next CPU of
    ``cpus`` in turn, so that ``fastest_blocks`` draws from every vCPU:
    a shared host slows each vCPU on its own as other tenants load its
    core, and one vCPU can stay slow for a whole run."""
    blocks, plain_blocks = [], []
    server = plain if traced is None else traced
    pids = [0] + [s.proc.pid for s in (plain, traced) if s is not None]
    next_id = MEASURED_IDS

    def block(srv, block_tracer=None) -> tuple:
        nonlocal next_id
        settle = mcp_wl.call_loop(srv, tails, next_id, SETTLE_CALLS, 0)
        next_id += len(settle)
        t0 = time.perf_counter()
        calls = mcp_wl.call_loop(srv, tails, next_id, 1, BLOCK_S,
                                 block_tracer)
        took = time.perf_counter() - t0
        next_id += len(calls)
        check(settle + calls)
        if block_tracer is None:
            calls = [c[:3] + (None,) for c in calls]
        return took, calls

    while (sum(len(b) for _, b in blocks) < mcp_wl.MIN_CALLS
           or sum(s for s, _ in blocks + plain_blocks) < seconds):
        for pid in pids:
            os.sched_setaffinity(pid, {cpus[len(blocks) % len(cpus)]})
        blocks.append(block(server, tracer))
        if traced is not None:
            plain_blocks.append(block(plain))
    return blocks, plain_blocks


def fastest_blocks(blocks: list) -> list:
    """The eighth of ``blocks`` with the most calls per second, widened
    until it holds ``mcp_wl.MIN_CALLS`` calls; the end-to-end metrics of
    ``tool_calls`` are taken over these.

    Other tenants of a shared host only ever slow a block down: one
    vCPU's speed moves between levels up to 1.7x apart, for seconds to
    tens of seconds at a time.  A run's mean or median follows the share
    of time spent at each level, which drifts from one hour to the next;
    its fastest blocks, drawn from every vCPU in turn, stay nearer the
    undisturbed speed.  In alternating trials on a shared 4-vCPU host,
    calls/s over the fastest eighth of half-second blocks spread 8 %
    (IQR/median) across runs, over the fastest quarter of one-second
    blocks 15 %."""
    ranked = sorted(blocks, key=lambda blk: len(blk[1]) / blk[0],
                    reverse=True)
    k = max(1, len(ranked) // 8)
    while k < len(ranked) and sum(len(b) for _, b in ranked[:k]) < mcp_wl.MIN_CALLS:
        k += 1
    return ranked[:k]


def _tool_calls_engine(pages, work, tracer) -> dict:
    """The engine ladder over the tool-call pages, so every workload
    reports every layer."""
    path = inputs.write_parquet(pages, os.path.join(work, "ladder-input"), 2)
    spark = spark_wl.start_session()
    try:
        # one discarded repetition first: this JVM is fresh, and its first
        # rungs would run cold
        spark_wl.stage_ladder(spark, path, 2 * spark_wl.CORES, work,
                              Tracer(), 1)
        out, _ = spark_wl.stage_ladder(spark, path, 2 * spark_wl.CORES, work,
                                       tracer, LADDER_REPS)
    finally:
        spark_wl.stop_session(spark)
    return out


RUNNERS = {"large_pages": run_large_pages, "tool_calls": run_tool_calls}


def main(argv=None) -> int:
    args = parse_args(argv)
    control_ms = proctree.host_control_ms()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    isolate(work)
    sampler = proctree.TreeRssSampler().start()
    checker = checks.Checker()
    tracer = Tracer() if args.trace else None
    try:
        e2e, per_layer, info = RUNNERS[args.workload](args, work, checker, tracer)
        sampler.sample()
    finally:
        sampler.stop()
        leftovers = proctree.wait_gone(sampler.seen)
        shutil.rmtree(work, ignore_errors=True)

    if tracer is not None:
        trace_dir = os.path.join(ROOT, ".perfbench_traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(
            trace_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.json"))
        metrics = {name: {"value": float(per_layer[name]), "unit": unit}
                   for name, unit in layers.UNITS.items()}
    else:
        e2e["peak_rss_mb"] = sampler.peak_mb
        metrics = {name: {"value": float(e2e[name]), "unit": unit}
                   for name, unit in E2E_UNITS.items()}
    info.update({"workload": args.workload, "seed": args.seed,
                 "host_control_ms": control_ms,
                 "rss_samples": sampler.samples,
                 "peak_rss_mb_by_process": {
                     k: round(v, 1) for k, v in sampler.peak_detail.items()},
                 "killed_at_teardown": leftovers,
                 "problems": checker.problems})
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": checker.correct,
                      "attempted": checker.attempted,
                      "failed": checker.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
