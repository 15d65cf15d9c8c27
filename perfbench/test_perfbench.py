"""Self-tests for the benchmark's own code.

Run: python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402
import mcp_wl  # noqa: E402
import proctree  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

import exstruct_spark.kernels.extract as kernel_extract  # noqa: E402


def _write(make, seed, path):
    return inputs.write_parquet(make(seed), str(path), 2)


def _same_files(a, b) -> bool:
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False)
        for n in names)


def test_inputs_are_a_function_of_the_seed(tmp_path):
    makers = {
        "large": lambda s: inputs.large_pages(s, 3),
        "rich": lambda s: inputs.rich_pages(s, 30),
    }
    for name, make in makers.items():
        a = _write(make, 7, tmp_path / f"{name}-a")
        b = _write(make, 7, tmp_path / f"{name}-b")
        c = _write(make, 8, tmp_path / f"{name}-c")
        assert _same_files(a, b), name
        assert not _same_files(a, c), name
    assert mcp_wl.request_tails(inputs.rich_pages(7, 30)) == \
        mcp_wl.request_tails(inputs.rich_pages(7, 30))
    assert inputs.sample_indices(7, 100, 10) == inputs.sample_indices(7, 100, 10)
    assert inputs.sample_indices(7, 100, 10) != inputs.sample_indices(8, 100, 10)


def test_large_pages_are_common_crawl_sized():
    sizes = [len(p["html"]) for p in inputs.large_pages(3, 20)]
    assert 35_000 < sum(sizes) / len(sizes) < 80_000


def _span(span_id, parent, start, end, name="x"):
    return ("t", span_id, parent, name, start, end)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(1, None, 0, 100, "parent"),
        _span(2, 1, 10, 30, "a"),
        _span(3, 1, 20, 50, "a"),     # overlaps child 2
        _span(4, 1, 90, 120, "b"),    # runs past the parent's end
        _span(5, 2, 12, 18, "c"),     # grandchild: not the parent's child
    ]
    selfs = tracing.self_times(spans)
    assert selfs[1] == 100 - (40 + 10)
    assert selfs[2] == 20 - 6
    assert selfs[5] == 6
    totals = tracing.layer_totals(spans)
    assert totals["a"] == {"count": 2, "total_ns": 50, "self_ns": 14 + 30}


def test_tracer_nests_spans_and_keeps_results():
    tracer = tracing.Tracer()
    kept = []
    double = tracer.wrap(lambda x: 2 * x, "child", kept)
    with tracer.span("parent", trace_id=9):
        assert double(4) == 8
    child, parent = tracer.spans
    assert child[3] == "child" and parent[3] == "parent"
    assert child[2] == parent[1] and parent[2] is None
    assert child[0] == parent[0] == 9
    assert kept == [8]


def test_kernel_wrappers_restore_and_do_not_change_output():
    page = inputs.rich_pages(3, 5)[1]
    before = {attr: getattr(kernel_extract, attr) for attr in tracing.KERNEL_LAYERS}
    plain = kernel_extract.extract_document(page["url"], page["html"])
    tracer = tracing.Tracer()
    originals = tracing.install_kernel_wrappers(tracer, kernel_extract)
    try:
        traced = kernel_extract.extract_document(page["url"], page["html"])
    finally:
        tracing.remove_kernel_wrappers(kernel_extract, originals)
    assert traced == plain
    assert {s[3] for s in tracer.spans} >= {"dom.parse", "serialize"}
    assert len(tracer.parse_roots) >= 1
    assert all(getattr(kernel_extract, a) is f for a, f in before.items())


def test_kernel_replay_reports_every_kernel_metric():
    metrics, spans, overhead = layers.kernel_replay(inputs.rich_pages(3, 27), 1)
    kernel_names = {n for n in layers.UNITS
                    if n.split(".")[0] in {"kernel", "dom", "boilerplate", "css",
                                           "structured", "tables", "charts",
                                           "shapes", "serialize"}}
    assert set(metrics) == kernel_names
    assert metrics["kernel.ms_per_doc"] > metrics["kernel.self_ms_per_doc"] > 0
    assert metrics["dom.nodes_per_doc"] > 0
    parts = sum(v for n, v in metrics.items()
                if n.endswith("ms_per_doc") and n != "kernel.ms_per_doc")
    assert abs(parts - metrics["kernel.ms_per_doc"]) < 1e-6 * parts + 1e-9


def test_checker_counts_an_injected_mismatch():
    rows = inputs.rich_pages(5, 12)
    golden = checks.golden_hashes(rows)
    got = dict(golden)
    bad_url = rows[3]["url"]
    got[bad_url] = (got[bad_url][0], "0" * 64)
    checker = checks.Checker()
    checker.attempt(len(rows))
    checker.rows_match(golden, golden, "clean")
    assert checker.failed == 0 and checker.correct
    checker.rows_match(got, golden, "injected")
    assert checker.failed == 1 and not checker.correct


def test_checker_counts_missing_repeated_and_unexpected_urls():
    checker = checks.Checker()
    checker.attempt(4)
    checker.urls_once(["a", "b", "c", "d"], ["a", "b", "b", "d", "z"], "split")
    assert checker.failed == 3  # b repeated, c missing, z unexpected


def test_reply_check_counts_a_wrong_extraction():
    pages = inputs.rich_pages(4, 3)
    records = mcp_wl.expected_records(pages)
    expected = [json.loads(r["extraction_json"]) for r in records]

    def reply(req_id, extraction, is_error=False):
        text = json.dumps({"status": "ok", "main_text": "",
                           "extraction": extraction, "truncated": False})
        return json.dumps({"jsonrpc": "2.0", "id": req_id, "result": {
            "content": [{"type": "text", "text": text}],
            "isError": is_error}}).encode()

    calls = [(1, 0, 1000, reply(1, expected[0])),
             (2, 1, 1000, reply(2, expected[2])),          # wrong page
             (3, 2, 1000, reply(3, expected[2], True)),    # error reply
             (4, 0, 1000, reply(5, expected[0]))]          # wrong id
    checker = checks.Checker()
    mcp_wl.check_replies(calls, records, checker)
    assert (checker.attempted, checker.failed) == (4, 3)


def test_tree_rss_sees_child_processes():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    sampler = proctree.TreeRssSampler()
    try:
        sampler.sample()
        assert child.pid in sampler.seen
        assert sampler.peak_bytes > proctree._rss_bytes(os.getpid())
    finally:
        child.kill()
        child.wait()
    assert proctree.wait_gone(sampler.seen, timeout_s=5) == []


def test_wait_gone_kills_a_survivor():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    sampler = proctree.TreeRssSampler()
    sampler.sample()
    assert proctree.wait_gone(sampler.seen, timeout_s=0.2) == [child.pid]
    assert child.wait(timeout=10) == -9


def test_call_loops_cycle_on_through_the_pages():
    class Echo:
        def call(self, line):
            return line

    tails = [b', "p": 0}', b', "p": 1}', b', "p": 2}']
    first = mcp_wl.call_loop(Echo(), tails, 5, 2, 0)
    second = mcp_wl.call_loop(Echo(), tails, 7, 2, 0)
    assert [c[1] for c in first + second] == [2, 0, 1, 2]
    assert all(json.loads(c[3])["p"] == c[1] for c in first + second)


def test_fastest_blocks_take_the_fastest_eighth_with_enough_calls():
    n = mcp_wl.MIN_CALLS
    # (seconds, calls): rates n, 4n, 2n, 3n calls per second, four times
    blocks = [(1.0, [None] * (k * n)) for k in (1, 4, 2, 3)] * 4
    assert [len(b) for _, b in run.fastest_blocks(blocks)] == [4 * n, 4 * n]
    small = [(1.0, [None] * k) for k in range(1, 9)]
    chosen = run.fastest_blocks(small)
    assert [len(b) for _, b in chosen] == list(range(8, 0, -1))[:len(chosen)]
    assert len(chosen) == 8  # widened to every block: fewer than n calls


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == \
        [row[:3] for row in layers.PER_LAYER]
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    for m in bench["end_to_end"]:
        assert name.match(m["name"]) and 0 < m["bound"] <= 0.25
    for m in bench["per_layer"]:
        assert name.match(m["name"]) and m["better"] in ("higher", "lower")
    for w in bench["workloads"]:
        assert name.match(w["name"]) and len(w["why"]) <= 200
        assert "\n" not in w["why"]


def test_readme_carries_the_layer_table():
    with open(os.path.join(HERE, "README.md")) as fh:
        assert layers.markdown_table() in fh.read()


def test_run_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, a run exits non-zero
    and prints no result line."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(HERE, name), "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tool_calls",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
