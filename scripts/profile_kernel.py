#!/usr/bin/env python
"""cProfile the fused extraction kernel on a generated corpus (no Spark).

Usage: python scripts/profile_kernel.py [N_DOCS] [--time-only]
           [--corpus build|large|rich] [--seed N]
           [--batch N [--without-gc-policy]]

Runs ``extract_document`` single-threaded over a deterministic corpus,
printing either a cumulative-time profile or a plain wall-time
measurement (for pinned A/B runs).  ``--corpus build`` (the default) is
the bench corpus, ``pages.build_page``; ``large`` and ``rich`` are the
benchmark's own pages, ``perfbench/inputs.py``'s ``large_pages`` (~55 KB
Common-Crawl-sized pages) and ``rich_pages`` (the tool-call mix).
``--seed`` picks the corpus (default 42 for ``build``, 1 otherwise).

``--batch N`` runs the way a Spark worker does: the engine's batch
function, ``engine.extract_batches``, over N-doc pandas frames, with a
full ``gc.collect()`` after each batch as PySpark's daemon runs after
each task.  The first batch is the warm-up; then the best of 3 passes
prints ms/doc and the cyclic collector's ms/doc per generation (timed
through ``gc.callbacks``).  ``--without-gc-policy`` runs the same batch
function with its heap freeze and its pause stubbed out: the before side
of an A/B.  Guide §1: measure first, isolate
the computation.
"""
from __future__ import annotations

import argparse
import cProfile
import gc
import io
import os
import pstats
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from exstruct_spark.kernels.extract import extract_document  # noqa: E402
from exstruct_spark.pages import build_page  # noqa: E402


def corpus(n: int, kind: str = "build", seed: int = None) -> list:
    if kind == "build":
        return [build_page(i, 42 if seed is None else seed)
                for i in range(n)]
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    try:
        from inputs import large_pages, rich_pages
    finally:
        sys.path.pop(0)
    pages = large_pages if kind == "large" else rich_pages
    return pages(1 if seed is None else seed, n)


def run(docs: list) -> int:
    acc = 0
    for d in docs:
        r = extract_document(d["url"], d["html"])
        acc += len(r["main_text"])
    return acc


def batch_frames(docs: list, size: int) -> list:
    import pandas as pd

    return [pd.DataFrame(docs[i:i + size], columns=["url", "html"])
            for i in range(0, len(docs), size)]


def gc_clock() -> dict:
    """Install a ``gc.callbacks`` timer; returns its running totals,
    ``{generation: [collections, seconds]}``."""
    totals = {g: [0, 0.0] for g in range(3)}
    started = []

    def timer(phase, info):
        if phase == "start":
            started.append(time.perf_counter())
        elif started:
            row = totals[info["generation"]]
            row[0] += 1
            row[1] += time.perf_counter() - started.pop()

    gc.callbacks.append(timer)
    return totals


def run_batches(frames: list) -> None:
    from exstruct_spark.engine import extract_batches

    for pdf in frames:
        list(extract_batches(iter([pdf])))
        gc.collect()


def drop_gc_policy() -> None:
    """Stub out ``extract_batches``' heap freeze and per-batch pause, so
    the batch body, lineage columns included, runs with the collector
    as PySpark leaves it."""
    from contextlib import nullcontext

    from exstruct_spark import engine

    engine.freeze_worker_heap = lambda: None
    engine.gc_paused = nullcontext


def batch_mode(docs: list, args) -> None:
    frames = batch_frames(docs, args.batch)
    policy = not args.without_gc_policy
    if not policy:
        drop_gc_policy()
    # warm-up on the first batch; with the policy this call freezes the
    # heap before its batch, as a worker's first task does
    run_batches(frames[:1])
    totals = gc_clock()
    best = None
    for _ in range(3):
        before = {g: list(row) for g, row in totals.items()}
        t0 = time.perf_counter()
        run_batches(frames)
        dt = time.perf_counter() - t0
        spent = {g: (totals[g][0] - before[g][0], totals[g][1] - before[g][1])
                 for g in totals}
        if best is None or dt < best[0]:
            best = (dt, spent)
    dt, spent = best
    n = len(docs)
    per_gen = " ".join(
        f"gen{g}={spent[g][1] * 1e3 / n:.3f}ms/doc({spent[g][0]})"
        for g in spent)
    gc_ms = sum(s for _, s in spent.values()) * 1e3 / n
    print(f"corpus={args.corpus} docs={n} batch={args.batch} "
          f"gc_policy={'on' if policy else 'off'} "
          f"freeze_count={gc.get_freeze_count()}")
    print(f"ms_per_doc={dt * 1e3 / n:.3f} gc_ms_per_doc={gc_ms:.3f} "
          f"{per_gen}")


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("n_docs", nargs="?", type=int, default=2000)
    ap.add_argument("--time-only", action="store_true",
                    help="print the best of 3 wall times, no profile")
    ap.add_argument("--corpus", choices=("build", "large", "rich"),
                    default="build")
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--batch", type=int, default=None, metavar="N",
                    help="time the engine's batch function on N-doc frames")
    ap.add_argument("--without-gc-policy", action="store_true",
                    help="with --batch: the same batch function with no "
                         "heap freeze and no pause")
    args = ap.parse_args(argv)
    n = args.n_docs
    docs = corpus(n, args.corpus, args.seed)
    if args.batch:
        batch_mode(docs, args)
        return
    # warm-up (regex compile, imports)
    run(docs[:50])
    if args.time_only:
        best = None
        for _ in range(3):
            t0 = time.monotonic()
            run(docs)
            dt = time.monotonic() - t0
            best = dt if best is None or dt < best else best
        print(f"corpus={args.corpus} docs={n} best_wall={best:.3f}s "
              f"docs_per_sec_1thread={n / best:.1f}")
        return
    pr = cProfile.Profile()
    t0 = time.monotonic()
    pr.enable()
    run(docs)
    pr.disable()
    dt = time.monotonic() - t0
    s = io.StringIO()
    ps = pstats.Stats(pr, stream=s).sort_stats("cumulative")
    ps.print_stats(45)
    print(s.getvalue())
    print(f"corpus={args.corpus} docs={n} wall={dt:.3f}s "
          f"docs_per_sec_1thread={n / dt:.1f}")


if __name__ == "__main__":
    main()
