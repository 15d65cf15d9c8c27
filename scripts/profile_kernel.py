#!/usr/bin/env python
"""cProfile the fused extraction kernel on a generated corpus (no Spark).

Usage: python scripts/profile_kernel.py [N_DOCS] [--time-only]
           [--corpus build|large|rich] [--seed N]

Runs ``extract_document`` single-threaded over a deterministic corpus,
printing either a cumulative-time profile or a plain wall-time
measurement (for pinned A/B runs).  ``--corpus build`` (the default) is
the bench corpus, ``pages.build_page``; ``large`` and ``rich`` are the
benchmark's own pages, ``perfbench/inputs.py``'s ``large_pages`` (~55 KB
Common-Crawl-sized pages) and ``rich_pages`` (the tool-call mix).
``--seed`` picks the corpus (default 42 for ``build``, 1 otherwise).
Guide §1: measure first, isolate the computation.
"""
from __future__ import annotations

import argparse
import cProfile
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


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("n_docs", nargs="?", type=int, default=2000)
    ap.add_argument("--time-only", action="store_true",
                    help="print the best of 3 wall times, no profile")
    ap.add_argument("--corpus", choices=("build", "large", "rich"),
                    default="build")
    ap.add_argument("--seed", type=int, default=None)
    args = ap.parse_args(argv)
    n = args.n_docs
    docs = corpus(n, args.corpus, args.seed)
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
