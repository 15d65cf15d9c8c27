"""Correctness gate: counts failed operations against attempted ones.

An operation is one document extracted (Spark workloads) or one tool
call (``tool_calls``).  Every check that finds an operation wrong adds
to ``failed``; the run is correct only when ``failed`` is zero.  The
output digest is informational: an intended semantics change shows up
as a new digest, not as a failure.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import pandas as pd

from exstruct_spark.golden import extract_pdf


class Checker:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list = []

    def attempt(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        if len(self.problems) < 20:
            self.problems.append(what)

    def urls_once(self, expected, got, what: str) -> None:
        """Each expected url exactly once in ``got`` and nothing else:
        a missing, repeated or unexpected url is one failed operation."""
        counts = Counter(got)
        expected = set(expected)
        bad = sum(1 for u in expected if counts.get(u, 0) != 1)
        bad += sum(1 for u in counts if u not in expected)
        if bad:
            self.fail(f"{what}: {bad} urls missing, repeated or unexpected", bad)

    def rows_match(self, got: dict, expected: dict, what: str) -> None:
        """``got`` and ``expected`` map url -> comparable value; each
        expected url whose value differs or is missing is one failure."""
        bad = [u for u, v in expected.items() if got.get(u) != v]
        if bad:
            self.fail(f"{what}: {len(bad)} mismatched, first {bad[0]}", len(bad))

    @property
    def correct(self) -> bool:
        return self.failed == 0 and self.attempted > 0


def golden_hashes(rows: list) -> dict:
    """url -> (text_sha256, json_sha256) from the in-process reference
    extractor over ``rows`` (dicts with url and html)."""
    pdf = pd.DataFrame({"url": [r["url"] for r in rows],
                        "html": [r["html"] for r in rows]})
    out = extract_pdf(pdf)
    return {u: (t, j) for u, t, j in zip(out["url"], out["text_sha256"],
                                         out["json_sha256"])}


def digest(triples) -> str:
    """sha256 over sorted (url, text_sha256, json_sha256) lines."""
    h = hashlib.sha256()
    for url, text_sha, json_sha in sorted(triples):
        h.update(f"{url}\t{text_sha}\t{json_sha}\n".encode())
    return h.hexdigest()
