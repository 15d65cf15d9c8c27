"""Seeded benchmark inputs.

Every workload's documents are a pure function of ``--seed``: the program
under test only ever sees the parquet files (``large_pages`` and the
traced stage ladder) or the request lines (``tool_calls``) built here.  Nothing is cached between
runs; each run regenerates into a fresh directory so set-up time does the
same work every time.
"""

from __future__ import annotations

import datetime as _dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from exstruct_spark.pages import build_page, build_rich_page

# Arrow schema of the pages table handed to the program: the crawl-record
# shape (url, fetch time, raw bytes) the engine reads.
PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
])

_JS_WORDS = ("track", "render", "config", "layout", "widget", "consent",
             "session", "metrics", "banner", "loader", "queue", "state")


def _rng(seed: int, salt: int) -> random.Random:
    return random.Random(seed * 1_000_003 + salt)


def rich_pages(seed: int, n: int) -> list:
    """``pages.build_rich_page`` documents: charts, ARIA/styled grids,
    feeds — the interactive tool-call mix."""
    return [_page_row(build_rich_page(i, seed)) for i in range(n)]


def _page_row(page: dict) -> dict:
    return {"url": page["url"], "warc_ts": page["warc_ts"], "html": page["html"]}


def _body_fragment(html: bytes) -> bytes:
    """The ``<body>`` content of a generated page: nav, main, footer."""
    start = html.find(b"<body>")
    end = html.rfind(b"</body>")
    if start < 0 or end < 0:
        return html
    return html[start + len(b"<body>"):end]


def _style_block(rng: random.Random) -> str:
    rules = []
    for i in range(rng.randint(40, 90)):
        rules.append(
            f".c{rng.randint(0, 999)}-{i} {{ margin: {rng.randint(0, 24)}px; "
            f"color: #{rng.randint(0, 0xFFFFFF):06x}; "
            f"font-size: {rng.randint(10, 22)}px }}"
        )
    return "<style>" + "\n".join(rules) + "</style>"


def _script_block(rng: random.Random) -> str:
    lines = []
    for i in range(rng.randint(60, 160)):
        a, b = rng.choice(_JS_WORDS), rng.choice(_JS_WORDS)
        lines.append(
            f"window.{a}_{i} = function(x) {{ if (x < {rng.randint(1, 99)}) "
            f"{{ return '{b}' + x; }} return {a}_{i}(x - 1); }};"
        )
    return "<script>" + "\n".join(lines) + "</script>"


def large_page(seed: int, doc_id: int) -> dict:
    """One Common-Crawl-sized page (~55 KB mean): ``build_page``
    fragments composed under one document, plus inline ``<style>`` and
    ``<script>`` boilerplate in head and body."""
    rng = _rng(seed, 7_919 * doc_id + 1)
    n_frag = rng.randint(10, 34)
    base = (seed * 131 + doc_id * 4_099) % 1_000_000
    sections = [
        b"<section>" + _body_fragment(build_page(base + k, seed)["html"])
        + b"</section>"
        for k in range(n_frag)
    ]
    head = (
        f"<!DOCTYPE html><html><head><meta charset='utf-8'>"
        f"<title>composed page {doc_id}</title>"
        f"{_style_block(rng)}{_script_block(rng)}</head><body>"
        "<nav><a href='/'>home</a> <a href='/about'>about</a></nav><main>"
    ).encode()
    tail = f"</main><footer>{_script_block(rng)}</footer></body></html>".encode()
    url = f"https://large{doc_id % 7}.example.org/page/{seed}/{doc_id}"
    ts = _dt.datetime(2024, 3, 1) + _dt.timedelta(seconds=doc_id * 97)
    return {"url": url, "warc_ts": ts, "html": head + b"".join(sections) + tail}


def large_pages(seed: int, n: int) -> list:
    return [large_page(seed, i) for i in range(n)]


def write_parquet(rows: list, out_dir: str, files: int) -> str:
    """Write ``rows`` as ``files`` parquet files under ``out_dir``, in
    row order, so a scan has one split per file."""
    os.makedirs(out_dir)
    per = -(-len(rows) // files)
    for k in range(files):
        chunk = rows[k * per:(k + 1) * per]
        table = pa.Table.from_pylist(chunk, schema=PAGES_SCHEMA)
        pq.write_table(table, os.path.join(out_dir, f"part-{k:03d}.parquet"))
    return out_dir


def sample_indices(seed: int, n: int, k: int) -> list:
    """A seeded sample of ``k`` of ``range(n)``, in ascending order."""
    return sorted(_rng(seed, 17).sample(range(n), min(k, n)))
