"""In-memory span recorder and the kernel-layer wrappers.

A span is ``(trace_id, span_id, parent_id, name, start_ns, end_ns)``.
Spans are appended to a list while the run goes and written out once,
when it ends.  A span's self time is its duration minus the part of its
interval that its child spans cover.

Kernel layers are timed from outside the program: ``KERNEL_LAYERS`` maps
each name that ``exstruct_spark.kernels.extract`` imports from a layer
module to the layer it belongs to, and ``install_kernel_wrappers``
rebinds those names in that module's namespace to timing wrappers.  The
program's own source is untouched.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# name imported by kernels.extract -> layer label
KERNEL_LAYERS = {
    "decode_html_bytes": "dom.decode",
    "parse_html": "dom.parse",
    "extract_main_text": "boilerplate",
    "build_resolver": "css.resolver",
    "rules_from_sheets": "css.resolver",
    "from_ldjson_scripts": "structured",
    "from_microdata": "structured",
    "from_rdfa": "structured",
    "from_meta_tags": "structured",
    "from_link_alternates": "structured",
    "extract_table": "tables.extract",
    "detect_grid_candidates": "tables.grid_detect",
    "extract_charts": "charts",
    "extract_svg_shapes": "shapes.svg",
    "extract_nested_lists": "shapes.lists",
    "canonical_json": "serialize",
    "sha256_hex": "serialize",
}

DOC_SPAN = "kernel.doc"


class Tracer:
    """Records nested spans on one thread.  ``trace_id`` groups the spans
    of one document, call or pass."""

    def __init__(self):
        self.spans: list = []
        self._stack: list = []
        self._next_id = 1
        self.trace_id = None
        self.parse_roots: list = []

    def start(self, name: str) -> tuple:
        span_id = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(span_id)
        return (span_id, parent, name, time.perf_counter_ns())

    def end(self, token: tuple) -> None:
        end_ns = time.perf_counter_ns()
        span_id, parent, name, start_ns = token
        self._stack.pop()
        self.spans.append((self.trace_id, span_id, parent, name, start_ns, end_ns))

    @contextmanager
    def span(self, name: str, trace_id=None):
        if trace_id is not None:
            self.trace_id = trace_id
        token = self.start(name)
        try:
            yield
        finally:
            self.end(token)

    def wrap(self, fn, name: str, results: list = None):
        """``fn`` timed as a span named ``name``; when ``results`` is a
        list, each return value is appended to it."""
        start, end = self.start, self.end

        def wrapper(*args, **kwargs):
            token = start(name)
            try:
                out = fn(*args, **kwargs)
                if results is not None:
                    results.append(out)
                return out
            finally:
                end(token)

        wrapper.__wrapped__ = fn
        return wrapper

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"fields": ["trace_id", "span_id", "parent_id", "name",
                                  "start_ns", "end_ns"],
                       "spans": self.spans}, fh)


def self_times(spans: list) -> dict:
    """span_id -> self time in ns: duration minus the union of the
    child intervals, clipped to the parent."""
    children: dict = {}
    for s in spans:
        if s[2] is not None:
            children.setdefault(s[2], []).append((s[4], s[5]))
    out = {}
    for trace_id, span_id, parent, name, start, end in spans:
        covered = 0
        cursor = start
        for c0, c1 in sorted(children.get(span_id, ())):
            c0, c1 = max(c0, cursor), min(c1, end)
            if c1 > c0:
                covered += c1 - c0
                cursor = c1
        out[span_id] = (end - start) - covered
    return out


def layer_totals(spans: list) -> dict:
    """name -> {"count", "total_ns", "self_ns"} over ``spans``."""
    selfs = self_times(spans)
    out: dict = {}
    for s in spans:
        row = out.setdefault(s[3], {"count": 0, "total_ns": 0, "self_ns": 0})
        row["count"] += 1
        row["total_ns"] += s[5] - s[4]
        row["self_ns"] += selfs[s[1]]
    return out


def node_count(root) -> int:
    """Elements in a parsed ``dom.Node`` tree."""
    if getattr(root, "doc_nodes", None) is not None:
        return len(root.doc_nodes)
    n, stack = 0, [root]
    while stack:
        node = stack.pop()
        n += 1
        stack.extend(c for c in node.children if not isinstance(c, str))
    return n


def install_kernel_wrappers(tracer: Tracer, module) -> dict:
    """Rebind every ``KERNEL_LAYERS`` name in ``module`` (the
    ``kernels.extract`` module object) to a timing wrapper.  Parse
    results are kept on ``tracer.parse_roots`` so node counts can be
    taken after the document's span closes.  Returns the originals for
    ``remove_kernel_wrappers``."""
    originals = {}
    for attr, layer in KERNEL_LAYERS.items():
        fn = getattr(module, attr)
        originals[attr] = fn
        keep = tracer.parse_roots if attr == "parse_html" else None
        setattr(module, attr, tracer.wrap(fn, layer, keep))
    return originals


def remove_kernel_wrappers(module, originals: dict) -> None:
    for attr, fn in originals.items():
        setattr(module, attr, fn)
