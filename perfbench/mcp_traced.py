"""``jobs/mcp_server.py`` with server-side spans.

Usage: python perfbench/mcp_traced.py SPANS_OUT

Loads the server module from the checkout, rebinds ``handle``, the
``golden.extract_document`` name its ``extract_html`` tool calls, and
the kernel-layer names ``kernels.extract`` imports to timing wrappers,
then runs the server's own ``main()`` loop on stdio.  Each request's
spans carry its JSON-RPC id as trace id.  The spans are written to
SPANS_OUT once, when stdin closes.
"""

from __future__ import annotations

import importlib.util
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import exstruct_spark.golden as golden  # noqa: E402
import exstruct_spark.kernels.extract as kernel_extract  # noqa: E402
from tracing import DOC_SPAN, Tracer, install_kernel_wrappers  # noqa: E402


def main(spans_out: str) -> None:
    spec = importlib.util.spec_from_file_location(
        "mcp_server", os.path.join(ROOT, "jobs", "mcp_server.py"))
    server = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(server)

    tracer = Tracer()
    install_kernel_wrappers(tracer, kernel_extract)
    golden.extract_document = tracer.wrap(golden.extract_document, DOC_SPAN)
    handle = server.handle

    def traced_handle(msg):
        with tracer.span("mcp.handle", trace_id=msg.get("id")):
            return handle(msg)

    server.handle = traced_handle
    try:
        server.main()
    finally:
        tracer.write(spans_out)


if __name__ == "__main__":
    main(sys.argv[1])
