"""Single-process reference extractor -> golden fixtures (SURVEY.md §7.2 M0).

Runs the SAME kernels as the Spark job, in plain pandas, defining the
golden truth the Spark output must match byte-for-byte (FIXTURES.md §2).
This mirrors how exstruct freezes documentation-grade goldens next to its
sample inputs (``sample/*/sample.json``, SURVEY.md §5).
"""

from __future__ import annotations

from itertools import repeat

import pandas as pd

from exstruct_spark.config import ExtractOptions
from exstruct_spark.kernels.extract import RECORD_FIELDS, extract_document

GOLDEN_COLUMNS = [name for name, _ in RECORD_FIELDS]

EXTRACT_SCHEMA_DDL = ", ".join(f"{name} {dtype}" for name, dtype in RECORD_FIELDS)


def extract_pdf(pdf: pd.DataFrame, opts: ExtractOptions = ExtractOptions()) -> pd.DataFrame:
    """pandas-in/pandas-out extraction batch kernel.

    This exact function body runs inside the Spark ``mapInPandas`` stage;
    calling it directly on a pandas frame is the reference extractor.
    An ``external_css`` column (engine.attach_external_css: per-row
    corpus-joined sheets, None when the page linked none in the corpus)
    is passed to the kernel when present.
    """
    sheets = (pdf["external_css"].tolist() if "external_css" in pdf.columns
              else repeat(None))
    return pd.DataFrame(
        [extract_document(url, html, opts, external_css=ext)
         for url, html, ext in zip(pdf["url"].tolist(), pdf["html"].tolist(),
                                   sheets)],
        columns=GOLDEN_COLUMNS,
    )


def reference_extract_frame(
    pages_pdf: pd.DataFrame, opts: ExtractOptions = ExtractOptions()
) -> pd.DataFrame:
    """Golden fixture frame for a pages frame, sorted by url."""
    out = extract_pdf(pages_pdf, opts)
    return out.sort_values("url").reset_index(drop=True)
