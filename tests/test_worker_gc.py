"""The Spark worker's GC policy in ``engine.extract_batches``: freeze the
heap once per process before the first batch, pause the cyclic
collector over each ``extract_pdf`` call and restore the caller's
``gc.isenabled()`` afterwards.  ``gc.freeze`` cannot be undone for the
objects it moved, so every check runs in a child interpreter, never in
the test process."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Run in a child: records what the batch function did to the collector
# and prints it as one JSON object.
CHILD = r'''
import gc
import json

import pandas as pd

from exstruct_spark import engine, golden
from exstruct_spark.pages import build_page

pages = [build_page(i) for i in range(6)]
pdf = pd.DataFrame({"url": [p["url"] for p in pages],
                    "html": [p["html"] for p in pages],
                    "lang": ["en"] * len(pages)})
facts = {"freeze_at_start": gc.get_freeze_count()}


def batches(seen):
    seen.append(gc.get_freeze_count())
    yield pdf


seen = []
first = list(engine.extract_batches(batches(seen), passthrough=("lang",)))
facts["freeze_when_first_batch_pulled"] = seen[0]
facts["freeze_after_first"] = gc.get_freeze_count()
facts["enabled_after_first"] = gc.isenabled()
list(engine.extract_batches(iter([pdf])))
facts["freeze_after_second"] = gc.get_freeze_count()
facts["enabled_after_second"] = gc.isenabled()

out = first[0]
facts["batch_columns"] = [c for c in out.columns
                          if c not in golden.GOLDEN_COLUMNS]
facts["partition_id"] = sorted(set(out["partition_id"].tolist()))
facts["lang"] = sorted(set(out["lang"].tolist()))
facts["equals_golden"] = out[list(golden.GOLDEN_COLUMNS)].equals(
    golden.extract_pdf(pdf))

# the kernel runs paused, whatever the caller's state
enabled_in_kernel = []
real_extract_pdf = engine.extract_pdf


def spy(frame, opts):
    enabled_in_kernel.append(gc.isenabled())
    return real_extract_pdf(frame, opts)


def failing(frame, opts):
    enabled_in_kernel.append(gc.isenabled())
    raise ValueError("kernel failure")


engine.extract_pdf = failing
try:
    list(engine.extract_batches(iter([pdf])))
    facts["raised"] = False
except ValueError:
    facts["raised"] = True
facts["enabled_after_raise"] = gc.isenabled()

engine.extract_pdf = spy
gc.disable()
list(engine.extract_batches(iter([pdf])))
facts["enabled_after_disabled_caller"] = gc.isenabled()
gc.enable()
facts["enabled_in_kernel"] = enabled_in_kernel
print(json.dumps(facts))
'''


def test_batch_function_freezes_once_and_pauses_each_batch():
    proc = subprocess.run(
        [sys.executable, "-c", CHILD], capture_output=True, text=True,
        cwd=ROOT, timeout=300)
    assert proc.returncode == 0, proc.stderr
    facts = json.loads(proc.stdout.splitlines()[-1])
    assert facts["freeze_at_start"] == 0
    # frozen before the first batch was pulled, so the batch is not;
    # the count only falls after that, as frozen objects are freed
    frozen = facts["freeze_when_first_batch_pulled"]
    assert frozen > 0
    assert facts["freeze_after_first"] <= frozen
    # the second call freezes nothing more
    assert facts["freeze_after_second"] == facts["freeze_after_first"]
    assert facts["enabled_after_first"] is True
    assert facts["enabled_after_second"] is True
    assert facts["batch_columns"] == ["partition_id", "batch_seq",
                                      "batch_wall_ms", "lang"]
    assert facts["partition_id"] == [-1]
    assert facts["lang"] == ["en"]
    assert facts["equals_golden"] is True
    assert facts["raised"] is True
    assert facts["enabled_after_raise"] is True
    assert facts["enabled_after_disabled_caller"] is False
    assert facts["enabled_in_kernel"] == [False, False]
