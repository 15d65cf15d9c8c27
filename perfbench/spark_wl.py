"""The Spark workload (``large_pages``) and the engine stage ladder.

Both drive the engine only through its public entry points:
``engine.ExtractionJob.run`` and ``engine.extract_stage``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import tempfile
import time
import uuid

from pyspark.sql import functions as F

from exstruct_spark.engine import ExtractionJob, default_session, extract_stage

# local[2]: half of a 4-vCPU host, so the JVM's writer, GC and Arrow
# threads and the driver keep cores of their own.
CORES = 2
# the ladder's job rung: two waves of four url-hash buckets.  The job's
# default 64 buckets in waves of 16 would make the rung mostly per-wave
# file-commit cost on inputs this size.
N_BUCKETS = 8
WAVE_SIZE = 4


def start_session():
    spark = default_session(app="perfbench", master=f"local[{CORES}]",
                            shuffle_partitions=2 * CORES)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit
    (closing its stdin is the gateway's exit signal)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def fresh_job(spark, work: str) -> tuple:
    """An ``ExtractionJob`` writing to new, empty directories under
    ``work``; returns ``(job, base_dir)``."""
    base = tempfile.mkdtemp(prefix="job-", dir=work)
    job = ExtractionJob(
        spark, output_dir=f"{base}/out", lineage_dir=f"{base}/lineage",
        metrics_dir=f"{base}/metrics", staging_dir=f"{base}/staging",
        n_buckets=N_BUCKETS)
    return job, base


class LargePages:
    """``extract_stage(pages, repartition_to=…)`` into the ``noop`` sink:
    scan, url-hash exchange, Arrow hand-off, kernel."""

    def __init__(self, spark, input_path: str, partitions: int):
        self.spark = spark
        self.input_path = input_path
        self.partitions = partitions

    def extracted(self):
        pages = self.spark.read.parquet(self.input_path)
        return extract_stage(pages, repartition_to=self.partitions)

    def run_pass(self) -> None:
        noop(self.extracted())


def timed_passes(run_pass, seconds: float, min_passes: int) -> list:
    """Run ``run_pass()`` until the passes' time reaches ``seconds`` and
    at least ``min_passes`` ran.  Returns the pass wall times in s."""
    times = []
    while len(times) < min_passes or sum(times) < seconds:
        t0 = time.perf_counter()
        run_pass()
        times.append(time.perf_counter() - t0)
    return times


def stage_ladder(spark, input_path: str, partitions: int, work: str,
                 tracer, reps: int, workload_pass=None, after_pass=None) -> tuple:
    """Each rung adds one engine layer to the one before, on the same
    input; a layer's time is the difference of the median rung times.
    The ``job`` rung's own tables give batch, skew and fallback
    numbers.  ``workload_pass``, when given, is timed as one more rung,
    ``workload.pass``, and its result handed to ``after_pass`` untimed.
    Returns ``(layer metrics, median rung times)``."""

    def read():
        return spark.read.parquet(input_path)

    def exchanged():
        return read().repartition(partitions, F.xxhash64("url"))

    def identity(batches):
        yield from batches

    sc = spark.sparkContext
    rungs = {
        "engine.scan": lambda: noop(read()),
        "engine.exchange": lambda: noop(exchanged()),
        "engine.arrow_handoff": lambda: noop(
            exchanged().select("url", "html").mapInPandas(
                identity, "url string, html binary")),
        "engine.kernel_stage": lambda: noop(
            extract_stage(read(), repartition_to=partitions)),
    }
    times: dict = {}

    def rung(name, fn):
        with tracer.span(name):
            result = fn()
        span = tracer.spans[-1]
        times.setdefault(name, []).append((span[5] - span[4]) / 1e9)
        return result

    job_stats = None
    for rep in range(reps):
        tracer.trace_id = ("ladder", rep)
        for name, fn in rungs.items():
            rung(name, fn)

        job, base = fresh_job(spark, work)
        group = f"perfbench-ladder-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "perfbench stage ladder: job rung")
        summary = rung("engine.job", lambda: job.run(read(), wave_size=WAVE_SIZE))
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup("perfbench", "perfbench stage ladder")
        rung("engine.resume_plan", lambda: job.run(read(), wave_size=WAVE_SIZE))
        if job_stats is None:
            job_stats = _job_stats(spark, base, summary, n_jobs)
        shutil.rmtree(base)

        staged, staged_base = fresh_job(spark, work)
        rung("engine.stage_input",
             lambda: staged.run(read(), wave_size=WAVE_SIZE, max_waves=0))
        shutil.rmtree(staged_base)

        if workload_pass is not None:
            result = rung("workload.pass", workload_pass)
            if after_pass is not None:
                after_pass(result)

    med = {name: statistics.median(ts) for name, ts in times.items()}
    out = {
        "engine.scan_s": med["engine.scan"],
        "engine.exchange_s": med["engine.exchange"] - med["engine.scan"],
        "engine.arrow_handoff_s":
            med["engine.arrow_handoff"] - med["engine.exchange"],
        "engine.kernel_stage_s":
            med["engine.kernel_stage"] - med["engine.arrow_handoff"],
        "engine.sink_s": med["engine.job"] - med["engine.kernel_stage"],
        "engine.stage_input_s": med["engine.stage_input"],
        "engine.resume_plan_s": med["engine.resume_plan"],
    }
    out.update(job_stats)
    return out, med


def _job_stats(spark, base: str, summary: dict, n_jobs: int) -> dict:
    """Batch, skew and fallback numbers from one finished job's own
    output and metrics tables."""
    out = spark.read.parquet(f"{base}/out").select(
        "url_bucket", "partition_id", "batch_seq", "batch_wall_ms", "status",
    ).toPandas()
    # a batch is (wave, partition, seq); waves are consecutive runs of
    # WAVE_SIZE sorted buckets
    buckets = sorted(out["url_bucket"].unique())
    wave_of = {b: i // WAVE_SIZE for i, b in enumerate(buckets)}
    out["wave"] = out["url_bucket"].map(wave_of)
    batches = out.groupby(["wave", "partition_id", "batch_seq"])[
        "batch_wall_ms"].max()
    walls = spark.read.parquet(f"{base}/metrics").select(
        "wall_ms").toPandas()["wall_ms"]
    median_wall = statistics.median(walls) if len(walls) else 0
    return {
        "engine.batches": int(len(batches)),
        "engine.batch_wall_ms_p50": float(statistics.median(batches)),
        "engine.spark_jobs": n_jobs,
        "engine.waves": summary["waves"],
        "engine.partition_skew":
            float(max(walls) / median_wall) if median_wall else 1.0,
        "engine.fallback_ratio": float((out["status"] != "ok").mean()),
    }


def collect_hashes(df) -> list:
    """(url, text_sha256, json_sha256) rows of an extraction frame."""
    rows = df.select("url", "text_sha256", "json_sha256").collect()
    return [(r[0], r[1], r[2]) for r in rows]

