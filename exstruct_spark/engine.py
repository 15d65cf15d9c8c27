"""Spark job layer: the fused extraction stage + scale machinery.

Design (SURVEY.md §7.1): one scan -> ``repartition(N, xxhash64(url))`` ->
ONE fused ``mapInPandas`` stage (all artifact families from one DOM parse,
JSON serialized in-kernel) -> output + per-partition metrics + lineage
checkpoint.  Zero per-row Python UDFs; the only Python/JVM crossings are
Arrow batches.

Scale notes (100 TB / 10^12 docs):
  * extraction is embarrassingly parallel — the ONLY shuffle in the hot
    path is the explicit url-hash repartition, which exists to (a) bound
    task size regardless of upstream file layout and (b) define the
    bucket key for checkpoint resume.  When the source is already well
    partitioned, pass ``repartition_to=None`` to elide the shuffle.
  * skewed hosts don't matter here because the partition key is the full
    url hash (uniform); host-level *aggregations* (see metrics queries)
    salt with ``pmod(xxhash64(url), SALT_BUCKETS)``.
  * Arrow batch size bounds per-batch DOM memory
    (``spark.sql.execution.arrow.maxRecordsPerBatch``).
  * fallback-not-fail: a bad document degrades row-locally; the job
    never dies (reference core/pipeline.py:1097-1193 behaviour).
  * worker GC policy (``extract_batches``): a Python worker holds ~74k
    GC-tracked objects from its imports (pandas, pyarrow, pyspark, the
    kernels), and PySpark's daemon runs a full ``gc.collect()`` after
    every task of a reused worker, which traversed them all (17-23 ms
    each on a 4-vCPU host).  Before its first batch a worker collects
    once and ``gc.freeze()``s that heap, so later collections scan only
    what was allocated since; each batch's kernel call then runs with
    the cyclic collector paused.  Extraction leaves no cyclic garbage
    (``test_extracted_batch_leaves_no_cyclic_garbage``), so the pause
    frees nothing late, and refcounting still frees every tree as its
    document ends.  The harvest UDF runs under the same policy.
"""

from __future__ import annotations

import gc
import time
import uuid
from contextlib import contextmanager
from functools import partial
from typing import Iterator, Optional, Tuple
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from exstruct_spark.config import ExtractOptions
from exstruct_spark.golden import EXTRACT_SCHEMA_DDL, extract_pdf
from exstruct_spark.kernels.extract import (
    RECORD_FIELDS, _style_import_hrefs, stylesheet_refs,
)

# per-batch lineage columns extract_stage appends to every record
_BATCH_FIELDS = (
    ("partition_id", "int"), ("batch_seq", "int"), ("batch_wall_ms", "bigint"),
)

EXTRACT_WITH_PARTITION_DDL = EXTRACT_SCHEMA_DDL + "".join(
    f", {name} {dtype}" for name, dtype in _BATCH_FIELDS
)

METRICS_SCHEMA_DDL = (
    "run_id string, partition_id int, docs bigint, bytes_in bigint, "
    "ok bigint, fallback bigint, truncated bigint, wall_ms bigint"
)

LINEAGE_SCHEMA_DDL = (
    "run_id string, url_bucket int, input_snapshot string, "
    "code_version string, status string, completed_at timestamp"
)


def freeze_worker_heap() -> None:
    """Once per process: collect, then move every surviving object to
    the permanent generation (``gc.freeze``), so no later collection
    traverses the worker's import-time heap again.  Collecting first
    keeps no garbage alive.  Call it before a task pulls its first
    batch: a frozen batch frame's cycles would never be collected."""
    if gc.get_freeze_count() == 0:
        gc.collect()
        gc.freeze()


@contextmanager
def gc_paused():
    """The cyclic collector off for the body, then restored to the
    caller's ``gc.isenabled()`` state, also when the body raises.
    ``gc.disable`` is process-global: pause one batch of one worker's
    loop, never a call that other threads may be running at once."""
    enabled = gc.isenabled()
    gc.disable()
    try:
        yield
    finally:
        if enabled:
            gc.enable()


def default_session(
    app: str = "exstruct-spark",
    master: str = "local[32]",
    shuffle_partitions: int = 32,
    arrow_batch: int = 2048,
) -> SparkSession:
    """Session tuned for the extraction workload.

    AQE on (runtime re-plan / skew joins), Arrow enabled, UTC session TZ
    (timestamp determinism vs DuckDB oracle), bounded Arrow batches (memory
    control for adversarial HTML — SURVEY.md §7.4 hard-part 4).

    Shuffle scratch stays on Spark's default local dir;
    ``$SPARK_GRAFT_LOCAL_DIR`` overrides it for deployments with faster
    scratch.  (r8 measured: forcing tmpfs /dev/shm here SLOWED the
    shuffle-bearing queries ~10x on this virtualized host — guest page
    allocation latency dwarfs page-cache-backed disk writes — so the
    default is deliberately untouched.)

    ``local[...]`` masters run their Python workers under
    ``exstruct_spark.spark_daemon``, which removes PySpark's ~0.2 s
    per-task import tax (see that module; clusters keep PySpark's
    daemon), with this package's directory on the workers' path.
    """
    import os

    builder = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
    )
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if master.startswith("local"):
        package_root = os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))
        builder = (
            builder.config("spark.python.daemon.module",
                           "exstruct_spark.spark_daemon")
            .config("spark.executorEnv.PYTHONPATH", package_root)
        )
    return builder.getOrCreate()


# -- external-stylesheet corpus join (VERDICT r6 #2) -------------------------
# <link rel=stylesheet href> is unread by the pure per-page extractor, yet
# the crawl CONTAINS most of those CSS files as its own documents.  This is
# the genuinely Spark-shaped operator the single-process reference cannot
# have: a harvest pass that runs the kernel's own stylesheet rule over the
# pages (so the join keys ARE the list extraction applies — same charset
# decode, route, parse and <base> rule), an equi-join of those refs
# against the corpus's stylesheet documents (broadcast when the css side
# fits — it is a tiny fraction of any real crawl), and a per-page collect
# in link order.  The joined sheet texts ride the SAME Arrow batch into
# the fused extraction stage, where kernels/css.py merges them below
# same-document <style> rules.  At 10^12 docs: the harvest is one
# Arrow-batched pass (a second parse of each page, no shuffle), the
# refs->css join shuffles only the refs (pages that actually link
# sheets), and the pages<-sheets left join keys on url — the same key
# extract_stage repartitions by, so AQE/exchange reuse co-locates it.

_CSS_URL_RE = r"(?i)\.css([?#].*)?$"
_MAX_IMPORTS_PER_SHEET = 8


def harvest_stylesheet_refs(pages: DataFrame) -> DataFrame:
    """Pass-1 harvest: pages -> (url, css_url, link_order).

    One Arrow-batched pandas UDF runs the kernel's rule,
    ``kernels.extract.stylesheet_refs``, over each page's bytes, so
    ``css_url`` is exactly a URL of the page's ``stylesheets``
    extraction field and ``link_order`` its position there (links in
    document order, then inline ``<style>`` @imports; first-wins,
    capped).  Pages with no applicable sheet give no rows.
    """
    @F.pandas_udf("array<string>")
    def _refs(batches: Iterator[Tuple[pd.Series, pd.Series]]
              ) -> Iterator[pd.Series]:
        freeze_worker_heap()
        for url, html in batches:
            with gc_paused():
                refs = [stylesheet_refs(u, h) for u, h in zip(url, html)]
            yield pd.Series(refs, dtype=object)

    return pages.select(
        "url",
        F.posexplode(_refs("url", "html")).alias("link_order", "css_url"),
    ).select("url", "css_url", "link_order")


def attach_external_css(
    pages: DataFrame,
    css_docs: Optional[DataFrame] = None,
    broadcast_css: bool = True,
) -> DataFrame:
    """pages (url, html, ...) -> same + ``external_css
    array<struct<u: string, t: string>>`` — per entry the LINK's
    resolved URL and the sheet text (imports carry their importer's
    link URL).

    ``css_docs``: the corpus's stylesheet documents as (url, html) — by
    default derived from ``pages`` itself by url shape (``*.css``).
    ``broadcast_css``: hint that the distinct stylesheet side fits in
    memory (true on any real crawl slice — sheets are a small fraction
    of pages and heavily shared); pass False to let AQE pick the
    strategy for a css-heavy corpus.
    """
    refs = harvest_stylesheet_refs(pages)
    if css_docs is None:
        css_docs = pages.where(F.col("url").rlike(_CSS_URL_RE))
    sheets = css_docs.select(
        F.col("url").alias("css_url"),
        F.col("html").cast("string").alias("css_text"),
    )
    right = F.broadcast(sheets) if broadcast_css else sheets
    joined = (refs.join(right, "css_url", "inner")
              .withColumn("link_url", F.col("css_url")))

    # ONE level of @import chasing: real sheets routinely import a base/
    # theme sheet that is itself in the corpus.  A joined sheet's imports
    # are read with the kernel's rule for <style> blocks (top of sheet
    # only, media tail honoured) and resolved against the sheet's URL.
    # Imported sheets order immediately BEFORE their importer (CSS
    # applies @import rules ahead of the importing sheet's own), capped
    # per sheet; a second import level is deliberately not chased
    # (documented bound, not a loop).
    @F.pandas_udf("array<string>")
    def _sheet_imports(sheet_url: pd.Series,
                       css_text: pd.Series) -> pd.Series:
        out = []
        for u, t in zip(sheet_url, css_text):
            urls = []
            hrefs = _style_import_hrefs(t or "")
            for href in hrefs[:_MAX_IMPORTS_PER_SHEET]:
                try:
                    urls.append(urljoin(u or "", href))
                except ValueError:
                    continue
            out.append(urls)
        return pd.Series(out, dtype=object)

    imports = (
        joined.select(
            "url", "link_order", "link_url",
            F.posexplode(_sheet_imports("css_url", "css_text")
                         ).alias("imp_pos", "css_url"),
        )
        .join(right, "css_url", "inner")
        .select("url", "link_order", "link_url",
                F.lit(0).alias("tier"), "imp_pos", "css_text")
    )
    direct = joined.select(
        "url", "link_order", "link_url",
        F.lit(1).alias("tier"), F.lit(0).alias("imp_pos"), "css_text")
    # each entry carries the LINK's resolved URL (imports carry their
    # importer's link URL), which the kernel checks against its own
    # _stylesheet_refs list (_admitted_sheets)
    per_page = (
        direct.unionByName(imports)
        .groupBy("url")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("link_order").alias("o"),
                        F.col("tier").alias("g"),
                        F.col("imp_pos").alias("p"),
                        F.col("link_url").alias("u"),
                        F.col("css_text").alias("t"),
                    )
                )
            ).alias("ordered")
        )
        .select(
            "url",
            F.expr("transform(ordered, s -> struct(s.u as u, s.t as t))"
                   ).alias("external_css"),
        )
    )
    return pages.join(per_page, "url", "left")


def extract_batches(
    batches: Iterator[pd.DataFrame],
    opts: ExtractOptions = ExtractOptions(),
    passthrough: tuple = (),
) -> Iterator[pd.DataFrame]:
    """``extract_stage``'s ``mapInPandas`` function: ``extract_pdf`` per
    Arrow batch, plus the ``_BATCH_FIELDS`` lineage columns and the
    ``passthrough`` columns.  Runs the worker GC policy: the heap is
    frozen before the first batch is pulled, and each ``extract_pdf``
    call runs with the cyclic collector paused."""
    from pyspark import TaskContext

    freeze_worker_heap()
    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1
    for seq, pdf in enumerate(batches):
        t0 = time.monotonic()
        with gc_paused():
            out = extract_pdf(pdf, opts)
        wall_ms = int((time.monotonic() - t0) * 1000)
        out["partition_id"] = pid
        out["batch_seq"] = seq
        out["batch_wall_ms"] = wall_ms
        for col in passthrough:
            out[col] = pdf[col].values
        yield out


def extract_stage(
    pages: DataFrame,
    opts: ExtractOptions = ExtractOptions(),
    repartition_to: Optional[int] = None,
    passthrough: tuple = (),
) -> DataFrame:
    """The fused extraction transform: pages df -> extraction df.

    ``repartition_to``: explicit url-hash repartition width (None = keep
    upstream partitioning — no shuffle).  Each batch records its task
    partition id, batch sequence number and wall time so metrics are
    derivable with one cheap aggregation downstream (SURVEY.md §2.4 A7 —
    lineage as first-class).

    ``passthrough``: extra input columns carried through the Arrow batch
    verbatim (lang, archetype, warc_ts, url_bucket, ...).  At 10^12 docs a
    downstream re-join on url to recover these is a full extra shuffle —
    carrying them through the same batch is free.

    An ``external_css`` input column (from ``attach_external_css``) is
    detected automatically and rides into the batch, so the kernel's
    StyleResolver sees the corpus-joined stylesheet rules.
    """
    df = pages
    if repartition_to:
        df = df.repartition(repartition_to, F.xxhash64("url"))

    reserved = {name for name, _ in RECORD_FIELDS + _BATCH_FIELDS}
    for col in passthrough:
        if col in reserved:
            raise ValueError(f"passthrough column collides with output: {col}")
    pass_ddl = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in df.select(*passthrough).schema.fields
    ) if passthrough else ""

    extra_in = ("external_css",) if "external_css" in df.columns else ()
    return df.select("url", "html", *extra_in, *passthrough).mapInPandas(
        partial(extract_batches, opts=opts, passthrough=passthrough),
        schema=EXTRACT_WITH_PARTITION_DDL + pass_ddl,
    )


def metrics_from_extracted(extracted: DataFrame, run_id: str) -> DataFrame:
    """Per-partition extraction metrics (FIXTURES.md §3 contract).

    One narrow groupBy on the small extracted projection — partial
    (map-side) aggregation makes this shuffle negligible at any scale.

    ``wall_ms`` is the SUM over the partition's Arrow batches of each
    batch's wall time (rows within a batch all carry the same
    ``batch_wall_ms``, so the inner max collapses them to one value per
    batch) — a partition processing many batches reports its true total,
    not its slowest single batch.
    """
    per_batch = extracted.groupBy("partition_id", "batch_seq").agg(
        F.count("*").alias("docs"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok"),
        F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("fallback"),
        F.sum(F.when(F.col("truncated"), 1).otherwise(0)).alias("truncated"),
        F.max("batch_wall_ms").alias("batch_wall_ms"),
    )
    return (
        per_batch.groupBy("partition_id")
        .agg(
            F.sum("docs").alias("docs"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("ok").alias("ok"),
            F.sum("fallback").alias("fallback"),
            F.sum("truncated").alias("truncated"),
            F.sum("batch_wall_ms").alias("wall_ms"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            "partition_id",
            "docs",
            "bytes_in",
            "ok",
            "fallback",
            "truncated",
            "wall_ms",
        )
    )


class TableIO:
    """Source/sink format adapter — the Iceberg seam.

    BASELINE's input hint names an Iceberg table of Common-Crawl-style
    pages; this sandbox has no Iceberg runtime, so the job's every read
    and write goes through ONE format indirection instead of hard-coded
    ``.parquet(...)`` calls.  ``TableIO("iceberg")`` routes through
    ``spark.read.format("iceberg").load(path)`` / ``df.write.format(
    "iceberg").save(path)`` — the public path-based (HadoopTables) usage
    — so deploying against a real catalog is a constructor argument, not
    a code change.  ``parquet`` (default) is byte-for-byte the previous
    behavior: ``format("parquet").load/save`` is exactly ``.parquet()``.
    """

    # file-based sources accept a user-specified read schema; DSv2
    # catalog sources (Iceberg) REJECT one ('does not support user
    # specified schema') — their table metadata is authoritative
    _FILE_FORMATS = frozenset({"parquet", "json", "csv", "orc", "text", "avro"})

    def __init__(self, fmt: str = "parquet"):
        self.format = fmt

    def read(self, spark: SparkSession, path: str, schema: Optional[str] = None) -> DataFrame:
        if self.format == "yaml":
            # mirror the reference exactly: YAML is a one-way EXPORT
            # surface (io/__init__.py:159-168 save_as_yaml writes, nothing
            # reads YAML back) — a silent text-read here would hand the
            # caller unparsed documents
            raise NotImplementedError(
                "YAML is an export-only dialect (reference parity: "
                "save_as_yaml has no reader); keep pipeline tables on "
                "parquet/json and export with TableIO('yaml').write"
            )
        reader = spark.read
        if schema is not None and self.format in self._FILE_FORMATS:
            reader = reader.schema(schema)
        return reader.format(self.format).load(path)

    @staticmethod
    def _to_yaml_docs(df: DataFrame, partition_by: tuple) -> DataFrame:
        """Rows -> one YAML document per row (multi-doc stream: each doc
        opens with '---').  JVM-side ``to_json`` flattens the row (null
        fields dropped, binary -> base64), then ONE Arrow-batched pandas
        UDF re-emits the reference YAML dialect (kernels/serialize.py
        ``canonical_yaml``) — no row-at-a-time Python at the boundary.
        Partition columns stay as real columns for partitionBy."""
        from exstruct_spark.kernels.serialize import canonical_yaml

        @F.pandas_udf("string")
        def _yaml_doc(js: pd.Series) -> pd.Series:
            import json as _json

            return js.map(
                lambda s: "---\n" + canonical_yaml(_json.loads(s)).rstrip("\n")
            )

        data_cols = [c for c in df.columns if c not in partition_by]
        keep = [F.col(c) for c in partition_by]
        return df.select(
            _yaml_doc(F.to_json(F.struct(*data_cols))).alias("value"), *keep
        )

    def write(self, df: DataFrame, path: str, mode: str,
              partition_by: tuple = (), dynamic: bool = False) -> None:
        fmt = self.format
        if fmt == "yaml":
            df = self._to_yaml_docs(df, tuple(partition_by))
            fmt = "text"
        writer = df.write.mode(mode).format(fmt)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if not dynamic:
            writer.save(path)
            return
        # dynamic partition overwrite: file sources honor the per-write
        # option, but DSv2 sources (Iceberg) resolve SaveMode.Overwrite
        # via the SESSION conf spark.sql.sources.partitionOverwriteMode —
        # the option alone would truncate an Iceberg table to the current
        # wave's partitions (review r3 finding).  Set both, restore after.
        conf = df.sparkSession.conf
        key = "spark.sql.sources.partitionOverwriteMode"
        old = conf.get(key, None)
        conf.set(key, "dynamic")
        try:
            writer.option("partitionOverwriteMode", "dynamic").save(path)
        finally:
            if old is None:
                conf.unset(key)
            else:
                conf.set(key, old)


class ExtractionJob:
    """Checkpoint-resumable extraction run over a pages table.

    Resume semantics (SURVEY.md §7.4 hard-part 5): the unit of completion
    is a url-hash *bucket* (``pmod(xxhash64(url), n_buckets)``).  A
    lineage table records ``status='done'`` per bucket; a restarted run
    LEFT ANTI JOINs inputs against done buckets, so partially completed
    crawls never recompute finished work, and per-bucket output overwrite
    keeps the sink idempotent (dynamic partition overwrite).

    Resume assumes a FIXED input snapshot (``input_snapshot`` names it),
    and the assumption is ENFORCED, not conventional: lineage rows are
    keyed by snapshot, so a run against a NEW snapshot never anti-joins
    away buckets completed for an old one — every bucket of the new
    snapshot is (re)processed and the per-bucket dynamic overwrite keeps
    the output consistent.

    Scale shape (the 100 TB contract): the input is STAGED ONCE as a
    bucket-partitioned parquet table per snapshot; each wave then reads
    only its buckets via partition pruning.  Without staging, every wave
    re-scans the full input (64 buckets / 16 per wave = 4 full scans of a
    100 TB table), and enumerating buckets with ``distinct().collect()``
    adds a fifth — here bucket enumeration is ONE filesystem listing of
    the staged partition directories.
    """

    def __init__(
        self,
        spark: SparkSession,
        output_dir: str,
        lineage_dir: str,
        metrics_dir: str,
        n_buckets: int = 64,
        opts: ExtractOptions = ExtractOptions(),
        code_version: str = "0.1.0",
        staging_dir: Optional[str] = None,
        table_format: str = "parquet",
    ):
        self.spark = spark
        self.output_dir = output_dir
        self.lineage_dir = lineage_dir
        self.metrics_dir = metrics_dir
        self.n_buckets = n_buckets
        self.opts = opts
        self.code_version = code_version
        self.staging_dir = staging_dir or output_dir.rstrip("/") + ".staging"
        # output/lineage/metrics tables go through the format seam
        # (TableIO); the STAGING table stays parquet — it is the job's own
        # scratch space whose bucket enumeration and _SUCCESS idempotence
        # are filesystem-listing based by design
        self.io = TableIO(table_format)

    # -- filesystem helpers (Hadoop FS API: works on local/HDFS/S3A) ------
    def _fs(self, path: str):
        jvm = self.spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, hpath

    def _exists(self, path: str) -> bool:
        fs, hpath = self._fs(path)
        return fs.exists(hpath)

    def _bucketed(self, df: DataFrame) -> DataFrame:
        """``df`` plus its ``url_bucket`` resume key."""
        return df.withColumn(
            "url_bucket",
            F.pmod(F.xxhash64("url"), F.lit(self.n_buckets)).cast("int"),
        )

    def _completed_staging(self, input_snapshot: str, needed_by: str) -> str:
        """The staged path of a snapshot whose staging completed
        (``_SUCCESS`` present); ``needed_by`` names the caller in the
        error raised otherwise."""
        staged_path = self._staged_path(input_snapshot)
        if not self._exists(staged_path + "/_SUCCESS"):
            raise ValueError(
                f"no completed staging for snapshot {input_snapshot!r} — "
                f"{needed_by} a prior run(stage_input=True)"
            )
        return staged_path

    def _staged_path(self, input_snapshot: str) -> str:
        # snapshot names may be paths/URIs ("iceberg:db.tbl", "s3://...");
        # percent-encode for the directory name like partitionBy would
        from urllib.parse import quote

        return f"{self.staging_dir}/snapshot={quote(input_snapshot, safe='')}"

    def _output_schema_ddl(self) -> str:
        return (
            EXTRACT_WITH_PARTITION_DDL
            + ", url_bucket int, input_snapshot string"
        )

    def _stage_input(self, pages: DataFrame, input_snapshot: str) -> str:
        """Write the bucketed input ONCE per snapshot, partitioned by
        url_bucket (idempotent: a complete staging — _SUCCESS present — is
        reused; an interrupted one is rewritten).  This is the single full
        input scan of the whole job."""
        staged = self._staged_path(input_snapshot)
        if self._exists(staged + "/_SUCCESS"):
            return staged
        self._bucketed(pages).write.mode("overwrite").partitionBy(
            "url_bucket").parquet(staged)
        return staged

    def _list_staged_buckets(self, staged: str) -> list:
        """Bucket enumeration = one directory listing of the staged table's
        partition dirs (``url_bucket=N``) — no table scan, no distinct."""
        fs, hpath = self._fs(staged)
        buckets = []
        for status in fs.listStatus(hpath):
            name = status.getPath().getName()
            if name.startswith("url_bucket="):
                buckets.append(int(name.split("=", 1)[1]))
        return sorted(buckets)

    def _done_buckets(self, input_snapshot: str) -> set:
        """Buckets already completed FOR THIS SNAPSHOT (lineage filtered on
        both status and input_snapshot — a different snapshot's completions
        never mask new work).  A missing lineage table means nothing is
        done; any other read error raises — reading it as "nothing done"
        would reprocess every bucket and append duplicate metrics."""
        if not self._exists(self.lineage_dir):
            return set()
        lineage = self.io.read(self.spark, self.lineage_dir)
        rows = (
            lineage.where(
                (F.col("status") == "done")
                & (F.col("input_snapshot") == input_snapshot)
            )
            .select("url_bucket")
            .distinct()
            .collect()
        )
        return {r["url_bucket"] for r in rows}

    def _run_wave(
        self, staged: DataFrame, wave_buckets: list, run_id: str,
        input_snapshot: str,
    ) -> None:
        """Process one wave of buckets END-TO-END: extract -> write output
        partitions -> write metrics -> append lineage.  Lineage lands only
        after the wave's output is durable, so a crash between waves loses
        at most one wave of work (incremental checkpointing — a whole-run
        lineage commit would resume from zero after a mid-job failure).

        ``staged`` is the bucket-partitioned staging table, so the filter
        below is a PARTITION FILTER — the wave reads only its own buckets'
        files, never the full input.

        Output is partitioned by (input_snapshot, url_bucket): snapshots
        never share partitions, so a new snapshot's dynamic overwrite can
        neither leave another snapshot's rows looking current nor have
        them mis-attributed to this run's metrics."""
        todo = staged.where(F.col("url_bucket").isin(wave_buckets))
        # url_bucket rides through the Arrow batch (passthrough) — no
        # re-hash, no re-join to recover the sink partition key.
        # A staged external_css column (attach_external_css ran on the
        # full corpus BEFORE staging — the join must see page and sheet
        # regardless of bucket) rides in through extract_stage; patch
        # refreshes reuse the staged sheets unchanged.
        extracted = extract_stage(
            todo, self.opts, passthrough=("url_bucket",),
        ).withColumn("input_snapshot", F.lit(input_snapshot))
        self.io.write(
            extracted, self.output_dir, "overwrite",
            partition_by=("input_snapshot", "url_bucket"), dynamic=True,
        )
        # read back only the wave's output partitions (pruned) for
        # metrics; the explicit schema keeps an all-empty wave readable
        # (schema inference has no data files to look at then)
        wave_out = (
            self.io.read(
                self.spark, self.output_dir, schema=self._output_schema_ddl()
            )
            .where(
                (F.col("input_snapshot") == input_snapshot)
                & F.col("url_bucket").isin(wave_buckets)
            )
        )
        self.io.write(
            metrics_from_extracted(wave_out, run_id), self.metrics_dir, "append"
        )
        done_rows = [
            (run_id, int(b), input_snapshot, self.code_version, "done")
            for b in wave_buckets
        ]
        done_df = (
            self.spark.createDataFrame(
                done_rows,
                "run_id string, url_bucket int, input_snapshot string, "
                "code_version string, status string",
            )
            .withColumn("completed_at", F.current_timestamp())
        )
        self.io.write(done_df, self.lineage_dir, "append")

    def run(
        self,
        pages: DataFrame,
        input_snapshot: str = "static",
        wave_size: int = 16,
        max_waves: Optional[int] = None,
        stage_input: bool = True,
    ) -> dict:
        """Execute (or resume) an extraction run in waves of buckets.

        ``wave_size``: buckets per checkpoint commit (resume granularity).
        ``max_waves``: stop early after N waves (testing/chunked runs).
        ``stage_input``: True (default, the 100 TB shape) materializes the
        bucketed input once so each wave is a partition-pruned read —
        pays one input write to avoid buckets/wave_size full input scans.
        False skips staging for inputs that are CHEAP to re-scan or
        already partition-pruned at the source (an Iceberg table
        partitioned by the bucket key, or a synthetic generator): waves
        filter the input directly and buckets are enumerated statically
        as range(n_buckets) — never a corpus-wide distinct().
        Returns a summary dict."""
        run_id = uuid.uuid4().hex[:12]
        if stage_input:
            staged_path = self._stage_input(pages, input_snapshot)
            staged = self.spark.read.parquet(staged_path)
            present = self._list_staged_buckets(staged_path)
        else:
            staged = self._bucketed(pages)
            present = list(range(self.n_buckets))
        done_set = self._done_buckets(input_snapshot)
        todo_buckets = [b for b in present if b not in done_set]

        waves = [
            todo_buckets[i : i + wave_size]
            for i in range(0, len(todo_buckets), wave_size)
        ]
        if max_waves is not None:
            waves = waves[:max_waves]
        for wave in waves:
            self._run_wave(staged, wave, run_id, input_snapshot)

        # summary row count = rows in THIS SNAPSHOT's output partitions
        # (metrics history is append-only and would double-count a
        # reprocessed bucket; the output partitions are the truth).  One
        # partition-pruned count at job end, not per wave.
        n_out = (
            self.io.read(
                self.spark, self.output_dir, schema=self._output_schema_ddl(),
            )
            .where(F.col("input_snapshot") == input_snapshot)
            .count()
        ) if self._exists(self.output_dir) else 0
        return {
            "run_id": run_id,
            "buckets_done_before": len(done_set),
            "buckets_processed": sum(len(w) for w in waves),
            "waves": len(waves),
            "rows_in_output": n_out,
        }

    def apply_patch(
        self, patch: DataFrame, input_snapshot: str = "static"
    ) -> dict:
        """Incremental PATCH of a completed snapshot (X8 twin — the
        reference's edit surface mutates a workbook and re-extracts;
        the lakehouse analogue is upsert-then-refresh): ``patch`` rows
        (same pages schema) REPLACE same-url rows / ADD new urls, and
        only the AFFECTED url-hash buckets are re-extracted.

        Mechanics: patched urls hash to their buckets (the same pmod
        key as staging), the staged table's affected partitions are
        rewritten as (old rows anti-join patched urls) UNION patch —
        materialized via localCheckpoint BEFORE the write so the
        dynamic partition overwrite never reads the files it replaces —
        then `_run_wave` re-extracts exactly those buckets into the
        same output partitions (dynamic overwrite keeps every other
        bucket byte-untouched).  Cost at 100 TB: proportional to the
        patch's bucket count, never a full-corpus rescan; the affected
        bucket list is a bounded driver collect (<= n_buckets).
        Lineage gains a new run's 'done' rows for the refreshed
        buckets; `_done_buckets` reads distinct, so resume semantics
        are unchanged.  GRAIN: the refresh unit is the bucket — a patch
        scattered across all buckets degenerates to a full refresh, so
        size ``n_buckets`` for the patch regime (4096+ at corpus scale
        keeps a few-thousand-url patch under a percent of the data;
        measured 4.6x at 96k docs / 64 buckets, BENCH round-4)."""
        staged_path = self._completed_staging(input_snapshot,
                                              "patch requires")
        run_id = uuid.uuid4().hex[:12]
        bucketed = self._bucketed(patch)
        affected = sorted(
            r["url_bucket"]
            for r in bucketed.select("url_bucket").distinct().collect()
        )
        n_patch = bucketed.count()
        staged = self.spark.read.parquet(staged_path)
        base = staged.where(F.col("url_bucket").isin(affected))
        merged = (
            base.join(bucketed.select("url"), "url", "left_anti")
            .unionByName(bucketed)
            .localCheckpoint()
        )
        TableIO("parquet").write(merged, staged_path, "overwrite",
                                 partition_by=("url_bucket",), dynamic=True)
        fresh = self.spark.read.parquet(staged_path)
        self._run_wave(fresh, affected, run_id, input_snapshot)
        return {
            "run_id": run_id,
            "patched_urls": n_patch,
            "buckets_refreshed": affected,
        }

    def apply_cell_edits(
        self, edits: dict, input_snapshot: str = "static"
    ) -> dict:
        """Cell-level edit surface (X8 residual, VERDICT r4 #4): the
        reference's typed op family (edit/types.py:7-29 — set_value,
        set_fill_color, ... with applied/skipped statuses) compiled
        onto ``apply_patch``'s bucket-scoped refresh.

        ``edits`` maps url -> op list (``kernels/edits.py`` dicts, e.g.
        ``{"op": "set_value", "table": 0, "row": 1, "col": 2,
        "value": 9.5}``).  The staged documents are patched by pure
        HTML-splicing functions inside one Arrow batch stage, then the
        standard patch path re-extracts ONLY the affected buckets —
        untouched buckets stay byte-identical, and the edited documents
        flow through the exact extraction every other document gets.

        An editing-session surface, not a bulk path: the edit set is
        driver-bounded (url list broadcast; per-op statuses collected
        back — the reference's PatchResult analogue).  Documents are
        UTF-8 re-encoded on edit (the reference's editor likewise
        rewrites its container).  Returns apply_patch's summary plus
        ``op_status`` per url and ``missing_urls`` (edits addressed at
        urls the snapshot does not contain — the whole-url analogue of
        a skipped op)."""
        import json as _json

        from pyspark.sql import types as T

        from exstruct_spark.kernels.dom import decode_html_bytes
        from exstruct_spark.kernels.edits import apply_ops

        staged_path = self._completed_staging(input_snapshot,
                                              "cell edits require")
        urls = sorted(edits)
        ops_json = {u: _json.dumps(list(ops)) for u, ops in edits.items()}
        bc = self.spark.sparkContext.broadcast(ops_json)
        base = (
            self.spark.read.parquet(staged_path)
            .where(F.col("url").isin(urls))
            .drop("url_bucket")
        )
        out_schema = T.StructType(
            list(base.schema.fields)
            + [T.StructField("op_status", T.StringType())]
        )

        def patch_batches(batches: Iterator[pd.DataFrame]):
            ops_map = bc.value
            for pdf in batches:
                htmls = []
                statuses = []
                # a staged external_css column: the ops address the
                # tables extraction reports under the same cascade
                sheets = (pdf["external_css"].tolist()
                          if "external_css" in pdf.columns
                          else [None] * len(pdf))
                for url, hb, ext in zip(pdf["url"], pdf["html"], sheets):
                    text = decode_html_bytes(
                        bytes(hb) if hb is not None else b"")
                    new, st = apply_ops(text, _json.loads(ops_map[url]),
                                        url, ext)
                    htmls.append(bytearray(new.encode("utf-8")))
                    statuses.append(_json.dumps(st))
                out = pdf.copy()
                out["html"] = htmls
                out["op_status"] = statuses
                yield out

        patched = base.mapInPandas(
            patch_batches, schema=out_schema).localCheckpoint()
        status_rows = patched.select("url", "op_status").collect()
        summary = self.apply_patch(
            patched.drop("op_status"), input_snapshot)
        summary["op_status"] = {
            r["url"]: _json.loads(r["op_status"]) for r in status_rows
        }
        summary["missing_urls"] = sorted(
            set(urls) - {r["url"] for r in status_rows})
        return summary
