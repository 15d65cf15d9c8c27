"""Spark integration tests: byte-identity vs golden fixtures, determinism
under parallelism, checkpoint resume (SURVEY.md §5 'our test strategy')."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from exstruct_spark.engine import ExtractionJob, extract_stage, metrics_from_extracted
from exstruct_spark.golden import GOLDEN_COLUMNS, reference_extract_frame
from exstruct_spark.pages import gen_pages_pdf, spark_pages

N_DOCS = 200


@pytest.fixture(scope="module")
def golden():
    return reference_extract_frame(gen_pages_pdf(range(N_DOCS)))


def _spark_extract_sorted(spark, n_partitions: int) -> pd.DataFrame:
    pages = spark_pages(spark, N_DOCS, partitions=n_partitions)
    out = extract_stage(pages, repartition_to=n_partitions)
    pdf = out.select(*GOLDEN_COLUMNS).toPandas()
    return pdf.sort_values("url").reset_index(drop=True)


def test_spark_generator_matches_pandas_generator(spark):
    got = (
        spark_pages(spark, 50, partitions=7)
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    want = gen_pages_pdf(range(50)).sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_byte_identity_vs_golden(spark, golden):
    """The driver contract's core gate: Spark output must be byte-identical
    per url to the single-process reference extractor (BASELINE.json)."""
    got = _spark_extract_sorted(spark, 8)
    assert list(got["url"]) == list(golden["url"])
    for col in ("main_text", "extraction_json", "text_sha256", "json_sha256"):
        mism = (got[col] != golden[col]).sum()
        assert mism == 0, f"{col}: {mism} mismatching documents"
    pd.testing.assert_frame_equal(got, golden, check_dtype=False)


def test_determinism_across_parallelism(spark, golden):
    """Same input at different parallelism -> identical output hash
    (SURVEY.md §7.4 hard-part 2)."""
    a = _spark_extract_sorted(spark, 2)
    b = _spark_extract_sorted(spark, 16)
    pd.testing.assert_frame_equal(
        a.drop(columns=[]), b, check_dtype=False
    )
    assert list(a["json_sha256"]) == list(golden["json_sha256"])


def test_metrics_contract(spark):
    pages = spark_pages(spark, 100, partitions=4)
    out = extract_stage(pages, repartition_to=4)
    m = metrics_from_extracted(out, "testrun").toPandas()
    assert set(m.columns) == {
        "run_id", "partition_id", "docs", "bytes_in", "ok", "fallback",
        "truncated", "wall_ms",
    }
    assert m["docs"].sum() == 100
    assert (m["ok"] + m["fallback"]).sum() == 100
    assert m["bytes_in"].sum() > 0


def test_checkpoint_resume(spark, tmp_path):
    """Exactly-once per bucket: a resumed run recomputes nothing already
    done, and output row count stays stable (idempotent overwrite)."""
    out_d, lin_d, met_d = (
        str(tmp_path / "out"), str(tmp_path / "lineage"), str(tmp_path / "metrics"),
    )
    job = ExtractionJob(spark, out_d, lin_d, met_d, n_buckets=8)

    half = spark_pages(spark, 60, partitions=4).where(F.col("url").isNotNull())
    r1 = job.run(half)
    assert r1["buckets_done_before"] == 0
    assert r1["rows_in_output"] == 60

    # resume over the same input: all buckets already done -> no new rows
    r2 = job.run(half)
    assert r2["buckets_done_before"] == 8
    assert r2["rows_in_output"] == 60

    lineage = spark.read.parquet(lin_d).toPandas()
    assert set(lineage["status"]) == {"done"}
    assert lineage["url_bucket"].nunique() == 8


def test_hot_host_partition_balance(spark):
    """Zipf-hot hosts must NOT skew extraction partitions: the partition
    key is xxhash64(url) (full url, not host), so per-partition doc counts
    stay balanced (SURVEY.md §7.4 hard-part 3)."""
    pages = spark_pages(spark, 1000, partitions=4)
    out = extract_stage(pages, repartition_to=10)
    counts = (
        out.groupBy("partition_id").count().toPandas()["count"]
    )
    assert len(counts) == 10
    assert counts.max() <= counts.min() * 1.5, counts.tolist()


def test_no_row_python_in_plan(spark):
    """Hot-path contract (BASELINE.json input_hint): zero per-row Python.
    The physical plan must contain MapInPandas (Arrow-batched) and no
    BatchEvalPython (row-at-a-time UDF) anywhere."""
    pages = spark_pages(spark, 10, partitions=2)
    plan = extract_stage(pages, repartition_to=2)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    # BatchEvalPython (row-at-a-time UDF) is the real gate; Arrow-batched
    # pandas UDFs (ArrowEvalPython) are legal by design (VERDICT r6)
    assert "BatchEvalPython" not in plan


def test_wave_resume_after_partial_failure(spark, tmp_path):
    """Incremental checkpointing: a run stopped after its first wave (the
    crash proxy) leaves durable lineage for that wave only; the resumed
    run processes ONLY the remaining buckets and the final output is
    complete and duplicate-free."""
    out_d, lin_d, met_d = (
        str(tmp_path / "o"), str(tmp_path / "l"), str(tmp_path / "m"),
    )
    job = ExtractionJob(spark, out_d, lin_d, met_d, n_buckets=8)
    pages = spark_pages(spark, 80, partitions=4)

    r1 = job.run(pages, wave_size=3, max_waves=1)  # "crash" after wave 1
    assert r1["buckets_processed"] == 3
    lineage1 = spark.read.parquet(lin_d).toPandas()
    assert lineage1["url_bucket"].nunique() == 3

    r2 = job.run(pages, wave_size=3)  # resume to completion
    assert r2["buckets_done_before"] == 3
    assert r2["buckets_processed"] == 5

    out = spark.read.parquet(out_d)
    assert out.count() == 80
    assert out.select("url").distinct().count() == 80
    lineage = spark.read.parquet(lin_d).toPandas()
    assert lineage["url_bucket"].nunique() == 8
    # two distinct run_ids prove the lineage records two commits
    assert lineage["run_id"].nunique() == 2


def test_staging_written_once_and_waves_prune(spark, tmp_path):
    """Scale contract: the input is staged ONCE per snapshot (bucket-
    partitioned); each wave's scan is partition-pruned to its buckets."""
    out_d, lin_d, met_d = (
        str(tmp_path / "o"), str(tmp_path / "l"), str(tmp_path / "m"),
    )
    job = ExtractionJob(spark, out_d, lin_d, met_d, n_buckets=8)
    pages = spark_pages(spark, 60, partitions=4)

    staged_path = job._stage_input(pages, "snapA")
    import os
    success = os.path.join(staged_path, "_SUCCESS")
    mtime1 = os.path.getmtime(success)
    # second staging call for the same snapshot is a no-op (reused)
    assert job._stage_input(pages, "snapA") == staged_path
    assert os.path.getmtime(success) == mtime1

    # bucket enumeration = directory listing, not a table scan
    buckets = job._list_staged_buckets(staged_path)
    assert buckets == sorted(buckets) and len(buckets) == 8

    # a wave's plan prunes to its partitions: PartitionFilters on url_bucket
    staged = spark.read.parquet(staged_path)
    wave = staged.where(F.col("url_bucket").isin([1, 2]))
    plan = wave._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "url_bucket" in plan

    r = job.run(pages, input_snapshot="snapA")
    assert r["rows_in_output"] == 60


def test_new_snapshot_not_masked_by_old_lineage(spark, tmp_path):
    """ADVICE r1: lineage is keyed by input_snapshot — completions for an
    old snapshot must never anti-join away a NEW snapshot's buckets."""
    out_d, lin_d, met_d = (
        str(tmp_path / "o"), str(tmp_path / "l"), str(tmp_path / "m"),
    )
    job = ExtractionJob(spark, out_d, lin_d, met_d, n_buckets=4)
    pages = spark_pages(spark, 40, partitions=4)

    r1 = job.run(pages, input_snapshot="crawl-2026-01")
    assert r1["buckets_processed"] == 4

    # same lineage dir, NEW snapshot: all 4 buckets are todo again
    r2 = job.run(pages, input_snapshot="crawl-2026-02")
    assert r2["buckets_done_before"] == 0
    assert r2["buckets_processed"] == 4

    # resume of the NEW snapshot sees only its own completions
    r3 = job.run(pages, input_snapshot="crawl-2026-02")
    assert r3["buckets_done_before"] == 4
    assert r3["buckets_processed"] == 0


def test_unreadable_lineage_raises(spark, tmp_path):
    """Only a MISSING lineage table reads as "nothing done": a lineage
    table that exists but cannot be read stops the run instead of
    silently reprocessing every bucket and appending duplicate
    metrics."""
    out_d, lin_d, met_d = (
        str(tmp_path / "o"), str(tmp_path / "l"), str(tmp_path / "m"),
    )
    (tmp_path / "l").mkdir()
    (tmp_path / "l" / "part-00000.parquet").write_bytes(b"not parquet at all")
    job = ExtractionJob(spark, out_d, lin_d, met_d, n_buckets=4)
    with pytest.raises(Exception, match="(?i)parquet"):
        job.run(spark_pages(spark, 8, partitions=2))
    assert not (tmp_path / "o").exists()
    assert not (tmp_path / "m").exists()


def test_passthrough_columns_no_rejoin(spark):
    """Passthrough columns ride the Arrow batch: values match the input
    row-for-row and the plan contains no join."""
    pages = spark_pages(spark, 50, partitions=4)
    out = extract_stage(pages, repartition_to=4, passthrough=("archetype",))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    got = out.select("url", "archetype").toPandas().sort_values("url")
    want = pages.select("url", "archetype").toPandas().sort_values("url")
    assert list(got["archetype"]) == list(want["archetype"])


def test_metrics_wall_ms_sums_batches(spark):
    """wall_ms aggregates ALL of a partition's batches (ADVICE r1: max of
    batch walls understates multi-batch partitions).  With arrow batch
    size forced tiny, each partition sees many batches and wall_ms must be
    >= the max single batch wall."""
    pages = spark_pages(spark, 120, partitions=2)
    # freeze one materialization: batch_wall_ms is wall-clock, so a
    # recompute between the two aggregations would measure different runs
    out = extract_stage(pages, repartition_to=2).localCheckpoint()
    per_batch = (
        out.groupBy("partition_id", "batch_seq")
        .agg(F.max("batch_wall_ms").alias("w"))
        .groupBy("partition_id")
        .agg(F.sum("w").alias("sum_w"), F.max("w").alias("max_w"),
             F.count("*").alias("n_batches"))
        .toPandas()
    )
    m = metrics_from_extracted(out, "t").toPandas().set_index("partition_id")
    for _, row in per_batch.iterrows():
        assert m.loc[row["partition_id"], "wall_ms"] == row["sum_w"]
        assert row["sum_w"] >= row["max_w"]


def test_nonstaged_empty_wave_and_snapshot_isolation(spark, tmp_path):
    """Review findings: (a) stage_input=False with all-empty waves must
    not crash on schema inference; (b) a new snapshot's output and
    metrics are isolated from an old snapshot's partitions."""
    out_d, lin_d, met_d = (
        str(tmp_path / "o"), str(tmp_path / "l"), str(tmp_path / "m"),
    )
    # 32 buckets but only 20 docs: many buckets are empty -> the first
    # wave can be entirely empty in non-staged (range-enumerated) mode
    job = ExtractionJob(spark, out_d, lin_d, met_d, n_buckets=32)
    pages = spark_pages(spark, 20, partitions=2)
    r = job.run(pages, input_snapshot="s1", wave_size=4, stage_input=False)
    assert r["rows_in_output"] == 20
    assert r["buckets_processed"] == 32

    # new snapshot over the same dirs: summary counts ONLY its own rows
    # (append-only metrics history must not leak into the summary), and
    # old-snapshot partitions stay untouched on disk
    r2 = job.run(pages, input_snapshot="s2", wave_size=4, stage_input=False)
    assert r2["buckets_done_before"] == 0
    assert r2["rows_in_output"] == 20
    out = spark.read.parquet(out_d)
    assert out.where(F.col("input_snapshot") == "s1").count() == 20
    assert out.where(F.col("input_snapshot") == "s2").count() == 20


def test_rich_feature_sweep_counts(spark):
    """Round-2 features exercised END-TO-END through the Spark engine on
    the rich-archetype corpus: expected per-archetype footprints (2 grid
    candidates per split_grid doc, 2 bound series per unit_chart doc, one
    direct arrow + one rotated shape per wired_flowchart doc, colors on
    every colored_table doc)."""
    from exstruct_spark.queries import q_extract_rich_features

    pdf = (
        q_extract_rich_features(spark, "unused")
        .toPandas()
        .set_index("archetype")
    )
    assert pdf.loc["colored_table", "tables_with_colors"] == pdf.loc["colored_table", "docs"]
    assert pdf.loc["split_grid", "grid_candidates"] == 2 * pdf.loc["split_grid", "docs"]
    assert pdf.loc["unit_chart", "grid_bound_series"] == 2 * pdf.loc["unit_chart", "docs"]
    assert pdf.loc["wired_flowchart", "direct_arrows"] == pdf.loc["wired_flowchart", "docs"]
    assert pdf.loc["wired_flowchart", "rotated_shapes"] == pdf.loc["wired_flowchart", "docs"]
    # F7 tokenizer path: every script_chart doc parses one inline Chart.js
    # config whose 2 series BOTH bind to the companion grid
    assert pdf.loc["script_chart", "script_charts"] == pdf.loc["script_chart", "docs"]
    assert pdf.loc["script_chart", "grid_bound_series"] == 2 * pdf.loc["script_chart", "docs"]
    # G1 border signal: every bordered_grid doc's ragged layout is caught
    # by the CSS-border mask (structural uniformity alone rejects it)
    assert pdf.loc["bordered_grid", "grid_candidates"] == pdf.loc["bordered_grid", "docs"]
    # third chart dialect (VERDICT r4 #7): every highcharts_chart doc
    # parses its Highcharts.chart config (render callback skipped) and
    # BOTH series bind to the companion grid; orientation normalizes
    # (chart.type 'bar' -> horizontal) inside the kernel tests
    assert pdf.loc["highcharts_chart", "script_charts"] == pdf.loc["highcharts_chart", "docs"]
    assert pdf.loc["highcharts_chart", "grid_bound_series"] == 2 * pdf.loc["highcharts_chart", "docs"]


def test_table_io_format_seam(spark, tmp_path):
    """The Iceberg seam: every ExtractionJob read/write routes through
    TableIO.  parquet (default) roundtrips with partitioning; a non-
    default format string demonstrably reaches Spark's source resolution
    (no Iceberg runtime in this sandbox, so resolution fails BY NAME —
    deploying against a real catalog is a constructor argument)."""
    from exstruct_spark.engine import ExtractionJob, TableIO

    io = TableIO()
    df = spark.range(5).selectExpr("id", "CAST(id % 2 AS INT) AS p")
    io.write(df, str(tmp_path / "t"), "overwrite", partition_by=("p",))
    assert io.read(spark, str(tmp_path / "t")).count() == 5

    # dynamic overwrite routes through the SESSION conf (the only switch
    # DSv2 sources honor) and restores it afterwards (review r3)
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key, None)
    io.write(df, str(tmp_path / "t"), "overwrite",
             partition_by=("p",), dynamic=True)
    assert spark.conf.get(key, None) == before
    assert io.read(spark, str(tmp_path / "t")).count() == 5

    with pytest.raises(Exception, match="iceberg"):
        TableIO("iceberg").read(spark, str(tmp_path / "t")).count()

    job = ExtractionJob(
        spark,
        output_dir=str(tmp_path / "out"),
        lineage_dir=str(tmp_path / "lineage"),
        metrics_dir=str(tmp_path / "metrics"),
        table_format="iceberg",
    )
    assert job.io.format == "iceberg"


def test_yaml_export_sink_roundtrips_job_output(spark, tmp_path):
    """S6 final delta (VERDICT r4 #9): the YAML dialect behind TableIO.
    Export-only by reference parity (save_as_yaml writes, nothing reads
    YAML back — io/__init__.py:159-168): a real job's output exports as
    a multi-document YAML stream that pyyaml round-trips to the same
    rows; reading the dialect back through the seam raises."""
    from exstruct_spark.engine import TableIO

    yaml = pytest.importorskip("yaml")
    job = ExtractionJob(
        spark,
        output_dir=str(tmp_path / "out"),
        lineage_dir=str(tmp_path / "lin"),
        metrics_dir=str(tmp_path / "met"),
        n_buckets=4,
    )
    pages = spark_pages(spark, 20, partitions=2)
    r = job.run(pages)
    assert r["rows_in_output"] == 20

    out = spark.read.parquet(str(tmp_path / "out")).select(
        "url", "status", "n_tables", "main_text", "url_bucket"
    )
    io = TableIO("yaml")
    io.write(out, str(tmp_path / "yaml"), "overwrite",
             partition_by=("url_bucket",))

    import glob
    docs = []
    for f in sorted(glob.glob(str(tmp_path / "yaml" / "**" / "part-*"),
                              recursive=True)):
        with open(f, encoding="utf-8") as fh:
            docs.extend(d for d in yaml.safe_load_all(fh.read()) if d)
    assert len(docs) == 20
    assert {d["url"] for d in docs} == {r["url"] for r in out.collect()}
    # reference dump dialect: unicode verbatim, insertion key order
    assert all(list(d)[0] == "url" for d in docs)

    with pytest.raises(NotImplementedError, match="export-only"):
        io.read(spark, str(tmp_path / "yaml"))


def test_job_runs_end_to_end_on_json_sink(spark, tmp_path):
    """The TableIO seam is real multi-format plumbing, not a docstring:
    the SAME job runs end-to-end with table_format='json' (JSONL sinks —
    the reference's native output family) — output, lineage, metrics and
    resume all flow through the adapter."""
    job = ExtractionJob(
        spark,
        output_dir=str(tmp_path / "out"),
        lineage_dir=str(tmp_path / "lin"),
        metrics_dir=str(tmp_path / "met"),
        n_buckets=4,
        table_format="json",
    )
    pages = spark_pages(spark, 30, partitions=2)
    r1 = job.run(pages)
    assert r1["rows_in_output"] == 30
    # resume: everything already done
    r2 = job.run(pages)
    assert r2["buckets_done_before"] == 4
    assert r2["rows_in_output"] == 30
    # the sink really is JSONL
    import glob
    files = glob.glob(str(tmp_path / "out" / "**" / "*.json"), recursive=True)
    assert files
    import json as _json
    with open(files[0]) as fh:
        rec = _json.loads(fh.readline())
    assert "url" in rec


def test_apply_patch_incremental_refresh(spark, tmp_path):
    """X8 twin (round 4): patch rows replace/add documents and ONLY the
    affected url-hash buckets re-extract — untouched buckets' output
    files are byte-identical afterwards, patched urls carry the new
    content, a brand-new url lands, and resume still sees everything
    done."""
    import glob
    import os

    from exstruct_spark.engine import ExtractionJob

    job = ExtractionJob(
        spark,
        output_dir=str(tmp_path / "out"),
        lineage_dir=str(tmp_path / "lin"),
        metrics_dir=str(tmp_path / "met"),
        n_buckets=8,
    )
    pages = spark_pages(spark, 40, partitions=4)
    r1 = job.run(pages)
    assert r1["rows_in_output"] == 40

    victims = [r["url"] for r in pages.select("url").limit(2).collect()]
    marker = "PATCHED-CONTENT-MARKER"
    patched_html = (
        f"<html><body><main><h1>Patched</h1><p>{marker} content body "
        "paragraph with enough words to count as main text here.</p>"
        "</main></body></html>"
    ).encode()
    patch_rows = (
        pages.where(F.col("url").isin(victims))
        .withColumn("html", F.lit(patched_html))
    )
    new_row = pages.limit(1).select(
        F.lit("https://patch.example/new-doc").alias("url"),
        "warc_ts",
        F.lit(f"<html><body><p>{marker} fresh</p></body></html>".encode())
        .alias("html"),
        "text", "lang", "archetype",
    )
    patch = patch_rows.unionByName(new_row)

    before = {
        f: os.path.getmtime(f)
        for f in glob.glob(str(tmp_path / "out" / "**" / "*.parquet"),
                           recursive=True)
    }
    summary = job.apply_patch(patch, input_snapshot="static")
    assert summary["patched_urls"] == 3
    assert 1 <= len(summary["buckets_refreshed"]) <= 3

    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == 41  # 40 originals (2 replaced in place) + 1 new
    assert out.select("url").distinct().count() == 41
    patched = out.where(F.col("url").isin(victims + [
        "https://patch.example/new-doc"])).toPandas()
    assert len(patched) == 3
    assert all(marker in t for t in patched["main_text"])

    # untouched buckets' files were not rewritten
    refreshed = set(summary["buckets_refreshed"])
    for f, mtime in before.items():
        bucket = int(f.split("url_bucket=")[1].split("/")[0])
        if bucket not in refreshed and os.path.exists(f):
            assert os.path.getmtime(f) == mtime, f

    # resume: nothing to do, row count stable
    r2 = job.run(pages)
    assert r2["buckets_done_before"] == 8
    assert r2["rows_in_output"] == 41

    # patch without a staged snapshot is an explicit error
    with pytest.raises(ValueError, match="no completed staging"):
        job.apply_patch(patch, input_snapshot="never-ran")


def test_apply_cell_edits_end_to_end(spark, tmp_path):
    """X8 residual (round 5): the reference's cell-op family compiled
    onto the bucket-scoped patch refresh.  An op list against one url
    (a) reports per-op applied/skipped statuses, (b) refreshes ONLY
    that url's bucket (other buckets' output files byte-untouched), and
    (c) the refreshed extraction is BYTE-IDENTICAL to a single-process
    application of the same ops + extraction over the same document."""
    import glob
    import json
    import os

    from exstruct_spark.engine import ExtractionJob
    from exstruct_spark.kernels.dom import decode_html_bytes
    from exstruct_spark.kernels.edits import apply_ops
    from exstruct_spark.kernels.extract import extract_document
    from exstruct_spark.pages import spark_rich_pages

    job = ExtractionJob(
        spark,
        output_dir=str(tmp_path / "out"),
        lineage_dir=str(tmp_path / "lin"),
        metrics_dir=str(tmp_path / "met"),
        n_buckets=8,
    )
    pages = spark_rich_pages(spark, 24, partitions=4)
    job.run(pages)

    # victim: a doc with a NATIVE <table> (the edit ops address table
    # elements; aria_grid/div-grid archetypes extract tables but have
    # no <table> markup to splice)
    victim = (
        pages.where(F.col("archetype") == "colored_table")
        .select("url").orderBy("url").limit(1).collect()[0]["url"]
    )
    ops = [
        {"op": "set_value", "table": 0, "row": 1, "col": 0,
         "value": "EDITED-CELL"},
        {"op": "add_row", "table": 0, "row": 1, "values": ["new", 42]},
        {"op": "set_link", "table": 0, "row": 0, "col": 0,
         "href": "/edited?x=1"},
        {"op": "set_fill_color", "table": 0, "row": 0, "col": 0,
         "color": "#ff8800"},
        {"op": "set_value", "table": 99, "row": 0, "col": 0, "value": "x"},
    ]
    before = {
        f: os.path.getmtime(f)
        for f in glob.glob(str(tmp_path / "out" / "**" / "*.parquet"),
                           recursive=True)
    }
    summary = job.apply_cell_edits(
        {victim: ops, "https://nowhere.example/missing": ops[:1]})
    assert summary["op_status"][victim] == [
        "applied", "applied", "applied", "applied", "skipped"]
    assert summary["missing_urls"] == ["https://nowhere.example/missing"]
    assert len(summary["buckets_refreshed"]) == 1
    refreshed = set(summary["buckets_refreshed"])
    for f, mtime in before.items():
        bucket = int(f.split("url_bucket=")[1].split("/")[0])
        if bucket not in refreshed and os.path.exists(f):
            assert os.path.getmtime(f) == mtime, f

    # byte-identity vs single-process application of the same ops
    raw = bytes(
        pages.where(F.col("url") == victim).collect()[0]["html"])
    local_html, local_status = apply_ops(decode_html_bytes(raw), ops)
    assert local_status == summary["op_status"][victim]
    ref = extract_document(victim, local_html.encode("utf-8"), job.opts)
    got = (
        spark.read.parquet(str(tmp_path / "out"))
        .where(F.col("url") == victim).collect()[0]
    )
    assert got["extraction_json"] == ref["extraction_json"]
    assert got["main_text"] == ref["main_text"]
    assert got["text_sha256"] == ref["text_sha256"]
    assert "EDITED-CELL" in got["extraction_json"]
    assert json.loads(got["extraction_json"])["tables"][0]["colors_map"]


def test_apply_cell_edits_sees_joined_sheets(spark, tmp_path):
    """Cell edits address the tables extraction reports under the
    corpus-joined sheets: a table hidden only by a joined sheet is no
    artifact and takes no ``table`` index, so ``set_value(table=0)``
    edits the visible table, not the hidden one."""
    import json

    from exstruct_spark.engine import ExtractionJob, attach_external_css

    page = "https://p.example/page"
    rows = [
        (page, (b"<link rel=stylesheet href='/s.css'><table class=h><tr>"
                b"<td>x</td></tr></table><table><tr><td>a</td></tr>"
                b"</table>")),
        ("https://p.example/s.css", b".h{display:none}"),
    ]
    pages = attach_external_css(
        spark.createDataFrame(rows, "url string, html binary"))
    job = ExtractionJob(
        spark,
        output_dir=str(tmp_path / "out"),
        lineage_dir=str(tmp_path / "lin"),
        metrics_dir=str(tmp_path / "met"),
        n_buckets=2,
    )
    job.run(pages)

    def tables() -> list:
        got = (spark.read.parquet(str(tmp_path / "out"))
               .where(F.col("url") == page).collect()[0])
        return [t["rows"] for t in
                json.loads(got["extraction_json"])["tables"]]

    assert tables() == [[{"r": 1, "c": {"0": "a"}}]]
    summary = job.apply_cell_edits({page: [
        {"op": "set_value", "table": 0, "row": 0, "col": 0,
         "value": "EDITED"}]})
    assert summary["op_status"][page] == ["applied"]
    assert tables() == [[{"r": 1, "c": {"0": "EDITED"}}]]


def test_image_pairs_stage_end_to_end(spark):
    """LAION-style pair mining through the full engine: documents with
    <img alt>/<figure><figcaption> markup -> extract_stage ->
    image_pairs_stage -> (url, src, text, width, height) rows, captions
    preferred over alt, short/missing text filtered, all JVM-side (no
    Python stage beyond the extraction itself)."""
    from exstruct_spark.media import image_pairs_stage

    rows = [
        ("https://x/a",
         b"<html><body>"
         b"<img src='/cat.png' alt='a tabby cat sleeping' width='320'"
         b" height='240'>"
         b"<figure><img src='/dog.jpg' alt='alt text'>"
         b"<figcaption>A dog catching a frisbee</figcaption></figure>"
         b"<img src='/noise.gif' alt='x'>"           # text too short
         b"<img src='/plain.jpg'>"                    # no text at all
         b"<p>body text</p></body></html>"),
        ("https://x/b", b"<html><body><p>no images here</p></body></html>"),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    pairs = image_pairs_stage(extract_stage(df)).orderBy("src").collect()
    assert [(r["src"], r["text"]) for r in pairs] == [
        ("/cat.png", "a tabby cat sleeping"),
        ("/dog.jpg", "A dog catching a frisbee"),
    ]
    assert (pairs[0]["width"], pairs[0]["height"]) == (320, 240)
    assert pairs[1]["width"] is None
    # plan: no Python evaluation beyond the extraction stage itself
    plan = image_pairs_stage(extract_stage(df))._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("ArrowEvalPython") + plan.count("BatchEvalPython") \
        <= 1  # only extract_stage's mapInPandas feeds it


def test_external_css_corpus_join(spark):
    """VERDICT r6 #2 done-criterion: a page whose border/fill signal
    exists ONLY in a separate CSS document in the corpus extracts
    identically to its inline twin, via harvest -> equi-join ->
    extract_stage.  Plan audited: one broadcast
    hash join on the css side, no cartesian product."""
    import json

    from exstruct_spark.engine import attach_external_css

    grid = "".join(
        "<div>" + "".join(f"<div>{v}</div>" for v in row) + "</div>"
        for row in [[7, 8, 9], [1, 2, 3, 4, 5], [4, 5, 6], [2]]
    )
    inline_grid = "".join(
        "<div>" + "".join(
            f"<div style='border:1px solid #888'>{v}</div>" for v in row
        ) + "</div>"
        for row in [[7, 8, 9], [1, 2, 3, 4, 5], [4, 5, 6], [2]]
    )
    css_bytes = (b"div.pricing > div > div { border: 1px solid #888 }\n"
                 b".hl { background-color: #FFEE00 }")
    rows = [
        # signal reachable only through the corpus-joined sheet
        ("https://site.example/page",
         ("<html><head>"
          "<link rel='stylesheet' href='/assets/site.css'>"
          "</head><body><div class='pricing'>" + grid + "</div>"
          "<table><tr><th class='hl'>k</th><th>v</th></tr>"
          "<tr><td>rows</td><td>12</td></tr></table>"
          "</body></html>").encode()),
        # the stylesheet IS a corpus document
        ("https://site.example/assets/site.css", css_bytes),
        # inline twin (no external sheet involved)
        ("https://site.example/twin",
         ("<html><body><div>" + inline_grid + "</div>"
          "<table><tr><th style='background-color:#FFEE00'>k</th>"
          "<th>v</th></tr><tr><td>rows</td><td>12</td></tr></table>"
          "</body></html>").encode()),
        # a page linking a sheet that is NOT in the corpus: no crash,
        # left join yields null external_css
        ("https://other.example/miss",
         b"<html><head><link rel=stylesheet href='gone.css'></head>"
         b"<body><p>hello world text</p></body></html>"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    with_css = attach_external_css(pages)
    out = extract_stage(with_css)
    recs = {r["url"]: r for r in out.collect()}

    ex_page = json.loads(recs["https://site.example/page"]["extraction_json"])
    ex_twin = json.loads(recs["https://site.example/twin"]["extraction_json"])
    kinds = [(t.get("kind"), t.get("signal")) for t in ex_page["tables"]]
    assert ("grid", "border") in kinds
    bordered = ex_page["tables"][kinds.index(("grid", "border"))]
    twin_kinds = [(t.get("kind"), t.get("signal")) for t in ex_twin["tables"]]
    twin_bordered = ex_twin["tables"][twin_kinds.index(("grid", "border"))]
    # identical detection: same grid, same range, same rows
    for key in ("range", "rows", "score"):
        assert bordered.get(key) == twin_bordered.get(key), key
    # the class fill from the external sheet lands in colors_map
    declared = ex_page["tables"][kinds.index((None, None))]
    twin_declared = ex_twin["tables"][twin_kinds.index((None, None))]
    assert declared["colors_map"] == twin_declared["colors_map"] \
        == {"FFEE00": [[1, 0]]}
    # the harvested refs also surface as extraction metadata
    assert ex_page["stylesheets"] == [
        "https://site.example/assets/site.css"]
    # missing sheet: degrades to no external rules, page still extracts
    assert recs["https://other.example/miss"]["status"] == "ok"

    # ONE level of @import chasing (round 7): the imported sheet's
    # zebra rule applies, and the importer's rules outrank the
    # imported sheet's at equal specificity (import ranks earlier).
    # Also covers the multi-sheet Arrow row (a 2-element numpy array
    # used to raise on bool() in rules_from_sheets).
    page2 = ("<html><head><link rel='stylesheet' href='/theme.css'>"
             "</head><body><table id='zt'><tr><th>k</th><th>v</th>"
             "</tr><tr><td>a</td><td>1</td></tr>"
             "<tr><td>b</td><td>2</td></tr></table>"
             "</body></html>").encode()
    theme = b"@import url('base.css');\n#zt th { background: #222 }"
    base = (b"#zt tr:nth-child(even) { background-color: #EEF }\n"
            b"#zt th { background: #999 }")
    rows2 = [("http://s.example/page", page2),
             ("http://s.example/theme.css", theme),
             ("http://s.example/base.css", base)]
    pages2 = spark.createDataFrame(rows2, "url string, html binary")
    rec2 = {r["url"]: r for r in extract_stage(
        attach_external_css(pages2)).collect()}
    ex2 = json.loads(rec2["http://s.example/page"]["extraction_json"])
    assert ex2["tables"][0]["colors_map"] == {
        "222222": [[1, 0], [1, 1]], "EEEEFF": [[2, 0], [2, 1]]}

    # plan audit: broadcast hash join on the css side, no cartesian
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_external_css_media_authority(spark):
    """r7 second-pass review: the Spark-side harvest is a pure
    over-approximation (NO media filtering — a regex over tag text
    can't parse attributes); the kernel's _stylesheet_refs is the
    single authority.  A print-only external sheet is joined but never
    APPLIED; a 'not print' sheet is applied; a sheet referenced from a
    data-media=print link (hostile to regex filters) is applied too."""
    import json

    from exstruct_spark.engine import attach_external_css

    css = b"td { background-color: #FF0000 }"
    good_css = b"td { background-color: #00FF00 }"
    rows = [
        # print-only link: sheet joined, must NOT style the page
        ("https://a.example/print",
         (b"<html><head>"
          b"<link rel='stylesheet' media='print' href='/p.css'>"
          b"</head><body><table><tr><td>x</td><td>y</td></tr>"
          b"</table></body></html>")),
        ("https://a.example/p.css", css),
        # 'not print' link: sheet MUST style the page
        ("https://b.example/np",
         (b"<html><head>"
          b"<link rel='stylesheet' media='not print' href='/n.css'>"
          b"</head><body><table><tr><td>x</td><td>y</td></tr>"
          b"</table></body></html>")),
        ("https://b.example/n.css", good_css),
        # data-media=print is NOT a media attribute: sheet applies
        ("https://c.example/dm",
         (b"<html><head>"
          b"<link rel='stylesheet' data-media='print' href='/d.css'>"
          b"</head><body><table><tr><td>x</td><td>y</td></tr>"
          b"</table></body></html>")),
        ("https://c.example/d.css", good_css),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    out = extract_stage(attach_external_css(pages))
    recs = {r["url"]: json.loads(r["extraction_json"])
            for r in out.collect() if r["url"].startswith("https://")
            and not r["url"].endswith(".css")}

    def colors(url):
        ts = recs[url].get("tables") or []
        return ts[0].get("colors_map") if ts else None

    assert colors("https://a.example/print") is None
    assert colors("https://b.example/np") == {
        "00FF00": [[1, 0], [1, 1]]}
    assert colors("https://c.example/dm") == {
        "00FF00": [[1, 0], [1, 1]]}
    # the authoritative stylesheets field matches what was applied
    assert "stylesheets" not in recs["https://a.example/print"]
    assert recs["https://b.example/np"]["stylesheets"] == [
        "https://b.example/n.css"]


def test_harvest_ignores_commented_base(spark):
    """r7 third-pass review: a commented-out <base href> must not
    shift the harvest's resolved css_url off the kernel's join key —
    the kernel's DOM never sees comments, and a diverged key would
    silently lose the page's styling."""
    import json

    from exstruct_spark.engine import attach_external_css

    rows = [
        ("https://site.example/a/page",
         (b"<html><head>"
          b"<!-- <base href='https://cdn.example/'> -->"
          b"<link rel='stylesheet' href='s.css'>"
          b"</head><body><table><tr><td>x</td><td>y</td></tr>"
          b"</table></body></html>")),
        ("https://site.example/a/s.css",
         b"td { background-color: #00FF00 }"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    out = extract_stage(attach_external_css(pages))
    rec = {r["url"]: r for r in out.collect()}[
        "https://site.example/a/page"]
    ex = json.loads(rec["extraction_json"])
    assert ex["stylesheets"] == ["https://site.example/a/s.css"]
    assert ex["tables"][0]["colors_map"] == {
        "00FF00": [[1, 0], [1, 1]]}


def test_harvest_base_candidates_cover_dom_divergence(spark):
    """r7 fourth-pass review: the harvest resolves every link under
    comment-stripped, raw and no-base interpretations, so the join key
    always includes the kernel's DOM resolution — (a) an UNTERMINATED
    comment hiding a base (DOM: comment-to-EOF), (b) '<!--' inside
    script raw text followed by a REAL base (DOM honors the base, a
    naive strip would eat it)."""
    import json

    from exstruct_spark.engine import attach_external_css

    rows = [
        # (a) unterminated comment at the tail hiding a base: the DOM
        # comments it to EOF, so the kernel resolves against the page
        # URL — the harvest's stripped candidate must agree
        ("https://u.example/a/page",
         (b"<html><head>"
          b"<link rel='stylesheet' href='s.css'>"
          b"</head><body><table><tr><td>x</td><td>y</td></tr>"
          b"</table></body></html>"
          b"<!-- <base href='https://cdn.example/'>")),
        ("https://u.example/a/s.css",
         b"td { background-color: #00FF00 }"),
        # (b) '<!--' in script text, real base after it: kernel
        # honors the base
        ("https://v.example/b/page",
         (b"<html><head>"
          b"<script>var x = 1 <!-- 2;</script>"
          b"<base href='https://vcdn.example/css/'>"
          b"<link rel='stylesheet' href='t.css'>"
          b"</head><body><table><tr><td>x</td><td>y</td></tr>"
          b"</table></body><!-- tail --></html>")),
        ("https://vcdn.example/css/t.css",
         b"td { background-color: #0000FF }"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    out = extract_stage(attach_external_css(pages))
    recs = {r["url"]: json.loads(r["extraction_json"])
            for r in out.collect()}
    a = recs["https://u.example/a/page"]
    assert a["stylesheets"] == ["https://u.example/a/s.css"]
    assert a["tables"][0]["colors_map"] == {
        "00FF00": [[1, 0], [1, 1]]}
    b = recs["https://v.example/b/page"]
    assert b["stylesheets"] == ["https://vcdn.example/css/t.css"]
    assert b["tables"][0]["colors_map"] == {
        "0000FF": [[1, 0], [1, 1]]}


def test_harvest_entity_decode_and_script_base(spark):
    """r7 fifth-pass review pins: (a) href entities decode like the
    kernel's attr parser (&amp; query strings join); (b) a fake
    '<base' inside script raw text must not shadow the document's
    real <base> for the join key."""
    import json

    from exstruct_spark.engine import attach_external_css

    rows = [
        # (a) &amp; in the href
        ("https://e.example/p",
         (b"<html><head>"
          b"<link rel='stylesheet' href='s.css?a=1&amp;b=2'>"
          b"</head><body><table><tr><td>x</td><td>y</td></tr>"
          b"</table></body></html>")),
        ("https://e.example/s.css?a=1&b=2",
         b"td { background-color: #00FF00 }"),
        # (b) fake base inside script text, real base after it
        ("https://f.example/p",
         (b"<html><head>"
          b"<script>document.write(\"<base href='https://fake/'>\")"
          b"</script>"
          b"<base href='https://realcdn.example/css/'>"
          b"<link rel='stylesheet' href='t.css'>"
          b"</head><body><table><tr><td>x</td><td>y</td></tr>"
          b"</table></body></html>")),
        ("https://realcdn.example/css/t.css",
         b"td { background-color: #0000FF }"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    out = extract_stage(attach_external_css(pages))
    recs = {r["url"]: json.loads(r["extraction_json"])
            for r in out.collect()}
    a = recs["https://e.example/p"]
    assert a["stylesheets"] == ["https://e.example/s.css?a=1&b=2"]
    assert a["tables"][0]["colors_map"] == {
        "00FF00": [[1, 0], [1, 1]]}
    b = recs["https://f.example/p"]
    assert b["stylesheets"] == ["https://realcdn.example/css/t.css"]
    assert b["tables"][0]["colors_map"] == {
        "0000FF": [[1, 0], [1, 1]]}


def test_harvest_attr_parity_with_kernel(spark):
    """r7 sixth-pass review pins: the harvest parses tags with the
    KERNEL's attr parser, so (a) data-href does not shadow href, (b) a
    quoted href inside another attribute's value is not extracted,
    (c) a quoted base href with a space resolves un-truncated, (d) a
    non-standard close like '</script x>' ends raw text where the DOM
    tokenizer does."""
    import json

    from exstruct_spark.engine import attach_external_css

    rows = [
        # (a)+(b): decoys before/around the real href
        ("https://g.example/p",
         (b"<html><head>"
          b"<link rel=\"stylesheet\" data-href=\"decoy1.css\" "
          b"href='real.css' data-x='see href=\"decoy2.css\" there'>"
          b"</head><body><table><tr><td>x</td><td>y</td></tr>"
          b"</table></body></html>")),
        ("https://g.example/real.css",
         b"td { background-color: #00FF00 }"),
        # (c): quoted base href containing a space
        ("https://h.example/p",
         (b"<html><head>"
          b"<base href=\"https://hcdn.example/my dir/\">"
          b"<link rel='stylesheet' href='t.css'>"
          b"</head><body><table><tr><td>x</td><td>y</td></tr>"
          b"</table></body></html>")),
        ("https://hcdn.example/my dir/t.css",
         b"td { background-color: #0000FF }"),
        # (d): '</script x>' closes the script for the DOM; the fake
        # base inside the script must not shadow the real one
        ("https://i.example/p",
         (b"<html><head>"
          b"<script>var s = \"<base href='https://fake/'>\" </script x>"
          b"<base href='https://icdn.example/css/'>"
          b"<link rel='stylesheet' href='u.css'>"
          b"</head><body><table><tr><td>x</td><td>y</td></tr>"
          b"</table></body></html>")),
        ("https://icdn.example/css/u.css",
         b"td { background-color: #FF8800 }"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    out = extract_stage(attach_external_css(pages))
    recs = {r["url"]: json.loads(r["extraction_json"])
            for r in out.collect()}
    assert recs["https://g.example/p"]["tables"][0]["colors_map"] == {
        "00FF00": [[1, 0], [1, 1]]}
    assert recs["https://h.example/p"]["tables"][0]["colors_map"] == {
        "0000FF": [[1, 0], [1, 1]]}
    assert recs["https://i.example/p"]["tables"][0]["colors_map"] == {
        "FF8800": [[1, 0], [1, 1]]}


def test_inline_style_import_corpus_join(spark):
    """Round 7 late: a border/fill signal reachable ONLY through an
    inline <style> @import of a corpus CSS document detects like its
    inline twin; an @import after a rule (browser-ignored) and a
    print-media @import do NOT apply."""
    import json

    from exstruct_spark.engine import attach_external_css

    rows = [
        ("https://j.example/p",
         (b"<html><head><style>"
          b"@import url('theme.css');"
          b"@import url('printonly.css') print;"
          b"</style>"
          b"<style>td{color:#000} @import url('late.css');</style>"
          b"</head><body><table><tr><td>x</td><td>y</td></tr>"
          b"</table></body></html>")),
        ("https://j.example/theme.css",
         b"td { background-color: #00FF00 }"),
        ("https://j.example/printonly.css",
         b"td { background-color: #FF0000 }"),
        ("https://j.example/late.css",
         b"td { background-color: #123456 }"),
    ]
    pages = spark.createDataFrame(rows, "url string, html binary")
    out = extract_stage(attach_external_css(pages))
    rec = {r["url"]: r for r in out.collect()}["https://j.example/p"]
    ex = json.loads(rec["extraction_json"])
    assert ex["stylesheets"] == ["https://j.example/theme.css"]
    assert ex["tables"][0]["colors_map"] == {
        "00FF00": [[1, 0], [1, 1]]}


def _first_table_colors(spark, rows, url):
    """``colors_map`` of the first table of ``url`` after the corpus
    CSS join and extraction of ``rows`` (None when it has none)."""
    import json

    from exstruct_spark.engine import attach_external_css

    pages = spark.createDataFrame(rows, "url string, html binary")
    out = extract_stage(attach_external_css(pages))
    rec = {r["url"]: r for r in out.collect()}[url]
    ex = json.loads(rec["extraction_json"])
    return ex, (ex.get("tables") or [{}])[0].get("colors_map")


_TWO_CELLS = (b"<body><table><tr><td>x</td><td>y</td></tr>"
              b"</table></body></html>")


def test_linked_sheet_print_import_not_applied(spark):
    """A joined sheet's @import with a print media tail never styles the
    page (the kernel's top-of-sheet rule, as for <style> blocks); the
    sheet's own rules do."""
    rows = [
        ("https://k.example/p",
         b"<html><head><link rel='stylesheet' href='main.css'></head>"
         + _TWO_CELLS),
        ("https://k.example/main.css",
         b"@import url('pr.css') print;\n"
         b"td { background-color: #00FF00 }"),
        ("https://k.example/pr.css",
         b"table td { background-color: #FF0000 }"),
    ]
    _, colors = _first_table_colors(spark, rows, "https://k.example/p")
    assert colors == {"00FF00": [[1, 0], [1, 1]]}


def test_linked_sheet_late_import_not_applied(spark):
    """A joined sheet's @import after another rule is ignored, as a
    browser ignores it."""
    rows = [
        ("https://m.example/p",
         b"<html><head><link rel='stylesheet' href='main.css'></head>"
         + _TWO_CELLS),
        ("https://m.example/main.css",
         b"td{color:#000} @import url('late.css');\n"
         b"td { background-color: #00FF00 }"),
        ("https://m.example/late.css",
         b"table td { background-color: #123456 }"),
    ]
    _, colors = _first_table_colors(spark, rows, "https://m.example/p")
    assert colors == {"00FF00": [[1, 0], [1, 1]]}


def test_latin1_page_link_joins(spark):
    """A latin-1 page's non-ASCII href is decoded as extraction decodes
    it, so the listed sheet is the joined and applied one."""
    page = ("<html><head><link rel=stylesheet href='caf\xe9.css'>"
            "</head>").encode("latin-1") + _TWO_CELLS
    rows = [
        ("https://l.example/p", page),
        ("https://l.example/caf\xe9.css",
         b"td { background-color: #00FF00 }"),
    ]
    ex, colors = _first_table_colors(spark, rows, "https://l.example/p")
    assert ex["stylesheets"] == ["https://l.example/caf\xe9.css"]
    assert colors == {"00FF00": [[1, 0], [1, 1]]}


def test_utf16_bom_page_link_joins(spark):
    """A UTF-16LE page with a byte-order mark gets its linked sheet."""
    page = b"\xff\xfe" + (
        "<html><head><link rel=stylesheet href='w.css'></head>"
        "<body><table><tr><td>x</td><td>y</td></tr></table>"
        "</body></html>").encode("utf-16-le")
    rows = [
        ("https://w.example/p", page),
        ("https://w.example/w.css", b"td { background-color: #00FF00 }"),
    ]
    ex, colors = _first_table_colors(spark, rows, "https://w.example/p")
    assert ex["stylesheets"] == ["https://w.example/w.css"]
    assert colors == {"00FF00": [[1, 0], [1, 1]]}


def test_lone_surrogate_page_through_extract_stage(spark):
    """A page whose ld+json holds a lone surrogate escape (``\\ud800``,
    no UTF-8 form) goes through the Arrow hand-off of ``extract_stage``
    as an ok record carrying U+FFFD, byte-identical to in-process
    ``extract_document``."""
    from exstruct_spark.kernels.extract import extract_document

    url = "https://s.example/ld"
    page = ("<script type='application/ld+json'>{\"@type\": \"Thing\","
            " \"name\": \"a\\ud800b\"}</script><p>Enough visible words"
            " for a content block here.</p>").encode()
    pages = spark.createDataFrame([(url, page)], "url string, html binary")
    got = extract_stage(pages).select(*GOLDEN_COLUMNS).collect()[0].asDict()
    want = extract_document(url, page)
    assert got["status"] == "ok"
    assert "a\ufffdb" in got["extraction_json"]
    assert got == {k: want[k] for k in GOLDEN_COLUMNS}


def test_local_workers_carry_no_jar_importers(spark):
    """Under ``spark_daemon`` a worker's ``importlib.invalidate_caches()``
    (run per task) has no jar central directory to re-read."""
    def probe(_):
        import sys
        import zipimport

        yield ([p for p in sys.path if p.endswith(".jar")],
               [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter) and ".jar" in k])

    rows = spark.sparkContext.parallelize(range(4), 4).mapPartitions(
        probe).collect()
    assert rows == [([], [])] * 4
