"""Spark end-to-end tests: golden e2e, dedup window, resume, parallelism
invariance (SURVEY.md §5.2 items 1/3/5)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F, Window as W

from docling_api_spark.config import ExtractConfig
from docling_api_spark.operators.convert import convert_one, make_convert_fn
from docling_api_spark.plans import manifest as mf
from docling_api_spark.plans.pipeline import (
    add_partition_id, extract_df, map_tasks, run_extraction, scan_bytes)
from docling_api_spark.sources.corpus import (
    FIXTURE_CLASSES, corpus_df, huge_page, make_corpus, make_url,
    md_passthrough, pdf_text_multipage)

CFG = ExtractConfig(num_partitions=8)


@pytest.fixture(scope="module")
def pages(spark):
    return corpus_df(spark, 72, dup_fraction=16).cache()


def test_e2e_golden(spark, pages):
    out = extract_df(pages, CFG).collect()
    by_url = {}
    for r in out:
        by_url.setdefault(r.url, []).append(r)
    n = 0
    for i in range(72):
        fx = FIXTURE_CLASSES[i % len(FIXTURE_CLASSES)](i)
        url = make_url(fx.name, i, fx.ext)
        assert url in by_url
        for r in by_url[url]:
            if fx.golden is not None:
                assert r.markdown == fx.golden, (url, r.markdown, fx.golden)
            if fx.error:
                assert r.error == fx.error
            assert r.fmt == fx.fmt
            n += 1
    assert n >= 72


def test_errors_are_rows_not_exceptions(spark, pages):
    out = extract_df(pages, CFG)
    total = out.count()
    assert total == pages.count()  # no row lost, no job death
    errs = out.where(F.col("error").isNotNull())
    codes = {r.error for r in errs.select("error").distinct().collect()}
    assert codes <= {"unsupported_format", "decode_error", "parse_error",
                     "pdf_unsupported_feature", "ocr_not_supported",
                     "empty_document"}
    assert "unsupported_format" in codes
    assert "ocr_not_supported" in codes


def test_dedup_window_latest_capture(spark, pages):
    # keep-latest-capture per url (SURVEY.md Table B window row)
    w = W.partitionBy("url").orderBy(F.col("warc_ts").desc())
    latest = (pages.withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") == 1).drop("rn"))
    assert latest.count() == pages.select("url").distinct().count()


def test_parallelism_invariance(spark, pages):
    """Byte-identical output irrespective of partitioning (north_rule
    determinism across cluster sizes)."""
    a = extract_df(pages, ExtractConfig(num_partitions=2))
    b = extract_df(pages, ExtractConfig(num_partitions=16))
    ka = sorted((r.url, str(r.warc_ts), r.markdown, r.error,
                 str(r.images), str(r.spans))
                for r in a.collect())
    kb = sorted((r.url, str(r.warc_ts), r.markdown, r.error,
                 str(r.images), str(r.spans))
                for r in b.collect())
    assert ka == kb


def test_partition_id_stable(spark, pages):
    df1 = add_partition_id(pages, 8).select("url", "partition_id")
    df2 = add_partition_id(pages.repartition(3), 8).select("url", "partition_id")
    assert sorted(map(tuple, df1.collect())) == sorted(map(tuple, df2.collect()))


@pytest.mark.parametrize("mode", ["file", "salted"])
def test_run_and_resume(spark, pages, tmp_path, mode):
    """Kill-after-K test (SURVEY.md §5.2 item 5), in BOTH partition modes:
    first run fails on 3 of 8 partitions (injected), resume recomputes
    exactly those, final output is byte-equal to a single-shot run."""
    cfg = ExtractConfig(num_partitions=8, partition_mode=mode)
    out_a = str(tmp_path / "single_shot")
    res_a = run_extraction(spark, pages, out_a, "runA", cfg, resume=False)
    assert res_a.partitions_computed == 8

    out_b = str(tmp_path / "resumed")
    fail_cfg = ExtractConfig(num_partitions=8, partition_mode=mode,
                             fail_partitions=frozenset({5, 6, 7}))
    with pytest.raises(Exception):
        run_extraction(spark, pages, out_b, "runB", fail_cfg, resume=True)
    # simulate the partial commit a killed cluster run leaves behind:
    # write only the completed partitions' results + manifest rows
    partial = (extract_df(pages, cfg)
               .where(~F.col("partition_id").isin([5, 6, 7])))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    partial.write.mode("overwrite").partitionBy("partition_id").parquet(out_b)
    done_ids = [r.partition_id for r in
                partial.select("partition_id").distinct().collect()]
    mf.append_manifest(spark, out_b + "_manifest", "runB", done_ids)

    res_b = run_extraction(spark, pages, out_b, "runB", cfg, resume=True)
    assert res_b.partitions_computed == 8 - len(done_ids)
    assert mf.manifest_status(spark, out_b + "_manifest", "runB", 8) == "SUCCESS"

    a = sorted((r.url, str(r.warc_ts), r.markdown, r.error)
               for r in spark.read.parquet(out_a).collect())
    b = sorted((r.url, str(r.warc_ts), r.markdown, r.error)
               for r in spark.read.parquet(out_b).collect())
    assert a == b


def _plan_str(df) -> str:
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture
def split_pages(spark, pages, tmp_path):
    """The corpus as 8 parquet files read at one scan split per file, as
    a directory of hundreds of small files would be: with the split cap
    at the per-file open cost (4 MiB) no two files fit in one split.
    Spark otherwise packs 8 small files into about one split per slot,
    and the coalesce would have nothing to narrow."""
    inp = str(tmp_path / "pages_in")
    pages.repartition(8).write.mode("overwrite").parquet(inp)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, spark.conf.get("spark.sql.files.openCostInBytes"))
    try:
        yield spark.read.parquet(inp)
    finally:
        spark.conf.set(key, old)


def test_file_mode_no_shuffle_plan(spark, split_pages):
    """The scale contract of the default mode: extraction is ONE map stage —
    no Exchange anywhere in the plan (at 100 TB a pre-extraction shuffle
    moves 100 TB of page bytes) — and a small scan of many splits runs
    as at most one Python task per slot."""
    slots = spark.sparkContext.defaultParallelism
    assert split_pages.rdd.getNumPartitions() >= 8 > slots
    out = extract_df(split_pages, ExtractConfig(num_partitions=8))
    assert "Exchange" not in _plan_str(out), _plan_str(out)
    assert out.rdd.getNumPartitions() <= slots
    # salted mode keeps its (opt-in) repartition and is not coalesced
    salted = extract_df(split_pages, ExtractConfig(num_partitions=8,
                                                   partition_mode="salted"))
    assert "Exchange" in _plan_str(salted)
    assert salted.rdd.getNumPartitions() == 8


def test_coalesce_keeps_file_partition_ids(spark, split_pages):
    """partition_id is computed per scan split before the coalesce: every
    url keeps the id its own input file gives it on the un-coalesced
    scan."""
    cfg = ExtractConfig(num_partitions=8)
    want = add_partition_id(split_pages, 8, "file") \
        .select("url", "warc_ts", "partition_id").collect()
    assert len({r.partition_id for r in want}) > 1
    out = extract_df(split_pages, cfg)
    assert out.rdd.getNumPartitions() < split_pages.rdd.getNumPartitions()
    got = out.select("url", "warc_ts", "partition_id").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_map_task_sizing_rule(spark, split_pages):
    """One Python task per slot for a small scan, one per split size for
    a large one, and no coalesce when the input size is unknown."""
    mib = 2**20
    assert map_tasks(0, 4, 128 * mib) == 4
    assert map_tasks(4 * 128 * mib, 4, 128 * mib) == 4
    assert map_tasks(10 * 128 * mib + 1, 4, 128 * mib) == 11
    assert map_tasks(None, 4, 128 * mib) is None
    # the scan size comes from plan statistics, with no Spark job
    sc = spark.sparkContext
    sc.setJobGroup("scan-bytes", "scan-bytes")
    try:
        nbytes = scan_bytes(split_pages)
        unknown = scan_bytes(corpus_df(spark, 4))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("scan-bytes") == []
    assert nbytes > 0 and unknown is None
    # an in-memory input of unknown size is not coalesced
    mem = corpus_df(spark, 16).repartition(8)
    assert extract_df(mem, CFG).rdd.getNumPartitions() == 8


@pytest.mark.parametrize("per_split", [6, 64])
def test_lowered_split_size_honoured(spark, split_pages, per_split):
    """The bytes per task follow the session's maxPartitionBytes: lowered
    to a sixth of the scan it gives more tasks than slots, and at a 64th
    the scan (then above slots × split size) keeps about its own split
    count — at most each file's last, partial split is merged."""
    slots = spark.sparkContext.defaultParallelism
    nbytes = scan_bytes(split_pages)
    split = nbytes // per_split
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(split))
    try:
        scan = spark.read.parquet(*split_pages.inputFiles())
        want = min(map_tasks(nbytes, slots, split),
                   scan.rdd.getNumPartitions())
        got = extract_df(scan, CFG).rdd.getNumPartitions()
    finally:
        spark.conf.set(key, old)
    assert want > slots
    assert got == want
    if per_split == 64:
        files = len(split_pages.inputFiles())
        assert got >= scan.rdd.getNumPartitions() - files


def test_parse_ms_per_row():
    """parse_ms is each document's own conversion time, not the batch
    average copied to every row."""
    rows = make_corpus(3, classes=[md_passthrough, huge_page,
                                   pdf_text_multipage], dup_fraction=0)
    batch = pd.DataFrame({
        "url": [r[0] for r in rows], "warc_ts": [r[1] for r in rows],
        "html": [r[2] for r in rows], "lang": [r[4] for r in rows],
        "partition_id": [0] * len(rows)})
    out, = make_convert_fn(CFG)(iter([batch]))
    ms = list(out["parse_ms"])
    assert len(set(ms)) == len(ms)
    assert ms[1] > ms[0]            # a ~1 MB page against a short md doc


def test_file_mode_resume_file_keyed(spark, pages, tmp_path):
    """Resume with file-keyed ids on a real file-backed input: kill-after-K
    simulated by a partial commit; the resumed run recomputes exactly the
    missing ids and the final output is byte-equal to a single shot."""
    inp = str(tmp_path / "pages_files")
    pages.repartition(4).write.mode("overwrite").parquet(inp)
    fpages = spark.read.parquet(inp)
    cfg = ExtractConfig(num_partitions=8)  # partition_mode="file" default

    out_a = str(tmp_path / "fs_single")
    res_a = run_extraction(spark, fpages, out_a, "runF", cfg, resume=False)
    all_ids = sorted(r.partition_id for r in spark.read.parquet(out_a)
                     .select("partition_id").distinct().collect())
    assert res_a.partitions_computed == len(all_ids)
    assert 1 <= len(all_ids) <= 8  # 4 files -> <=4 distinct file-hash ids
    assert len(all_ids) > 1

    # partial commit: half the ids done, manifest records them
    done_ids = all_ids[: len(all_ids) // 2]
    out_b = str(tmp_path / "fs_resumed")
    partial = (extract_df(fpages, cfg)
               .where(F.col("partition_id").isin(done_ids)))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    partial.write.mode("overwrite").partitionBy("partition_id").parquet(out_b)
    mf.append_manifest(spark, out_b + "_manifest", "runF", done_ids)

    res_b = run_extraction(spark, fpages, out_b, "runF", cfg, resume=True)
    assert res_b.partitions_computed == len(all_ids) - len(done_ids)
    a = sorted((r.url, str(r.warc_ts), r.markdown, r.error)
               for r in spark.read.parquet(out_a).collect())
    b = sorted((r.url, str(r.warc_ts), r.markdown, r.error)
               for r in spark.read.parquet(out_b).collect())
    assert a == b


def test_salted_mode_balances_skewed_layout(spark, tmp_path):
    """The salted opt-in's reason to exist: an input whose LAYOUT is
    pathological (everything in one file) still spreads uniformly over
    partition ids, because the key is a url hash, not the layout."""
    from docling_api_spark.sources.pages import pages_from_documents
    inp = str(tmp_path / "one_file")
    pages_from_documents(spark, "/root/testdata/sf0.001") \
        .repartition(1).write.mode("overwrite").parquet(inp)
    one = spark.read.parquet(inp)
    out = extract_df(one, ExtractConfig(num_partitions=8,
                                        partition_mode="salted"))
    counts = {r.partition_id: r.n for r in
              out.groupBy("partition_id").agg(F.count("*").alias("n"))
              .collect()}
    assert len(counts) == 8                      # every id populated
    mean = sum(counts.values()) / len(counts)
    assert max(counts.values()) <= 2 * mean      # no id dominates
    # file mode on the same input: all rows share the single file's id
    fcounts = extract_df(one, ExtractConfig(num_partitions=8)) \
        .select("partition_id").distinct().count()
    assert fcounts == 1


def test_scan_pushdown(spark, pages, tmp_path):
    """Filters and projections must reach the parquet reader (PLANS.md §5)
    — a scan that reads all columns for a 2-column projection is wrong."""
    inp = str(tmp_path / "pages_pd")
    pages.write.mode("overwrite").parquet(inp)
    df = (spark.read.parquet(inp)
          .where(F.col("lang") == "en").select("url", "lang"))
    plan = _plan_str(df)
    assert "PushedFilters" in plan and "EqualTo(lang,en)" in plan, plan
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "html" not in read_schema and "warc_ts" not in read_schema


def test_metrics_lineage(spark, pages, tmp_path):
    out = str(tmp_path / "with_metrics")
    run_extraction(spark, pages, out, "runM", CFG, resume=False)
    met = spark.read.parquet(out + "_metrics")
    rows = met.collect()
    assert {r.partition_id for r in rows} == set(range(8))
    total_docs = sum(r.docs for r in rows)
    assert total_docs == pages.count()
    errs = sum(r.n_errors for r in rows)
    assert errs > 0
    hist = {}
    for r in rows:
        for k, v in (r.failure_codes or {}).items():
            hist[k] = hist.get(k, 0) + v
    assert sum(hist.values()) == errs


def test_huge_page_skew_class(spark):
    """The ~1 MB page class flows through Arrow batching unharmed."""
    from docling_api_spark.sources.corpus import huge_page
    rows = make_corpus(4, classes=[huge_page], dup_fraction=0)
    from docling_api_spark.schemas import PAGES_SCHEMA
    df = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    out = extract_df(df, ExtractConfig(num_partitions=4)).collect()
    assert len(out) == 4
    assert all(r.error is None and len(r.markdown) > 100_000 for r in out)


def test_job_cli_main(spark, tmp_path):
    """The spark-submit entry point end-to-end (in-process: getOrCreate
    reuses the test session). The real spark-submit --py-files launch is
    exercised in BENCH/verify runs."""
    from docling_api_spark import job
    from docling_api_spark.sources.pages import pages_from_documents

    inp = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    pages_from_documents(spark, "/root/testdata/sf0.001").limit(100) \
        .write.mode("overwrite").parquet(inp)
    job.main(["--input", inp, "--output", out,
              "--run-id", "t-cli", "--partitions", "8"])
    got = spark.read.parquet(out)
    assert got.count() == 100
    # file mode: one manifest row per distinct file-hash id (the input here
    # is a handful of parquet files, so fewer than the width of 8)
    n_ids = got.select("partition_id").distinct().count()
    assert spark.read.parquet(out + "_manifest").count() == n_ids

    # file-mode-aware status (r3 advice fix): fewer files than the width
    # of 8 means fewer ids than 8 — the raw width-based poll would sit at
    # IN_PROGRESS forever on this completed run; job_status derives the
    # expected count from the input and reports SUCCESS
    inp_pages = spark.read.parquet(inp)
    cfg = ExtractConfig(num_partitions=8)
    assert 0 < n_ids < 8
    assert mf.expected_partition_count(inp_pages, cfg) == n_ids
    assert mf.manifest_status(spark, out + "_manifest", "t-cli", 8) \
        == "IN_PROGRESS"
    assert mf.job_status(spark, out + "_manifest", "t-cli",
                         inp_pages, cfg) == "SUCCESS"
    # the CLI poll surface prints the same verdict
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        job.main(["--input", inp, "--output", out,
                  "--run-id", "t-cli", "--partitions", "8", "--status"])
    assert "status=SUCCESS" in buf.getvalue()
