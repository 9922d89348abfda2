"""The traced run: spans around every call into a layer, Spark's own stage
metrics, and the layer ladder.

Spans are recorded by wrappers this module installs on the engine's
public functions and on the Spark actions they run; the engine itself
is not edited. Each span is ``(name, start, end, parent, run_id)``; they
stay in memory and are written out with the run's record at the end.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
import urllib.request

from . import workloads as W

# ------------------------------------------------------------------ spans


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self.on = False
        #: layers entered since the last :meth:`new_unit`
        self.entered: set = set()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.perf_counter(),
                           "end": None,
                           "parent": self._stack[-1] if self._stack else None,
                           "run_id": self.run_id})
        self._stack.append(idx)
        self.entered.add(name)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str, on_return=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*a, **kw):
            with tracer.span(name):
                out = orig(*a, **kw)
            if on_return is not None and tracer.on:
                on_return(out)
            return out

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def new_unit(self) -> None:
        self.entered = set()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_times(self) -> dict[str, float]:
        """Seconds per span name minus the time of its child spans."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + \
                    (s["end"] - s["start"]) - child[i]
        return out

    def layer_self_times(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for name, v in self.self_times().items():
            layer = name.split(".")[0]
            out[layer] = out.get(layer, 0.0) + v
        return out


def instrument_layers(tracer: Tracer) -> dict:
    """Wrap the layer boundaries this process calls into. → what the
    wrappers capture on the way (the LSH candidate frames, counted for
    ``dedup.candidates``)."""
    from pyspark.sql import DataFrame, DataFrameWriter

    from docling_api_spark.operators import dedup, similarity
    from docling_api_spark.plans import manifest, pipeline
    from docling_api_spark.sources import pages

    captured: dict = {"lsh": []}
    tracer.wrap(pages, "read_pages", "sources.read_pages")
    tracer.wrap(pipeline, "extract_df", "pipeline.extract_df")
    tracer.wrap(pipeline, "run_extraction", "pipeline.run_extraction")
    for fn in ("read_done_partitions", "anti_join_done", "append_manifest"):
        tracer.wrap(manifest, fn, f"manifest.{fn}")
    tracer.wrap(dedup, "dedup_near_pipeline", "dedup.near_pipeline")
    tracer.wrap(dedup, "dedup_minhash_lsh", "dedup.minhash_lsh",
                on_return=captured["lsh"].append)
    tracer.wrap(dedup, "substring_dedup", "dedup.substring")
    tracer.wrap(similarity, "dedup_embedding_cosine",
                "similarity.embedding_cosine")
    tracer.wrap(similarity, "semdedup", "similarity.semdedup")
    tracer.wrap(similarity, "ivf_train_cached", "similarity.ivf_train")
    for fn in ("collect", "count", "localCheckpoint"):
        tracer.wrap(DataFrame, fn, f"spark.{fn}")
    for fn in ("parquet", "save"):
        tracer.wrap(DataFrameWriter, fn, f"spark.write_{fn}")
    return captured


# ------------------------------------------------------- spark stage data

def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def stage_metrics(spark, group: str) -> dict:
    """Task and executor metrics of every stage the jobs of ``group``
    ran, from Spark's status tracker and its REST API."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    stage_ids = set()
    for j in st.getJobIdsForGroup(group):
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    api = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    durs: list[float] = []
    tot = {"tasks": 0, "run_ms": 0.0, "cpu_ns": 0.0, "gc_ms": 0.0,
           "shuffle_write": 0.0}
    for sid in sorted(stage_ids):
        attempts = []
        for _ in range(50):   # the listener bus trails the action
            try:
                attempts = _get(f"{api}/stages/{sid}")
            except OSError:
                attempts = []
            if attempts and all(a["status"] in ("COMPLETE", "SKIPPED",
                                                "FAILED")
                                for a in attempts):
                break
            time.sleep(0.1)
        for a in attempts:
            if a["status"] != "COMPLETE":
                continue
            tot["tasks"] += a["numCompleteTasks"]
            tot["run_ms"] += a["executorRunTime"]
            tot["cpu_ns"] += a["executorCpuTime"]
            tot["gc_ms"] += a["jvmGcTime"]
            tot["shuffle_write"] += a["shuffleWriteBytes"]
            tasks = _get(f"{api}/stages/{sid}/{a['attemptId']}/taskList"
                         f"?length=100000")
            durs += [t["duration"] for t in tasks if "duration" in t]
    return {
        "spark.tasks": tot["tasks"],
        "spark.task_ms_p50": statistics.median(durs) if durs else 0.0,
        "spark.task_ms_max": max(durs, default=0.0),
        "spark.executor_run_s": tot["run_ms"] / 1e3,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9,
        "spark.gc_s": tot["gc_ms"] / 1e3,
        "spark.shuffle_write_mb": tot["shuffle_write"] / 2**20,
    }


def map_tasks(spark, group: str) -> int:
    st = spark.sparkContext.statusTracker()
    n = 0
    for j in st.getJobIdsForGroup(group):
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            s = st.getStageInfo(sid)
            n += s.numTasks if s else 0
    return n


# ------------------------------------------------------------ the ladder

def passthrough(batches):
    """L1: RESULT-schema rows with no extraction."""
    import pandas as pd
    for pdf in batches:
        n = len(pdf)
        none = pd.Series([None] * n, dtype="object", index=pdf.index)
        yield pd.DataFrame({
            "url": pdf["url"], "warc_ts": pdf["warc_ts"],
            "lang": pdf["lang"], "fmt": none, "markdown": none,
            "images": none, "spans": none, "error": none,
            "bytes_in": pdf["html"].map(len).astype("int64"),
            "bytes_out": pd.Series([0] * n, dtype="int64", index=pdf.index),
            "parse_ms": pd.Series([0.0] * n, index=pdf.index),
            "partition_id": pdf["partition_id"].astype("int32"),
        })


def _count_batches(acc, fn):
    """``fn`` with every Arrow batch it receives counted in ``acc``."""
    def counted(batches):
        def each():
            for pdf in batches:
                acc.add(1)
                yield pdf
        return fn(each())
    return counted


@contextlib.contextmanager
def batches_counted(spark, convert=None):
    """While open, ``extract_df`` and ``run_extraction`` build their
    ``mapInPandas`` around ``convert`` (default: the engine's own
    conversion) with every Arrow batch counted. → the accumulator."""
    from docling_api_spark.plans import pipeline
    orig = pipeline.make_convert_fn
    acc = spark.sparkContext.accumulator(0)
    pipeline.make_convert_fn = lambda cfg: _count_batches(
        acc, orig(cfg) if convert is None else convert)
    try:
        yield acc
    finally:
        pipeline.make_convert_fn = orig


def _timed(spark, group: str, fn, reps: int = 2) -> float:
    spark.sparkContext.setJobGroup(group, group)
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def ladder_spark(ctx: W.Ctx) -> dict:
    """L0 scan → noop, L1 ``extract_df`` with the conversion swapped for
    :func:`passthrough`, L2 full ``extract_df``, all over the mixed
    corpus."""
    from docling_api_spark.plans import pipeline
    spark = ctx.spark
    path = os.path.join(ctx.layout, "mixed")

    def l0():
        W._noop(W._pages(spark, path).select("url", "warc_ts", "html",
                                             "lang"))

    def extract():
        W._noop(pipeline.extract_df(W._pages(spark, path), W._cfg()))

    t0 = _timed(spark, "ladder-L0", l0)
    with batches_counted(spark, passthrough) as batches:
        t1 = _timed(spark, "ladder-L1", extract, reps=2)
    t2 = _timed(spark, "ladder-L2", extract, reps=1)
    tasks = map_tasks(spark, "ladder-L2")
    size = sum(os.path.getsize(os.path.join(path, f))
               for f in os.listdir(path))
    return {
        "sources.scan_s": t0,
        "sources.input_mb": size / 2**20,
        "sources.map_tasks": tasks,
        "pipeline.passthrough_s": t1,
        "pipeline.boundary_s": t1 - t0,
        "pipeline.boundary_ms_per_task":
            (t1 - t0) * 1e3 * spark.sparkContext.defaultParallelism
            / max(tasks, 1),
        "pipeline.arrow_batches": batches.value / 2,
        "pipeline.extract_s": t2,
    }


#: in-process layer boundaries: (module path, attribute, layer). A doc
#: counts for a layer's µs-per-doc when it entered the layer; for
#: ``pdf_crypt`` only the decrypting entry counts, so its denominator is
#: the encrypted subset.
CORE_LAYERS = (
    ("docling_api_spark.operators.convert", "detect_format", "sniffer"),
    ("docling_api_spark.operators.convert", "decode_html",
     "convert.decode_html"),
    ("docling_api_spark.operators.convert", "extract_html", "html_extract"),
    ("docling_api_spark.operators.convert", "normalize_markdown", "md_adoc"),
    ("docling_api_spark.operators.convert", "asciidoc_to_markdown",
     "md_adoc"),
    ("docling_api_spark.operators.convert", "block_spans", "md_adoc"),
    ("docling_api_spark.operators.convert", "extract_pdf_rich",
     "pdf_extract"),
    ("docling_api_spark.operators.pdf_extract", "_encryption_key",
     "pdf_crypt.key"),
    ("docling_api_spark.operators.pdf_extract", "_decrypt_objects",
     "pdf_crypt"),
    ("docling_api_spark.operators.jpeg_codec", "decode_gray_jpeg",
     "jpeg_codec"),
    ("docling_api_spark.operators.convert", "extract_docx_rich", "ooxml"),
    ("docling_api_spark.operators.convert", "extract_pptx_rich", "ooxml"),
    ("docling_api_spark.operators.ocr", "ocr_image", "ocr"),
)
CORE_LAYER_NAMES = ("sniffer", "convert.decode_html", "html_extract",
                    "md_adoc", "pdf_extract", "pdf_crypt", "jpeg_codec",
                    "ooxml", "ocr")
ERROR_CODES = ("empty_document", "unsupported_format",
               "pdf_unsupported_feature", "ocr_not_supported", "parse_error")


def _sample_rows(path: str, n: int, seed: int, strata=None) -> list:
    import numpy as np
    import pyarrow.parquet as pq
    tbl = pq.read_table(path, columns=["url", "html"]).to_pydict()
    rows = list(zip(tbl["url"], tbl["html"]))
    rng = np.random.default_rng(seed)
    if strata is None:
        return [rows[i] for i in sorted(rng.choice(
            len(rows), min(n, len(rows)), replace=False))]
    out = []
    for key, k in strata.items():
        idx = [i for i, (u, _) in enumerate(rows)
               if u.startswith(f"https://{key}.")]
        pick = idx if k is None else sorted(
            rng.choice(idx, min(k, len(idx)), replace=False))
        out += [rows[i] for i in pick]
    return out


def core_profile(ctx: W.Ctx, n_mixed: int = 1000, per_kind: int = 60) -> dict:
    """Single-core, in-process conversion of a seed-chosen sample of each
    corpus with every layer boundary timed; all PDFs of the rich corpus
    are kept so the encrypted subset is present."""
    import importlib

    from docling_api_spark.operators import convert
    samples = {
        "mixed": _sample_rows(os.path.join(ctx.layout, "mixed"), n_mixed,
                              ctx.seed),
        "rich": _sample_rows(os.path.join(ctx.layout, "rich"), 0, ctx.seed,
                             strata={"pdf": None, "ooxml": per_kind,
                                     "scan": per_kind, "broken": per_kind,
                                     "embimg": per_kind}),
    }
    cfg = W._cfg()
    tr = Tracer(f"core-{ctx.seed}")
    for mod, attr, layer in CORE_LAYERS:
        tr.wrap(importlib.import_module(mod), attr, layer)
    docs_in = {name: 0 for name in CORE_LAYER_NAMES}
    totals, counts, errors, ok = {}, {}, dict.fromkeys(ERROR_CODES, 0), 0
    selfs = {}
    tr.on = True
    try:
        for name, rows in samples.items():
            tr.spans.clear()
            t0 = time.perf_counter()
            for url, html in rows:
                tr.new_unit()
                r = convert.convert_one(html, url, cfg)
                for layer in tr.entered & docs_in.keys():
                    docs_in[layer] += 1
                if r["markdown"] is not None:
                    ok += 1
                elif r["error"] in errors:
                    errors[r["error"]] += 1
            totals[name] = time.perf_counter() - t0
            counts[name] = len(rows)
            selfs[name] = tr.self_times()
    finally:
        tr.on = False
        tr.unwrap_all()
    out = {
        "convert.docs_per_s_1core": counts["mixed"] / totals["mixed"],
        "convert.rich_docs_per_s_1core": counts["rich"] / totals["rich"],
        "convert.ok_ratio": ok / sum(counts.values()),
    }
    for code in ERROR_CODES:
        out[f"convert.errors.{code}"] = errors[code]
    for c in selfs:   # key derivation is crypt work too
        selfs[c]["pdf_crypt"] = (selfs[c].get("pdf_crypt", 0.0) +
                                 selfs[c].pop("pdf_crypt.key", 0.0))
    for layer in CORE_LAYER_NAMES:
        s = sum(selfs[c].get(layer, 0.0) for c in selfs)
        out[f"{layer}.us_per_doc"] = (s * 1e6 / docs_in[layer]
                                      if docs_in[layer] else 0.0)
        for c in ("mixed", "rich"):
            out[f"{layer}.share_{c}"] = selfs[c].get(layer, 0.0) / totals[c]
    return out


def resume_phases(tracer: Tracer, sample: W.Sample) -> dict:
    """Split the last resume run (and its no-op re-run) into manifest
    read, extract+write, lineage rescan and manifest append."""
    spans = tracer.spans
    runs = [i for i, s in enumerate(spans)
            if s["name"] == "pipeline.run_extraction"]
    resume, noop = runs[-2], runs[-1]

    def kids(i, name):
        return [s for s in spans if s["parent"] == i and s["name"] == name]
    r = spans[resume]
    write = kids(resume, "spark.write_parquet")[0]
    read = sum(s["end"] - s["start"]
               for s in kids(resume, "manifest.read_done_partitions") +
               [c for c in kids(resume, "spark.collect")
                if c["end"] <= write["start"]])
    append = sum(s["end"] - s["start"]
                 for s in kids(resume, "manifest.append_manifest"))
    out_dir = sample.extra["output_dir"]
    size = sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(out_dir) for f in fs)
    return {
        "pipeline.extract_write_s": write["end"] - write["start"],
        "pipeline.lineage_s": (r["end"] - write["end"]) - append,
        "pipeline.partitions_computed": sample.extra["partitions_computed"],
        "pipeline.output_mb": size / 2**20,
        "pipeline.noop_resume_s": spans[noop]["end"] - spans[noop]["start"],
        "manifest.read_s": read,
        "manifest.append_s": append,
    }


def dedup_layers(tracer: Tracer, sample: W.Sample, captured: dict) -> dict:
    per = sample.extra["per_call_s"]
    cand = captured["lsh"][-1].count() if captured["lsh"] else 0
    confirmed = sample.extra["rows"]["near_pipeline"]
    ivf = tracer.durations("similarity.ivf_train")
    return {
        "dedup.near_pipeline_s": per["near_pipeline"],
        "dedup.candidates": cand,
        "dedup.confirmed": confirmed,
        "dedup.verify_yield": confirmed / cand if cand else 0.0,
        "dedup.substring_s": per["substring"],
        "similarity.embedding_cosine_s": per["embedding_cosine"],
        "similarity.semdedup_s": per["semdedup"],
        "similarity.ivf_train_s": ivf[-1] if ivf else 0.0,
        "similarity.groups": sample.extra["cells"],
        "similarity.max_group_rows": sample.extra["max_cell_rows"],
    }
