"""What each per-layer metric should move, and where.

``BENCHMARK.json`` fixes the metric names, units and directions; its
schema has no room for this mapping, so it lives here: per-layer name →
(the end-to-end metric it should move, the workloads it should move it
on). ``run.py --smoke`` checks that the two agree.

``resume_write`` and ``dedup_pairs`` are not in ``BENCHMARK.json``: four
workloads at this run length overrun the benchmark's total time budget,
and these two (each a chain of many small Spark jobs) spread the most
from run to run. Both still run, gated, in every traced run's ladder and
alone with ``--workload``, so their layers stay measured; their time is
``pipeline.extract_write_s`` + ``pipeline.lineage_s`` + the manifest
metrics, and the four pair-stage seconds.
"""

from __future__ import annotations

MIXED, RICH, RESUME, DEDUP = ("extract_mixed", "extract_rich",
                              "resume_write", "dedup_pairs")

MOVES: dict[str, tuple[str, tuple[str, ...]]] = {
    "sources.scan_s": ("docs_per_s", (MIXED,)),
    "sources.input_mb": ("docs_per_s", (MIXED,)),
    "sources.map_tasks": ("docs_per_s", (MIXED,)),
    "pipeline.passthrough_s": ("docs_per_s", (MIXED, RESUME)),
    "pipeline.boundary_s": ("docs_per_s", (MIXED, RESUME)),
    "pipeline.boundary_ms_per_task": ("docs_per_s", (MIXED, RESUME)),
    "pipeline.arrow_batches": ("docs_per_s", (MIXED,)),
    "pipeline.extract_s": ("docs_per_s", (MIXED, RESUME)),
    "convert.docs_per_s_1core": ("docs_per_s", (MIXED,)),
    "convert.rich_docs_per_s_1core": ("docs_per_s", (RICH,)),
    "convert.ok_ratio": ("docs_per_s", (MIXED, RICH)),
    "pipeline.extract_write_s": ("job_s", (RESUME,)),
    "pipeline.lineage_s": ("job_s", (RESUME,)),
    "pipeline.partitions_computed": ("job_s", (RESUME,)),
    "pipeline.output_mb": ("job_s", (RESUME,)),
    "pipeline.noop_resume_s": ("job_s", (RESUME,)),
    "manifest.read_s": ("job_s", (RESUME,)),
    "manifest.append_s": ("job_s", (RESUME,)),
    "dedup.near_pipeline_s": ("job_s", (DEDUP,)),
    "dedup.candidates": ("job_s", (DEDUP,)),
    "dedup.confirmed": ("job_s", (DEDUP,)),
    "dedup.verify_yield": ("job_s", (DEDUP,)),
    "dedup.substring_s": ("job_s", (DEDUP,)),
    "similarity.embedding_cosine_s": ("job_s", (DEDUP,)),
    "similarity.semdedup_s": ("job_s", (DEDUP,)),
    "similarity.ivf_train_s": ("job_s", (DEDUP,)),
    "similarity.groups": ("peak_rss_mb", (DEDUP,)),
    "similarity.max_group_rows": ("peak_rss_mb", (DEDUP,)),
    "spark.tasks": ("docs_per_s", (MIXED, RICH, RESUME, DEDUP)),
    "spark.task_ms_p50": ("job_s", (MIXED, RICH, RESUME, DEDUP)),
    "spark.task_ms_max": ("job_s", (RICH,)),
    "spark.executor_run_s": ("job_s", (MIXED, RICH, RESUME, DEDUP)),
    "spark.executor_cpu_s": ("job_s", (MIXED, RICH, RESUME, DEDUP)),
    "spark.gc_s": ("peak_rss_mb", (MIXED, RICH, RESUME, DEDUP)),
    "spark.shuffle_write_mb": ("job_s", (DEDUP,)),
    "trace.overhead_s": ("job_s", (MIXED, RICH, RESUME, DEDUP)),
    "trace.spans": ("job_s", (MIXED, RICH, RESUME, DEDUP)),
}
for _code in ("empty_document", "unsupported_format",
              "pdf_unsupported_feature", "ocr_not_supported", "parse_error"):
    MOVES[f"convert.errors.{_code}"] = ("docs_per_s", (RICH,))
# per-format conversion layers: HTML moves the mixed corpus only; the
# binary formats move the rich corpus and the mixed one only a little
for _layer, _on in (("sniffer", (MIXED, RICH)),
                    ("convert.decode_html", (MIXED,)),
                    ("html_extract", (MIXED,)),
                    ("md_adoc", (MIXED, RICH)),
                    ("pdf_extract", (RICH, MIXED)),
                    ("pdf_crypt", (RICH,)),
                    ("jpeg_codec", (RICH,)),
                    ("ooxml", (RICH,)),
                    ("ocr", (RICH,))):
    for _m in ("us_per_doc", "share_mixed", "share_rich"):
        MOVES[f"{_layer}.{_m}"] = ("docs_per_s", _on)
