"""The four workloads. Each one offers:

- ``prepare(ctx)``: untimed per-setup work (its checkpoint template, the
  warm-up pass that starts the Python workers and compiles the plans);
- ``iteration(ctx)``: one timed operation plus its correctness gate,
  returning a :class:`Sample`.

Every timed operation calls the engine's public functions only.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from dataclasses import dataclass, field

from . import corpus, gate

#: job.py's default manifest width
NUM_PARTITIONS = 256
RUN_ID = "bench-run"


@dataclass
class Ctx:
    spark: object
    scale: str
    seed: int
    base: str
    layout: str
    expected: dict


@dataclass
class Sample:
    job_s: float
    docs: int
    errors: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)


def _cfg():
    from docling_api_spark.config import ExtractConfig
    return ExtractConfig(num_partitions=NUM_PARTITIONS)


def _pages(spark, path: str):
    from docling_api_spark.sources.pages import read_pages
    return read_pages(spark, path)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Extract:
    """``extract_df`` over a page table into a noop sink; the digest gate
    rides on the job as an ``observe``."""

    #: engine operations one iteration times (each can fail on its own)
    ops = 1

    def __init__(self, name: str, corpus_name: str):
        self.name, self.corpus = name, corpus_name

    def prepare(self, ctx: Ctx) -> None:
        from docling_api_spark.plans import pipeline
        warm = os.path.join(ctx.layout, "warm", self.corpus)
        _noop(pipeline.extract_df(_pages(ctx.spark, warm), _cfg()))

    def iteration(self, ctx: Ctx) -> Sample:
        from pyspark.sql import Observation

        from docling_api_spark.plans import pipeline
        obs = Observation(f"gate_{self.name}")
        t0 = time.perf_counter()
        out = pipeline.extract_df(
            _pages(ctx.spark, os.path.join(ctx.layout, self.corpus)), _cfg())
        _noop(out.observe(obs, *gate.spark_digest_exprs()))
        dt = time.perf_counter() - t0
        got = obs.get
        return Sample(dt, int(got["rows"]),
                      gate.check_digest(got, ctx.expected[self.corpus]))


class ResumeWrite:
    """``run_extraction(resume=True)`` over the mixed corpus from a
    checkpoint where a seed-chosen ¾ of the partition ids are done, then
    the no-op re-run of the same run id.

    The checkpoint template is one fresh full run, built once per base
    corpus over a fixed (seed 0) layout; restoring it hard-links the done
    partitions' output files and writes their manifest rows."""

    name = "resume_write"
    ops = 2

    def _dirs(self, ctx: Ctx) -> tuple[str, str]:
        key = os.path.basename(ctx.base)[len("base-"):]
        return (os.path.join(corpus.CACHE, f"resume-{key}"),
                os.path.join(corpus.CACHE, "tmp", "resume-work"))

    def template(self, ctx: Ctx) -> None:
        """Build the checkpoint template unless the cache has it."""
        from docling_api_spark.plans import pipeline
        tmpl, _ = self._dirs(ctx)
        if not corpus.is_ready(tmpl):
            for stale in glob.glob(os.path.join(corpus.CACHE, "resume-*")):
                shutil.rmtree(stale, ignore_errors=True)
            shape = corpus.SCALES[ctx.scale]
            corpus.relayout(os.path.join(ctx.base, "mixed"),
                             os.path.join(tmpl, "input"),
                             shape["mixed_files"], 0)
            out = os.path.join(tmpl, "out")
            pipeline.run_extraction(ctx.spark,
                                    _pages(ctx.spark, tmpl + "/input"),
                                    out, RUN_ID, _cfg(), resume=False)
            errs = self._digest(ctx, out)
            if errs:
                raise RuntimeError(f"resume template gate failed: {errs}")
            counts = {int(r.partition_id): int(r["count"]) for r in
                      ctx.spark.read.parquet(out).groupBy("partition_id")
                      .count().collect()}
            corpus.mark_ready(tmpl, {str(k): v for k, v in counts.items()})

    def prepare(self, ctx: Ctx) -> None:
        from docling_api_spark.plans import pipeline
        self.template(ctx)
        # warm the write path on the small warm table
        _, work = self._dirs(ctx)
        shutil.rmtree(work, ignore_errors=True)
        pipeline.run_extraction(
            ctx.spark, _pages(ctx.spark, os.path.join(ctx.layout, "warm",
                                                      "mixed")),
            os.path.join(work, "warm"), RUN_ID, _cfg())

    def _digest(self, ctx: Ctx, out: str) -> list[str]:
        got = ctx.spark.read.parquet(out) \
            .agg(*gate.spark_digest_exprs()).collect()[0].asDict()
        return gate.check_digest(got, ctx.expected["mixed"])

    def _restore(self, ctx: Ctx, counts: dict) -> list[int]:
        """→ the done ids, chosen by the seed."""
        import numpy as np

        from docling_api_spark.plans import manifest as mf
        tmpl, work = self._dirs(ctx)
        shutil.rmtree(work, ignore_errors=True)
        ids = sorted(counts)
        rng = np.random.default_rng(ctx.seed)
        done = sorted(int(i) for i in rng.choice(
            ids, size=round(0.75 * len(ids)), replace=False))
        out = os.path.join(work, "out")
        for pid in done:
            src = os.path.join(tmpl, "out", f"partition_id={pid}")
            shutil.copytree(src, os.path.join(out, f"partition_id={pid}"),
                            copy_function=os.link)
        mf.append_manifest(ctx.spark, out + "_manifest", RUN_ID, done)
        return done

    def iteration(self, ctx: Ctx) -> Sample:
        from docling_api_spark.plans import pipeline
        tmpl, work = self._dirs(ctx)
        with open(os.path.join(tmpl, "_READY")) as f:
            counts = {int(k): v for k, v in json.load(f).items()}
        done = self._restore(ctx, counts)
        todo = sorted(set(counts) - set(done))
        out = os.path.join(work, "out")
        t0 = time.perf_counter()
        pages = _pages(ctx.spark, os.path.join(tmpl, "input"))
        r1 = pipeline.run_extraction(ctx.spark, pages, out, RUN_ID, _cfg())
        t1 = time.perf_counter()
        r2 = pipeline.run_extraction(ctx.spark, pages, out, RUN_ID, _cfg())
        t2 = time.perf_counter()
        errs = self._digest(ctx, out)
        n_docs = sum(counts.values())
        for label, r, want in (("resume", r1, len(todo)), ("no-op", r2, 0)):
            if r.partitions_computed != want:
                errs.append(f"{label} run computed {r.partitions_computed} "
                            f"partitions, want {want}")
            if r.docs != n_docs:
                errs.append(f"{label} run reports {r.docs} docs, "
                            f"want {n_docs}")
        return Sample(t1 - t0, sum(counts[i] for i in todo), errs,
                      {"noop_resume_s": t2 - t1,
                       "partitions_computed": r1.partitions_computed,
                       "output_dir": out})


class DedupPairs:
    """The four pair-stage analytics back to back, each collected and
    compared with its DuckDB oracle. The session memos are cleared
    before every iteration, so each one pays what a production job
    pays, training included; which memo was warm and which call filled
    it is recorded."""

    name = "dedup_pairs"
    ops = 4

    @staticmethod
    def calls():
        from docling_api_spark.operators import dedup, similarity
        return (("near_pipeline", dedup.dedup_near_pipeline),
                ("embedding_cosine", similarity.dedup_embedding_cosine),
                ("semdedup", similarity.semdedup),
                ("substring", dedup.substring_dedup))

    @staticmethod
    def memos() -> dict:
        from docling_api_spark.operators import dedup, similarity
        return {"similarity._IVF_TRAIN_CACHE": similarity._IVF_TRAIN_CACHE,
                "dedup._CANON_CACHE": dedup._CANON_CACHE}

    def prepare(self, ctx: Ctx) -> None:
        warm = os.path.join(ctx.layout, "warm", "docs")
        for _, fn in self.calls():
            fn(ctx.spark, warm).collect()

    def iteration(self, ctx: Ctx) -> Sample:
        memos = self.memos()
        warm_at_start = sorted(k for k, m in memos.items() if m)
        for m in memos.values():
            m.clear()
        d = os.path.join(ctx.layout, "docs")
        errs, per_call, filled, n_rows = [], {}, {}, {}
        job_s = 0.0
        cells: dict = {}
        for name, fn in self.calls():
            t0 = time.perf_counter()
            df = fn(ctx.spark, d)
            rows = df.collect()
            dt = time.perf_counter() - t0
            job_s += dt
            per_call[name] = dt
            n_rows[name] = len(rows)
            if name == "semdedup":
                for r in rows:
                    cells[r["cell"]] = cells.get(r["cell"], 0) + 1
            for k, m in memos.items():
                if m and k not in filled:
                    filled[k] = name
            got = gate.table_digest(df.columns, rows)
            if got != ctx.expected["pairs"][name]:
                errs.append(f"{name}: got {got}, want "
                            f"{ctx.expected['pairs'][name]}")
        shape = corpus.SCALES[ctx.scale]
        docs = 2 * shape["docs"] + 2 * shape["vecs"]
        return Sample(job_s, docs, errs,
                      {"per_call_s": per_call, "rows": n_rows,
                       "cells": len(cells),
                       "max_cell_rows": max(cells.values(), default=0),
                       "memos": {"warm_at_start": warm_at_start,
                                 "cleared": True, "filled_by": filled}})


WORKLOADS = {
    "extract_mixed": Extract("extract_mixed", "mixed"),
    "extract_rich": Extract("extract_rich", "rich"),
    "resume_write": ResumeWrite(),
    "dedup_pairs": DedupPairs(),
}
