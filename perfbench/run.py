#!/usr/bin/env python3
"""The repo benchmark: one closed-loop workload on ``local[nproc]``.

    python3 perfbench/run.py --workload extract_mixed --seed 1 \\
        --seconds 10 --trace 0
    python3 perfbench/run.py --smoke      # every workload once, sf0.001

``--trace 0`` sets up twice, each time in a fresh process: interpreter
and engine import, JVM and session start, corpus resolution (the first
set-up of a checkout also builds the corpora) and warm-up; ``setup_s`` is
their median. After one untimed pass it runs the workload back to back
for ``--seconds`` (at least twice) and reports the end-to-end metrics.
``--trace 1`` sets up once, times the workload untraced and then traced
(the difference is the tracing overhead), reads Spark's stage metrics for
the traced jobs, and runs the layer ladder. A record whose
``loaded_window`` is not empty was measured while the host was busy with
other work; compare it only with another such record.

stdout ends with two JSON lines: the full record (host, settings,
samples, gates, memo payers), then the result
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0
only when every correctness gate held.
"""

from __future__ import annotations

import time

#: process start, as close as a script gets to it: every set-up sample
#: counts from here
T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402  (sets up paths first)


def _load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Tally:
    def __init__(self):
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def add(self, wl, sample) -> None:
        self.attempted += wl.ops
        self.failed += min(wl.ops, len(sample.errors))
        self.errors += sample.errors

    def crash(self, wl, exc: BaseException) -> None:
        self.attempted += wl.ops
        self.failed += wl.ops
        self.errors.append(f"{type(exc).__name__}: {exc}")


def window(wl, ctx, seconds: float, group: str, tally: Tally,
           least: int = 1) -> list:
    """Closed loop: each iteration starts when the previous one ends; no
    iteration starts that would end past ``seconds``, but at least
    ``least`` run."""
    ctx.spark.sparkContext.setJobGroup(group, group)
    samples = []
    t_start = time.perf_counter()
    while True:
        try:
            s = wl.iteration(ctx)
        except Exception as exc:  # a raised job is a failed operation
            tally.crash(wl, exc)
            break
        samples.append(s)
        tally.add(wl, s)
        el = time.perf_counter() - t_start
        if len(samples) >= least and el + el / len(samples) > seconds:
            break
    return samples


def setup(wl, trace: bool, scale: str, seed: int):
    from perfbench import corpus
    from perfbench.workloads import WORKLOADS, Ctx
    spark = host.start_session(trace)
    base, expected = corpus.build_base(spark, scale)
    lay = corpus.build_layout(base, scale, seed)
    ctx = Ctx(spark, scale, seed, base, lay, expected)
    # every cache a later run may need is built by the first run of a
    # checkout, so no traced run pays for it
    WORKLOADS["resume_write"].template(ctx)
    wl.prepare(ctx)
    return spark, ctx


def fresh_setup(workload: str, seed: int, scale: str) -> float:
    """One set-up in a new process (``--setup-only``), so JVM start and
    engine import are paid again. → its seconds from process start."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--setup-only",
         "--workload", workload, "--seed", str(seed), "--scale", scale],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise RuntimeError(f"set-up process failed: {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])["setup_s"]


def setup_only(workload: str, seed: int, scale: str) -> None:
    from perfbench.workloads import WORKLOADS
    spark, _ = setup(WORKLOADS[workload], False, scale, seed)
    took = time.perf_counter() - T_START
    host.stop_session(spark)
    print(json.dumps({"setup_s": took}))


def loaded(record: dict) -> list[str]:
    """Why the measured window looks loaded, if it does: hypervisor steal
    above 5% of the window's CPU time, a CPU probe that moved by more than
    20% across the run, or one below 70% of the best this checkout has
    seen."""
    why = []
    cpu_s = record["window_s"] * record["host"]["nproc"]
    if record["steal_s_in_window"] > 0.05 * cpu_s:
        why.append(f"steal {record['steal_s_in_window']:.1f} s of "
                   f"{cpu_s:.0f} CPU-s")
    lo, hi = sorted((record["cpu_probe_before"], record["cpu_probe_after"]))
    if lo < 0.8 * hi:
        why.append(f"CPU probe moved {hi:.0f} -> {lo:.0f}")
    best = host.best_probe(hi)
    if hi < 0.7 * best:
        why.append(f"CPU probe {hi:.0f}, best in this checkout {best:.0f}")
    return why


def _summary(xs: list[float]) -> dict:
    """Median, max and count. A run holds fewer than the ten samples a
    percentile above the median needs beyond it, so none is claimed."""
    return {"median": statistics.median(xs) if xs else None,
            "max": max(xs, default=None), "n": len(xs)}


def _metrics(names_units: dict, values: dict) -> dict:
    return {k: {"value": values[k], "unit": u} for k, u in names_units.items()}


def run(workload: str, seed: int, seconds: float, trace: bool, scale: str,
        n_setups: int = 2) -> tuple[dict, dict]:
    pre_s = time.perf_counter() - T_START
    from perfbench import trace as T
    from perfbench.workloads import WORKLOADS
    bench = _load_benchmark()
    wl = WORKLOADS[workload]
    record = {"workload": workload, "seed": seed, "seconds": seconds,
              "trace": int(trace), "scale": scale, "host": host.host_record(),
              "spark_conf": {**host.JOB_CONF, **host.bench_conf(trace)},
              "cpu_probe_before": host.cpu_probe()}
    tally = Tally()
    # the other set-up runs first, before this process starts its own
    # JVM; this one counts its time up to ``run`` and its own set-up,
    # not the wait for the other
    setups = [] if trace else [fresh_setup(workload, seed, scale)
                               for _ in range(n_setups - 1)]
    t0 = time.perf_counter()
    spark, ctx = setup(wl, trace, scale, seed)
    setups.append(pre_s + time.perf_counter() - t0)
    record["setup_s_samples"] = setups
    # one full-size pass, gated but untimed: the first full pass of a
    # fresh session runs up to a third slower than the ones after it (the
    # second, the window's first, is still a little slow)
    t0 = time.perf_counter()
    with T.batches_counted(ctx.spark) as batches:
        warm = window(wl, ctx, 0, "bench-warm", tally)
    record["warm_s"] = time.perf_counter() - t0
    record["warm_iterations"] = len(warm)
    if warm:   # the plan's own count, from the untimed warm pass
        record["arrow_batches_per_iteration"] = batches.value / len(warm)
    if trace:   # the traced run splits its time between both halves
        seconds /= 2

    steal0, t0 = host.steal_s(), time.perf_counter()
    with host.RssSampler(host.jvm_pid(spark)) as rss:
        # a median of at least two, also when the host is slow
        samples = window(wl, ctx, seconds, "bench-untraced", tally,
                         least=1 if trace else 2)
    record["window_s"] = time.perf_counter() - t0
    record["steal_s_in_window"] = host.steal_s() - steal0
    record["map_tasks_per_iteration"] = (
        T.map_tasks(spark, "bench-untraced") / max(len(samples), 1))
    record["job_s"] = _summary([s.job_s for s in samples])
    record["samples"] = [{"job_s": s.job_s, "docs": s.docs,
                          "errors": s.errors,
                          **{k: v for k, v in s.extra.items()
                             if k != "output_dir"}} for s in samples]

    if not trace:
        values = {
            "setup_s": statistics.median(setups),
            "job_s": record["job_s"]["median"],
            "docs_per_s": statistics.median(
                [s.docs / s.job_s for s in samples]) if samples else None,
            "peak_rss_mb": rss.peak_mb,
        }
        if wl.name == "resume_write":
            record["noop_resume_s"] = _summary(
                [s.extra["noop_resume_s"] for s in samples])
        names_units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    else:
        values = traced(wl, ctx, seconds, samples, tally, record)
        names_units = {m["name"]: m["unit"] for m in bench["per_layer"]}

    record["fail_share"] = tally.failed / max(tally.attempted, 1)
    record["errors"] = tally.errors
    record["cpu_probe_after"] = host.cpu_probe()
    record["loaded_window"] = loaded(record)
    host.stop_session(spark)
    correct = tally.failed == 0 and all(
        values.get(k) is not None for k in names_units)
    result = {"correct": correct, "attempted": max(tally.attempted, 1),
              "failed": tally.failed if tally.attempted else 1,
              "metrics": _metrics(names_units, values) if correct else {}}
    return record, result


def traced(wl, ctx, seconds, untraced, tally, record) -> dict:
    """The traced half of a ``--trace 1`` run. → per-layer values."""
    from perfbench import trace as T
    from perfbench.workloads import WORKLOADS
    tracer = T.Tracer(f"{wl.name}-s{ctx.seed}")
    captured = T.instrument_layers(tracer)
    try:
        tracer.on = True
        samples = window(wl, ctx, seconds, "bench-traced", tally)
        tracer.on = False
        values = T.stage_metrics(ctx.spark, "bench-traced")
        record["traced_job_s"] = _summary([s.job_s for s in samples])
        if samples and untraced:
            values["trace.overhead_s"] = (
                record["traced_job_s"]["median"] -
                statistics.median([s.job_s for s in untraced]))
        values.update(T.ladder_spark(ctx))
        values.update(T.core_profile(ctx))
        # the write and pair layers come from one traced iteration of
        # their workloads (the workload's own, when it is one of them)
        for other, fn in (("resume_write", T.resume_phases),
                          ("dedup_pairs", lambda t, s:
                           T.dedup_layers(t, s, captured))):
            o = WORKLOADS[other]
            if wl.name == other:
                done = samples
            else:
                o.prepare(ctx)
                tracer.on = True
                done = window(o, ctx, 0, f"ladder-{other}", tally)
                tracer.on = False
            if not done:
                continue
            s = done[-1]
            record[f"ladder_{other}"] = {k: v for k, v in s.extra.items()
                                         if k != "output_dir"}
            values.update(fn(tracer, s))
        values["trace.spans"] = len(tracer.spans)
        record["trace_self_s"] = tracer.layer_self_times()
    finally:
        tracer.on = False
        tracer.unwrap_all()
    out = os.path.join(HERE, ".cache", "traces")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{tracer.run_id}.json"), "w") as f:
        json.dump({"spans": tracer.spans, "values": values}, f)
    return values


def smoke() -> int:
    """Every workload once at sf0.001, gate included, untraced and traced;
    every metric of BENCHMARK.json must come out with its unit, and every
    per-layer metric must say what it should move."""
    from perfbench.metrics import MOVES
    bench = _load_benchmark()
    problems = []
    missing = {m["name"] for m in bench["per_layer"]} ^ set(MOVES)
    if missing:
        problems.append(f"per-layer names without a mapping: {missing}")
    from perfbench.workloads import WORKLOADS
    benched = [w["name"] for w in bench["workloads"]]
    for name in WORKLOADS:
        for trace, key in ((False, "end_to_end"), (True, "per_layer")):
            if trace and name not in benched:
                continue   # the traced ladder runs these workloads anyway
            record, result = run(name, 0, 0, trace, "sf0.001", n_setups=1)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if not result["correct"] or got != want:
                problems.append(f"{name} trace={int(trace)}: "
                                f"correct={result['correct']} "
                                f"errors={record['errors']} "
                                f"missing={sorted(set(want) - set(got))}")
            print(f"{name} trace={int(trace)}: ok={result['correct']}",
                  file=sys.stderr)
    for p in problems:
        print(p, file=sys.stderr)
    print(json.dumps({"smoke": "ok" if not problems else "failed"}))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    # internal: one set-up in this process, for ``fresh_setup``
    ap.add_argument("--setup-only", action="store_true",
                    help=argparse.SUPPRESS)
    ap.add_argument("--scale", default="sf0.1", help=argparse.SUPPRESS)
    args = ap.parse_args()
    try:
        import docling_api_spark  # noqa: F401
    except ImportError as exc:
        print(f"the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    host.prepare_env()
    # a terminated run unwinds, so a set-up process it waits on is
    # killed with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.smoke:
        return smoke()
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    if args.setup_only:
        setup_only(args.workload, args.seed, args.scale)
        return 0
    record, result = run(args.workload, args.seed, args.seconds,
                         bool(args.trace), args.scale)
    if record["loaded_window"]:
        print("loaded window (do not compare with a quiet one): " +
              "; ".join(record["loaded_window"]), file=sys.stderr)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
