#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload job_longtail --seed 1 \
        --seconds 8 --trace 0

Runs one workload (see NOTES.md) on a local[<cores>] Spark session from
the repository checkout it sits in.  The seed fixes every input; timed
calls repeat until their summed wall time reaches ``--seconds``.  Prints,
as the last stdout line,
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end metrics declared in
BENCHMARK.json; with ``--trace 1`` they are the per-layer metrics, and
the spans are written to ``perfbench/_reports/``.  A line before it,
prefixed ``perfbench-report``, carries the settings, versions, host
calibration, per-call readings and output hashes.

Exit codes: 0 ok, 1 output check failed, 2 engine or Spark missing.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import threading
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a run must end within RUN_LIMIT_S: no new timed call starts once
# RUN_BUDGET_S would be passed (judged by the longest call so far), and a
# call is cancelled at CALL_TIMEOUT_S or when the checks after the loop
# would no longer fit
RUN_LIMIT_S = 180
RUN_BUDGET_S = 140
CALL_TIMEOUT_S = 60
CHECK_RESERVE_S = 15
HOST_CAL_PAGES = 150


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pages", type=int, default=None,
                   help="override the workload's input size (rows)")
    return p.parse_args(argv)


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _driver_mem() -> str:
    """A sixth of physical RAM, 1-4 GiB: well below RAM, so the JVM
    collects garbage instead of being OOM-killed on a shared host."""
    with open("/proc/meminfo") as f:
        kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    return f"{max(1024, min(4096, kb // 1024 // 6))}m"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class _Rep:
    """One timed call: its readings and, when traced, its status-store
    window and per-layer metrics."""

    def __init__(self, traced):
        self.traced = traced
        self.t0 = self.t1 = None          # epoch seconds, for spans
        self.raw_wall = self.wall = None  # wall; wall x CPU delivered share
        self.delivered = 1.0
        self.rows = self.peak = None
        self.error = None
        self.timed_out = False
        self.window = None
        self.layers = {}


def _timed_call(spark, w, rep, call_sites):
    """One timed call under the RSS sampler and a timeout watchdog."""
    import sparkprobe

    def expire():
        rep.timed_out = True
        spark.sparkContext.cancelAllJobs()

    timeout = max(1.0, min(CALL_TIMEOUT_S, RUN_LIMIT_S - CHECK_RESERVE_S
                           - (time.time() - T_START)))
    timer = threading.Timer(timeout, expire)
    rep.t0 = time.time()
    with sparkprobe.RssSampler() as rss:
        timer.start()
        ticks = sparkprobe.cpu_ticks()
        t0 = time.perf_counter()
        try:
            if call_sites is not None:
                with call_sites:
                    rep.rows = w.call()
            else:
                rep.rows = w.call()
        except Exception as e:  # counted in failed, never dropped
            rep.error = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            rep.raw_wall = time.perf_counter() - t0
            rep.delivered = sparkprobe.delivered_share(
                ticks, sparkprobe.cpu_ticks())
            rep.wall = rep.raw_wall * rep.delivered
            timer.cancel()
    rep.t1 = time.time()
    if rep.timed_out:
        rep.error = f"timed out after {timeout:.0f} s"
    rep.peak = rss.peak


def _host_calibration(harness) -> dict:
    """``harness.docs_per_s`` on a fixed pages_df sample, after a warm-up
    sample, in a process with nothing else running: a slow host shows
    here whatever the code under test does."""
    from ragflow_core16_spark.datagen.pages import generate_page

    def pages(ids):
        return [(u, t, h, l) for u, t, h, _, l in
                (generate_page(i, 0) for i in ids)]
    harness.run_harness(pages(range(1000, 1000 + HOST_CAL_PAGES)))
    res = harness.run_harness(pages(range(HOST_CAL_PAGES)))
    return {"sample": f"pages_df seed 0, ids 0..{HOST_CAL_PAGES - 1}",
            "harness.docs_per_s":
                harness.layer_metrics(res)["harness.docs_per_s"]}


def run(args) -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import pyspark  # noqa: F401
        import ragflow_core16_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(ragflow_core16_spark.__file__).startswith(
            ROOT + os.sep):
        print(f"perfbench: the engine must come from this checkout, not "
              f"{ragflow_core16_spark.__file__}", file=sys.stderr)
        return 2
    # Python workers import the engine too: give them this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import harness
    import sparkprobe
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    declared = _declared()
    tracer = Tracer(bool(args.trace))
    run_dir = os.path.join(HERE, "_runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    reports = os.path.join(HERE, "_reports")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.makedirs(reports, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    host_cal = _host_calibration(harness)
    spark = None
    try:
        t, ticks = time.time(), sparkprobe.cpu_ticks()
        spark, conf = sparkprobe.start_session(cores, _driver_mem(), run_dir)
        phases = {"session_s": time.time() - t}
        t = time.time()
        w = WORKLOADS[args.workload](spark, args.seed, run_dir, args.pages)
        w.setup()
        phases["input_and_base_s"] = time.time() - t
        t = time.time()
        w.warm_up()
        phases["warm_up_s"] = time.time() - t
        setup_delivered = sparkprobe.delivered_share(
            ticks, sparkprobe.cpu_ticks())
        setup_s = sum(phases.values()) * setup_delivered

        window = sparkprobe.StoreWindow(spark) if args.trace else None
        sites = sparkprobe.CallSites(spark) if args.trace else None
        reps: list[_Rep] = []
        while True:
            # traced runs alternate untraced/traced calls in ABBA order, so
            # warm-up drift cancels out of the tracing overhead
            rep = _Rep(traced=bool(args.trace) and len(reps) % 4 in (1, 2))
            w.prepare()
            if rep.traced:
                window.mark()
            _timed_call(spark, w, rep, sites if rep.traced else None)
            if rep.error is None and rep.traced:
                rep.window = window.read()
                rep.layers = w.pipeline_metrics(rep.window)
                _job_spans(tracer, rep)
            reps.append(rep)
            done = sum(r.raw_wall for r in reps) >= args.seconds
            if done and (not args.trace or len(reps) >= 4):
                break
            if sum(r.error is not None for r in reps) >= 2:
                break
            longest = max(r.raw_wall for r in reps)
            if time.time() - T_START + longest > RUN_BUDGET_S:
                break

        ref, hm = None, {}
        warm_sample = w.sample_pages(warm=True)
        if warm_sample:             # workloads that extract pages
            harness.run_harness(warm_sample)
            with tracer.span("harness", workload=w.name) as sp:
                res = harness.run_harness(
                    w.sample_pages(), tracer if args.trace else None,
                    sp["id"] if sp else None)
            ref = res["rows"]
            hm = harness.layer_metrics(res)
        if reps[-1].error is None:
            w.check()           # the last call's output, still on disk
            w.final_check(ref)
        else:
            w.fail(f"the last timed call failed ({reps[-1].error}); its "
                   "output was not checked")
    finally:
        try:
            if spark is not None:
                sparkprobe.stop_session(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    ok_reps = [r for r in reps if r.error is None]
    failed_calls = len(reps) - len(ok_reps)
    per_call = w.expected_rows
    attempted = per_call * len(reps)
    failed = failed_calls * per_call + w.error_rows * len(ok_reps)
    rate = lambda rs: _median([r.rows / r.wall for r in rs])  # noqa: E731
    e2e = {
        "docs_per_s": rate(ok_reps),
        "setup_s": setup_s,
        "peak_rss_mb": _median([r.peak / 2 ** 20 for r in ok_reps]),
        "ok_frac": 1.0 - failed / attempted,
    }
    if args.trace:
        values = _per_layer(hm, ok_reps, rate)
        names = declared["per_layer"]
    else:
        values, names = e2e, declared["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in names}
    report = {
        "workload": w.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "rows_per_call": per_call,
        "settings": {"master": f"local[{cores}]", "nproc": os.cpu_count(),
                     "cores": cores, "conf": conf,
                     "SPARK_LOCAL_DIRS": os.environ.get("SPARK_LOCAL_DIRS"),
                     "python": platform.python_version(),
                     "pyspark": pyspark.__version__},
        "setup_phases_s": phases,
        "setup_cpu_delivered": setup_delivered,
        "host_calibration": host_cal,
        "calls": [{"traced": r.traced, "wall_s": r.raw_wall,
                   "cpu_delivered": r.delivered, "rows": r.rows,
                   "peak_rss_mb": (r.peak or 0) / 2 ** 20, "error": r.error}
                  for r in reps],
        "end_to_end": e2e,
        "hashes": w.hashes,
        "errors": w.errors,
    }
    tag = f"{w.name}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(reports, f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    if args.trace:
        tracer.write(os.path.join(reports, f"{tag}-spans.json"))
    correct = not w.errors
    print("perfbench-report " + json.dumps(report, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def _job_spans(tracer, rep) -> None:
    """The timed call as a parent span, its Spark jobs as children and
    each job's stages below those."""
    if not tracer.enabled:
        return
    call = tracer.add("call", rep.t0, rep.t1, rows=rep.rows)
    for job in rep.window["jobs"]:
        jid = tracer.add("spark.job", job["start"], job["end"], parent=call,
                         job_id=job["id"], site=job["name"])
        for st in rep.window["stages"]:
            if st["id"] in job["stages"]:
                tracer.add("spark.stage", st["start"], st["end"],
                           parent=jid, stage_id=st["id"],
                           run_ms=st["run_ms"], python=st["python"])


def _per_layer(hm: dict, reps, rate) -> dict:
    traced = [r for r in reps if r.traced and r.window]
    plain = [r for r in reps if not r.traced]
    out = dict(hm)

    def med(f):
        return _median([f(r) for r in traced])

    t = lambda r: r.window["totals"]  # noqa: E731
    out.update({
        "spark.executor_run_s": med(lambda r: t(r)["run_ms"] / 1e3),
        "spark.executor_cpu_s": med(lambda r: t(r)["cpu_ns"] / 1e9),
        "spark.jvm_gc_s": med(lambda r: t(r)["gc_ms"] / 1e3),
        "spark.ser_deser_s": med(lambda r: t(r)["serde_ms"] / 1e3),
        "spark.python_stage_s": med(lambda r: t(r)["py_run_ms"] / 1e3),
        "spark.shuffle_read_mb": med(lambda r: t(r)["shuffle_read"] / 2 ** 20),
        "spark.shuffle_write_mb":
            med(lambda r: t(r)["shuffle_write"] / 2 ** 20),
        "spark.spill_mb": med(lambda r: t(r)["spill"] / 2 ** 20),
        "spark.input_mb": med(lambda r: t(r)["input"] / 2 ** 20),
        "spark.output_mb": med(lambda r: t(r)["output"] / 2 ** 20),
        "spark.jobs": med(lambda r: len(r.window["jobs"])),
        "spark.stages": med(lambda r: len(r.window["stages"])),
        "spark.tasks": med(lambda r: t(r)["tasks"]),
        "spark.failed_tasks": med(lambda r: t(r)["failed_tasks"]),
        "spark.task_max_over_median":
            med(lambda r: t(r)["task_max_over_median"]),
    })
    if hm:
        out["spark.udf_share"] = med(
            lambda r: hm["harness.ms_per_doc"] * r.rows /
            max(1.0, t(r)["run_ms"]))
    for key in {k for r in traced for k in r.layers}:
        out[key] = med(lambda r: r.layers.get(key, 0.0))
    if plain and traced:
        out["trace.overhead_docs_per_s"] = rate(plain) - rate(traced)
    return out


if __name__ == "__main__":
    # a terminated run still stops Spark and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(run(_args(sys.argv[1:])))
