"""Closed-loop benchmark of the flagship extraction pipeline.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One client runs one pass at a time on ``local[nproc]`` with the
package's own engine settings. A run stages its seeded input (cached
per workload, seed and size, and timed apart as ``staging_s``), starts
the session, reads the input and makes one untimed warm-up pass
(together: ``setup_s``).

Both modes then make the workload's ``settle`` count of untimed passes.
``--trace 0`` repeats timed passes for ``--seconds``, and at least
``MIN_TIMED`` of them, and prints the end-to-end metrics: ``setup_s``
and the median CPU seconds a pass costs (``cpu_s.p50``, user plus
system time of this process and every process it started) with the
turns per CPU second it gives (``turns_per_cpu_s``). ``--trace 1`` runs
with Spark's event log on: it makes one traced pass with a span around
every call into a layer's public function, then materializes the
cumulative layer prefixes, and prints the per-layer metrics. Every
pass's output is checked after the timed work; a pass that raises or
fails its check counts in ``failed``. Human-readable lines come first;
the last line of stdout is the result JSON. Everything the run writes
stays under ``perfbench/.work``. Workload choice and sizes: ``SIZING.md``.

The text lines also print figures that carry no bound: the wall time
of a pass (``run_s.p50``, ``run_s.p90``, ``turns_per_s``),
``peak_rss_mb``, ``failed_frac`` and, in the traced run,
``trace.overhead_s``. Wall time carries no bound because the host's
speed swings by up to a factor of two from one minute to the next;
``SIZING.md`` has the figures.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK = BENCH_DIR / ".work"

END_TO_END = {"setup_s": "s", "cpu_s.p50": "s", "turns_per_cpu_s": "1/s"}

PER_LAYER = {
    "session.get_spark_s": "s",
    "prefilter.turns_in": "count", "prefilter.turns_out": "count",
    "prefilter.pass_frac": "ratio", "prefilter.self_s": "s",
    "boilerplate.lines_out": "count", "boilerplate.self_s": "s",
    "classify.lines": "count", "classify.self_s": "s",
    "spans.self_s": "s", "spans.shuffle_write_bytes": "bytes",
    "spans.shuffle_read_bytes": "bytes", "spans.reduce_tasks": "count",
    "spans.task_skew": "ratio", "spans.gate_yield": "ratio",
    "spans.spans_out": "count",
    "lineage.commits": "count", "lineage.jobs_per_commit": "count",
    "lineage.write_s": "s", "lineage.bytes_written": "bytes",
    "lineage.files_written": "count", "lineage.bucket_skew": "ratio",
    "lineage.buckets_recomputed": "count", "lineage.read_s": "s",
    "lineage.resume_s": "s",
    "driver.jobs": "count", "driver.stages": "count",
    "driver.gap_s": "s", "driver.plan_s": "s",
    "exec.tasks": "count", "exec.run_s": "s", "exec.cpu_s": "s",
    "exec.cpu_util": "ratio", "exec.gc_s": "s",
    "exec.spill_bytes": "bytes", "exec.task_failures": "count",
    "exec.shuffle_write_bytes": "bytes",
    "python.bytes_to_workers": "bytes", "python.rows_from_workers": "count",
}

#: Fewest timed passes, whatever ``--seconds``. Passes take 2.5-6 s
#: here, so at ``run_seconds`` 10 nearly every run times this many: the
#: median then covers the same passes of the warm-up curve on a slow
#: host as on a fast one.
MIN_TIMED = 4

#: Calibration below this share of the run's best marks a pass as run
#: inside a contention window. Flagged, never retried.
CONTENTION_SHARE = 0.85


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _attempt(fn) -> dict:
    import host

    c0, t0 = host.tree_cpu_s(), time.perf_counter()
    try:
        out = fn()
    except Exception as e:  # noqa: BLE001 — a failed pass is a result
        out = {"errors": [f"raised {type(e).__name__}: {e}"[:500]]}
    out["wall_s"] = time.perf_counter() - t0
    out["cpu_s"] = host.tree_cpu_s() - c0
    out.setdefault("timed_s", out["wall_s"])
    out.setdefault("errors", [])
    return out


def _percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(len(ordered) * q / 100) - 1)]


def _stop_session(spark) -> list[int]:
    """Stop Spark, end the gateway JVM and wait for every child."""
    from pyspark import SparkContext

    import host

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    return host.reap_descendants()


def _engine_confs(spark) -> dict:
    from icdar_2019_rrc_sroie_spark.session import ENGINE_CONFS

    conf = spark.sparkContext.getConf()
    keys = sorted({*ENGINE_CONFS, "spark.master", "spark.eventLog.enabled"})
    return {k: conf.get(k, None) for k in keys}


def _trace_pass(spark, wl, run_id: str) -> tuple:
    """One traced full pass, the layer prefixes and, for a workload with
    a write path, one traced lineage pass; returns (tracer, pass
    records, layer metrics, full-pass window)."""
    import workloads
    from tracing import Tracer

    tracer = Tracer(run_id)
    spark.sparkContext.setJobGroup("traced", "traced full pass")
    t0 = time.time()
    with tracer.wrapped(workloads.TRACED_CALLS):
        traced = _attempt(wl.run_pass)
    t1 = time.time()
    if traced["errors"]:
        raise RuntimeError(f"traced pass failed: {traced['errors']}")
    prefixes = workloads.Prefixes(spark)
    m = wl.layers(prefixes)
    records = [traced]
    if hasattr(wl, "lineage_pass"):
        spark.sparkContext.setJobGroup("lineage", "killed run and resume")
        with tracer.wrapped(workloads.TRACED_CALLS):
            lin = _attempt(wl.lineage_pass)
        records.append(lin)
        if not lin["errors"]:
            m.update(wl.lineage_layers(lin, prefixes.incl["spans"]))
    return tracer, records, m, (t0, t1)


def _untraced_median(results: Path, workload: str, seed: int):
    """``run_s.p50`` of the latest ``--trace 0`` run of the same
    workload and seed in this checkout, or None."""
    runs = sorted(results.glob(f"{workload}-s{seed}-t0-*.json"),
                  key=lambda f: f.stat().st_mtime)
    for f in reversed(runs):
        with open(f) as fh:
            p50 = json.load(fh)["text_metrics"].get("run_s.p50")
        if p50:
            return p50[0]
    return None


def _engine_metrics(event_log: str, tracer, window, nproc: int,
                    commits: int) -> dict:
    from tracing import EventLog, minus_length, union_length

    ev = EventLog(event_log)
    s = ev.summary({"traced"})
    t0, t1 = window
    jobs = [(max(a, t0), min(b, t1)) for a, b in s["job_intervals"]
            if min(b, t1) > max(a, t0)]
    calls = tracer.intervals(t0, t1)
    spans = ev.summary({"prefix:spans"})
    lineage_jobs = ev.summary({"lineage"})["jobs"]
    reduce_side = ev.reduce_side({"prefix:spans"})
    wall = t1 - t0
    return {
        "driver.jobs": s["jobs"], "driver.stages": s["stages"],
        "driver.gap_s": wall - union_length(jobs),
        "driver.plan_s": minus_length(calls, jobs),
        "exec.tasks": s["tasks"], "exec.run_s": s["run_s"],
        "exec.cpu_s": s["cpu_s"],
        "exec.cpu_util": s["cpu_s"] / (wall * nproc),
        "exec.gc_s": s["gc_s"], "exec.spill_bytes": s["spill_bytes"],
        "exec.task_failures": s["task_failures"],
        "exec.shuffle_write_bytes": s["shuffle_write_bytes"],
        "python.bytes_to_workers": s["bytes_to_workers"],
        "python.rows_from_workers": s["rows_from_workers"],
        "spans.shuffle_write_bytes": spans["shuffle_write_bytes"],
        "spans.shuffle_read_bytes": spans["shuffle_read_bytes"],
        "spans.reduce_tasks": reduce_side["tasks"],
        "spans.task_skew": reduce_side["skew"],
        "lineage.jobs_per_commit": lineage_jobs / commits if commits else 0.0,
    }


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(1, str(ROOT))
    import host

    t_start = host.process_start_time()
    try:
        import icdar_2019_rrc_sroie_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import inputs
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    spec = workloads.WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = WORK / "runs" / run_id
    results = WORK / "results"
    for d in (run_dir, results, WORK / "tmp", WORK / "local"):
        d.mkdir(parents=True, exist_ok=True)
    # Python workers import the package from the checkout, whatever the
    # working directory. All scratch stays inside the checkout: Spark's
    # shuffle and block files (SPARK_LOCAL_DIRS overrides the package's
    # spark.local.dir) and the JVM's and Python's temporary files.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData")

    g0 = time.time()
    manifest = inputs.stage(str(WORK), args.workload, args.seed,
                            spec["size"], spec["input"])
    staging_s = time.time() - g0

    from icdar_2019_rrc_sroie_spark.session import get_spark

    extra = None
    if args.trace:
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
                 "spark.eventLog.compress": "false",
                 "spark.eventLog.rolling.enabled": "false"}
        (run_dir / "eventlog").mkdir()
    report: dict = {"workload": args.workload, "seed": args.seed,
                    "trace": args.trace, "nproc": nproc,
                    "mem_total_kb": host.mem_total_kb(),
                    "input": manifest}
    passes: list[dict] = []
    with host.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark(extra_confs=extra)
        get_spark_s = time.perf_counter() - t0
        import pyspark

        report["pyspark"] = pyspark.__version__
        report["confs"] = _engine_confs(spark)
        try:
            wl = spec["cls"](spark, manifest, str(run_dir))
            warm = _attempt(wl.run_pass)
            warm["warmup"] = True
            passes.append(warm)
            setup_s = time.time() - t_start - staging_s
            for _ in range(spec["settle"]):
                passes.append(_attempt(wl.run_pass))
                passes[-1]["warmup"] = True

            if args.trace:
                tracer, traced, layers, window = _trace_pass(spark, wl, run_id)
                passes += traced
            else:
                loop0 = time.perf_counter()
                while (len(passes) < 1 + spec["settle"] + MIN_TIMED
                       or time.perf_counter() - loop0 < args.seconds):
                    calib, load = host.cpu_calibration(), host.loadavg_1m()
                    p = _attempt(wl.run_pass)
                    p.update(calib_mops=calib, load1=load)
                    passes.append(p)
            wl.verify(passes)
        finally:
            killed = _stop_session(spark)
    if killed:
        print(f"perfbench: killed leftover processes {killed}",
              file=sys.stderr)

    measured = [p for p in passes if not p.get("warmup")]
    timed = [p["timed_s"] for p in measured]
    cpu = [p["cpu_s"] for p in measured]
    if not args.trace:
        best = max(p["calib_mops"] for p in measured)
        for p in measured:
            p["contended"] = (p["calib_mops"] < CONTENTION_SHARE * best
                              or p["load1"] > 1.5 * nproc)
    failed = sum(bool(p["errors"]) for p in passes)
    text = {"failed_frac": (failed / len(passes), f"({failed}/{len(passes)})")}

    if args.trace:
        metrics = {k: 0.0 for k in PER_LAYER}
        metrics.update(layers)
        [log] = list((run_dir / "eventlog").iterdir())
        metrics.update(_engine_metrics(str(log), tracer, window, nproc,
                                       metrics["lineage.commits"]))
        metrics["session.get_spark_s"] = get_spark_s
        tracer.write(str(results / f"{run_id}.spans.jsonl"))
        base = _untraced_median(results, args.workload, args.seed)
        text["trace.overhead_s"] = (
            (traced[0]["timed_s"] - base, "s") if base is not None
            else (math.nan, "s (no --trace 0 run of this seed yet)"))
        units = PER_LAYER
    else:
        cpu_p50, p50 = statistics.median(cpu), statistics.median(timed)
        n = f"(n={len(timed)})"
        metrics = {"setup_s": setup_s, "cpu_s.p50": cpu_p50,
                   "turns_per_cpu_s": wl.turns / cpu_p50}
        text["run_s.p50"] = (p50, f"s {n}")
        text["run_s.p90"] = (_percentile(timed, 90), f"s {n}")
        text["turns_per_s"] = (wl.turns / p50, f"1/s {n}")
        text["peak_rss_mb"] = (rss.peak_kb / 1024, "MB")
        units = END_TO_END

    report.update(get_spark_s=get_spark_s, staging_s=staging_s,
                  setup_s=setup_s, text_metrics=text,
                  passes=passes, metrics=metrics)
    with open(results / f"{run_id}.json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={nproc} mem_total_kb={report['mem_total_kb']} "
          f"pyspark={report['pyspark']}")
    print(f"input {manifest} staging_s={staging_s:.3f}")
    print(f"confs {report['confs']}")
    for i, p in enumerate(passes):
        tag = "warm-up" if p.get("warmup") else f"pass {i}"
        status = "FAILED " + "; ".join(p["errors"]) if p["errors"] else "ok"
        print(f"{tag}: {p['timed_s']:.3f} s cpu={p['cpu_s']:.2f} s"
              f" calib={p.get('calib_mops', 0):.2f}"
              f" load1={p.get('load1', 0):.2f}"
              f"{' CONTENDED' if p.get('contended') else ''} {status}")
    samples = {"setup_s": "(n=1)", "cpu_s.p50": f"(n={len(cpu)})",
               "turns_per_cpu_s": f"(n={len(cpu)})"}
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units[k]} {samples.get(k, '')}".rstrip())
    for k, (v, unit) in text.items():
        print(f"{k} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0, "attempted": len(passes), "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
