#!/usr/bin/env python3
"""Benchmark of the vector-search pipeline, end to end and per layer.

    python3 perfbench/run.py --workload small --seed 1 --seconds 5 --trace 0

Run from the repository root. One run starts Spark, then runs the
phases in perfbench/phases.py: curate warm-up, build, rw, curate and,
with Spark stopped, read. With
``--trace 0`` the last line of stdout is one JSON object with the
end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics
of a traced run instead, and the spans go to
``.perfbench_out/trace-<workload>.jsonl``. The line before it
(``# context ...``) records seed, nproc, Spark version, the host
controls (a fixed-work probe and the share of CPU time the hypervisor
stole during each phase) and the percentiles actually reported. A
failed output check makes ``correct`` false and the exit code 1.

Everything the run writes lives under ``.perfbench_work/run-<pid>`` in
the repository root and is deleted before it exits.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.001")
CURATE_ROWS = os.path.join(HERE, "curate_rows.json")

# The end-to-end metrics. The phases also measure the ANN latency, the
# tail percentiles, the write latencies and the reads beside the writer;
# on a shared 4-core host their run-to-run spread at this run length
# comes too close to, or exceeds, the largest regression bound the
# benchmark may set (RATIONALE.md), so they are per-layer metrics of the
# traced run.
END_TO_END = (
    "setup_s", "build_rows_per_s", "curate_s", "exact_p50_ms", "recall_at_100",
    "serve_rss_mb",
)


def host_probe() -> float:
    """Seconds for a fixed amount of interpreter and BLAS work: read
    beside each run's figures to see whether the host was slow."""
    import numpy as np

    t = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    a = np.full((300, 300), 1.0 / 300)
    for _ in range(30):
        a = a @ a
    return time.perf_counter() - t


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine so far, from /proc/stat:
    time the hypervisor gave this machine's virtual CPUs to others."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def clean_stale(work_root: str) -> None:
    """Delete work directories of runs whose process is gone."""
    if not os.path.isdir(work_root):
        return
    for entry in os.listdir(work_root):
        try:
            pid = int(entry.split("-", 1)[1])
            os.kill(pid, 0)
        except (IndexError, ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(work_root, entry), ignore_errors=True)
        except PermissionError:
            pass


def start_spark(work: str, trace: bool):
    from external_benchmarks_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def finite(x: float) -> float:
    """JSON has no infinity: a failed operation's latency prints as 1e12."""
    return float(x) if math.isfinite(x) else 1e12


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    from perfbench import inputs as I

    if args.workload not in I.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(I.WORKLOADS)}")
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print("perfbench: run from a checkout of the repository (no __spark_entry__.py "
              f"next to {HERE})", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    clean_stale(work_root)
    work = os.path.join(work_root, f"run-{os.getpid()}")
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    nproc = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })

    from perfbench.phases import Run
    from perfbench.stats import self_times
    from perfbench.trace import Tracer, read_event_log

    # a terminated run still stops Spark and deletes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        probe = host_probe()
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = start_spark(work, tracer.enabled)
        session_s = time.perf_counter() - t0
        tracer.sc = spark.sparkContext
        run = Run(spark, tracer, work, args.seed, args.workload, args.seconds)
        run.setup_s = session_s
        if tracer.enabled:
            floor = []
            for _ in range(5):
                a = time.perf_counter()
                with tracer.span("spark.trivial_job", spark=True):
                    spark.range(1).collect()
                floor.append(time.perf_counter() - a)
            run.layer["spark.trivial_job_ms"] = (1e3 * sorted(floor)[2], "ms")
        with open(CURATE_ROWS) as fh:
            expected = json.load(fh)
        phase_s = run.context["phase_s"] = {}
        steal = run.context["steal_share"] = {}
        # The curate warm-up comes first, so that build runs on a JVM it
        # has warmed; the timed curate pass comes after build and rw,
        # further along the JIT's warm-up curve, where it is flatter.
        for name, step in (("curate.warmup", lambda: run.curate_warmup(DATA, expected)),
                           ("build", run.build), ("rw", run.rw),
                           ("curate", lambda: run.curate(DATA, expected)),
                           ("stop", lambda: stop_spark(spark)), ("read", run.read)):
            a, ticks = time.perf_counter(), cpu_ticks()
            step()
            phase_s[name] = round(time.perf_counter() - a, 3)
            b = cpu_ticks()
            steal[name] = round((b[0] - ticks[0]) / max(1, b[1] - ticks[1]), 4)
            if name == "stop":
                spark = tracer.sc = None
        run.metrics["setup_s"] = (run.setup_s, "s")

        run.context.update({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "nproc": nproc, "spark_version": _spark_version(), "host_probe_s": probe,
            "checks": run.checks,
        })
        if tracer.enabled:
            layer_from_trace(run, tracer, read_event_log(os.path.join(work, "eventlog")),
                             session_s)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"trace-{args.workload}.jsonl"))
            run.context["self_time_s"] = {
                k: round(v, 6) for k, v in sorted(self_times(tracer.spans).items())}
            metrics = run.layer
        else:
            metrics = {k: run.metrics[k] for k in END_TO_END}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    correct = all(run.checks.values())
    print("# context " + json.dumps(run.context, default=str), flush=True)
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": finite(v), "unit": u} for k, (v, u) in sorted(metrics.items())},
    }), flush=True)
    return 0 if correct else 1


def _spark_version() -> str:
    import pyspark

    return pyspark.__version__


def layer_from_trace(run, tracer, groups: dict, session_s: float) -> None:
    """Per-layer metrics that need the spans and the event log."""

    def spark_sum(sid: int) -> dict:
        tot = {"jobs": 0, "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        for d in tracer.descendants(sid):
            for k in tot:
                tot[k] += groups.get(f"span-{d}", {}).get(k, 0)
        return tot

    by_name: dict[str, list[int]] = {}
    for s in tracer.spans:
        by_name.setdefault(s["name"], []).append(s["id"])
    run.layer["session.start_s"] = (session_s, "s")
    for phase, name in (("build", "build"), ("curate", "curate"), ("rw", "upsert.batch")):
        tot = {"jobs": 0, "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        for sid in by_name.get(name, []):
            for k, v in spark_sum(sid).items():
                tot[k] += v
        for k, v in tot.items():
            run.layer[f"spark.{phase}.{k}"] = (v, "B" if k.endswith("bytes") else "count")
    from perfbench.phases import CURATE_ENTRIES

    for entry in CURATE_ENTRIES:
        sid = by_name[f"curate.{entry}"][0]
        run.layer[f"curate.{entry}.jobs"] = (spark_sum(sid)["jobs"], "count")
    jobs = sorted(spark_sum(sid)["jobs"] for sid in by_name.get("upsert.batch", []))
    run.layer["upsert.jobs_per_commit"] = (jobs[len(jobs) // 2] if jobs else 0, "count")
    run.layer["trace.overhead_s"] = (tracer.cost_s, "s")
    run.layer["trace.spans"] = (len(tracer.spans), "count")
    for k, (v, u) in run.metrics.items():
        run.layer[f"traced.{k}" if k in END_TO_END else k] = (v, u)


if __name__ == "__main__":
    sys.exit(main())
