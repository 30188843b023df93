#!/usr/bin/env python3
"""The repository's benchmark: one workload per run, in a fresh process.

    python3 perfbench/run.py --workload flink_core --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The engine package is imported from that
checkout and used with its library defaults (``get_spark()`` on
``local[<nproc>]``). Everything a run writes (fixture cache, Spark scratch,
stream inputs, sinks, checkpoints, traces) goes under ``.bench_build/`` in
the checkout; the per-run scratch directory is removed at exit.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones and
writes the run's spans to ``.bench_build/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH_SF = 0.01  # scale of the batch fixture a run reads
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)  # the workload and metric names, and each metric's unit


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _environment(tmp: str) -> None:
    """Session hygiene: core count from the CPU affinity mask (what `nproc`
    prints), the package importable by Spark's Python workers, UTC, and all
    scratch space inside the checkout."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TZ"] = "UTC"
    time.tzset()
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp"),
                     ("SPARK_WAREHOUSE_DIR", "warehouse")):
        os.environ[var] = os.path.join(tmp, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')}"
    sys.path[:0] = [ROOT, HERE]


def _stop_jvm() -> None:
    """Stop the session and the gateway JVM this process launched, and wait
    for it to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in BENCH["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # smaller inputs for the smoke test
    ap.add_argument("--sf", type=float, default=BENCH_SF, help="batch fixture scale")
    ap.add_argument("--stream-files", type=int, default=3)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "apache_flink_essentials_spark", "session.py")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    build = os.path.join(ROOT, ".bench_build")
    tmp = os.path.join(build, "run", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    try:
        return _run(args, build, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _run(args, build: str, tmp: str) -> int:
    _environment(tmp)
    import fixture
    import workloads as W

    with open(os.path.join(HERE, "digests.json")) as f:
        stored = json.load(f)
    if args.workload in W.BATCH:
        sf_dir = fixture.batch_fixture(args.sf, os.path.join(build, "fixture"))
        expected = stored.get(f"sf{args.sf:g}", {})
    else:
        info = fixture.make_stream(args.seed, os.path.join(tmp, "stream"),
                                   args.stream_files, rows_per_file=2000)

    from apache_flink_essentials_spark import get_spark

    tracer = W.Tracer(bool(args.trace))
    with tracer.span("session.get_spark") as s:
        spark = get_spark()
        spark.range(1).count()
    setup_s = s["end"] - s["start"]

    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    run = W.Run(spark, tracer, tmp)
    n = W.timed_passes(args.workload, args.seconds)
    try:
        if args.workload in W.BATCH:
            e2e, extra = W.run_batch(run, W.BATCH[args.workload], sf_dir, expected,
                                     args.seed, n)
        else:
            e2e, extra = W.run_stream(run, info, n)
        rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)
    finally:
        _stop_jvm()

    e2e = {"setup_s": setup_s, **e2e}
    print(f"workload={args.workload} seed={args.seed} cores={run.cores} "
          f"attempted={run.attempted} failed={run.failed} "
          f"failed_frac={run.failed / max(run.attempted, 1):.4f} peak_rss_mb={rss:.0f} "
          f"{extra['notes']}")
    for k, v in e2e.items():
        print(f"  {k:<16} {v:14.4f}")
    if args.trace:
        # peak RSS is per-layer, not end-to-end: G1 grows the JVM heap in steps,
        # so it is bimodal between identical runs (about 1.7 vs 2.3 GB on flink_core)
        layer = {**extra["layer"], "peak_rss_mb": rss}
        os.makedirs(os.path.join(build, "traces"), exist_ok=True)
        path = os.path.join(build, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "end_to_end": e2e, "per_layer": layer,
                       "spans": tracer.spans}, f, default=str)
        print(f"  trace: {path}")
        # a layer the workload does not run reads 0
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in BENCH["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in BENCH["end_to_end"]}
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
