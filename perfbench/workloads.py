"""The three workloads and the measurements taken on them.

Each workload is closed loop: one client in one process issues the next
call only after the previous one has returned. Every call into the engine
is timed here, and each batch call runs under its own Spark job group, so
the engine itself is untouched.
"""

from __future__ import annotations

import collections
import datetime
import json
import math
import os
import random
import shutil
import statistics
import time
import traceback
import types
from contextlib import contextmanager

from fixture import DELAY_S, GRAIN_S
from sparkstats import SparkStats, plan_metrics

FLINK_CORE = [
    # the reference surface: windows, joins, sessions, CEP
    "w1_tumbling_hourly", "w2_sliding_1h_30m", "w3_session_30m_user",
    "w3_session_capped", "wf7_top1_sliding_window", "j2_window_join_1h",
    "j3_interval_join_10m", "j4_connect_ratio", "j5_asof_join_1h",
    "j6_semijoin_rollup", "events_cep_error_triple", "events_cep_abandoned_view",
    # event analytics and CDC
    "events_daily_rollup", "cdc_latest_state", "cdc_point_in_time",
    "cdc_snapshot_diff", "ts_ohlc_hourly", "olap_incremental_rollup",
    # TPC-H
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q10_returned_items", "q18_large_orders",
]
DEDUP_HEAVY = [
    # shuffle-heavy pair joins and queries that run jobs while being built
    "dedup_ngram_best_match", "dedup_minhash_lsh", "dedup_cc_canonical",
    "fuzzy_name_pairs", "vec_ivf_search", "graph_pagerank_fixedpoint",
    "er_assign_incremental",
]
BATCH = {"flink_core": FLINK_CORE, "dedup_heavy": DEDUP_HEAVY}
# Nominal wall time of one steady pass (replay) on a 4-core x86-64 VM. A run
# makes the number of timed passes whose nominal total is nearest --seconds,
# at least MIN_PASSES (one for a workload not listed there). The count is
# fixed by the arguments, not by how fast the run goes, so every run of a
# workload times the same passes: a count that followed the clock would flip
# between runs whenever a pass is near the limit.
PASS_S = {"flink_core": 8.0, "dedup_heavy": 7.0, "stream_stateful": 9.0}
# dedup_heavy times at least two passes: its 7 queries per pass are too few
# and too uneven (0.4-1.9 s) for one pass to give steady per-query figures,
# whose median and tail then each rest on one or two queries. Over ten runs
# its first steady pass alone spread 0.16-0.18 (IQR/median), the median of
# two 0.11-0.13; a third pass did no better and cost 6-7 s more per run.
MIN_PASSES = {"dedup_heavy": 2}


def timed_passes(workload: str, seconds: float) -> int:
    return max(MIN_PASSES.get(workload, 1), int(seconds / PASS_S[workload] + 0.5))


# operator modules that per-module numbers are broken down by; a query whose
# registry function calls none of them is plain DataFrame/SQL ("sql")
MODULES = ["windows", "joins", "patterns", "cdc", "timeseries", "dedup",
           "vector", "graph", "sql", "other"]
STREAM_OPS = ["rollup", "ewma", "capped"]
STREAM_PROGRESS = {
    # metric: durationMs key of StreamingQueryProgress (per-trigger median)
    "add_batch_s": "addBatch",
    "query_planning_s": "queryPlanning",
    "wal_commit_s": "walCommit",
}
PYTHON_METRICS = {
    # metric: SQL metric name on the executed plan
    "python_total_s": "pythonTotalTime",
    "python_boot_s": "pythonBootTime",
    "python_init_s": "pythonInitTime",
    "python_bytes_sent": "pythonDataSent",
    "python_bytes_received": "pythonDataReceived",
}
# stream shape: capped sessions close after a 2-minute gap, last at most
# 10 minutes or 20 events
SESSION_GAP_S, SESSION_MAX_S, SESSION_MAX_EVENTS = 120, 600, 20


class Tracer:
    """Spans kept in memory. Untraced, a span still times its body (the
    benchmark's own timers) but nothing is recorded."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.cost = 0.0  # time spent recording spans: the tracing overhead

    @contextmanager
    def span(self, name: str, query: str | None = None):
        rec = {"name": name, "query": query, "start": time.perf_counter()}
        if self.on:
            rec["id"] = len(self.spans)
            rec["parent"] = self._stack[-1] if self._stack else None
            self.spans.append(rec)
            self._stack.append(rec["id"])
            self.cost += time.perf_counter() - rec["start"]
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.on:
                self._stack.pop()
                self.cost += time.perf_counter() - rec["end"]

    def self_times(self, root: dict) -> dict[str, float]:
        """Self time (span minus its children) summed per span name over
        ``root`` and everything below it, as ``trace.self.<name>_s``."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        todo = [root]
        while todo:
            s = todo.pop()
            below = kids.get(s["id"], [])
            own = (s["end"] - s["start"]) - sum(c["end"] - c["start"] for c in below)
            key = f"trace.self.{s['name']}_s"
            out[key] = out.get(key, 0.0) + own
            todo.extend(below)
        return out

    def trigger(self, parent: dict, op: str, progress: dict) -> None:
        """A span for one micro-batch, placed on the benchmark's clock from
        Spark's own progress timestamp and durations."""
        start = (datetime.datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00"))
                 .timestamp() - time.time() + time.perf_counter())
        self.spans.append({
            "id": len(self.spans), "parent": parent["id"], "query": op,
            "name": "streaming.trigger", "batch": progress["batchId"],
            "durationMs": progress["durationMs"], "start": start,
            "end": start + progress["durationMs"]["triggerExecution"] / 1000,
        })


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, int, int]:
    """The nearest-rank 90th percentile, the sample count, and how many
    samples lie beyond it. A run has too few samples for ten to lie beyond
    a high percentile, so the percentile is fixed rather than chosen by
    count; that keeps it comparable between runs of different length."""
    if not xs:  # every call failed
        return 0.0, 0, 0
    s = sorted(xs)
    i = max(math.ceil(0.9 * len(s)) - 1, 0)
    return s[i], len(s), len(s) - 1 - i


def primary_module(fn) -> str:
    """The first operator module the registry function's code refers to
    (``transform`` only if nothing else)."""
    pkg = "apache_flink_essentials_spark.operators."

    def names(code):
        out = list(code.co_names)
        for c in code.co_consts:
            if isinstance(c, types.CodeType):
                out += names(c)
        return out

    found = []
    for n in names(fn.__code__):
        v = fn.__globals__.get(n)
        if isinstance(v, types.ModuleType) and v.__name__.startswith(pkg):
            found.append(v.__name__[len(pkg):])
    found = [m for m in found if m != "transform"] or found
    if not found:
        return "sql"
    return found[0] if found[0] in MODULES else "other"


class Run:
    """State shared by one run: session, tracer, counters, results."""

    def __init__(self, spark, tracer: Tracer, tmp: str):
        self.spark = spark
        self.tracer = tracer
        self.stats = SparkStats(spark)
        self.tmp = tmp
        self.attempted = 0
        self.failed = 0
        self.cores = spark.sparkContext.defaultParallelism

    def fail(self, what: str, detail: str) -> None:
        self.failed += 1
        print(f"FAILED {what}: {detail}", flush=True)


# ------------------------------------------------------------------ batch

def run_batch(run: Run, names: list[str], sf_dir: str, expected: dict,
              seed: int, n_passes: int) -> tuple[dict, dict]:
    from apache_flink_essentials_spark import registry

    order = list(names)
    random.Random(seed).shuffle(order)
    mod = {q: primary_module(registry.QUERIES[q]) for q in order}
    cold = _batch_pass(run, registry, order, sf_dir, expected, "cold", mod)
    passes = [_batch_pass(run, registry, order, sf_dir, expected, f"p{i}", mod)
              for i in range(n_passes)]
    lat = [s for p in passes for s in p["latency"]]
    exe = [s for p in passes for s in p["exec"]]
    q_tail, q_n, q_pct = tail(lat)
    t_tail, t_n, t_pct = tail(exe)
    e2e = {
        "cold_s": cold["wall"],
        "wall_s": _median([p["wall"] for p in passes]),
        "query_p50_s": _median(lat),
        "query_tail_s": q_tail,
        "rows_per_s": _median([p["scan_rows"] / p["wall"] for p in passes]),
        "trigger_p50_s": _median(exe),
        "trigger_tail_s": t_tail,
    }
    notes = {"pass_walls": [round(p["wall"], 3) for p in passes],
             "query_tail": f"p90 of {q_n}, {q_pct} beyond",
             "trigger_tail": f"p90 of {t_n}, {t_pct} beyond"}
    layer = {}
    if run.tracer.on:
        keys = {k for p in passes for k in p["layer"]}
        layer = {k: _median([p["layer"].get(k, 0.0) for p in passes]) for k in keys}
    return e2e, {"notes": notes, "layer": layer}


def _batch_pass(run: Run, registry, order, sf_dir, expected, tag, mod) -> dict:
    tr, spark = run.tracer, run.spark
    results, latency, execs, groups = {}, [], [], []
    cost0 = tr.cost
    with tr.span("batch.pass", tag) as ps:
        for q in order:
            run.attempted += 1
            try:
                with tr.span("query", q) as qs:
                    run.stats.set_group(f"{tag}:{q}:build")
                    with tr.span("registry.build", q) as b:
                        df = registry.QUERIES[q](spark, sf_dir)
                    run.stats.set_group(f"{tag}:{q}:exec")
                    with tr.span("operators.exec", q) as e:
                        rows = df.collect()
                results[q] = (df.columns, rows)
                latency.append(qs["end"] - qs["start"])
                execs.append(e["end"] - e["start"])
                groups.append((q, b, e))
            except Exception:  # noqa: BLE001 — a failing query is counted, not fatal
                run.fail(q, traceback.format_exc(limit=3))
    run.stats.set_group("bench:idle")
    cost = tr.cost - cost0
    wall = ps["end"] - ps["start"]
    from digest import digest
    for q, (cols, rows) in results.items():
        got = digest(cols, (tuple(r) for r in rows))
        want = expected.get(q)
        if want is not None and want["hash"] is None:  # no oracle twin: rows only
            got["hash"] = None
        if want is None or got != want:
            run.fail(q, f"digest {got} != stored {want}")
    with tr.span("trace.read", tag) as rd:
        names = [f"{tag}:{q}:{ph}" for q, _, _ in groups for ph in ("build", "exec")]
        acc = run.stats.groups(names)
    scan_rows = sum(a["scan_rows"] for a in acc.values())
    out = {"wall": wall, "latency": latency, "exec": execs, "scan_rows": scan_rows}
    if tr.on:
        out["layer"] = _batch_layer(run, tag, groups, acc, mod, ps, rd, cost)
    return out


def _batch_layer(run: Run, tag, groups, acc, mod, ps, rd, cost) -> dict:
    L = collections.defaultdict(float)
    for q, b, e in groups:
        ab = acc[f"{tag}:{q}:build"]
        ae = acc[f"{tag}:{q}:exec"]
        build_s, exec_s = b["end"] - b["start"], e["end"] - e["start"]
        b["spark"], e["spark"] = ab, ae  # per-call Spark accounting on the span
        L["registry.build_s"] += build_s
        L["registry.build_jobs"] += ab["jobs"]
        L["registry.build_task_s"] += ab["task_run_s"]
        L["operators.exec_s"] += exec_s
        L["operators.jobs"] += ae["jobs"]
        L["operators.stages"] += ae["stages"]
        for k in ("tasks", "task_run_s", "task_cpu_s", "gc_s", "failed_tasks",
                  "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_records"):
            L[f"operators.{k}"] += ae[k]
        L["operators.spill_bytes"] += ae["mem_spill_bytes"] + ae["disk_spill_bytes"]
        L["io.scan_bytes"] += ab["scan_bytes"] + ae["scan_bytes"]
        L["io.scan_rows"] += ab["scan_rows"] + ae["scan_rows"]
        m = mod[q]
        L[f"operators.{m}.build_s"] += build_s
        L[f"operators.{m}.exec_s"] += exec_s
        L[f"operators.{m}.shuffle_bytes"] += (ab["shuffle_write_bytes"]
                                              + ae["shuffle_write_bytes"])
    L["operators.core_util"] = (L["operators.task_run_s"]
                                / max(L["operators.exec_s"] * run.cores, 1e-9))
    wall = ps["end"] - ps["start"]
    L["trace.pass_wall_s"] = wall
    L["trace.unattributed_s"] = wall - L["registry.build_s"] - L["operators.exec_s"]
    L["trace.overhead_s"] = cost
    L["trace.read_s"] = rd["end"] - rd["start"]
    L.update(run.tracer.self_times(ps))
    return dict(L)


# ----------------------------------------------------------------- stream

def stream_twins(spark, info: dict) -> dict:
    """Batch answers the three stream queries must reproduce."""
    from pyspark.sql import functions as F

    from apache_flink_essentials_spark.operators import timeseries, windows

    ontime = spark.read.parquet(info["dir_ontime"])
    wm = info["final_watermark_s"]
    roll = (ontime.groupBy(F.window("ts", f"{GRAIN_S} seconds").alias("w"))
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"))
            .filter(F.col("w.end").cast("long") <= wm)
            .select(F.col("w.start").cast("long").alias("s"), "n_events", "sum_value"))
    ewma = timeseries.ewma_anomaly(ontime, "user_id", "ts", "value")
    sess = windows.session_capped(
        ontime.withColumn("event_id", F.monotonically_increasing_id()),
        "user_id", "ts", SESSION_GAP_S, "event_id",
        max_duration_seconds=SESSION_MAX_S, max_events=SESSION_MAX_EVENTS)
    sess_rows = [(str(r.user_id), r.session_start, r.session_end, r.n_events)
                 for r in sess.collect()]
    open_start: dict[str, int] = {}
    for k, s, _, _ in sess_rows:
        open_start[k] = max(open_start.get(k, s), s)
    return {
        "rollup": sorted(tuple(r) for r in roll.collect()),
        "ewma": sorted(tuple(r) for r in ewma.select(
            "user_id", "ts_s", "value", "ewma", "is_anomaly").collect()),
        "capped": sorted(r for r in sess_rows if r[1] != open_start[r[0]]),
    }


def _start_stream(spark, op: str, src: str, sink: str, ckpt: str):
    from pyspark.sql import functions as F

    from apache_flink_essentials_spark.io import write_stream_files
    from apache_flink_essentials_spark.streaming import rollup, stateful

    stream = (spark.readStream.schema("user_id long, ts timestamp, value double")
              .option("maxFilesPerTrigger", "1").parquet(src))
    once = {"availableNow": True}
    if op == "rollup":
        aggs = [F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value")]
        return rollup.continuous_rollup(stream, "ts", f"{GRAIN_S} seconds", aggs, sink, ckpt,
                                        watermark_delay=f"{DELAY_S} seconds", trigger=once)
    if op == "ewma":
        out = stateful.ewma_anomaly_stream(stream, "user_id", "ts", "value")
    else:
        out = stateful.capped_session_stream(
            stream, "user_id", "ts", SESSION_GAP_S,
            max_duration_seconds=SESSION_MAX_S, max_events=SESSION_MAX_EVENTS)
    return write_stream_files(out, sink, ckpt, trigger=once)


def _read_sink(spark, op: str, sink: str) -> list:
    from pyspark.sql import functions as F

    df = spark.read.parquet(sink)
    if op == "rollup":
        df = df.select(F.col("window_start").cast("long").alias("s"), "n_events", "sum_value")
    elif op == "ewma":
        df = df.select("user_id", "ts_s", "value", "ewma", "is_anomaly")
    else:
        df = df.select("key", "session_start", "session_end", "n_events")
    return sorted(tuple(r) for r in df.collect())


def run_stream(run: Run, info: dict, n_replays: int) -> tuple[dict, dict]:
    twins = {}
    cold = _replay(run, info, twins, "cold")
    replays = [_replay(run, info, twins, f"r{i}") for i in range(n_replays)]
    trig = [t for r in replays for t in r["triggers"]]
    t_tail, t_n, t_pct = tail(trig)
    e2e = {
        "cold_s": cold["wall"],
        "wall_s": _median([r["wall"] for r in replays]),
        "query_p50_s": _median(trig),
        "query_tail_s": t_tail,
        "rows_per_s": _median([r["rows"] / r["drain"] for r in replays]),
        "trigger_p50_s": _median(trig),
        "trigger_tail_s": t_tail,
    }
    notes = {"replay_walls": [round(r["wall"], 3) for r in replays],
             "trigger_tail": f"p90 of {t_n}, {t_pct} beyond"}
    layer = {}
    if run.tracer.on:
        keys = {k for r in replays for k in r["layer"]}
        layer = {k: _median([r["layer"].get(k, 0.0) for r in replays]) for k in keys}
    return e2e, {"notes": notes, "layer": layer}


def _replay(run: Run, info: dict, twins: dict, tag: str) -> dict:
    tr, spark = run.tracer, run.spark
    triggers, layer, drain, rows, outputs = [], {}, 0.0, 0, {}
    attributed = []
    cost0 = tr.cost
    with tr.span("stream.replay", tag) as rs:
        for op in STREAM_OPS:
            run.attempted += 1
            src = info["dir_all"] if op == "rollup" else info["dir_ontime"]
            base = os.path.join(run.tmp, f"{tag}-{op}")
            sink, ckpt = base + "-sink", base + "-ckpt"
            try:
                with tr.span(f"streaming.{op}", op) as qs:
                    q = _start_stream(spark, op, src, sink, ckpt)
                    q.awaitTermination(170)
                    if q.isActive:
                        q.stop()
                        raise TimeoutError(f"stream {op} did not drain")
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
                progress = [json.loads(p.json) for p in q.recentProgress]
                pymet = (plan_metrics(q._jsq.streamingQuery().lastExecution().executedPlan(),
                                      spark.sparkContext._jvm) if tr.on else {})
            except Exception:  # noqa: BLE001 — a failing query is counted, not fatal
                run.fail(f"stream {op}", traceback.format_exc(limit=3))
                continue
            drain += qs["end"] - qs["start"]
            rows += sum(p["numInputRows"] for p in progress)
            for p in progress:
                d = p["durationMs"]
                triggers.append(d["triggerExecution"] / 1000)
                parts = sum(d.get(k, 0) for k in ("addBatch", "queryPlanning", "walCommit",
                                                  "commitOffsets", "latestOffset", "getBatch"))
                attributed.append(parts / max(d["triggerExecution"], 1))
                if tr.on:
                    tr.trigger(qs, op, p)
            layer.update(_stream_layer(op, progress, pymet))
            if op == "rollup":
                run.attempted += 1
                dropped = int(layer["streaming.watermark.late_dropped_rows"])
                if dropped != info["late_rows"]:
                    run.fail("stream rollup late rows",
                             f"dropped {dropped} != generated {info['late_rows']}")
            outputs[op] = _read_sink(spark, op, sink)
            layer[f"streaming.{op}.sink_rows"] = len(outputs[op])
            shutil.rmtree(sink, ignore_errors=True)
            shutil.rmtree(ckpt, ignore_errors=True)
    if not twins:  # computed after the first replay, so off its cold path
        twins.update(stream_twins(spark, info))
    for op, got in outputs.items():
        if got != twins[op]:
            run.fail(f"stream {op}", f"{len(got)} rows != batch twin {len(twins[op])}")
    layer["trace.trigger_attributed_frac"] = _median(attributed)
    if tr.on:
        layer["trace.overhead_s"] = tr.cost - cost0
        layer.update(tr.self_times(rs))
    return {"wall": rs["end"] - rs["start"], "triggers": triggers, "drain": drain,
            "rows": rows, "layer": layer}


def _stream_layer(op: str, data: list[dict], pymet: dict) -> dict:
    p = f"streaming.{op}."
    L = {p + k: _median([d["durationMs"].get(key, 0) / 1000 for d in data])
         for k, key in STREAM_PROGRESS.items()}
    ops = [d["stateOperators"][0] for d in data if d.get("stateOperators")]
    last = ops[-1] if ops else {}
    L[p + "state_rows"] = last.get("numRowsTotal", 0)
    L[p + "state_mem_bytes"] = last.get("memoryUsedBytes", 0)
    L[p + "state_commit_s"] = _median([o.get("commitTimeMs", 0) / 1000 for o in ops])
    for k, name in PYTHON_METRICS.items():
        L[p + k] = pymet.get(name, 0.0)
    if op == "rollup":
        L["streaming.watermark.late_dropped_rows"] = sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops)
    return L



