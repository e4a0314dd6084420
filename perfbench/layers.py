"""The traced half of a ``--trace 1`` run and its per-layer metrics.

Layers are named after the engine's modules:

- ``session`` / ``registry``: the set-up calls, timed by the runner;
- ``tables``: ``tables.load`` and the ``Tables`` views, wrapped in this
  process (``spans.Tracer.instrument_tables``);
- ``operators``: the query builder call ``QUERIES[key](spark, dir)``, its
  self time (minus the ``tables`` spans under it) and the Spark jobs it
  ran eagerly (job group ``<key>|build|<pass>``);
- ``spark``: the noop-sink write of the returned plan (job group
  ``<key>|action|<pass>``), folded from the event log;
- ``kernels``: SQL metrics of the Arrow/pandas plan nodes, both phases;
- ``streaming``: micro-batch progress from a ``StreamingQueryListener``.

Each metric is the median over traced passes of its per-pass total.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import time

import eventlog
import procstat
from spans import StreamProgress, Tracer

_EVENT_LOG_PROPS = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def _restart_with_event_log(bench, log_dir: str):
    """Stop the session and start a new one (same JVM) that writes an
    uncompressed event log to ``log_dir``. The engine's ``get_session``
    is used unchanged: the settings reach the new SparkConf as JVM system
    properties."""
    system = bench.spark._jvm.java.lang.System
    bench.spark.stop()
    props = dict(_EVENT_LOG_PROPS, **{"spark.eventLog.dir": "file://" + log_dir})
    for k, v in props.items():
        system.setProperty(k, v)
    bench.spark = bench.session.get_session("perfbench")
    for k in props:
        system.clearProperty(k)
    return bench.spark


def traced_run(bench, plain: list[dict]) -> dict:
    log_dir = os.path.join(bench.run_dir, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    spark = _restart_with_event_log(bench, log_dir)
    sc = spark.sparkContext
    tracer = Tracer()
    tracer.instrument_tables(bench.tables)
    progress = StreamProgress()
    spark.streams.addListener(progress.listener())
    queries = bench.registry.QUERIES

    def traced_pass(index: int) -> dict[str, dict]:
        tracer.pass_id = index
        out = {}
        with tracer.span("pass"):
            for key in bench.wl.keys:
                q0 = time.perf_counter()
                bench.attempted += 1
                with tracer.span("key", key=key):
                    try:
                        sc.setJobGroup(f"{key}|build|{index}", key)
                        with tracer.span("operators.build", key=key):
                            df = queries[key](spark, bench.sf_dir)
                        sc.setJobGroup(f"{key}|action|{index}", key)
                        with tracer.span("spark.action", key=key):
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as e:  # noqa: BLE001
                        bench._fail(key, f"raised {type(e).__name__}: {str(e)[:200]}")
                out[key] = {"wall_s": time.perf_counter() - q0}
        sc.setLocalProperty("spark.jobGroup.id", None)
        return out

    try:
        traced_pass(-1)  # new context: Python workers and caches start cold
        traced = bench.passes(bench.seconds / 2, traced_pass, min_passes=2)
        peak_rss_mb = procstat.peak_rss_mb(procstat.tree())
    finally:
        tracer.restore()
        spark.stop()
        bench.spark = None
    trace_dir = os.path.join(bench.state_dir, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    stem = os.path.join(trace_dir, f"{bench.wl.name}_seed{bench.seed}")
    log = stem + ".eventlog.json"
    os.replace(eventlog.find_log(log_dir), log)
    groups = eventlog.fold(log)
    per_pass = [
        pass_metrics(i, p, tracer.spans, groups, progress.batches)
        for i, p in enumerate(traced)
    ]
    out = {name: statistics.median(pm[name] for pm in per_pass) for name in per_pass[0]}
    setups = bench.setups
    out["session.create_s"] = statistics.median(s["create_s"] for s in setups)
    out["session.first_create_s"] = setups[0]["create_s"]
    out["registry.load_all_s"] = statistics.median(s["load_all_s"] for s in setups)
    out["warmup_s"] = statistics.median(s["warmup_s"] for s in setups)
    out["process.peak_rss_mb"] = peak_rss_mb
    out["trace.overhead_s"] = sum(
        b["wall_s"] for b in best_per_key(traced).values()
    ) - sum(b["wall_s"] for b in best_per_key(plain).values())
    tracer.dump(stem + ".spans.json")
    with open(stem + ".passes.json", "w") as fh:
        json.dump({"per_pass": per_pass, "plain": plain, "traced": traced}, fh)
    return {name: {"value": v, "unit": UNITS[name]} for name, v in sorted(out.items())}


def best_per_key(passes: list[dict]) -> dict[str, dict]:
    """Each key's fastest execution over the passes (wall, and the CPU of
    that same execution). The host shares its cores, so a pass can be
    slowed by load from outside; a key's fastest execution is the least
    disturbed estimate of its own cost."""
    keys = passes[0]["keys"]
    return {k: min((p["keys"][k] for p in passes), key=lambda x: x["wall_s"]) for k in keys}


UNITS = {
    "session.create_s": "s",
    "session.first_create_s": "s",
    "registry.load_all_s": "s",
    "warmup_s": "s",
    "tables.load_calls": "count",
    "tables.load_s": "s",
    "tables.view_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_tasks": "count",
    "spark.plan_s": "s",
    "spark.execute_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.idle_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.broadcast_bytes": "bytes",
    "spark.peak_exec_memory_bytes": "bytes",
    "spark.task_skew": "ratio",
    "kernels.python_s": "s",
    "kernels.rows_in": "count",
    "kernels.rows_out": "count",
    "kernels.keep_ratio": "ratio",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.overhead_s": "s",
    "trace.wall_s": "s",
    "trace.unaccounted_s": "s",
    "trace.overhead_s": "s",
    "process.peak_rss_mb": "MiB",
}


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _attribute(groups: dict, spans: list[dict]) -> dict[tuple, list]:
    """Map job groups to ``(key, phase, pass)``. The benchmark names its
    groups so; jobs under any other group (a streaming query sets its own
    run id) go to the build or action span that was open when they
    started."""
    windows = [s for s in spans if s["name"] in ("operators.build", "spark.action")]
    out: dict[tuple, list] = {}
    for gid, g in groups.items():
        parts = gid.split("|")
        if len(parts) == 3 and parts[2].lstrip("-").isdigit():
            slot = (parts[0], parts[1], int(parts[2]))
        else:
            t = (g.first_job_start or 0) / 1000.0
            hit = next((s for s in windows if s["start"] <= t <= s["end"]), None)
            if hit is None:
                continue
            phase = "build" if hit["name"] == "operators.build" else "action"
            slot = (hit["key"], phase, hit["pass"])
        out.setdefault(slot, []).append(g)
    return out


def _ts(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def pass_metrics(index: int, p: dict, spans: list[dict], groups: dict, batches: list) -> dict:
    mine = [s for s in spans if s["pass"] == index]
    child_time: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]

    def dur(s):
        return s["end"] - s["start"]

    def self_t(s):
        return dur(s) - child_time.get(s["id"], 0.0)

    loads = [s for s in mine if s["name"] == "tables.load"]
    views = [s for s in mine if s["name"] == "tables.view"]
    builds = [s for s in mine if s["name"] == "operators.build"]
    actions = [s for s in mine if s["name"] == "spark.action"]
    slots = _attribute(groups, spans)
    build_g = [g for (k, ph, i), gs in slots.items() if ph == "build" and i == index for g in gs]
    action_g = [g for (k, ph, i), gs in slots.items() if ph == "action" and i == index for g in gs]

    plan_s = idle_s = 0.0
    for s in actions:
        gs = slots.get((s["key"], "action", index), [])
        starts = [g.first_job_start for g in gs if g.first_job_start is not None]
        first = min(starts) / 1000.0 if starts else s["end"]
        plan_s += min(max(first - s["start"], 0.0), dur(s))
        ivals = [(a / 1000.0, b / 1000.0) for g in gs for a, b in g.task_intervals]
        idle_s += dur(s) - _covered(ivals, s["start"], s["end"])
    skews = []
    for g in action_g:
        for ms in g.stage_task_ms.values():
            if len(ms) >= 2 and sum(ms) > 0:
                skews.append(max(ms) / (sum(ms) / len(ms)))
    kin = sum(g.kernel_rows_in for g in build_g + action_g)
    kout = sum(g.kernel_rows_out for g in build_g + action_g)
    mb = [b for b in batches if p["t0"] <= _ts(b["timestamp"]) <= p["t1"]]
    trig = sum(b["trigger_ms"] for b in mb) / 1000.0
    addb = sum(b["add_batch_ms"] for b in mb) / 1000.0
    return {
        "tables.load_calls": len(loads),
        "tables.load_s": sum(dur(s) for s in loads),
        "tables.view_s": sum(self_t(s) for s in views),
        "operators.build_s": sum(self_t(s) for s in builds),
        "operators.build_jobs": sum(g.jobs for g in build_g),
        "operators.build_tasks": sum(g.tasks for g in build_g),
        "spark.plan_s": plan_s,
        "spark.execute_s": sum(dur(s) for s in actions) - plan_s,
        "spark.jobs": sum(g.jobs for g in action_g),
        "spark.stages": sum(len(g.stages) for g in action_g),
        "spark.tasks": sum(g.tasks for g in action_g),
        "spark.executor_run_s": sum(g.executor_run_ms for g in action_g) / 1000.0,
        "spark.executor_cpu_s": sum(g.executor_cpu_ns for g in action_g) / 1e9,
        "spark.gc_s": sum(g.gc_ms for g in action_g) / 1000.0,
        "spark.idle_s": idle_s,
        "spark.shuffle_write_bytes": sum(g.shuffle_write_bytes for g in action_g),
        "spark.shuffle_read_bytes": sum(g.shuffle_read_bytes for g in action_g),
        "spark.spill_bytes": sum(g.spill_bytes for g in action_g),
        "spark.broadcast_bytes": sum(g.broadcast_bytes for g in action_g),
        "spark.peak_exec_memory_bytes": max([g.peak_exec_memory_bytes for g in action_g], default=0),
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
        "kernels.python_s": sum(g.kernel_python_ms for g in build_g + action_g) / 1000.0,
        "kernels.rows_in": kin,
        "kernels.rows_out": kout,
        "kernels.keep_ratio": kout / kin if kin else 0.0,
        "streaming.batches": len(mb),
        "streaming.trigger_s": trig,
        "streaming.add_batch_s": addb,
        "streaming.overhead_s": trig - addb,
        "trace.wall_s": p["wall_s"],
        "trace.unaccounted_s": p["wall_s"] - sum(dur(s) for s in builds + actions),
    }
