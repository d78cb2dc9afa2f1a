"""Fold a traced run into per-layer metrics and a span artifact.

Inputs: the worker's pass/op spans (wall clock, /proc CPU by part), the
Spark event log (jobs attach to op spans through their job group
``<workload>/<pass>/<op>``) and the streaming progress a
StreamingQueryListener received. Every per-layer metric is the mean
over timed passes of its per-pass value, so the pass's parts add up to
its wall time (and tick-counted CPU times keep more than 10 ms of
resolution).

Which end-to-end metric each layer should move, and where it shows most:

    session.start_s                  setup_s            both workloads
    operators.call_s (plan + eager)  pass_s             curation, ingest
    execution.force_s                pass_s             curation
    ckpt.release_s                   pass_s             curation
    driver.cpu_s, driver.idle_s      pass_s             curation
    pyworker.cpu_s                   pass_s, cpu_s      curation
    jvm.cpu_s, spark.* counts/times  pass_s, cpu_s      both workloads
    spark.input_*                    pass_s, rows_per_s both workloads
    spark.shuffle_*, spill, memory   pass_s, peak_rss   curation
    streaming.*                      pass_s             ingest
    spark.output_*                   pass_s             ingest

``harness.gap_s`` is pass time spent outside op calls, forces and
releases; ``trace.pass_s`` minus the untraced ``pass_s`` is the tracing
overhead.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from datetime import datetime

MB = 1 << 20

# task-level counters summed per op span: name -> (getter, scale)
_TASK_SUMS = {
    "task_run_s": (lambda m: m.get("Executor Run Time", 0), 1e-3),
    "task_cpu_s": (lambda m: m.get("Executor CPU Time", 0), 1e-9),
    "gc_s": (lambda m: m.get("JVM GC Time", 0), 1e-3),
    "input_mb": (lambda m: m.get("Input Metrics", {}).get("Bytes Read", 0),
                 1 / MB),
    "input_rows": (lambda m: m.get("Input Metrics", {})
                   .get("Records Read", 0), 1),
    "output_mb": (lambda m: m.get("Output Metrics", {})
                  .get("Bytes Written", 0), 1 / MB),
    "output_rows": (lambda m: m.get("Output Metrics", {})
                    .get("Records Written", 0), 1),
    "shuffle_write_mb": (lambda m: m.get("Shuffle Write Metrics", {})
                         .get("Shuffle Bytes Written", 0), 1 / MB),
    "shuffle_read_mb": (lambda m: sum(
        m.get("Shuffle Read Metrics", {}).get(k, 0)
        for k in ("Remote Bytes Read", "Local Bytes Read")), 1 / MB),
    "spill_mb": (lambda m: m.get("Disk Bytes Spilled", 0), 1 / MB),
}


def _new_cell() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
            "peak_exec_mem_mb": 0.0, "spans": [],
            **{k: 0.0 for k in _TASK_SUMS}}


def read_event_log(events_dir: str):
    """Jobs as (job group, submission time, stage ids) and, per stage,
    its [start, end] and task counters."""
    files = sorted(p for p in glob.glob(os.path.join(events_dir, "**", "*"),
                                        recursive=True) if os.path.isfile(p))
    jobs = []
    stages: dict[int, dict] = defaultdict(_new_cell)
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append((
                        (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1e3, ev.get("Stage IDs", [])))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if "Submission Time" in info:
                        st = stages[info["Stage ID"]]
                        st["stages"] += 1
                        st["spans"].append(
                            (info["Submission Time"] / 1e3,
                             info.get("Completion Time",
                                      info["Submission Time"]) / 1e3))
                elif kind == "SparkListenerTaskEnd":
                    st = stages[ev["Stage ID"]]
                    st["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") \
                            != "Success":
                        st["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    for k, (get, scale) in _TASK_SUMS.items():
                        st[k] += get(m) * scale
                    st["peak_exec_mem_mb"] = max(
                        st["peak_exec_mem_mb"],
                        m.get("Peak Execution Memory", 0) / MB)
    return jobs, stages


def attribute(jobs, stages, passes, workload: str) -> dict[str, dict]:
    """Sum stage counters per op span ``<workload>/<pass>/<op>``. A job
    tagged with an op's job group belongs to it; an untagged job (a
    streaming micro-batch runs under its query's run id) belongs to the
    op span it was submitted in. A stage counts once, for the first job
    that lists it."""
    windows = [(c["t0"], c["t1"], f"{workload}/{p['label']}/{c['op']}")
               for p in passes for c in p["ops"]]
    cells: dict[str, dict] = defaultdict(_new_cell)
    seen: set[int] = set()
    for group, t, sids in jobs:
        key = group if group and group.startswith(workload + "/") else next(
            (k for a, b, k in windows if a <= t <= b), None)
        if key is None:
            continue
        c = cells[key]
        c["jobs"] += 1
        for sid in sids:
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            st = stages[sid]
            for k, v in st.items():
                c[k] = max(c[k], v) if k == "peak_exec_mem_mb" else c[k] + v
    return dict(cells)


def _covered(spans, t0: float, t1: float) -> float:
    """Length of the union of ``spans`` clipped to [t0, t1]."""
    total, end = 0.0, t0
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, t1)
        if b > a:
            total += b - a
            end = b
    return total


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def fold(out: dict, events_dir: str, workload: str, run_id: str):
    """Return (per-layer metrics, span artifact) for a traced run. Every
    pass span carries ``run_id``; op spans nest in their pass span."""
    jobs, stages = read_event_log(events_dir)
    groups = attribute(jobs, stages, out["warmup"] + out["timed"], workload)
    batches = [(_epoch(b["ts"]), b) for b in out.get("streaming", [])]
    per_pass = []
    spans = []
    for p in out["timed"]:
        t0, t1 = p["t0"], p["t1"]
        prefix = f"{workload}/{p['label']}/"
        mine = {g[len(prefix):]: c for g, c in groups.items()
                if g.startswith(prefix)}
        call = sum(c["call_s"] for c in p["ops"])
        force = sum(c["force_s"] for c in p["ops"])
        inb = [b for ts, b in batches if t0 <= ts <= t1]
        row = {
            "trace.pass_s": p["wall_s"],
            "session.start_s": out["session_start_s"],
            "operators.call_s": call,
            "execution.force_s": force,
            "ckpt.release_s": p["release_s"],
            "harness.gap_s": p["wall_s"] - call - force - p["release_s"],
            "driver.cpu_s": p["cpu"]["driver"],
            "driver.idle_s": p["wall_s"] - _covered(
                [s for c in mine.values() for s in c["spans"]], t0, t1),
            "pyworker.cpu_s": p["cpu"]["pyworker"],
            "jvm.cpu_s": p["cpu"]["jvm"],
            "streaming.batches": len(inb),
            "streaming.state_rows": max((b["state_rows"] for b in inb),
                                        default=0),
            "streaming.state_mb": max((b["state_bytes"] for b in inb),
                                      default=0) / MB,
        }
        for k in ("jobs", "stages", "tasks", "failed_tasks", *_TASK_SUMS):
            row[f"spark.{k}"] = sum(c[k] for c in mine.values())
        row["spark.peak_exec_mem_mb"] = max(
            (c["peak_exec_mem_mb"] for c in mine.values()), default=0.0)
        per_pass.append(row)
        spans.append({
            "run_id": run_id, "pass": p["label"], "t0": t0, "t1": t1,
            "wall_s": p["wall_s"], "release_s": p["release_s"],
            "cpu": p["cpu"], "streaming": inb,
            "ops": [{**cell, **{k: v for k, v in
                                mine.get(cell["op"], {}).items()
                                if k != "spans"}}
                    for cell in p["ops"]],
        })
    metrics = {k: statistics.fmean(r[k] for r in per_pass)
               for k in per_pass[0]}
    parts = metrics["operators.call_s"] + metrics["execution.force_s"] \
        + metrics["ckpt.release_s"]
    artifact = {
        "run_id": run_id,
        "workload": workload,
        "app_id": out.get("app_id"),
        "passes": spans,
        "layer_sum": {
            "pass_s": metrics["trace.pass_s"],
            "call_force_release_s": parts,
            "harness_gap_s": metrics["harness.gap_s"],
            "gap_share": metrics["harness.gap_s"] / metrics["trace.pass_s"],
        },
        "job_groups": sorted(groups),
    }
    return metrics, artifact
