"""The measured process: one fresh Python driver (and its JVM and Python
workers) that runs one workload and writes what it saw as JSON.

    python3 perfbench/worker.py <config.json>

One driving thread issues the workload's ops back to back. A pass
releases the engine's checkpoint caches, then for each op calls
``QUERIES[op](spark, dir)`` and forces the result with a ``noop`` write.
Untimed warm-up passes come first, then a fixed number of timed
passes. The first warm-up pass forces each op by collecting its result
instead, pickled for the caller's oracle comparison.

Every op is tagged with ``sc.setJobGroup("<workload>/<pass>/<op>")`` so
the event log of a traced run attaches Spark jobs to their op span.
"""

from __future__ import annotations

import json
import os
import pickle
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import proctree  # noqa: E402


class _Progress:
    """Streaming progress as a StreamingQueryListener sees it."""

    def __init__(self):
        self.batches: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.batches

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                sink.append({
                    "ts": p.timestamp,
                    "duration_ms": p.durationMs.get("triggerExecution", 0),
                    "state_rows": sum(s.numRowsTotal
                                      for s in p.stateOperators),
                    "state_bytes": sum(s.memoryUsedBytes
                                       for s in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return Listener()


def _release() -> None:
    """Drop every checkpoint the engine pooled or shared, so each pass
    starts from the same cache state."""
    from erlang_mapreduce_spark import ckpt
    from erlang_mapreduce_spark.operators import dedup

    ckpt.release_transient_storage()
    ckpt.release_shared()
    dedup._DURABLE_SHARED.clear()


def run_pass(spark, cfg, label, queries, tree, errors, results=None) -> dict:
    """One pass over the workload's ops. With ``results`` given, each op
    is forced by collecting it into ``results`` instead of a noop write."""
    sc = spark.sparkContext
    wl, data = cfg["workload"], cfg["data_dir"]
    cpu0 = tree.cpu()
    p = {"label": label, "t0": time.time(), "ops": []}
    t = time.perf_counter()
    _release()
    p["release_s"] = time.perf_counter() - t
    for op in cfg["ops"]:
        sc.setJobGroup(f"{wl}/{label}/{op}", op)
        cell = {"op": op, "call_s": 0.0, "force_s": 0.0, "t0": time.time()}
        t = time.perf_counter()
        try:
            df = queries[op](spark, data)
            cell["call_s"] = time.perf_counter() - t
            t = time.perf_counter()
            if results is None:
                df.write.format("noop").mode("overwrite").save()
            else:
                results[op] = (list(df.columns),
                               [tuple(r) for r in df.collect()])
            cell["force_s"] = time.perf_counter() - t
        except Exception as e:  # counted, reported, never fatal
            cell["error"] = f"{type(e).__name__}: {e}"[:500]
            errors.append({"op": op, "pass": label, "error": cell["error"],
                           "traceback": traceback.format_exc()[-3000:]})
        cell["t1"] = time.time()
        p["ops"].append(cell)
    sc.setJobGroup(f"{wl}/{label}/-", "between ops")
    p["t1"] = time.time()
    p["wall_s"] = p["t1"] - p["t0"]
    p["cpu"] = tree.delta(cpu0, tree.cpu())
    return p


def main(cfg_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    out: dict = {"errors": []}
    tree = proctree.Tree(os.getpid())

    from erlang_mapreduce_spark.registry import QUERIES
    from erlang_mapreduce_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(f"perfbench-{cfg['workload']}")
    out["session_start_s"] = time.perf_counter() - t
    out["app_id"] = spark.sparkContext.applicationId

    progress = _Progress()
    if cfg["trace"]:
        spark.streams.addListener(progress.listener())

    # the first warm-up pass doubles as the correctness pass: it collects
    # each op's result for the caller's oracle comparison
    errors = out["errors"]
    results: dict = {}
    out["warmup"] = [
        run_pass(spark, cfg, f"w{i}", QUERIES, tree, errors,
                 results if i == 0 else None)
        for i in range(cfg["warmup_passes"])
    ]
    out["timed"] = [
        run_pass(spark, cfg, f"t{i}", QUERIES, tree, errors)
        for i in range(cfg["timed_passes"])
    ]
    out["peak_rss_mb"] = tree.peak_rss_mb()
    with open(cfg["results_path"], "wb") as f:
        pickle.dump(results, f)
    out["streaming"] = progress.batches
    if cfg["trace"]:
        spark.stop()  # flushes the event log
    with open(cfg["out_path"], "w") as f:
        json.dump(out, f)
    # an untraced run has nothing left to flush: the caller kills the JVM
    # and waits until the whole session has ended
    os._exit(0)


if __name__ == "__main__":
    main(sys.argv[1])
