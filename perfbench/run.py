"""Benchmark of the engine's operator pipelines, run from the repo root:

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

One run: generate the seeded inputs (once per seed), compute the DuckDB
oracle answers (once per seed), start a fresh measured process
(worker.py) under ``local[<cpus>]`` with every other engine setting at
its default, let it warm up and time about ``--seconds`` of passes,
compare each op's collected result with its oracle, and print one JSON
line last. The load is a closed loop with one client: a single driving
thread issues the workload's ops back to back, as a batch pipeline does.
``--trace 0`` reports the end-to-end metrics;
``--trace 1`` turns on Spark's event log and a streaming listener and
reports the per-layer metrics instead (tracing overhead is its
``trace.pass_s`` minus the untraced ``pass_s``).

Warm passes keep getting faster for about eight passes while the JVM
compiles the hot paths, and how fast they do depends on the host's load.
So the timed passes come late (after ``WARMUP_PASSES``), and
``--seconds`` is turned into a fixed number of them with the workload's
``nominal_pass_s`` (a warm pass on a 4-vCPU box): a run times the same
passes -- the same point in the warm-up -- on a fast host and on a slow
one.

Generated inputs, oracle answers, Spark scratch space and the last trace
of each workload live under ``.bench_work/`` at the repo root. What the
ops leave under their fixed ``/tmp/spark_graft_*`` paths during a run is
removed after it, so every run starts from the same disk state. Run
workloads one after another, never at once.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
RUN_BUDGET_S = 170  # the whole run, generation and oracles included
WARMUP_PASSES = 5
MIN_PASSES = 3
# the engine's fixed scratch roots; only entries a run creates are removed
TMP_ROOT, TMP_PREFIX = "/tmp", "spark_graft_"

UNITS = {"pass_s": "s", "rows_per_s": "1/s", "setup_s": "s", "cpu_s": "s"}
# peak_rss_mb is reported with the layers: the JVM sizes its heap
# adaptively, so the tree's peak RSS varies too much from run to run to
# carry a regression bound
LAYER_UNITS = {
    "peak_rss_mb": "MB", "session.start_s": "s", "operators.call_s": "s",
    "execution.force_s": "s", "ckpt.release_s": "s", "harness.gap_s": "s",
    "trace.pass_s": "s", "driver.cpu_s": "s", "driver.idle_s": "s",
    "pyworker.cpu_s": "s", "jvm.cpu_s": "s", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.failed_tasks": "count", "spark.input_mb": "MB",
    "spark.input_rows": "count", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.peak_exec_mem_mb": "MB", "streaming.batches": "count",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB", "spark.output_mb": "MB",
    "spark.output_rows": "count",
}


def _fail(msg: str):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _tmp_entries() -> set[str]:
    """Every ``/tmp/spark_graft_*`` root and its direct children."""
    seen = set()
    for name in os.listdir(TMP_ROOT):
        if name.startswith(TMP_PREFIX):
            root = os.path.join(TMP_ROOT, name)
            seen.add(root)
            if os.path.isdir(root):
                seen.update(os.path.join(root, c) for c in os.listdir(root))
    return seen


def _remove_new(before: set[str]) -> None:
    for path in sorted(_tmp_entries() - before, key=len):
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)


def _oracles(ops, data_dir: str, cache_dir: str) -> float:
    """Cache each op's normalized DuckDB answer; return seconds spent."""
    from erlang_mapreduce_spark.registry import ORACLES
    from tests.oracle import _ORACLE_SF, _norm_rows, duck_con

    t = time.perf_counter()
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    for op in ops:
        path = os.path.join(cache_dir, f"{op}.pkl")
        if os.path.exists(path):
            continue
        if con is None:
            con = duck_con(data_dir)
        res = con.execute(ORACLES[op].replace(
            _ORACLE_SF, os.path.basename(data_dir)))
        cols = [d[0] for d in res.description]
        norm = _norm_rows(cols, [tuple(r) for r in res.fetchall()])
        with open(path + ".tmp", "wb") as f:
            pickle.dump(norm, f)
        os.replace(path + ".tmp", path)
    if con is not None:
        con.close()
    return time.perf_counter() - t


def _mismatches(ops, results: dict, cache_dir: str) -> dict[str, str]:
    """Ops whose collected result differs from the oracle: row count and
    order-insensitive values, as tests/oracle.py:run_compare compares."""
    from tests.oracle import _cells_equal, _norm_rows

    bad = {}
    for op in ops:
        if op not in results:
            continue  # raised in the collecting pass: already counted
        with open(os.path.join(cache_dir, f"{op}.pkl"), "rb") as f:
            dcols, drows = pickle.load(f)
        scols, srows = _norm_rows(*results[op])
        if scols != dcols:
            bad[op] = f"columns {scols} != {dcols}"
        elif len(srows) != len(drows):
            bad[op] = f"rows {len(srows)} != {len(drows)}"
        elif not all(_cells_equal(x, y) for a, b in zip(srows, drows)
                     for x, y in zip(a, b)):
            bad[op] = "values differ"
    return bad


def _session_alive(sid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                if os.getsid(int(d)) == sid:
                    return True
            except OSError:
                pass
    return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's session (its JVM and Python
    workers: the worker has written its results, and a traced worker has
    stopped Spark, which flushes the event log) and wait until every
    process of it has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    while _session_alive(proc.pid):
        time.sleep(0.05)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float,
                    help="override the workload's scale factor")
    ap.add_argument("--warmup", type=int, default=WARMUP_PASSES)
    ap.add_argument("--min-passes", type=int, default=MIN_PASSES)
    args = ap.parse_args()
    t_run = time.time()

    if not os.path.isfile(os.path.join(ROOT, "erlang_mapreduce_spark",
                                       "registry.py")):
        _fail(f"engine package not found under {ROOT}")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen
    from workloads import WORKLOADS, rows_per_pass

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else wl["sf"]
    ops = wl["ops"]
    tag = f"{args.workload}-sf{sf}-s{args.seed}"
    data_dir = os.path.join(WORK, "data", tag)
    manifest = gen.ensure(data_dir, args.seed, sf, wl["copies"])
    oracle_dir = os.path.join(WORK, "oracle", tag)
    oracle_s = _oracles(ops, data_dir, oracle_dir)

    from erlang_mapreduce_spark.registry import ORACLES

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("local", "tmp", "events"):
        os.makedirs(os.path.join(run_dir, d))
    cfg = {
        "workload": args.workload, "ops": ops, "data_dir": data_dir,
        "warmup_passes": args.warmup,
        "timed_passes": max(args.min_passes,
                            round(args.seconds / wl["nominal_pass_s"])),
        "trace": bool(args.trace),
        "out_path": os.path.join(run_dir, "out.json"),
        "results_path": os.path.join(run_dir, "results.pkl"),
    }
    cfg_path = os.path.join(run_dir, "cfg.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"), TMPDIR=tmp)
    env.pop("SPARK_GRAFT_MASTER", None)
    # launch-time conf the benchmark owns: the JVM's scratch files go to
    # the run dir, and a traced run writes an uncompressed event log
    submit = [f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    if args.trace:
        events = os.path.join(run_dir, "events")
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{events}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])

    before = _tmp_entries()
    log_path = os.path.join(run_dir, "worker.log")
    t_spawn = time.time()
    rc = None
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10, RUN_BUDGET_S
                                       - (time.time() - t_run)))
        except subprocess.TimeoutExpired:
            pass
        finally:
            _stop_group(proc)
            _remove_new(before)
    if rc != 0:
        with open(log_path) as f:
            tail = "".join(f.readlines()[-30:])
        _fail(f"measured process {'timed out' if rc is None else f'exited {rc}'}"
              f"; log tail:\n{tail}")

    with open(cfg["out_path"]) as f:
        out = json.load(f)
    with open(cfg["results_path"], "rb") as f:
        results = pickle.load(f)
    bad = _mismatches(ops, results, oracle_dir)
    n_passes = len(out["warmup"]) + len(out["timed"])
    attempted = n_passes * len(ops)
    failed = len(out["errors"]) + len(bad)
    timed = out["timed"]
    pass_s = statistics.median(p["wall_s"] for p in timed)
    rows = rows_per_pass(ops, ORACLES, manifest["tables"])
    e2e = {
        "pass_s": pass_s,
        "rows_per_s": rows / pass_s,
        "setup_s": timed[0]["t0"] - t_spawn,
        "cpu_s": statistics.median(sum(p["cpu"].values()) for p in timed),
    }
    samples = {"pass_s": len(timed), "rows_per_s": len(timed),
               "setup_s": 1, "cpu_s": len(timed)}

    print(f"# {args.workload} seed={args.seed} sf={sf}x{wl['copies']} "
          f"cpus={cpus} ops={len(ops)} rows/pass={rows} "
          f"gen_s={manifest['gen_s'] if manifest['fresh'] else 'cached'} "
          f"oracle_s={oracle_s:.3f}")
    for k, v in e2e.items():
        print(f"# {k} = {v:.6g} {UNITS[k]} (n={samples[k]})")
    print(f"# peak_rss_mb = {out['peak_rss_mb']:.6g} MB (n=1)")
    for name, ps in (("warm-up", out["warmup"]), ("timed", timed)):
        print(f"# {name} passes: " + ", ".join(
            f"{p['wall_s']:.3f} s / {sum(p['cpu'].values()):.1f} cpu-s"
            for p in ps))
    print(f"# error_rate = {failed / attempted:.6g} ratio "
          f"(n={attempted}: {len(out['errors'])} raised, "
          f"{len(bad)} oracle mismatches)")
    for e in out["errors"]:
        print(f"# raised: {e['pass']}/{e['op']}: {e['error'][:200]}")
    for op, why in bad.items():
        print(f"# oracle mismatch: {op}: {why}")

    if args.trace:
        import layers as layerfold

        run_id = f"{args.workload}-s{args.seed}-{out['app_id']}"
        layers, artifact = layerfold.fold(
            out, os.path.join(run_dir, "events"), args.workload, run_id)
        artifact.update(seed=args.seed, sf=sf, end_to_end=e2e,
                        errors=out["errors"], mismatches=bad)
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        art_path = os.path.join(WORK, "trace", f"{args.workload}.json")
        with open(art_path, "w") as f:
            json.dump(artifact, f, indent=1)
        share = artifact["layer_sum"]["gap_share"]
        print(f"# trace: {art_path}; call+force+release cover "
              f"{100 * (1 - share):.1f}% of pass wall time")
        layers["peak_rss_mb"] = out["peak_rss_mb"]
        metrics = {k: {"value": layers[k], "unit": LAYER_UNITS[k]}
                   for k in LAYER_UNITS}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
