"""The benchmark's own smoke test: every workload at sf0.001 for one timed
pass, untraced and traced.

    python3 perfbench/smoke.py

Asserts that each run prints every end-to-end (or per-layer) metric
named in BENCHMARK.json with its unit, that no op raised or mismatched
its oracle, and that the trace is complete: every op of every pass has
Spark jobs attached and the op calls, forces and cache releases cover at
least 90% of the pass wall time. Prints the tracing overhead (traced
minus untraced pass time) per workload.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def _run(workload: str, trace: int) -> tuple[str, dict]:
    res = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "1", "--seconds", "0", "--trace", str(trace),
         "--sf", "0.001", "--warmup", "1", "--min-passes", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    lines = res.stdout.strip().splitlines()
    return res.stdout, json.loads(lines[-1])


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for wl in WORKLOADS:
        passes = {}
        for trace, spec in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            text, out = _run(wl, trace)
            assert out["correct"] and out["failed"] == 0, text
            assert "# error_rate = 0 ratio" in text, text
            assert set(out["metrics"]) == {m["name"] for m in spec}, out
            for m in spec:
                got = out["metrics"][m["name"]]
                assert got["unit"] == m["unit"], (m, got)
                assert isinstance(got["value"], (int, float)), (m, got)
            if trace:
                with open(os.path.join(ROOT, ".bench_work", "trace",
                                       f"{wl}.json")) as f:
                    art = json.load(f)
                for p in art["passes"]:
                    assert p["run_id"] == art["run_id"], (wl, p["pass"])
                    for cell in p["ops"]:
                        assert cell.get("jobs", 0) > 0, (wl, p["pass"], cell)
                assert art["layer_sum"]["gap_share"] < 0.10, art["layer_sum"]
                passes[1] = out["metrics"]["trace.pass_s"]["value"]
            else:
                passes[0] = out["metrics"]["pass_s"]["value"]
        print(f"{wl}: ok; tracing overhead {passes[1] - passes[0]:+.3f} s "
              f"on a {passes[0]:.3f} s pass")


if __name__ == "__main__":
    main()
