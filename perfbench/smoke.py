"""Smoke test of the benchmark at tiny sizes.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json untraced and traced with
PERFBENCH_SMOKE=1 (tiny inputs, their own cache dir) and asserts that
each run is correct and prints exactly the metrics BENCHMARK.json names,
each with its unit. Then runs full_validate once more against a golden
plan that is off by one and asserts that the output check fails it
(failed_frac above 0, correct false). Takes a few minutes: every run starts
its own Spark session.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(*args: str) -> dict:
    env = dict(os.environ, PERFBENCH_SMOKE="1")
    proc = subprocess.run([sys.executable, *args], cwd=ROOT, env=env,
                          capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise AssertionError(f"{args} exited {proc.returncode}:\n"
                             f"{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, spec: list[dict], label: str) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{label}: metrics/units differ: " \
        f"missing {sorted(set(want) - set(got))}, " \
        f"extra {sorted(set(got) - set(want))}, " \
        f"units {[(k, got[k], want[k]) for k in got if k in want and got[k] != want[k]]}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)) \
            and math.isfinite(v["value"]), f"{label}: {k} = {v['value']}"
    assert result["correct"] and result["failed"] == 0 \
        and result["attempted"] >= 1, f"{label}: {result}"


def wrong_golden_child() -> int:
    """full_validate with every golden count off by one."""
    sys.path.insert(0, HERE)
    import inputs
    import run as bench_run

    real = inputs.golden_counts

    def off_by_one(*args, **kwargs):
        return {k: v + 1 for k, v in real(*args, **kwargs).items()}
    inputs.golden_counts = off_by_one
    return bench_run.main(["--workload", "full_validate", "--seed", "0",
                           "--seconds", "1", "--trace", "0"])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    script = os.path.join(HERE, "run.py")
    for w in spec["workloads"]:
        for trace, metrics in ((0, spec["end_to_end"]),
                               (1, spec["per_layer"])):
            label = f"{w['name']} --trace {trace}"
            res = run(script, "--workload", w["name"], "--seed", "0",
                      "--seconds", "1", "--trace", str(trace))
            check_metrics(res, metrics, label)
            print(f"ok: {label}", flush=True)
    res = run(os.path.abspath(__file__), "--wrong-golden")
    assert res["failed"] > 0 and not res["correct"], res
    print(f"ok: wrong golden plan -> failed_frac "
          f"{res['failed']}/{res['attempted']}", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(wrong_golden_child() if sys.argv[1:] == ["--wrong-golden"]
             else main())
