#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at sf0.001 with a 1-second window.

Usage: python3 perfbench/selftest.py

For every workload in BENCHMARK.json it runs perfbench/run.py untraced and
traced and asserts that
  - the run is correct and no op failed;
  - the untraced run emits every end_to_end metric with its unit, finite
    and above zero;
  - the traced run emits every per_layer metric with its unit, and each layer
    that spec.json says works in the workload reports a non-zero metric;
  - the per-layer self times of every traced op fit its wall time
    (summarize.py).
"""
import json
import math
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

CORPUS = HERE / "corpus" / "sf0.001"


def run(workload, trace):
    r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "7",
                        "--seconds", "1", "--trace", str(trace), "--corpus", str(CORPUS)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    assert r.returncode == 0 and lines, f"{workload} trace={trace}: exit {r.returncode}\n{r.stderr[-3000:]}"
    return json.loads(lines[-1])


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    spec = json.loads((HERE / "spec.json").read_text())
    problems = []
    for wl in bench["workloads"]:
        name = wl["name"]
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            res = run(name, trace)
            if not res["correct"] or res["failed"]:
                problems.append(f"{name} trace={trace}: correct={res['correct']} failed={res['failed']}")
            got = res["metrics"]
            if set(got) != {m["name"] for m in declared}:
                problems.append(f"{name} trace={trace}: metric set differs: {sorted(set(got) ^ {m['name'] for m in declared})}")
            for m in declared:
                v = got.get(m["name"])
                if v is None or v["unit"] != m["unit"] or not math.isfinite(v["value"]):
                    problems.append(f"{name}: {m['name']} missing or malformed: {v}")
                elif trace == 0 and v["value"] <= 0:
                    problems.append(f"{name}: end-to-end {m['name']} is not above zero: {v}")
            if trace == 1:
                for layer in spec["layers"]:
                    if name in layer["works_in"] and not any(got.get(k, {}).get("value") for k in layer["metrics"]):
                        problems.append(f"{name}: layer '{layer['layer']}' reports nothing")
                record = build.build_root() / "runs" / f"{name}-s7-t1.json"
                s = subprocess.run([sys.executable, str(HERE / "summarize.py"), str(record)],
                                   capture_output=True, text=True)
                if s.returncode != 0:
                    problems.append(f"{name}: summarize.py: self times do not fit\n{s.stdout[-2000:]}")
        print(f"{name}: checked")
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAIL" if problems else "ok")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
