#!/usr/bin/env python3
"""Measure the benchmark's baseline: every workload on several seeds.

Usage: python3 perfbench/baseline.py [--seeds N] [--traced-seeds T] [--first-seed S] [--out FILE]

Runs perfbench/run.py untraced once per seed and workload (run length from
BENCHMARK.json), then traced on the first T seeds, and writes per workload
and end-to-end metric the median, the quartiles (statistics.quantiles, n=4)
and the spread (q3 - q1) / median, and per per-layer metric the median and
the values of the traced runs. Each run's noise-probe bracket and host CPU
steal share are kept with it. Standard library only.
"""
import argparse
import datetime
import json
import os
import platform
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402


def one(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)], cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"{workload} seed {seed}: exit {r.returncode}\n{r.stderr[-3000:]}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    prov = json.loads((build.build_root() / "runs" / f"{workload}-s{seed}-t{trace}.provenance.json").read_text())
    return res, prov


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--traced-seeds", type=int, default=3)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default=str(HERE / "baseline.json"))
    a = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    out = {"measured": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
           "host": {"nproc": os.cpu_count(), "machine": platform.machine(), "python": platform.python_version()},
           "run_seconds": seconds, "seeds": list(range(a.first_seed, a.first_seed + a.seeds)), "workloads": {}}
    for wl in bench["workloads"]:
        name = wl["name"]
        values, probes, steal = {}, [], []
        for seed in out["seeds"]:
            res, prov = one(name, seed, seconds, 0)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            probes.append(prov["noise_probe_s"])
            steal.append(prov["cpu_steal_share"])
            out.setdefault("provenance", {k: prov[k] for k in
                                          ("git_sha", "nproc", "heap", "spark_version", "java_version")})
        e2e = {}
        for k, xs in values.items():
            q1, q2, q3 = statistics.quantiles(xs, n=4)
            med = statistics.median(xs)
            e2e[k] = {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": xs}
            print(f"{name:10s} {k:16s} median {med:10.4g}  spread {(q3 - q1) / med:6.3f}")
        layer = {}
        for seed in out["seeds"][:a.traced_seeds]:
            traced, _ = one(name, seed, seconds, 1)
            for k, v in traced["metrics"].items():
                layer.setdefault(k, []).append(v["value"])
        out["workloads"][name] = {"end_to_end": e2e, "noise_probe_s": probes, "cpu_steal_share": steal,
                                  "per_layer": {k: {"median": statistics.median(xs), "values": xs}
                                                for k, xs in layer.items()}}
    Path(a.out).write_text(json.dumps(out, indent=1) + "\n")
    print(f"wrote {a.out}")


if __name__ == "__main__":
    main()
