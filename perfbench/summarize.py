#!/usr/bin/env python3
"""Summarize traced benchmark runs, layer by layer. Standard library only.

Usage:
  python3 perfbench/summarize.py RUN_RECORD.json [...] [--ops-out FILE.jsonl]

Each RUN_RECORD is a run record written by a traced run
(<build root>/perfbench/runs/<workload>-s<seed>-t1.json). For every op of the
traced passes it splits the op's wall time into per-layer self times
(metrics.self_times: stage-covered execution, Catalyst phases, the builder,
the driver) and prints, per workload and op kind and then per op name, the
wall time, the self times, the scheduler counts, exec.busy_ratio and, for
table reads, table.prune_ratio. --ops-out keeps the full per-op record for
every op, one JSON object a line.
"""
import argparse
import json
import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import metrics  # noqa: E402

LAYERS = [metrics.STAGE, *metrics.PHASES, metrics.BUILD, metrics.DRIVER]
LABELS = ["exec", "analysis", "optimize", "plan", "build", "driver"]
SPEC = json.loads((Path(__file__).resolve().parent / "spec.json").read_text())
KIND = {op: kind for wl in SPEC["workloads"] for kind, ops in wl["op_kinds"].items() for op in ops}


def op_records(rec):
    spans = metrics.op_spans(rec)
    traced = {p["index"] for p in rec["passes"] if p["phase"] == "traced"}
    out = []
    for o in rec["ops"]:
        if o["phase"] != "traced" or o["pass"] not in traced:
            continue
        sp = spans[o["id"]]
        st = metrics.self_times(o, sp)
        wall = metrics.wall(o)
        row = {
            "workload": rec["workload"], "seed": rec["seed"], "op": o["name"],
            "kind": KIND.get(o["name"], o["kind"]),
            "pass": o["pass"], "wall_s": wall, "self_s": st,
            "jobs": len(sp["jobs"]), "stages": len(sp["stages"]),
            "tasks": metrics.stage_sum(sp, "tasks"),
            "task_run_s": metrics.stage_sum(sp, "task_run_s"),
            "scan_bytes": metrics.stage_sum(sp, "scan_bytes"),
            "shuffle_write_bytes": metrics.stage_sum(sp, "shuffle_write_bytes"),
            "scratch_builds": o["scratch_builds"], "error": o.get("error"),
        }
        if "table" in o:
            row["table"] = o["table"]
        out.append(row)
    return out


def check_fit(rows):
    """Self times must be non-negative and sum to the op's wall time."""
    bad = []
    for r in rows:
        parts = r["self_s"].values()
        if min(parts) < -1e-9 or abs(sum(parts) - r["wall_s"]) > 1e-6:
            bad.append(r)
    return bad


def table(groups, title):
    head = ["n", "wall_s"] + LABELS + ["jobs", "stages", "tasks", "busy", "prune"]
    print(f"\n== {title}")
    print(f"{'':34s}" + "".join(f"{h:>10s}" for h in head))
    for key in sorted(groups):
        rs = groups[key]
        n = len(rs)
        wall = sum(r["wall_s"] for r in rs)
        cells = [n, wall / n] + [sum(r["self_s"][layer] for r in rs) / n for layer in LAYERS]
        cells += [sum(r[k] for r in rs) / n for k in ("jobs", "stages", "tasks")]
        cells.append(sum(r["task_run_s"] for r in rs) / (wall * metrics.CORES) if wall else 0.0)
        planned = [r["table"] for r in rs if "table" in r and "plan_s" in r["table"]]
        tot = sum(t["files_total"] for t in planned)
        cells.append(1.0 - sum(t["files_planned"] for t in planned) / tot if tot else float("nan"))
        label = " / ".join(str(k) for k in key)
        print(f"{label[:34]:34s}" + "".join(f"{c:10.4g}" if isinstance(c, float) else f"{c:10d}"
                                              for c in cells))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("records", nargs="+")
    ap.add_argument("--ops-out")
    a = ap.parse_args()
    rows = []
    for path in a.records:
        rec = json.loads(Path(path).read_text())
        if not rec.get("trace"):
            sys.exit(f"{path}: not a traced run")
        rows += op_records(rec)
    by_kind, by_op = defaultdict(list), defaultdict(list)
    for r in rows:
        by_kind[(r["workload"], r["kind"])].append(r)
        by_op[(r["workload"], r["op"])].append(r)
    table(by_kind, "per workload and op kind (means per op; self times in s: " +
          ", ".join(f"{a} = {b}" for a, b in zip(LABELS, LAYERS)) + ")")
    table(by_op, "per op")
    bad = check_fit(rows)
    print(f"\n{len(rows)} ops; self times fit the op wall time for {len(rows) - len(bad)}")
    if a.ops_out:
        with open(a.ops_out, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
