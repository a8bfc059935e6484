"""Metric definitions of the benchmark, computed from one run record.

The harness (perfbench/src) only records: set-up times, passes (a cycle for
lakehouse) with their CPU and GC time, every op with its wall interval, the
untimed output checks and, in a traced run, spans from Spark's listeners.
Every reported number is derived here, so run.py and summarize.py share one
definition. Standard library only.
"""
import bisect
import math
import statistics

STAGE, BUILD, DRIVER = "exec", "queries.build", "driver"
PHASES = ("catalyst.analysis", "catalyst.optimization", "catalyst.planning")
CORES = 4


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def geomean(xs):
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else float("nan")


def percentile(xs, p):
    """Nearest-rank percentile, p in (0, 100]."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def warm_passes(rec, phase="warm"):
    return [p for p in rec["passes"] if p["phase"] == phase]


def ops_in(rec, passes):
    idx = {p["index"] for p in passes}
    return [o for o in rec["ops"] if o["pass"] in idx and o["phase"] == passes[0]["phase"]] if passes else []


def wall(x):
    return x["t1"] - x["t0"]


def attempted_failed(rec):
    """Ops attempted (timed and check ops) plus output checks; failures are
    ops that threw and checks that did not match."""
    attempted = len(rec["ops"]) + len(rec["checks"])
    failed = sum(1 for o in rec["ops"] if o.get("error")) + sum(1 for c in rec["checks"] if not c["ok"])
    if rec.get("fatal"):
        failed += 1
        attempted += 1
    return attempted, failed


def end_to_end(rec, tail_pct):
    """Every end-to-end metric, from the untraced warm passes.

    latency_p50_s is the geometric mean over the workload's ops of each op's
    median warm latency: every op weighs the same, and the value does not
    jump between the latency clusters of a mix of fast and slow ops.
    latency_tail_s is the `tail_pct` percentile of all warm op latencies."""
    warm = warm_passes(rec)
    cold = warm_passes(rec, "cold")
    ops = ops_in(rec, warm)
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(wall(o))
    return {
        "setup_s": (rec["setup_s"], "s"),
        "cold_pass_s": (wall(cold[0]) if cold else float("nan"), "s"),
        "pass_s": (median([wall(p) for p in warm]), "s"),
        "latency_p50_s": (geomean([median(xs) for xs in by_name.values()]), "s"),
        "latency_tail_s": (percentile([wall(o) for o in ops], tail_pct), "s"),
        "cpu_pass_s": (median([p["cpu_s"] for p in warm]), "s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
    }


def clip(a, b, t0, t1):
    return max(a, t0), min(b, t1)


def union_len(intervals):
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def op_spans(rec):
    """op id -> {"stages": [...], "jobs": [...], "phases": [...]}; Catalyst
    phase spans carry no op id and are attributed by time (one client
    thread, so at most one op is open at any instant)."""
    by_op = {o["id"]: {"stages": [], "jobs": [], "phases": []} for o in rec["ops"]}
    ops = sorted(rec["ops"], key=lambda o: o["t0"])
    starts = [o["t0"] for o in ops]
    for s in rec.get("spans", []):
        if s["name"] == "stage" and s["op"] in by_op:
            by_op[s["op"]]["stages"].append(s)
        elif s["name"] == "job" and s["op"] in by_op:
            by_op[s["op"]]["jobs"].append(s)
        elif s["name"] in PHASES:
            mid = (s["t0"] + s["t1"]) / 2
            i = bisect.bisect_right(starts, mid) - 1
            if i >= 0 and ops[i]["t0"] <= mid <= ops[i]["t1"]:
                by_op[ops[i]["id"]]["phases"].append(s)
    return by_op


def self_times(op, spans):
    """Split the op's wall time into disjoint layer self times: an instant
    belongs to a running stage first, else to a Catalyst phase, else to the
    builder, else to the driver (scheduling, commit and other driver work).
    The parts sum to the op's wall time by construction."""
    t0, t1 = op["t0"], op["t1"]
    layers = [(STAGE, [clip(s["t0"], s["t1"], t0, t1) for s in spans["stages"]])]
    for ph in PHASES:
        layers.append((ph, [clip(s["t0"], s["t1"], t0, t1) for s in spans["phases"] if s["name"] == ph]))
    layers.append((BUILD, [(t0, min(op["build_end"], t1))]))
    cuts = sorted({t0, t1} | {x for _, iv in layers for a, b in iv if a < b for x in (a, b)})
    out = {name: 0.0 for name, _ in layers}
    out[DRIVER] = 0.0
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        owner = next((name for name, iv in layers if any(x <= mid < y for x, y in iv)), DRIVER)
        out[owner] += b - a
    return out


def stage_sum(spans, key):
    return sum(s["attrs"].get(key, 0) for s in spans["stages"])


def per_layer(rec, tail_pct):
    """Every per-layer metric, from the traced passes of a traced run."""
    traced = warm_passes(rec, "traced")
    warm = warm_passes(rec)
    n = max(1, len(traced))
    ops = ops_in(rec, traced)
    spans = op_spans(rec)
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    build_s = sum(o["build_end"] - o["t0"] for o in ops)
    build_jobs = sum(1 for o in ops for j in spans[o["id"]]["jobs"] if j["t0"] < o["build_end"])
    put("queries.build_s", build_s / n, "s")
    put("queries.build_jobs", build_jobs / n, "count")

    cold_ops = [o for o in rec["ops"] if o["phase"] == "cold"]
    warm_ops = [o for o in rec["ops"] if o["phase"] in ("warm", "traced")]
    put("scratch.cold_builds", sum(o["scratch_builds"] for o in cold_ops), "count")
    put("scratch.cold_build_s", sum(o["scratch_build_s"] for o in cold_ops), "s")
    put("scratch.warm_builds", sum(o["scratch_builds"] for o in warm_ops), "count")

    for ph in PHASES:
        put(ph + "_s", sum(min(s["t1"], o["t1"]) - max(s["t0"], o["t0"])
                           for o in ops for s in spans[o["id"]]["phases"] if s["name"] == ph) / n, "s")
    put("catalyst.executions",
        len({s["attrs"]["execution"] for o in ops for s in spans[o["id"]]["phases"]}) / n, "count")

    op_wall = sum(wall(o) for o in ops)
    put("exec.jobs", sum(len(spans[o["id"]]["jobs"]) for o in ops) / n, "count")
    put("exec.stages", sum(len(spans[o["id"]]["stages"]) for o in ops) / n, "count")
    put("exec.tasks", sum(stage_sum(spans[o["id"]], "tasks") for o in ops) / n, "count")
    covered = sum(union_len([clip(s["t0"], s["t1"], o["t0"], o["t1"]) for s in spans[o["id"]]["stages"]])
                  for o in ops)
    put("exec.driver_gap_s", (op_wall - covered) / n, "s")
    run_s = sum(stage_sum(spans[o["id"]], "task_run_s") for o in ops)
    put("exec.task_run_s", run_s / n, "s")
    put("exec.task_cpu_s", sum(stage_sum(spans[o["id"]], "task_cpu_s") for o in ops) / n, "s")
    put("exec.task_gc_s", sum(stage_sum(spans[o["id"]], "task_gc_s") for o in ops) / n, "s")
    put("exec.busy_ratio", run_s / (op_wall * CORES) if op_wall > 0 else 0.0, "ratio")
    for key, unit in (("scan_bytes", "B"), ("scan_records", "count"), ("shuffle_write_bytes", "B"),
                      ("shuffle_records", "count"), ("shuffle_fetch_wait_s", "s"), ("spill_bytes", "B"),
                      ("output_records", "count")):
        put("exec." + key, sum(stage_sum(spans[o["id"]], key) for o in ops) / n, unit)

    put("jvm.gc_s", sum(p["gc_s"] for p in traced) / n, "s")
    put("jvm.heap_peak_mb", rec["heap_peak_mb"], "MB")
    put("trace.overhead_s", median([wall(p) for p in traced]) - median([wall(p) for p in warm]), "s")

    # graft.table: lakehouse only; zero where the workload never touches it.
    # Taken from the first two traced cycles, whose cycle index is the same
    # in every run, so counters that grow with the number of cycles (version
    # documents, bytes under the table directory) do not depend on speed.
    block = {p["index"] for p in traced[:2]}
    nb = max(1, len(block))
    tops = [o for o in ops if "table" in o and o["pass"] in block]
    t = [o["table"] for o in tops]
    planned = [x for x in t if "plan_s" in x]
    last_maint = [o["table"] for o in tops if o["kind"] == "maintenance"]
    end = last_maint[-1] if last_maint else {}
    put("table.meta_load_s", median([x["meta_load_s"] for x in t]) if t else 0.0, "s")
    put("table.plan_s", median([x["plan_s"] for x in planned]) if planned else 0.0, "s")
    put("table.files_total", end.get("files_total", 0), "count")
    put("table.files_planned", (sum(x["files_planned"] for x in planned) / len(planned)) if planned else 0.0,
        "count")
    tot = sum(x["files_total"] for x in planned)
    put("table.prune_ratio", 1.0 - sum(x["files_planned"] for x in planned) / tot if tot else 0.0, "ratio")
    for key, unit in (("snapshots", "count"), ("data_files", "count"), ("delete_files", "count"),
                      ("meta_files", "count"), ("data_bytes", "B"), ("meta_bytes", "B")):
        put("table." + key, end.get(key, 0), unit)
    put("table.bytes_written", sum(x["bytes_written"] for x in t) / nb, "B")
    put("table.rewrite_bytes", sum(x["rewrite_bytes"] for x in t) / nb, "B")
    driver = sum(self_times(o, spans[o["id"]])[DRIVER] for o in tops)
    put("table.driver_s", driver / nb, "s")
    user = sum(o.get("user_bytes", 0) for o in tops)
    put("table.write_amp", sum(x["bytes_written"] for x in t) / user if user else 0.0, "ratio")
    live = end.get("live_bytes", 0)
    put("table.space_amp", (end.get("data_bytes", 0) + end.get("meta_bytes", 0)) / live if live else 0.0,
        "ratio")

    # per-kind latencies of the lakehouse statements, from the untraced half
    wops = ops_in(rec, warm)
    for kind, name in (("commit", "commit"), ("read", "read")):
        lat = [wall(o) for o in wops if o["kind"] == kind]
        put(f"table.{name}_p50_s", percentile(lat, 50) if lat else 0.0, "s")
        put(f"table.{name}_tail_s", percentile(lat, tail_pct) if lat else 0.0, "s")
    maint = {}
    for o in wops:
        if o["kind"] == "maintenance":
            maint[o["pass"]] = maint.get(o["pass"], 0.0) + wall(o)
    put("table.maintenance_s", median(list(maint.values())) if maint else 0.0, "s")
    return m
