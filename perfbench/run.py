#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine in this checkout.

Usage:
  python3 perfbench/run.py --workload {analytic,lakehouse} --seed N \
      --seconds S --trace {0,1} [--corpus DIR] [--record-expected]

Builds the engine and the harness (perfbench/build.py), starts one JVM that
runs the workload as a closed loop on local[4], and prints, as the last line
of standard output, one JSON object with `correct`, `attempted`, `failed` and
`metrics` (every end-to-end metric untraced, every per-layer metric traced).
The full run record, the span dump and the run's provenance are kept under
<build root>/perfbench/runs/. Exits non-zero when an output check fails, an
op throws, or the run cannot complete.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import metrics  # noqa: E402

HEAP = "2g"
YOUNG = "384m"
# set-up, the cold pass and the warm-up passes take well under FIXED_S
# seconds; the harness gets that plus twice its measured window, but never
# more than LIMIT_S, so a run ends within three minutes (a build before it,
# in the first run of a checkout, is not counted)
FIXED_S = 150
LIMIT_S = 170
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def java_cmd(classpath, tmp, main_class):
    """The JVM command line every harness process uses."""
    return ["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        # a fixed heap and young generation keep peak RSS a function of the
        # work rather than of the collector's adaptive sizing
        "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
        "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={tmp}", "-cp", classpath, main_class]


def cpu_steal():
    """(steal, total) jiffies of the host CPUs so far: hypervisor steal makes
    a contended run visible."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--corpus", default=str(HERE / "corpus" / "sf0.01"))
    ap.add_argument("--record-expected", action="store_true",
                    help="accept missing expected outputs (used by record_expected.py)")
    a = ap.parse_args()

    spec = json.loads((HERE / "spec.json").read_text())
    wl = next((w for w in spec["workloads"] if w["name"] == a.workload), None)
    if wl is None:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    corpus = Path(a.corpus).resolve()
    if not (corpus / "orders.parquet").is_file():
        raise SystemExit(f"perfbench: corpus not found at {corpus}")

    classpath = build.build()
    out = build.build_root()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = out / "work" / f"{tag}-{os.getpid()}"
    runs = out / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    record = runs / f"{tag}.json"
    record.unlink(missing_ok=True)
    expected = HERE / "expected" / f"{corpus.name}.json"

    cmd = java_cmd(classpath, work / "tmp", "perfbench.Harness") + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--corpus", str(corpus), "--work", str(work),
        "--record", str(record), "--ops", ",".join(wl.get("ops", [])),
        "--expected", str(expected), "--record-expected", "1" if a.record_expected else "0",
    ]
    steal0 = cpu_steal()
    log = open(work / "jvm.log", "w")
    # a terminated run.py still stops the JVM (the finally clause below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
    rc = None
    try:
        rc = proc.wait(timeout=min(LIMIT_S, FIXED_S + 2 * a.seconds))
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        log.close()
    steal1 = cpu_steal()
    jvm_log = (work / "jvm.log").read_text(errors="replace")
    if rc != 0 or not record.exists():
        sys.stderr.write(jvm_log[-6000:])
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"perfbench: harness {'timed out' if rc is None else f'exited {rc}'}")
    shutil.copy(work / "jvm.log", runs / f"{tag}.log")
    shutil.rmtree(work, ignore_errors=True)

    rec = json.loads(record.read_text())
    tail = wl["tail_percentile"]
    values = metrics.per_layer(rec, tail) if a.trace else metrics.end_to_end(rec, tail)
    attempted, failed = metrics.attempted_failed(rec)
    correct = failed == 0 and all(c["ok"] for c in rec["checks"])
    rec["provenance"].update({"git_sha": git_sha(), "source_sha256": (out / "classes.stamp").read_text(),
                              "seed": a.seed, "heap": HEAP, "young": YOUNG,
                              "cpu_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
                              "noise_probe_s": rec["noise_probe_s"]})
    (runs / f"{tag}.provenance.json").write_text(json.dumps(rec["provenance"], indent=1))
    for c in rec["checks"]:
        if not c["ok"]:
            sys.stderr.write(f"perfbench: check failed: {json.dumps(c)}\n")
    for o in rec["ops"]:
        if o.get("error"):
            sys.stderr.write(f"perfbench: op {o['name']} ({o['phase']}) failed: {o['error']}\n")
    broken = [k for k, (v, _) in values.items() if not math.isfinite(v)]
    if broken:
        raise SystemExit(f"perfbench: run produced no value for {', '.join(broken)}")
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}
    print(json.dumps(result))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
