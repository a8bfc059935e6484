#!/usr/bin/env python3
"""Record the expected outputs the analytic workload checks against.

Usage: python3 perfbench/record_expected.py [--corpus DIR]

1. Dumps every analytic op's result with graft.Verify on the benchmark
   corpus and compares the dumps with tools/check_oracle.py (DuckDB); the
   recording stops unless every op that has an oracle passes.
2. Runs the workload twice in record mode with different seeds and reads the
   row count and content hash of each op from the cold pass. An op whose hash
   differs between the two runs is recorded as rows-only.
3. Writes perfbench/expected/<corpus name>.json: {"op": [rows, "hash"], ...}.

The lakehouse workload needs no recording: it checks against its own model.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", default=str(HERE / "corpus" / "sf0.01"))
    a = ap.parse_args()
    corpus = Path(a.corpus).resolve()
    spec = json.loads((HERE / "spec.json").read_text())
    ops = next(w for w in spec["workloads"] if w["name"] == "analytic")["ops"]

    classpath = build.build()
    out = build.build_root() / "verify" / corpus.name
    shutil.rmtree(out, ignore_errors=True)
    (out / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    subprocess.run(run.java_cmd(classpath, out / "tmp", "graft.Verify") + [str(corpus), str(out), *ops],
                   cwd=run.ROOT, env=env, check=True, stdout=subprocess.DEVNULL)
    oracle = subprocess.run([sys.executable, str(run.ROOT / "tools" / "check_oracle.py"), str(corpus),
                             str(out), *ops], capture_output=True, text=True)
    print(oracle.stdout)
    if oracle.returncode != 0:
        sys.exit("oracle check failed; nothing recorded")
    with_oracle = set(json.loads((out / "oracle_sql.json").read_text())) & set(ops)

    digests = []
    for seed in (1, 2):
        subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", "analytic", "--seed", str(seed),
                        "--seconds", "1", "--trace", "0", "--corpus", str(corpus), "--record-expected"],
                       check=True, stdout=subprocess.DEVNULL)
        rec = json.loads((build.build_root() / "runs" / f"analytic-s{seed}-t0.json").read_text())
        digests.append(rec["info"]["digests"])
    expected = {}
    for op in ops:
        (n1, h1), (n2, h2) = digests[0][op], digests[1][op]
        if n1 != n2:
            sys.exit(f"{op}: row count differs between runs ({n1} vs {n2})")
        expected[op] = [n1, h1 if h1 == h2 else "rows-only"]
        print(f"{op}: {n1} rows, {expected[op][1]}, oracle {'pass' if op in with_oracle else 'none'}")
    path = HERE / "expected" / f"{corpus.name}.json"
    path.write_text(json.dumps(expected, indent=1) + "\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
