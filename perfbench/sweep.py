#!/usr/bin/env python3
"""Run the benchmark over several seeds and collect the results.

Usage (from the root of a checkout):

    python3 perfbench/sweep.py --out .bench_build/results/a.jsonl \
        --workloads trickle cascade --seeds 1-10 [--trace 0|1]

Each line of the output file is {"workload", "seed", "trace", "exit",
"wall_s", "result", "notes"}: "result" is the run's last stdout line,
"notes" its "perfbench:" stderr lines (set-ups, samples, failures). The
seconds per run come from BENCHMARK.json. Feed one or two output files
to compare.py.
"""
import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "a") as out:
        for seed in seeds(a.seeds):
            for w in a.workloads:
                cmd = bench["command"] + [
                    "--workload", w, "--seed", str(seed),
                    "--seconds", str(bench["run_seconds"]),
                    "--trace", str(a.trace)]
                t0 = time.time()
                p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                   stderr=subprocess.PIPE, text=True)
                wall = time.time() - t0
                lines = p.stdout.strip().splitlines()
                result = json.loads(lines[-1]) if lines else None
                notes = [ln for ln in p.stderr.splitlines()
                         if ln.startswith("perfbench:")]
                rec = {"workload": w, "seed": seed, "trace": a.trace,
                       "exit": p.returncode, "wall_s": round(wall, 1),
                       "result": result, "notes": notes}
                out.write(json.dumps(rec) + "\n")
                out.flush()
                print(f"{w} seed={seed} exit={p.returncode} wall={wall:.1f}s",
                      file=sys.stderr, flush=True)


if __name__ == "__main__":
    main()
