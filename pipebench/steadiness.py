"""Steadiness check: two sets of runs of the same commit, each end-to-end
metric's spread and the drift of its median against BENCHMARK.json's bound.

    python3 pipebench/steadiness.py [--runs 10] [--sets 2] [--workload NAME ...]

Run from the root of the repository. Set k uses seeds k*1000+1 ...
k*1000+runs. For every workload and metric it prints, per set, the median
and the quartile spread (Q3-Q1)/median, then the change of the median
from the first set to each later one, all as shares of the bound. A
metric passes when every spread stays within its bound and no later
median differs from the first, in either direction, by more than the
bound. The share of failed operations must be identical in every set. Raw results go
to .bench_build/steadiness.jsonl. Exit code 1 when anything fails.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time


def run_once(cmd, workload, seed, seconds):
    out = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed),
                                "--seconds", str(seconds), "--trace", "0"],
                         stdout=subprocess.PIPE, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    bench = json.loads(pathlib.Path("BENCHMARK.json").read_text())
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    log = pathlib.Path(".bench_build") / "steadiness.jsonl"
    log.parent.mkdir(exist_ok=True)
    ok = True
    with log.open("a") as raw:
        for w in workloads:
            sets = []
            for k in range(1, a.sets + 1):
                results = []
                for seed in range(k * 1000 + 1, k * 1000 + a.runs + 1):
                    t0 = time.monotonic()
                    r = run_once(bench["command"], w, seed, bench["run_seconds"])
                    wall = time.monotonic() - t0
                    raw.write(json.dumps({"workload": w, "set": k, "seed": seed, "wall_s": wall, **r})
                              + "\n")
                    raw.flush()
                    results.append({**r, "wall_s": wall})
                sets.append(results)
            fail_shares = {(sum(r["failed"] for r in s), sum(r["attempted"] for r in s))
                           for s in sets}
            shares = {f / t for f, t in fail_shares}
            correct = all(r["correct"] for s in sets for r in s)
            walls = [r["wall_s"] for s in sets for r in s]
            print(f"{w}: correct={correct} failed/attempted={sorted(fail_shares)} "
                  f"wall per run {statistics.median(walls):.1f} s (max {max(walls):.1f} s)")
            ok &= correct and len(shares) == 1
            for m in bench["end_to_end"]:
                name, bound = m["name"], m["bound"]
                lower = m["better"] == "lower"
                meds, spreads = [], []
                for s in sets:
                    vals = [r["metrics"][name]["value"] for r in s]
                    q1, med, q3 = statistics.quantiles(vals, n=4)
                    meds.append(statistics.median(vals))
                    spreads.append((q3 - q1) / statistics.median(vals))
                drift = [((x - meds[0]) if lower else (meds[0] - x)) / meds[0] for x in meds[1:]]
                passed = all(abs(d) <= bound for d in drift) and all(sp <= bound for sp in spreads)
                ok &= passed
                print(f"  {name:14s} bound {bound:.2f}  "
                      + "  ".join(f"set{i + 1} median {md:.4g} spread {sp:.3f} ({sp / bound:.2f} of bound)"
                                  for i, (md, sp) in enumerate(zip(meds, spreads)))
                      + "  worse by " + ", ".join(f"{d:+.3f} ({d / bound:+.2f} of bound)" for d in drift)
                      + ("  ok" if passed else "  FAIL"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
