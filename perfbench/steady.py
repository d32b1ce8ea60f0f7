#!/usr/bin/env python3
"""Steadiness check: run the benchmark N times per workload, each run with
its own seed, and report for each end-to-end metric its median, quartiles
and spread (inter-quartile distance over median) against its bound in
BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--workloads a,b] [--seed-base 100] [--trace]

With --trace each seed also gets a traced run, and the report adds the
tracing overhead (traced minus untraced pass_s medians) per workload.
The report is printed and written to .bench_build/perfbench/steady.json.
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import stats  # noqa: E402


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    if p.returncode != 0 or not last.startswith("{"):
        print(f"  {workload} seed {seed} trace {trace}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
        return None
    return json.loads(last)


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    ok = True
    for w in args.workloads.split(","):
        values = {m: [] for m in bounds}
        traced_pass = []
        failed_runs = 0
        for i in range(args.runs):
            seed = args.seed_base + i
            r = run_once(w, seed, bench["run_seconds"], 0)
            if r is None or not r["correct"]:
                failed_runs += 1
                continue
            for m in bounds:
                values[m].append(r["metrics"][m]["value"])
            if args.trace:
                t = run_once(w, seed, bench["run_seconds"], 1)
                if t is not None:
                    traced_pass.append(t["metrics"]["trace.pass_s"]["value"])
            print(f"  {w} seed {seed}: " + " ".join(f"{m}={values[m][-1]:.4g}" for m in bounds),
                  file=sys.stderr)
        rep = {"runs": args.runs, "failed_runs": failed_runs, "metrics": {}}
        print(f"== {w} ({args.runs - failed_runs}/{args.runs} runs correct)")
        for m, xs in values.items():
            if len(xs) < 2:
                ok = False
                continue
            q1, q2, q3 = stats.quartiles(xs)
            sp = stats.spread(xs)
            steady = sp <= bounds[m] / 3
            ok = ok and sp <= bounds[m]
            rep["metrics"][m] = {"median": q2, "q1": q1, "q3": q3, "spread": sp, "bound": bounds[m],
                                 "values": xs}
            print(f"  {m:18s} median {q2:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  "
                  f"spread {sp:6.3f} / bound {bounds[m]:.2f}{'' if steady else '  <-- above bound/3'}")
        if traced_pass and values["pass_s"]:
            over = stats.median(traced_pass) - stats.median(values["pass_s"])
            rep["trace_overhead_s"] = over
            print(f"  {'trace overhead':18s} {over:+.4f} s on pass_s {stats.median(values['pass_s']):.4f} s")
        report[w] = rep
        ok = ok and failed_runs == 0
    out = ROOT / ".bench_build" / "perfbench" / "steady.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(report, indent=1))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
