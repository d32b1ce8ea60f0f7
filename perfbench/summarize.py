#!/usr/bin/env python3
"""Writes perfbench/TRACE_SUMMARY.md from the latest traced run
(`run.py --trace 1`) of each workload found in .bench_build/perfbench/results.

    python3 perfbench/summarize.py

The summary holds the share of traced pass time each layer takes on each
workload, every per-layer metric per workload, the tracing overhead, and
one row per op ranked two ways: by (stages + tasks) per wall-second and by
Catalyst + codegen share of op time.
"""
import json
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
RESULTS = BENCH.parent / ".bench_build" / "perfbench" / "results"
sys.path.insert(0, str(BENCH))

from workloads import WORKLOADS  # noqa: E402


def latest_traced():
    runs = {}
    for w in WORKLOADS:
        files = sorted(RESULTS.glob(f"{w}-seed*-trace1.json"), key=lambda p: p.stat().st_mtime)
        if files:
            runs[w] = json.loads(files[-1].read_text())
    return runs


def fmt(v):
    if isinstance(v, str):
        return v
    if v == 0:
        return "0"
    if abs(v) >= 1000:
        return f"{v:,.0f}"
    return f"{v:.4g}"


def table(header, rows):
    out = ["| " + " | ".join(header) + " |", "|" + "---|" * len(header)]
    out += ["| " + " | ".join(fmt(c) for c in r) + " |" for r in rows]
    return "\n".join(out)


def main():
    runs = latest_traced()
    if not runs:
        print(f"no traced results in {RESULTS}", file=sys.stderr)
        return 1
    ws = [w for w in WORKLOADS if w in runs]
    any_run = runs[ws[0]]
    host = any_run["host"]
    lines = [
        "# Trace summary",
        "",
        "Generated by `python3 perfbench/summarize.py` from one traced run",
        "(`perfbench/run.py --trace 1`) per workload. Host: "
        f"{host['nproc']} cores, {host['master']}, heap {host['heap_max_mb']} MB, JDK {host['jdk']}, "
        f"Spark {host['spark']}, Scala {host['scala']}, source digest `{host['source_digest'][:12]}`. "
        "Seeds: " + ", ".join(f"{w} {runs[w]['seed']}" for w in ws) + ".",
        "",
        "Traced and untraced passes alternate within a run; every number below",
        "comes from the traced passes (per-pass medians, or means per op).",
        "",
        "## Share of traced pass wall time by layer",
        "",
        "Module calls (`<module>.build`/`.action`, `core.transform`) are the",
        "benchmark's own spans around calls into the engine; `jobs_running` is",
        "the time at least one Spark job ran, `streaming_batches` the time a",
        "micro-batch ran; `catalyst` and `codegen` are summed phase times and",
        "can overlap other layers; `outside_ops` is harness time between ops.",
        "",
    ]
    keys = sorted({k for w in ws for k in runs[w]["layer_shares"]})
    lines.append(table(["layer"] + ws, [[k] + [runs[w]["layer_shares"].get(k, 0.0) for w in ws] for k in keys]))
    lines += ["", "## Per-layer metrics (median over traced passes)", ""]
    metrics = list(any_run["per_layer"])
    lines.append(table(["metric", "unit"] + ws,
                       [[m, any_run["per_layer"][m]["unit"]] + [runs[w]["per_layer"][m]["value"] for w in ws]
                        for m in metrics]))
    lines += ["", "## Tracing overhead", "",
              table(["workload", "untraced pass_s", "traced pass_s", "overhead s"],
                    [[w, runs[w]["pass_s"]["median"], runs[w]["per_layer"]["trace.pass_s"]["value"],
                      runs[w]["per_layer"]["trace.overhead_s"]["value"]] for w in ws]),
              "", "Each run has only one or two passes of each kind, so the difference is",
              "within the run-to-run noise of the host (see README, Steadiness)."]
    ops = [dict(r, workload=w) for w in ws for r in runs[w]["ops_trace"]]
    cols = ["op", "workload", "wall_s", "outside_jobs_s", "jobs", "stages", "tasks", "stages_tasks_per_s",
            "catalyst_s", "codegen_s", "catalyst_codegen_share"]
    lines += ["", "## Ops by (stages + tasks) per wall-second", "",
              table(cols, [[r[c] for c in cols] for r in sorted(ops, key=lambda r: -r["stages_tasks_per_s"])]),
              "", "## Ops by Catalyst + codegen share of op time", "",
              table(cols, [[r[c] for c in cols]
                           for r in sorted(ops, key=lambda r: -r["catalyst_codegen_share"])]), ""]
    (BENCH / "TRACE_SUMMARY.md").write_text("\n".join(lines))
    print(f"wrote {BENCH / 'TRACE_SUMMARY.md'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
