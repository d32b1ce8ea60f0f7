"""Per-layer metrics from a traced run's spans.

Spans come from the harness (setup, pass, op and module-call spans) and
from the Spark listener (sql, job, stage and streaming batch spans). A
harness span belongs to the pass and op above it in the parent chain; so
do jobs and stages whose SQL execution or job was recorded. Any other
listener span belongs to the pass and op whose interval holds its start.
Spark stamps its events in whole milliseconds, so that start is taken as
the middle of its millisecond, matched within half a millisecond.
"""
import collections

import stats

SLACK_US = 1000

# name -> (unit, better); every metric is per traced pass unless noted.
METRICS = {
    "core.transform_s": ("s", "lower"),
    "core.action_s": ("s", "lower"),
    "core.output_bytes": ("bytes", "lower"),
    "rel.build_s": ("s", "lower"),
    "rel.action_s": ("s", "lower"),
    "pipeline.build_s": ("s", "lower"),
    "pipeline.action_s": ("s", "lower"),
    "pipeline.warm_shared_s": ("s", "lower"),  # once, in set-up
    "streaming.build_s": ("s", "lower"),
    "streaming.action_s": ("s", "lower"),
    "catalyst.analysis_s": ("s", "lower"),
    "catalyst.optimization_s": ("s", "lower"),
    "catalyst.planning_s": ("s", "lower"),
    "sql.executions": ("count", "lower"),
    "codegen.compile_s": ("s", "lower"),
    "codegen.compiles": ("count", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.task_deser_s": ("s", "lower"),
    "exec.idle_s": ("s", "lower"),
    "exec.task_run_s": ("s", "lower"),
    "exec.task_cpu_s": ("s", "lower"),
    "exec.busy_ratio": ("ratio", "higher"),
    "scan.bytes": ("bytes", "lower"),
    "scan.rows": ("rows", "lower"),
    "shuffle.write_bytes": ("bytes", "lower"),
    "shuffle.read_bytes": ("bytes", "lower"),
    "shuffle.write_s": ("s", "lower"),
    "shuffle.fetch_wait_s": ("s", "lower"),
    "spill.bytes": ("bytes", "lower"),
    "jvm.gc_s": ("s", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.input_rows": ("rows", "lower"),
    "streaming.trigger_s": ("s", "lower"),
    "streaming.add_batch_s": ("s", "lower"),
    "streaming.wal_commit_s": ("s", "lower"),
    "streaming.commit_offsets_s": ("s", "lower"),
    "streaming.query_planning_s": ("s", "lower"),
    "streaming.state_commit_s": ("s", "lower"),
    "streaming.state_rows": ("rows", "lower"),
    "streaming.state_cache_hit_ratio": ("ratio", "higher"),
    "trace.pass_s": ("s", "lower"),  # traced pass wall time
    "trace.overhead_s": ("s", "lower"),  # traced minus untraced pass wall time
}

CALLS = {"core.transform", "core.action", "rel.build", "rel.action", "pipeline.build",
         "pipeline.action", "streaming.build", "streaming.action"}
STAGE_SUMS = {
    "exec.tasks": ("tasks", 1), "exec.task_deser_s": ("deser_ms", 1e-3),
    "exec.task_run_s": ("run_ms", 1e-3), "exec.task_cpu_s": ("cpu_ns", 1e-9),
    "scan.bytes": ("scan_bytes", 1), "scan.rows": ("scan_rows", 1),
    "shuffle.write_bytes": ("shuffle_write_bytes", 1), "shuffle.read_bytes": ("shuffle_read_bytes", 1),
    "shuffle.write_s": ("shuffle_write_ns", 1e-9), "shuffle.fetch_wait_s": ("fetch_wait_ms", 1e-3),
    "spill.bytes": ("spill_bytes", 1),
}
BATCH_SUMS = {
    "streaming.input_rows": ("input_rows", 1), "streaming.trigger_s": ("trigger_ms", 1e-3),
    "streaming.add_batch_s": ("add_batch_ms", 1e-3), "streaming.wal_commit_s": ("wal_commit_ms", 1e-3),
    "streaming.commit_offsets_s": ("commit_offsets_ms", 1e-3),
    "streaming.query_planning_s": ("query_planning_ms", 1e-3),
    "streaming.state_commit_s": ("state_commit_ms", 1e-3), "streaming.state_rows": ("state_rows", 1),
}
PHASES = {"catalyst.analysis_s": "analysis_ms", "catalyst.optimization_s": "optimization_ms",
          "catalyst.planning_s": "planning_ms"}


def dur(s):
    return s["endUs"] - s["startUs"]


HARNESS = {"setup", "pass", "op", "call"}


def holder(intervals, t):
    """The interval that holds time t, else the nearest within half the slack."""
    best, gap = None, SLACK_US / 2
    for s in intervals:
        d = max(s["startUs"] - t, t - s["endUs"], 0)
        if d == 0:
            return s
        if d <= gap:
            best, gap = s, d
    return best


def owners(spans):
    """{span id: (pass span, op span)}, the pass and op each span belongs
    to; either may be None."""
    by_id = {s["id"]: s for s in spans}
    passes = [s for s in spans if s["kind"] == "pass"]
    ops = [s for s in spans if s["kind"] == "op"]
    own = {}

    def owner(s):
        if s["id"] not in own:
            parent = by_id.get(s["parent"])
            if s["kind"] == "pass":
                o = (s, None)
            elif parent is not None:
                o = owner(parent)
            elif s["kind"] in HARNESS:
                o = (None, None)
            else:
                t = s["startUs"] + SLACK_US / 2
                op = holder(ops, t)
                o = owner(op) if op else (holder(passes, t), None)
            if s["kind"] == "op" and o[0] is not None:
                o = (o[0], s)
            own[s["id"]] = o
        return own[s["id"]]

    for s in spans:
        owner(s)
    return own


def members(spans):
    """({pass id: spans in that pass}, {op id: spans in that op})."""
    own = owners(spans)
    in_pass, in_op = collections.defaultdict(list), collections.defaultdict(list)
    for s in spans:
        p, op = own[s["id"]]
        if p is not None and p is not s:
            in_pass[p["id"]].append(s)
        if op is not None and op is not s:
            in_op[op["id"]].append(s)
    return in_pass, in_op


def timed_passes(spans, traced):
    return [s for s in spans if s["kind"] == "pass" and s["name"].startswith("timed.")
            and bool(s["attrs"].get("traced")) == traced]


def pass_metrics(pass_span, inside, cores):
    """Every per-layer metric for one traced pass."""
    by_kind = collections.defaultdict(list)
    for s in inside:
        by_kind[s["kind"]].append(s)
    wall = dur(pass_span) / 1e6
    m = dict.fromkeys(METRICS, 0.0)
    for c in by_kind["call"]:
        if c["name"] in CALLS:
            m[f"{c['name']}_s"] += dur(c) / 1e6
        m["codegen.compiles"] += c["attrs"].get("codegen_compiles", 0)
        m["codegen.compile_s"] += c["attrs"].get("codegen_ms", 0) / 1e3
        m["core.output_bytes"] += c["attrs"].get("output_bytes", 0)
    for key, attr in PHASES.items():
        m[key] = sum(s["attrs"].get(attr, 0) for s in by_kind["sql"]) / 1e3
    m["sql.executions"] = len(by_kind["sql"])
    m["exec.jobs"] = len(by_kind["job"])
    m["exec.stages"] = len(by_kind["stage"])
    for key, (attr, scale) in STAGE_SUMS.items():
        m[key] = sum(s["attrs"].get(attr, 0) for s in by_kind["stage"]) * scale
    busy = stats.union_length([(j["startUs"], j["endUs"]) for j in by_kind["job"]],
                              pass_span["startUs"], pass_span["endUs"]) / 1e6
    m["exec.idle_s"] = wall - busy
    m["exec.busy_ratio"] = m["exec.task_run_s"] / (wall * cores) if wall else 0.0
    m["jvm.gc_s"] = pass_span["attrs"].get("gc_ms", 0) / 1e3
    m["streaming.batches"] = len(by_kind["batch"])
    for key, (attr, scale) in BATCH_SUMS.items():
        m[key] = sum(s["attrs"].get(attr, 0) for s in by_kind["batch"]) * scale
    hits = sum(s["attrs"].get("state_cache_hits", 0) for s in by_kind["batch"])
    misses = sum(s["attrs"].get("state_cache_misses", 0) for s in by_kind["batch"])
    m["streaming.state_cache_hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
    m["trace.pass_s"] = wall
    return m


def per_layer(spans, passes, cores):
    """{metric: (median over traced passes, unit)}."""
    traced = timed_passes(spans, True)
    if not traced:
        raise ValueError("no traced pass in the span file")
    in_pass, _ = members(spans)
    rows = [pass_metrics(p, in_pass[p["id"]], cores) for p in traced]
    out = {k: (stats.median([r[k] for r in rows]), METRICS[k][0]) for k in METRICS}
    warm = [dur(s) / 1e6 for s in spans if s["kind"] == "call" and s["name"] == "pipeline.warm_shared"]
    out["pipeline.warm_shared_s"] = (stats.median(warm) if warm else 0.0, "s")
    untraced = [p["wall"] for p in passes if p["phase"] == "timed" and not p["traced"]]
    traced_wall = [p["wall"] for p in passes if p["phase"] == "timed" and p["traced"]]
    overhead = stats.median(traced_wall) - stats.median(untraced) if untraced else 0.0
    out["trace.pass_s"] = (stats.median(traced_wall), "s")
    out["trace.overhead_s"] = (overhead, "s")
    return out


def op_table(spans):
    """Per op over the traced passes: wall seconds, seconds outside any
    Spark job, Catalyst and codegen seconds, jobs, stages, tasks, and the
    two rankings' keys."""
    acc = collections.defaultdict(lambda: collections.Counter())
    in_pass, in_op = members(spans)
    for p in timed_passes(spans, True):
        for op in (s for s in in_pass[p["id"]] if s["kind"] == "op"):
            kids = in_op[op["id"]]
            c = acc[op["name"]]
            c["runs"] += 1
            c["wall_s"] += dur(op) / 1e6
            c["stages"] += sum(1 for s in kids if s["kind"] == "stage")
            c["tasks"] += sum(s["attrs"].get("tasks", 0) for s in kids if s["kind"] == "stage")
            c["jobs"] += sum(1 for s in kids if s["kind"] == "job")
            # the part of the op no Spark job covers: planning, scheduling,
            # result handling
            c["outside_jobs_s"] += stats.self_time((op["startUs"], op["endUs"]), [
                (s["startUs"], s["endUs"]) for s in kids if s["kind"] == "job"]) / 1e6
            c["catalyst_s"] += sum(s["attrs"].get(a, 0) for s in kids if s["kind"] == "sql"
                                   for a in PHASES.values()) / 1e3
            c["codegen_s"] += sum(s["attrs"].get("codegen_ms", 0) for s in kids if s["kind"] == "call") / 1e3
    table = []
    for name, c in acc.items():
        n = c["runs"]
        row = {"op": name, **{k: v / n for k, v in c.items() if k != "runs"}, "runs": n}
        row["stages_tasks_per_s"] = (row["stages"] + row["tasks"]) / row["wall_s"] if row["wall_s"] else 0.0
        row["catalyst_codegen_share"] = ((row["catalyst_s"] + row["codegen_s"]) / row["wall_s"]
                                         if row["wall_s"] else 0.0)
        table.append(row)
    return sorted(table, key=lambda r: -r["stages_tasks_per_s"])


def layer_shares(spans):
    """Share of traced pass wall time spent in each layer."""
    total = collections.Counter()
    wall = 0.0
    in_pass, _ = members(spans)
    for p in timed_passes(spans, True):
        inside = in_pass[p["id"]]
        lo, hi = p["startUs"], p["endUs"]
        wall += dur(p)
        for c in inside:
            if c["kind"] == "call" and c["name"] in CALLS:
                total[c["name"]] += dur(c)
            if c["kind"] == "call":
                total["codegen"] += c["attrs"].get("codegen_ms", 0) * 1e3
            if c["kind"] == "sql":
                total["catalyst"] += sum(c["attrs"].get(a, 0) for a in PHASES.values()) * 1e3
        total["jobs_running"] += stats.union_length(
            [(s["startUs"], s["endUs"]) for s in inside if s["kind"] == "job"], lo, hi)
        total["streaming_batches"] += stats.union_length(
            [(s["startUs"], s["endUs"]) for s in inside if s["kind"] == "batch"], lo, hi)
        ops = [s for s in inside if s["kind"] == "op"]
        total["outside_ops"] += dur(p) - stats.union_length([(s["startUs"], s["endUs"]) for s in ops], lo, hi)
    return {k: v / wall for k, v in sorted(total.items())} if wall else {}
