#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the harness (perfbench/build.sbt,
which compiles the engine's sources with it) when the sources changed,
generates the seeded inputs, runs the harness JVM, checks every output,
and prints one JSON line last: `{"correct", "attempted", "failed",
"metrics"}`. With --trace 0 the metrics are the end-to-end ones, with
--trace 1 the per-layer ones. A human-readable summary goes to stderr and
the full detail (host context, samples, quartiles, failures by name) to
.bench_build/perfbench/results/. Exits 1 when any output check fails and 2
when the benchmark cannot run at all.
"""
import argparse
import datetime
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

START = time.time()
START_MONO = time.monotonic()
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"
sys.path.insert(0, str(BENCH))

import inputs  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
from workloads import WARMUP_PASSES, WORDCOUNT, WORKLOADS  # noqa: E402

TIME_LIMIT_S = 170
HEAP = "3g"
MIN_PASSES = 3
# Spark on JDK 17 outside spark-submit needs these (as in the engine build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class Abort(Exception):
    """The benchmark cannot run; exit 2 without a result line."""


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", BENCH / "src", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in roots:
        files = sorted(p for p in base.rglob("*") if p.is_file()) if base.is_dir() else [base]
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles the harness with the engine when sources changed; returns the classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise Abort("engine sources (src/main/scala) not found: run from the root of a graft checkout")
    digest = source_digest()
    stamp = OUT / "build.json"
    if stamp.exists():
        prev = json.loads(stamp.read_text())
        if prev.get("digest") == digest:
            return prev["classpath"], digest
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building harness (sbt compile)...")
    t0 = time.time()
    proc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"], cwd=BENCH, env=env, timeout=850)
    if proc.returncode != 0:
        raise Abort("harness build failed:\n" + proc.stdout[-3000:])
    lines = [ln.strip() for ln in proc.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if not lines:
        raise Abort("harness build printed no classpath:\n" + proc.stdout[-3000:])
    classpath = lines[-1]
    OUT.mkdir(parents=True, exist_ok=True)
    stamp.write_text(json.dumps({"digest": digest, "classpath": classpath}))
    log(f"built in {time.time() - t0:.1f} s")
    return classpath, digest


def run_child(cmd, cwd, env=None, timeout=None, stdout_path=None):
    """Runs a child in its own process group; on timeout the whole group is
    killed and reaped. Returns a CompletedProcess with text stdout."""
    out = open(stdout_path, "w") if stdout_path else subprocess.PIPE
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                            text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise Abort(f"{cmd[0]} exceeded {timeout:.0f} s")
    finally:
        if stdout_path:
            out.close()
    return subprocess.CompletedProcess(cmd, proc.returncode, stdout or "")


def sf_dir():
    d = os.environ.get("SPARK_GRAFT_SF_DIR") or str(Path.home() / "testdata" / "sf0.1")
    if not Path(d, "lineitem.parquet").exists():
        raise Abort(f"parquet tables not found in {d} (set SPARK_GRAFT_SF_DIR)")
    return d


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def calibration():
    """Median seconds of a fixed pure-Python loop: a reference for host speed."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        sum(i * i for i in range(10 ** 6))
        times.append(time.perf_counter() - t)
    return stats.median(times)


def disk_write_mb_s(work, mb=16):
    """Buffered write then fsync of `mb` MB in the work directory, in MB/s:
    shows when the disk under the shuffle, spill and checkpoint files is
    throttled."""
    path = work / "disk_probe"
    block = os.urandom(1 << 20)
    t = time.perf_counter()
    with open(path, "wb") as f:
        for _ in range(mb):
            f.write(block)
        f.flush()
        os.fsync(f.fileno())
    secs = time.perf_counter() - t
    path.unlink()
    return mb / secs


def stage_corpus(work, seed):
    texts, golden = inputs.corpus(seed, WORDCOUNT["shards"], WORDCOUNT["tokens_per_shard"])
    paths = []
    for i, text in enumerate(texts):
        p = work / "corpus" / f"input{i}.txt"
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(text)
        paths.append(str(p))
    return paths, golden


def check_wordcount(out_dir, golden, r):
    """The reference contract: exactly R files output_<i>, lines `key, value`
    sorted by key in each file, keys disjoint across files, counts equal to
    the golden map. Returns a failure message or None."""
    names = sorted(os.listdir(out_dir))
    want = sorted(f"output_{i}" for i in range(r))
    if names != want:
        return f"files {names} != {want}"
    seen = {}
    for name in want:
        keys = []
        for line in Path(out_dir, name).read_text().splitlines():
            key, sep, value = line.rpartition(", ")
            if not sep or not value.isdigit():
                return f"{name}: malformed line {line!r}"
            if key in seen:
                return f"key {key!r} in both {seen[key][0]} and {name}"
            seen[key] = (name, int(value))
            keys.append(key.encode())
        if keys != sorted(keys):
            return f"{name}: keys not sorted"
    got = {k: v for k, (_, v) in seen.items()}
    if got != golden:
        diff = sorted(set(got.items()) ^ set(golden.items()))[:3]
        return f"counts differ from golden ({len(got)} vs {len(golden)} keys), e.g. {diff}"
    return None


def check_queries(vdir, sf, names):
    """Oracle compare (DuckDB, via scripts/selfcheck.py) for queries with an
    oracle, non-empty check for the rest. Returns {name: failure}."""
    script = ROOT / "scripts" / "selfcheck.py"
    proc = run_child([sys.executable, str(script), str(vdir), sf, ",".join(names)], cwd=ROOT, timeout=60)
    fails = {}
    seen = set()
    for line in proc.stdout.splitlines():
        m = re.match(r"(OK|FAIL)\s+(\S+?):\s*(.*)", line)
        if m:
            seen.add(m.group(2))
            if m.group(1) == "FAIL":
                fails[m.group(2)] = m.group(3)
    for n in names:
        if n not in seen and n not in fails:
            fails[n] = f"not checked (selfcheck exit {proc.returncode}): {proc.stdout[-300:]}"
    return fails


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    modules = WORKLOADS[args.workload]
    sf = sf_dir()
    classpath, digest = build()
    t_inputs = time.monotonic()
    cores = os.cpu_count()
    work = OUT / "work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)

    ops = list(modules)
    config = {
        "sf_dir": sf, "work_dir": str(work),
        "seconds": args.seconds, "trace": bool(args.trace), "cores": cores,
        "min_passes": MIN_PASSES, "warmup_passes": WARMUP_PASSES[args.workload],
        "orders": inputs.op_orders(ops, args.seed),
        "modules": modules,
    }
    golden = None
    if args.workload == "wordcount":
        paths, golden = stage_corpus(work, args.seed)
        config["wordcount"] = {"inputs": paths, "r": WORDCOUNT["r"], "map_kb": WORDCOUNT["map_kb"]}
    # set-up is timed from input generation on: the build is not part of it
    config["pre_launch_s"] = time.monotonic() - t_inputs
    (work / "config.json").write_text(json.dumps(config))

    jvm = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'tmp'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if args.trace:
        jvm.append("-Dspark.extraListeners=graftbench.TraceListener")
    jvm += ["-cp", classpath, "graftbench.Main", str(work / "config.json")]
    # the build is exempt from the time limit: it may take much longer
    remaining = TIME_LIMIT_S - (time.monotonic() - t_inputs) - 15
    proc = run_child(jvm, cwd=work, timeout=remaining, stdout_path=work / "harness.log")
    if proc.returncode != 0 or not (work / "result.json").exists():
        tail = (work / "harness.log").read_text()[-3000:]
        raise Abort(f"harness exited {proc.returncode}:\n{tail}")
    res = json.loads((work / "result.json").read_text())

    # --- output checks (untimed) ---
    # An execution fails when it threw, or when it was fingerprinted (the
    # validation pass and the last timed pass are) and the fingerprint
    # threw (it then starts with "!") or differs from the validated one;
    # every execution of an op whose validated result fails its check
    # fails too, since each gave that same result.
    samples = res["samples"]
    reference = {s["name"]: s["fp"] for s in samples if s["phase"] == "validate"}

    def mismatch(s):
        return s["checked"] and (s["fp"].startswith("!") or s["fp"] != reference.get(s["name"]))

    failures = {}
    for s in samples:
        if s["error"]:
            failures.setdefault(s["name"], f"{s['phase']} pass {s['pass']}: {s['error']}")
        elif mismatch(s):
            failures.setdefault(s["name"], f"{s['phase']} pass {s['pass']}: fingerprint {s['fp']} "
                                           f"!= validated {reference.get(s['name'])}")
    vdir = work / "validate"
    if args.workload == "wordcount":
        for op in ops:
            msg = check_wordcount(vdir / op, golden, WORDCOUNT["r"])
            if msg:
                failures.setdefault(op, msg)
        if len(set(reference.values())) != 1:  # both jobs must write the same files
            failures.setdefault("wc_algebraic", f"output differs from wc_spec: {reference}")
    else:
        for name, msg in check_queries(vdir, sf, ops).items():
            failures.setdefault(name, msg)
    failed = [s for s in samples if s["error"] or mismatch(s) or s["name"] in failures]

    # --- metrics ---
    timed = [p for p in res["passes"] if p["phase"] == "timed"]
    untraced = [p for p in timed if not p["traced"]] or timed
    op_times = [s["seconds"] for s in res["samples"]
                if s["phase"] == "timed" and not s["error"]]
    pass_q = stats.quartiles([p["wall"] for p in untraced])
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (pass_q[1], "s"),
        "op_p50_s": (stats.median(op_times or [0.0]), "s"),
        "cpu_s": (stats.median([p["cpu"] for p in untraced]), "s"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
    }
    per_layer = {}
    if args.trace:
        spans = [json.loads(ln) for ln in (work / "spans.jsonl").read_text().splitlines()]
        per_layer = layers.per_layer(spans, res["passes"], cores)
    chosen = per_layer if args.trace else e2e
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "started": datetime.datetime.fromtimestamp(START, datetime.timezone.utc).isoformat(),
        "host": dict(res["host"], nproc_os=cores, loadavg_start=os.getloadavg()[0],
                     git_commit=git_commit(), source_digest=digest, python=sys.version.split()[0],
                     calibration_s=calibration(), disk_write_mb_s=disk_write_mb_s(work)),
        "ops": ops,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "pass_s": {"q1": pass_q[0], "median": pass_q[1], "q3": pass_q[2], "n": len(untraced)},
        "op_s": dict(n=len(op_times),
                     # a percentile is reported only with ten samples beyond it
                     **({"p90": stats.percentile(op_times, 90)} if len(op_times) >= 100 else {})),
        "before_main_s": res["before_main_s"],
        "session_s": res["session_s"],
        "check_s": res["check_s"],
        "error_ratio": len(failed) / len(samples),
        "failures": failures,
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()},
        "passes": res["passes"],
        "samples": samples,
    }
    if args.trace:
        detail["ops_trace"] = layers.op_table(spans)
        detail["layer_shares"] = layers.layer_shares(spans)
    detail["run_wall_s"] = time.monotonic() - START_MONO
    results = OUT / "results"
    results.mkdir(parents=True, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    (results / f"{tag}.json").write_text(json.dumps(detail, indent=1))
    if args.trace:
        # every span with the id of the op it belongs to (null outside ops)
        own = layers.owners(spans)
        with open(results / f"{tag}-spans.jsonl", "w") as f:
            for s in spans:
                op = own[s["id"]][1]
                f.write(json.dumps(dict(s, op=op["id"] if op else None)) + "\n")
    shutil.rmtree(work, ignore_errors=True)

    log(f"== {args.workload} seed={args.seed} trace={args.trace}: "
        f"{len(timed)} timed passes, {len(op_times)} timed ops, {len(samples)} executions")
    for k, m in detail["end_to_end"].items():
        log(f"  {k:18s} {m['value']:12.4f} {m['unit']}")
    log(f"  {'pass_s quartiles':18s} {pass_q[0]:.4f} / {pass_q[1]:.4f} / {pass_q[2]:.4f} s (n={len(untraced)})")
    log(f"  {'error_ratio':18s} {detail['error_ratio']:12.4f} ratio ({len(failed)}/{len(samples)})")
    for name, msg in sorted(failures.items()):
        log(f"  FAIL {name}: {msg}")
    for k, m in detail["per_layer"].items():
        log(f"  {k:30s} {m['value']:14.4f} {m['unit']}")
    print(json.dumps({"correct": not failures, "attempted": len(samples), "failed": len(failed),
                      "metrics": metrics}))
    return 0 if not failures else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Abort as e:
        log(f"perfbench: {e}")
        sys.exit(2)
