"""Executor-thread JFR samples of one perfbench run, by category, inside
the timed window.

usage: categorize.py <recording.jfr> <perfbench detail.json>

The window ends where the final fingerprint check starts: the harness's
heap measurement (System.gc()) follows that check, which re-runs the last
pass's ops, so end = first System.gc() - median timed pass wall, and
start = end - sum of timed pass walls.
"""
import datetime, json, statistics, subprocess, sys

rec, detf = sys.argv[1], sys.argv[2]
det = json.load(open(detf))
out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "80", "--events",
                      "jdk.ExecutionSample,jdk.GarbageCollection", rec],
                     capture_output=True, text=True, check=True).stdout
events = json.loads(out)["recording"]["events"]

def ts(s):
    return datetime.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()

walls = [p["wall"] for p in det["passes"] if p["phase"] == "timed"]
gc0 = min(ts(e["values"]["startTime"]) for e in events
          if e["type"] == "jdk.GarbageCollection" and e["values"].get("cause") == "System.gc()")
end = gc0 - statistics.median(walls)
start = end - sum(walls)

CATS = [
    ("q17 MinHash kernel (Dedup.bandKernel)", ["Dedup$.bandKernel"]),
    ("object-hash aggregate, sort-based fallback", ["SortBasedAggregator", "switchToSortBasedAggregation"]),
    ("object-hash aggregate, hash path", ["ObjectAggregationIterator", "ObjectAggregationMap"]),
    ("q22 tokenization (split, array_distinct, aggregate lambda)",
     ["StringSplit", "UTF8String.split", "ArrayAggregate", "ArrayDistinct", "HigherOrderFunction",
      "LambdaVariable", "InterpretedProjection"]),
    ("state store load/commit (q82)", ["StateStore", "HDFSBackedStateStore"]),
]

def frames(v):
    st = v.get("stackTrace") or {}
    return [f"{f['method']['type']['name']}.{f['method']['name']}" for f in st.get("frames", [])]

def thread(v):
    t = v.get("sampledThread") or {}
    return t.get("javaName") or t.get("osName") or ""

counts, n = {}, 0
for e in events:
    if e["type"] != "jdk.ExecutionSample":
        continue
    v = e["values"]
    t = ts(v["startTime"])
    if not (start <= t <= end) or not thread(v).startswith("Executor task launch worker"):
        continue
    joined = "\n".join(frames(v))
    cat = next((name for name, keys in CATS if any(k in joined for k in keys)), "other")
    counts[cat] = counts.get(cat, 0) + 1
    n += 1
print(f"timed window {end - start:.2f} s ({len(walls)} passes); executor-thread samples: {n}")
print("| category | samples | share |")
print("|---|---|---|")
for name in [c for c, _ in CATS] + ["other"]:
    c = counts.get(name, 0)
    print(f"| {name} | {c} | {100.0 * c / max(n, 1):.1f}% |")
