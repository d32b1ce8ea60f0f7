"""Per-op stage breakdown of a traced perfbench run (spans.jsonl):
every stage inside each q82 batch and inside q17, per traced timed pass."""
import json, sys
spans = [json.loads(l) for l in open(sys.argv[1])]
K = lambda s, k: s.get(k)
passes = [s for s in spans if s["kind"] == "pass" and s["name"].startswith("timed")]
ops = [s for s in spans if s["kind"] == "op"]
stages = sorted((s for s in spans if s["kind"] == "stage"), key=lambda s: s["startUs"])
batches = sorted((s for s in spans if s["kind"] == "batch"), key=lambda s: s["startUs"])
def inside(s, o): return s["startUs"] >= o["startUs"] and s["endUs"] <= o["endUs"]
for p in passes:
    pops = [o for o in ops if inside(o, p)]
    if not pops: continue
    print(f"## {p['name']} ({(p['endUs']-p['startUs'])/1e6:.3f} s)")
    for o in pops:
        if not (o["name"].startswith("q82") or o["name"].startswith("q17") or o["name"].startswith("q22")): continue
        st = [s for s in stages if inside(s, o)]
        cpu = sum(s["attrs"].get("cpu_ns", 0) for s in st) / 1e6
        print(f"{o['name']}: op {(o['endUs']-o['startUs'])/1e3:.0f} ms, {len(st)} stages, stage task CPU {cpu:.0f} ms")
        if o["name"].startswith("q82"):
            for b in [b for b in batches if inside(b, o)]:
                bs = [s for s in st if inside(s, b)]
                a = b["attrs"]
                desc = ", ".join(f"{(s['endUs']-s['startUs'])/1e3:.0f} ms/{int(s['attrs']['tasks'])} tasks/cpu {s['attrs']['cpu_ns']/1e6:.0f} ms" for s in bs)
                print(f"  batch {b['name']}: trigger {a['trigger_ms']:.0f} ms, addBatch {a['add_batch_ms']:.0f} ms, state commit {a['state_commit_ms']:.0f} ms; stages: {desc}")
        else:
            for s in st:
                print(f"  stage {s['name']}: {(s['endUs']-s['startUs'])/1e3:.0f} ms, {int(s['attrs']['tasks'])} tasks, run {s['attrs']['run_ms']:.0f} ms, cpu {s['attrs']['cpu_ns']/1e6:.0f} ms")
