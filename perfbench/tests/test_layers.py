import unittest

import layers


def span(id, parent, kind, name, start_ms, end_ms, **attrs):
    return {"id": id, "parent": parent, "kind": kind, "name": name,
            "startUs": int(start_ms * 1000), "endUs": int(end_ms * 1000), "attrs": attrs}


class PerLayer(unittest.TestCase):
    def setUp(self):
        self.spans = [
            span(1, 0, "pass", "timed.0", 0, 1000, traced=1, gc_ms=20),
            span(2, 1, "op", "q01", 0, 600),
            span(3, 2, "call", "rel.build", 0, 100, codegen_compiles=2, codegen_ms=30),
            span(4, 2, "call", "rel.action", 100, 600),
            span(5, 0, "sql", "sql.1", 110, 590, analysis_ms=5, optimization_ms=7, planning_ms=3),
            span(6, 5, "job", "job.1", 120, 300),
            span(7, 5, "job", "job.2", 250, 500),
            span(8, 6, "stage", "stage.1", 120, 300, tasks=4, run_ms=400, cpu_ns=3e8, scan_bytes=100),
            # q02 starts microseconds after q01 ends, well within Spark's
            # millisecond stamps: its build and codegen are q02's, not q01's
            span(9, 1, "op", "q02", 600.004, 1000),
            span(10, 9, "call", "rel.build", 600.005, 700, codegen_compiles=1, codegen_ms=50),
            span(11, 9, "call", "rel.action", 700, 1000),
            span(12, 0, "batch", "s#0", 720, 800, input_rows=10, state_cache_hits=3, state_cache_misses=1),
            # an untraced pass: its spans must not count
            span(13, 0, "pass", "timed.1", 2000, 2900, traced=0),
            span(14, 13, "op", "q01", 2000, 2900),
            span(15, 14, "call", "rel.build", 2000, 2100, codegen_compiles=7, codegen_ms=70),
        ]
        self.passes = [
            {"phase": "timed", "index": 0, "traced": True, "wall": 1.0},
            {"phase": "timed", "index": 1, "traced": False, "wall": 0.9},
        ]

    def test_pass_metrics(self):
        m = {k: v for k, (v, _) in layers.per_layer(self.spans, self.passes, cores=4).items()}
        self.assertAlmostEqual(m["rel.build_s"], 0.2, places=4)
        self.assertAlmostEqual(m["rel.action_s"], 0.8, places=4)
        self.assertEqual(m["codegen.compiles"], 3)
        self.assertAlmostEqual(m["codegen.compile_s"], 0.08)
        self.assertAlmostEqual(m["catalyst.optimization_s"], 0.007)
        self.assertEqual(m["sql.executions"], 1)
        self.assertEqual(m["exec.jobs"], 2)
        self.assertEqual(m["exec.stages"], 1)
        self.assertEqual(m["exec.tasks"], 4)
        # jobs cover [120, 500] of the 1000 ms pass
        self.assertAlmostEqual(m["exec.idle_s"], 0.62)
        self.assertAlmostEqual(m["exec.busy_ratio"], 0.4 / (1.0 * 4))
        self.assertAlmostEqual(m["exec.task_cpu_s"], 0.3)
        self.assertEqual(m["scan.bytes"], 100)
        self.assertAlmostEqual(m["jvm.gc_s"], 0.02)
        self.assertEqual(m["streaming.batches"], 1)
        self.assertAlmostEqual(m["streaming.state_cache_hit_ratio"], 0.75)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.1)
        self.assertEqual(set(m), set(layers.METRICS))

    def test_op_table_ranks_by_stage_and_task_rate(self):
        rows = layers.op_table(self.spans)
        self.assertEqual([r["op"] for r in rows], ["q01", "q02"])
        self.assertAlmostEqual(rows[0]["stages_tasks_per_s"], 5 / 0.6)
        self.assertAlmostEqual(rows[0]["catalyst_codegen_share"], (0.015 + 0.03) / 0.6)
        self.assertAlmostEqual(rows[1]["codegen_s"], 0.05)
        self.assertEqual(rows[1]["jobs"], 0)
        # q01's jobs cover [120, 500] of its [0, 600] ms
        self.assertAlmostEqual(rows[0]["outside_jobs_s"], 0.22)

    def test_layer_shares(self):
        shares = layers.layer_shares(self.spans)
        self.assertAlmostEqual(shares["jobs_running"], 0.38)
        self.assertAlmostEqual(shares["rel.action"], 0.8, places=4)
        self.assertAlmostEqual(shares["outside_ops"], 0.0, places=4)

    def test_owners_give_every_span_its_op(self):
        ops = {i: (op["name"] if op else None) for i, (_, op) in layers.owners(self.spans).items()}
        # calls by parent id, the sql by time, its jobs and stage by parent
        self.assertEqual([ops[i] for i in (2, 3, 4, 5, 6, 7, 8)], ["q01"] * 7)
        self.assertEqual([ops[i] for i in (9, 10, 11, 12)], ["q02"] * 4)
        self.assertEqual([ops[i] for i in (1, 13)], [None, None])

    def test_listener_span_in_millisecond_of_next_op(self):
        # stamped at 600 ms, truly started in [600, 601): the middle of that
        # millisecond lies in q02, so the job is q02's
        spans = self.spans + [span(16, 0, "job", "job.3", 600, 650)]
        rows = {r["op"]: r for r in layers.op_table(spans)}
        self.assertEqual(rows["q01"]["jobs"], 2)
        self.assertEqual(rows["q02"]["jobs"], 1)


if __name__ == "__main__":
    unittest.main()
