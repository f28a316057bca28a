"""Tests of per-layer attribution on a hand-made traced run."""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))

import layers  # noqa: E402


def query(name, start, built, end):
    return {"name": name, "start_ms": start, "built_ms": built, "end_ms": end, "error": None}


def stage(start, end, **fields):
    base = {f: 0 for f in ("tasks", "failed_tasks", "launch_wait_ms", "run_ms", "cpu_ns",
                           "gc_ms", "deser_ms", "shuffle_write_bytes", "shuffle_write_records",
                           "shuffle_read_bytes", "shuffle_read_records",
                           "spill_memory_bytes", "spill_disk_bytes", "input_bytes",
                           "input_records", "output_bytes", "output_records")}
    base.update(fields)
    return dict(base, kind="stage", id=0, attempt=0, start_ms=start, end_ms=end, ok=True)


def pass_(start, end, traced, queries):
    return {"start_ms": start, "end_ms": end, "traced": traced, "queries": queries,
            "io_written_bytes": 100, "leaked_entries": 1, "leaked_bytes": 10,
            "jvm": {"cpu_ms": 90, "gc_ms": 5, "jit_ms": 40}}


# cold pass 0..100, untraced warm 100..150, traced warm 200..260, untraced
# warm 300..340
RUN = {
    "setup": {"jvm_start_ms": -9000, "session_ready_ms": -1000, "again_ms": [100.0]},
    "passes": [
        pass_(0, 100, False, [query("qa", 0, 10, 60), query("qs", 60, 70, 100)]),
        pass_(100, 150, False, [query("qa", 100, 105, 125), query("qs", 125, 130, 150)]),
        pass_(200, 260, True, [query("qs", 200, 210, 230), query("qa", 230, 235, 260)]),
        pass_(300, 340, False, [query("qa", 300, 305, 320), query("qs", 320, 325, 340)]),
    ],
}
TAGS = {"qa": "sql", "qs": "streaming"}
EVENTS = [
    {"kind": "sql_plan", "start_ms": 201, "ok": True, "analysis_ms": 3,
     "optimization_ms": 2, "planning_ms": 1, "shuffle_exchanges": 2,
     "broadcast_exchanges": 1, "smj": 1, "bhj": 0},
    {"kind": "job", "id": 1, "start_ms": 212, "end_ms": 220, "stages": 2,
     "skipped_stages": 1, "ok": True},
    {"kind": "job", "id": 2, "start_ms": 240, "end_ms": 250, "stages": 1,
     "skipped_stages": 0, "ok": True},
    stage(212, 220, tasks=4, run_ms=24, cpu_ns=12_000_000, input_bytes=1000,
          shuffle_write_records=7),
    {"kind": "trigger", "start_ms": 211, "end_ms": 221, "stream": "s1", "batch_id": 0,
     "input_rows": 5, "duration_ms": {"addBatch": 6, "triggerExecution": 10},
     "state_rows": 3, "state_commit_ms": 1, "state_memory_bytes": 64},
    {"kind": "sql_start", "id": 9, "start_ms": 236},
    {"kind": "sql_end", "id": 9, "end_ms": 249},
    # outside every query span (the drain job after the pass): dropped
    {"kind": "job", "id": 3, "start_ms": 270, "end_ms": 271, "stages": 1,
     "skipped_stages": 0, "ok": True},
]


class AnalyseTest(unittest.TestCase):
    def setUp(self):
        self.spans, self.m = layers.analyse(RUN, EVENTS, TAGS, 4, "w")

    def v(self, name):
        return self.m[name][0]

    def test_names_match_the_declared_per_layer_metrics(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
        produced = {k: u for k, (_, u) in self.m.items()}
        # the runner adds the JVM's peak resident set to the layer metrics
        produced["mem.peak_rss_mb"] = "MiB"
        self.assertEqual(produced, declared)

    def test_module_tags_split_build_and_execute(self):
        self.assertAlmostEqual(self.v("streaming.build_s"), 0.010)
        self.assertAlmostEqual(self.v("streaming.exec_s"), 0.020)
        self.assertAlmostEqual(self.v("sql.wall_s"), 0.030)
        self.assertAlmostEqual(self.v("entry.wall_s"), 0.060)
        self.assertEqual(self.v("ext.ann.wall_s"), 0)

    def test_events_attributed_to_the_traced_pass_only(self):
        self.assertEqual(self.v("sched.jobs"), 2)
        self.assertEqual(self.v("sched.stages"), 3)
        self.assertEqual(self.v("sched.skipped_stages"), 1)
        self.assertEqual(self.v("catalyst.analysis_ms"), 3)
        self.assertEqual(self.v("plan.shuffle_exchanges"), 2)
        self.assertEqual(self.v("scan.bytes"), 1000)
        self.assertEqual(self.v("shuffle.records"), 7)
        self.assertAlmostEqual(self.v("exec.cpu_ms"), 12)
        self.assertAlmostEqual(self.v("exec.slot_busy_frac"), 24 / (60 * 4))

    def test_driver_gap_is_pass_time_outside_jobs(self):
        self.assertEqual(self.v("sched.driver_gap_ms"), 60 - 8 - 10)

    def test_streaming(self):
        self.assertEqual(self.v("stream.triggers"), 1)
        self.assertEqual(self.v("stream.add_batch_ms"), 6)
        self.assertEqual(self.v("stream.jobs_per_trigger"), 1)
        self.assertEqual(self.v("stream.trigger_p50_ms"), 10)
        self.assertEqual(self.v("stream.state_rows"), 3)

    def test_setup_and_overhead(self):
        self.assertEqual(self.v("setup.session_ms"), 8000)
        self.assertAlmostEqual(self.v("trace.overhead_s"), 0.060 - (0.050 + 0.040) / 2)

    def test_spans_of_one_execution_share_its_id(self):
        by_id = {s["id"]: s for s in self.spans}
        q = by_id["p2:qa"]
        children = [s for s in self.spans if s.get("parent") == "p2:qa"]
        self.assertEqual({s["kind"] for s in children}, {"build", "execute", "job", "sql"})
        self.assertTrue(all(s["qid"] == "p2:qa" for s in children))
        self.assertEqual(q["parent"], "p2")
        self.assertFalse(any(s["kind"] == "job" and s["start_ms"] == 270 for s in self.spans))


if __name__ == "__main__":
    unittest.main()
