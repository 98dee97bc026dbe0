"""Tests of the benchmark's own logic. The last test also compiles the
benchmark and runs its JVM-side checks (perfbench.SelfTest).

    python3 -m unittest discover -s perfbench/tests      (from the repository root)
"""
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import metrics  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_highest_level_with_ten_samples_beyond(self):
        values = list(range(1, 101))                  # 100 samples
        self.assertEqual(metrics.tail_percentile(values), (90.0, 90))
        self.assertEqual(metrics.beyond(100, 90.0), 10)
        self.assertLess(metrics.beyond(100, 95.0), 10)

    def test_level_drops_as_samples_shrink(self):
        self.assertEqual(metrics.tail_percentile(list(range(40)))[0], 75.0)   # 10 beyond p75
        self.assertEqual(metrics.tail_percentile(list(range(20)))[0], 50.0)   # 10 beyond p50
        self.assertIsNone(metrics.tail_percentile(list(range(19))))

    def test_p99_needs_a_thousand(self):
        self.assertEqual(metrics.tail_percentile(list(range(1000)))[0], 99.0)
        self.assertEqual(metrics.tail_percentile(list(range(999)))[0], 95.0)

    def test_nearest_rank_ignores_order(self):
        self.assertEqual(metrics.percentile([5, 1, 4, 2, 3], 50.0), 3)
        self.assertEqual(metrics.percentile([5, 1, 4, 2, 3], 100.0), 5)


class SpanTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]), 4)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": 0, "parent": -1, "op": 0, "name": "op", "start_ms": 0, "end_ms": 10},
            {"id": 1, "parent": 0, "op": 0, "name": "entry.build", "start_ms": 1, "end_ms": 4},
            {"id": 2, "parent": 0, "op": 0, "name": "op.execute", "start_ms": 3, "end_ms": 9},
            {"id": 3, "parent": 2, "op": 0, "name": "inner", "start_ms": 5, "end_ms": 6},
        ]
        t = metrics.self_times(spans)
        self.assertEqual(t["op"], (10, 2))            # children cover [1, 9)
        self.assertEqual(t["op.execute"], (6, 5))
        self.assertEqual(t["inner"], (1, 1))


def raw_run(traced):
    ops, passes = [], []
    for p in range(0, 5 if traced else 3):
        for i, base in enumerate((100.0, 300.0)):
            ms = base * (1.1 if traced and p in (2, 3) else 1)
            ops.append({"id": len(ops), "pass": p, "name": f"q{i}", "kind": "query",
                        "module": "Analytics", "ms": ms, "ok": True, "read_bytes": 0, "start_ms": 1000.0 * len(ops),
                        "end_ms": 1000.0 * len(ops) + ms, "jobs": 2, "stage_intervals": [
                            [1000.0 * len(ops), 1000.0 * len(ops) + ms / 2]]})
        if p:
            passes.append({"pass": p, "traced": traced and p in (2, 3),
                           "wall_s": sum(o["ms"] for o in ops if o["pass"] == p) / 1000})
    return {"ops": ops, "passes": passes, "setup_s": [3.0, 1.0, 2.0], "warmup_s": 5.0,
            "peak_rss_kib": 2048, "cores": 4}


class ReduceTest(unittest.TestCase):
    def test_end_to_end_uses_timed_passes_only(self):
        m, d = metrics.end_to_end(raw_run(False))
        self.assertEqual(m["setup_s"], (2.0, "s"))
        self.assertEqual(m["wall_s"], (0.4, "s"))
        self.assertEqual(m["latency_p50_ms"], (200.0, "ms"))
        self.assertEqual(m["peak_rss_mib"], (2.0, "MiB"))
        self.assertEqual(d["latency_samples"], 4)
        self.assertNotIn("latency_p90_ms", d)

    def test_per_layer_per_traced_pass(self):
        m, d = metrics.per_layer(raw_run(True), [])
        self.assertEqual(d["traced_passes"], 2)
        self.assertAlmostEqual(m["sched.jobs"][0], 4)
        self.assertAlmostEqual(m["operators.Analytics_s"][0], 0.44)
        self.assertAlmostEqual(m["sched.gap_s"][0], 0.22)     # half of each op has no stage
        self.assertAlmostEqual(m["trace.overhead_frac"][0], 0.1)

    def test_ingest_op_reports_its_scan_planning(self):
        raw = raw_run(True)
        spans = []
        for o in raw["ops"]:
            if o["pass"] in (2, 3) and o["name"] == "q0":
                # an edf_process op: the scan's partitions are built inside the sink
                o.update(kind="edf_process", module="EdfPipeline", splits=4,
                         in_bytes=2 * 2 ** 20, needed_bytes=2 * 2 ** 20, read_bytes=3 * 2 ** 20)
                base = len(spans)
                t = o["start_ms"]
                spans += [
                    {"id": base, "parent": -1, "op": o["id"], "name": "q0", "start_ms": t, "end_ms": t + 100},
                    {"id": base + 1, "parent": base, "op": o["id"], "name": "sources.sink",
                     "start_ms": t + 10, "end_ms": t + 90},
                    {"id": base + 2, "parent": base + 1, "op": o["id"], "name": "sources.plan",
                     "start_ms": t + 20, "end_ms": t + 30},
                ]
        m, d = metrics.per_layer(raw, spans)
        self.assertAlmostEqual(m["sources.plan_s"][0], 0.01)
        self.assertAlmostEqual(m["sources.splits"][0], 4)
        self.assertAlmostEqual(m["sources.read_amplification"][0], 1.5)
        self.assertAlmostEqual(d["span_self_s"]["sources.sink"]["self_s"], 0.07)


class JvmSelfTest(unittest.TestCase):
    def test_fingerprint_and_generator(self):
        repo = os.path.dirname(os.path.dirname(HERE))
        os.chdir(repo)
        import build
        classpath = build.build()
        scratch = os.path.join(build.BUILD_ROOT, "selftest")
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            p = subprocess.run(["java", "--add-opens", "java.base/sun.nio.ch=ALL-UNNAMED",
                                "--add-opens", "java.base/java.nio=ALL-UNNAMED",
                                "--add-opens", "java.base/java.lang=ALL-UNNAMED",
                                "--add-opens", "java.base/java.util=ALL-UNNAMED",
                                "--add-opens", "java.base/java.lang.invoke=ALL-UNNAMED",
                                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                                "-cp", classpath, "perfbench.SelfTest", os.path.abspath(scratch)],
                               capture_output=True, text=True, timeout=600)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        fails = [l for l in p.stdout.splitlines() if not l.startswith("ok")]
        self.assertEqual(p.returncode, 0, "\n".join(fails) + p.stderr[-3000:])


if __name__ == "__main__":
    unittest.main()
