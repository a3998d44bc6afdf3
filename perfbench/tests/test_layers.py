import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import layers  # noqa: E402

MS = 1_000_000  # ns per ms


def span(inv, name, lo_ms, hi_ms, parent="invocation"):
    return {"inv": inv, "parent": parent, "name": name,
            "start_ns": lo_ms * MS, "end_ns": hi_ms * MS}


def doc():
    """One untraced pass (1) and one traced pass (2) of one invocation:
    build 0-100 ms, plan 100-110, exec 110-200, count 200-250."""
    inv = {"inv": 7, "query": "qa", "pass": 2, "kind": "timed", "traced": True,
           "ok": True, "build_s": 0.1, "plan_s": 0.01, "exec_s": 0.09,
           "count_s": 0.05, "wall_s": 0.2,
           "tracker_ms": {"analysis": 3, "optimization": 4, "planning": 5}}
    first = dict(inv, inv=1, traced=False, kind="warm")
    first["pass"] = 0
    spans = [span(7, "invocation", 0, 200, parent=""), span(7, "build", 0, 100),
             span(7, "plan", 100, 110), span(7, "exec", 110, 200),
             span(7, "count", 200, 250)]
    jobs = [
        # two overlapping build jobs, tagged by property: cover 10-60
        {"job": 1, "pass": 2, "span": "7/build", "start_ms": 10, "end_ms": 50, "stages": [1]},
        {"job": 2, "pass": 2, "span": "7/build", "start_ms": 30, "end_ms": 60, "stages": [2]},
        # untagged job placed by its start time: exec
        {"job": 3, "pass": 2, "span": None, "start_ms": 120, "end_ms": 190, "stages": [3]},
        {"job": 4, "pass": 2, "span": "7/count", "start_ms": 205, "end_ms": 245, "stages": [4]},
    ]

    def stage(i, tasks, run_ms, tmax, tmed, shuffle=0):
        return {"stage": i, "job": i, "tasks": tasks, "run_ms": run_ms,
                "cpu_ns": run_ms * MS, "gc_ms": 1, "shuffle_read_bytes": shuffle,
                "shuffle_write_bytes": shuffle, "spill_bytes": 0, "input_bytes": 10,
                "output_bytes": 0, "task_max_ms": tmax, "task_median_ms": tmed}
    stages = [stage(1, 4, 100, 40, 20), stage(2, 1, 30, 30, 30),
              stage(3, 4, 200, 90, 30, shuffle=5), stage(4, 4, 999, 999, 1)]
    return {"invocations": [first, inv], "spans": spans, "jobs": jobs,
            "stages": stages,
            "passes": [{"pass": 1, "traced": False, "wall_s": 0.2},
                       {"pass": 2, "traced": True, "wall_s": 0.26}],
            "queries_traced": [{"pass": 2, "broadcast_bytes": 123}]}


class PerLayer(unittest.TestCase):
    def setUp(self):
        self.m = layers.per_layer(doc(), {"qa": "text"})

    def test_jobs_land_in_their_phase(self):
        self.assertEqual((self.m["build.jobs"], self.m["plan.jobs"], self.m["exec.jobs"]),
                         (2, 0, 1))

    def test_driver_gap_is_phase_minus_job_cover(self):
        self.assertAlmostEqual(self.m["build.driver_gap_s"], 0.05)
        self.assertAlmostEqual(self.m["exec.driver_gap_s"], 0.02)
        self.assertAlmostEqual(self.m["plan.driver_gap_s"], 0.01)

    def test_count_phase_is_left_out_of_stage_totals(self):
        self.assertEqual(self.m["stage.count"], 3)
        self.assertEqual(self.m["task.count"], 9)
        self.assertAlmostEqual(self.m["task.run_s"], 0.33)
        self.assertEqual(self.m["task.skew"], 3.0)
        self.assertEqual(self.m["shuffle.read_bytes"], 5)

    def test_planner_phases_and_count_gap(self):
        self.assertAlmostEqual(self.m["plan.optimization_s"], 0.004)
        self.assertAlmostEqual(self.m["count.blind_spot_s"], 0.04)
        self.assertEqual(self.m["broadcast.max_bytes"], 123)

    def test_modules_and_overhead(self):
        self.assertAlmostEqual(self.m["text.s"], 0.2)
        self.assertEqual(self.m["text.jobs"], 3)
        self.assertEqual(self.m["lsvi.s"], 0)
        # traced pass minus its count phase equals the untraced pass
        self.assertAlmostEqual(self.m["trace.overhead_frac"], 0.05, places=6)
        self.assertAlmostEqual(self.m["cold.build_s"], 0.1)


if __name__ == "__main__":
    unittest.main()
