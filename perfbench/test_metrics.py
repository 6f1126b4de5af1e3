"""Self-checks of the metric arithmetic on synthetic input.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics


def span(i, parent, name, start, end, op=0):
    return {"id": i, "parent": parent, "name": name, "op": op,
            "start_ns": int(start * 1e9), "end_ns": int(end * 1e9)}


class Percentile(unittest.TestCase):
    def test_interpolates_like_numpy(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.percentile(xs, 50), 3)
        self.assertAlmostEqual(metrics.percentile(xs, 80), 4.2)
        self.assertEqual(metrics.percentile(xs, 0), 1)
        self.assertEqual(metrics.percentile(xs, 100), 5)

    def test_single_value(self):
        self.assertEqual(metrics.percentile([7.5], 80), 7.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class FailRatio(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(metrics.fail_ratio(0, 40), 0.0)
        self.assertEqual(metrics.fail_ratio(3, 12), 0.25)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.fail_ratio(0, 0)


class SelfTime(unittest.TestCase):
    spans = [span(0, -1, "op", 0.0, 10.0), span(1, 0, "tables", 0.0, 1.0),
             span(2, 0, "build", 1.0, 5.0), span(3, 0, "exec", 5.0, 9.5),
             span(4, 2, "nested", 2.0, 3.0),
             span(5, -1, "op", 20.0, 21.0, op=-1)]

    def test_self_is_duration_minus_direct_children(self):
        own = metrics.self_times(self.spans)
        self.assertAlmostEqual(own[0], 10.0 - 1.0 - 4.0 - 4.5)
        self.assertAlmostEqual(own[2], 4.0 - 1.0)
        self.assertAlmostEqual(own[4], 1.0)

    def test_self_times_sum_to_root_duration(self):
        own = metrics.self_times(self.spans[:5])
        self.assertAlmostEqual(sum(own.values()), 10.0)

    def test_by_name_skips_warm_up_ops(self):
        by = metrics.self_by_name(self.spans)
        self.assertAlmostEqual(by["op"], 0.5)
        self.assertAlmostEqual(by["build"], 3.0)


class CoreUtil(unittest.TestCase):
    def test_task_time_over_available_core_seconds(self):
        self.assertAlmostEqual(metrics.core_util(8.0, 10.0, 4), 0.2)

    def test_zero_wall_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.core_util(1.0, 0.0, 4)


class Summaries(unittest.TestCase):
    RUN = {"setup_s": 31.5, "passes": 2, "heap_live_mb": 300.0, "native_peak_mb": 600.0, "cores": 4,
           "host": {"host.steal_pct": 0.1, "host.other_cpu_pct": 2.0, "host.load1": 1.5},
           "ops": [{"op_s": s, "exec_s": s / 2, "cpu_s": 2 * s, "exec.jobs": 2, "exec.task_run_s": s,
                    "build_jobs": j} for s, j in [(1.0, 0), (2.0, 3), (3.0, 0), (4.0, 1)]]}

    def test_end_to_end(self):
        m = metrics.end_to_end(self.RUN)
        self.assertEqual(m, {"setup_s": (31.5, "s"), "cpu_s": (10.0, "s"), "mem_mb": (900.0, "MB")})

    def test_latency(self):
        m = metrics.latency(self.RUN)
        self.assertEqual(m["pass_s"], (5.0, "s"))
        self.assertAlmostEqual(m["op_p50_ms"][0], 2500.0)
        self.assertAlmostEqual(m["op_p80_ms"][0], 3400.0)

    def test_per_layer(self):
        spans = [span(0, -1, "op", 0, 10), span(1, 0, "build", 0, 4), span(2, 0, "exec", 4, 9)]
        m = metrics.per_layer(self.RUN, spans, failed=1)
        self.assertAlmostEqual(m["build.share"][0], 0.4)
        self.assertAlmostEqual(m["self.share"][0], 0.1)
        # per-job time and core use are over execution time (5 s)
        self.assertAlmostEqual(m["exec.core_util"][0], 10.0 / (5.0 * 4))
        self.assertAlmostEqual(m["build.zero_job_ops"][0], 0.5)
        self.assertAlmostEqual(m["exec.s_per_job"][0], 5.0 / 8)
        self.assertEqual(m["fail_ratio"], (0.25, "ratio"))
        self.assertEqual(m["pass_s"], (5.0, "s"))

    def test_stream_ops_count_their_whole_time_as_execution(self):
        run = dict(self.RUN, ops=[{k: v for k, v in o.items() if k != "exec_s"} for o in self.RUN["ops"]])
        m = metrics.per_layer(run, [span(0, -1, "op", 0, 10)], failed=0)
        self.assertAlmostEqual(m["exec.core_util"][0], 10.0 / (10.0 * 4))
        self.assertAlmostEqual(m["exec.s_per_job"][0], 10.0 / 8)


if __name__ == "__main__":
    unittest.main()
