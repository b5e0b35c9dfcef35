"""Tests of joblog.py over a synthetic two-stage event log: one stage whose
work sits in one task, one whose work is spread over four.

    python3 -m unittest discover -s scripts -p 'test_*.py'
"""
import io
import json
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import joblog  # noqa: E402


def event_log():
    """Job 0 runs stage 0 (skewed: 400 of 460 ms in one task, 480 ms wall)
    and stage 1 (balanced: four 50 ms tasks, 120 ms wall)."""
    def stage(sid, tasks, t0, t1):
        return {"Event": "SparkListenerStageCompleted",
                "Stage Info": {"Stage ID": sid, "Stage Name": f"collect at Probe.scala:{sid}\nmore",
                               "Number of Tasks": tasks, "Submission Time": t0,
                               "Completion Time": t1}}

    def task(sid, ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
                "Task Metrics": {"Executor Run Time": ms}}

    events = [{"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
               "Stage Infos": [{"Stage ID": 0}, {"Stage ID": 1}],
               "Properties": {"spark.job.description": "probe"}}]
    events += [task(0, ms) for ms in (400, 20, 20, 20)] + [stage(0, 4, 1000, 1480)]
    events += [task(1, 50) for _ in range(4)] + [stage(1, 4, 1480, 1600)]
    events += [{"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1600}]
    return [json.dumps(e) + "\n" for e in events] + ["not json\n"]


class JoblogTest(unittest.TestCase):
    def setUp(self):
        self.jobs, self.stages = joblog.parse(event_log())

    def test_parse_reads_task_run_times_per_stage(self):
        self.assertEqual(self.stages[0]["task_ms"], [400, 20, 20, 20])
        self.assertEqual(self.stages[1]["task_ms"], [50, 50, 50, 50])
        self.assertEqual(self.stages[0]["ms"], 480)
        self.assertEqual(self.jobs[0]["stages"], [0, 1])

    def test_max_task_share(self):
        self.assertAlmostEqual(joblog.max_task_share(self.stages[0]["task_ms"]), 400 / 460)
        self.assertAlmostEqual(joblog.max_task_share(self.stages[1]["task_ms"]), 0.25)
        self.assertIsNone(joblog.max_task_share([]))
        self.assertIsNone(joblog.max_task_share([0, 0]))

    def test_only_the_skewed_stage_is_flagged(self):
        self.assertTrue(joblog.skewed(self.stages[0]))
        self.assertFalse(joblog.skewed(self.stages[1]))
        # a short stage is not flagged, however its work is split
        self.assertFalse(joblog.skewed(dict(self.stages[0], ms=99)))

    def test_report_prints_share_and_flag(self):
        out = io.StringIO()
        joblog.report(self.jobs, self.stages, out=out)
        lines = out.getvalue().splitlines()
        self.assertIn("1 skewed stages", lines[0])
        self.assertIn("[0]", lines[0])
        stage0 = next(l for l in lines if "stage    0" in l)
        stage1 = next(l for l in lines if "stage    1" in l)
        self.assertIn("max_task_share  0.87 SKEW", stage0)
        self.assertIn("max_task_share  0.25  ", stage1)
        self.assertNotIn("SKEW", stage1)


if __name__ == "__main__":
    unittest.main()
