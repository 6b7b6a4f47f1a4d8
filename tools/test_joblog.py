"""Unit test for tools/joblog.py: python3 -m unittest tools/test_joblog.py"""
import io
import json
import os
import sys
import tempfile
import unittest
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import joblog  # noqa: E402


def job_start(jid, desc, stage_ids, t):
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Stage Infos": [{"Stage ID": s, "Details": f"count at Q.scala:{s}\nmore"}
                            for s in stage_ids],
            "Properties": {"spark.job.description": desc} if desc else {}}


def job_end(jid, t):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t}


def stage_done(sid, tasks):
    return {"Event": "SparkListenerStageCompleted",
            "Stage Info": {"Stage ID": sid, "Stage Name": f"stage {sid}",
                           "Number of Tasks": tasks}}


# q1 starts two jobs: a one-task job, and a job whose first stage was
# skipped (it never completes) and whose second ran 4 tasks; q2 starts
# one 3-task job; a job without a description is named by its call site
EVENTS = [
    job_start(0, "q1", [0], 1000), stage_done(0, 1), job_end(0, 1200),
    job_start(1, "q1", [1, 2], 1300), stage_done(2, 4), job_end(1, 1350),
    job_start(2, "q2", [3], 1400), stage_done(3, 3), job_end(2, 1500),
    job_start(3, "", [4], 1600), stage_done(4, 2), job_end(3, 1700),
]


class JobLogTest(unittest.TestCase):
    def parsed(self):
        lines = [json.dumps(e) for e in EVENTS] + ["not json"]
        return joblog.parse(lines)

    def test_summary_counts_jobs_and_ran_tasks_per_description(self):
        jobs, stages = self.parsed()
        self.assertEqual(joblog.summary(jobs, stages),
                         [("q1", 2, 5), ("q2", 1, 3), ("count at Q.scala:4", 1, 2)])

    def test_summary_mode_prints_rows_and_totals(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "events")
            with open(path, "w") as f:
                f.write("\n".join(json.dumps(e) for e in EVENTS) + "\n")
            out = io.StringIO()
            with redirect_stdout(out):
                joblog.main(["--summary", path])
        lines = out.getvalue().splitlines()
        self.assertEqual(lines[1].split(), ["2", "5", "q1"])
        self.assertEqual(lines[-1].split(), ["4", "10", "TOTAL"])

    def test_job_mode_filters_by_wall_ms(self):
        jobs, stages = self.parsed()
        out = io.StringIO()
        with redirect_stdout(out):
            joblog.print_jobs(jobs, stages, 100)
        self.assertEqual([l.split()[1] for l in out.getvalue().splitlines()
                          if l.startswith("job")], ["0", "2", "3"])


if __name__ == "__main__":
    unittest.main()
