"""Spark counters stay correct once the status store's lists are capped."""

from collections import deque

from perfbench import trace


class CappedSource:
    """A status store that keeps the newest ``cap`` jobs and stages, like
    spark.ui.retainedJobs / retainedStages."""

    def __init__(self, cap=1000):
        self.jobs = deque(maxlen=cap)
        self.stages_kept = deque(maxlen=cap)
        self.next_job = self.next_stage = 0

    def run_job(self, stages=1, skipped=0):
        self.jobs.appendleft(self.next_job)
        self.next_job += 1
        for i in range(stages + skipped):
            status = "SKIPPED" if i < skipped else "COMPLETE"
            self.stages_kept.appendleft(
                {"id": self.next_stage, "status": status, "tasks": 4, "cpu_ns": 2_000_000, "gc_ms": 1,
                 "input_records": 10, "input_bytes": 100, "shuffle_write_bytes": 5, "spill_bytes": 0}
            )
            self.next_stage += 1

    def drain(self):
        pass

    def job_count(self):
        return self.next_job

    def stage_count(self):
        return self.next_stage

    def stages(self, lo, hi):
        return [s for s in self.stages_kept if lo <= s["id"] < hi]


def test_delta_across_the_retention_cap():
    src = CappedSource()
    counters = trace.SparkCounters(src)
    for _ in range(1500):
        src.run_job()
    assert len(src.jobs) == 1000
    before, listed = counters.mark(), len(src.jobs)
    for _ in range(3):
        src.run_job(stages=2, skipped=1)
    after = counters.mark()
    assert len(src.jobs) - listed == 0  # a list-length delta would read 0
    d = counters.delta(before, after)
    assert d["spark.jobs"] == 3
    assert d["spark.stages"] == 6
    assert d["spark.tasks"] == 24
    assert d["spark.task_cpu_ms"] == 12.0
    assert d["spark.input_records"] == 60
