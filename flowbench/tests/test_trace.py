"""Self-time and job-attribution arithmetic on a synthetic span tree."""

import json

import pytest

from flowbench import trace
from flowbench.trace import Job, Span


def _tree():
    spans = [
        Span("op", 0.0, 10.0),
        Span("step1", 1.0, 4.0),
        Span("step2", 5.0, 9.0),
        Span("build", 5.0, 5.5),
        Span("pure_driver", 9.2, 9.8),  # no Spark job runs inside it
    ]
    return trace.build_tree(spans)


def test_nesting_and_self_times():
    (op,) = _tree()
    assert [c.name for c in op.children] == ["step1", "step2", "pure_driver"]
    assert [c.name for c in op.children[1].children] == ["build"]
    selfs = trace.self_times([op])
    assert selfs == pytest.approx(
        {"op": 2.4, "step1": 3.0, "step2": 3.5, "build": 0.5, "pure_driver": 0.6}
    )
    # self times partition the root's wall time
    assert sum(selfs.values()) == pytest.approx(op.dur)


def test_job_straddling_a_span_boundary():
    (op,) = _tree()
    inside = Job(1.5, 3.0, tasks=2, task_s=2.0)
    straddle = Job(3.5, 6.0, tasks=4, task_s=6.0)  # starts in step1, ends in step2
    trace.attach_jobs([op], [inside, straddle])
    step1, step2, pure = op.children
    assert step1.jobs == [inside, straddle] and not step2.jobs and not pure.jobs
    # the job's tail past step1 is clipped, not charged to step1
    assert trace.driver_self_s(step1, step1.jobs) == pytest.approx(3.0 - 1.5 - 0.5)
    assert trace.driver_self_s(pure, trace.subtree_jobs(pure)) == pytest.approx(0.6)
    # over the whole round the union of job intervals is 1.5 + 2.5 s
    c = trace.spark_counters([op], cores=4)
    assert c["driver.self_s"] == pytest.approx(10.0 - 4.0)
    assert c["spark.jobs"] == 2 and c["spark.tasks"] == 6
    assert c["spark.busy_share"] == pytest.approx(8.0 / (4 * 10.0))


def test_job_outside_every_span_is_dropped():
    (op,) = _tree()
    trace.attach_jobs([op], [Job(11.0, 12.0, tasks=1)])
    assert trace.spark_counters([op], cores=4)["spark.jobs"] == 0


def test_event_log_tasks_go_to_the_job_that_first_lists_the_stage(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    task = lambda stage, run_ms: {  # noqa: E731
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
            "JVM GC Time": 1, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 5,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
        },
    }
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1]},
        task(0, 200), task(1, 300),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        # job 1 re-lists stage 1 (skipped) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500, "Stage IDs": [1, 2]},
        task(2, 400),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3000},
    ]
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (app / "appstatus_local-1").write_text("")
    j0, j1 = trace.parse_event_logs(str(tmp_path))
    assert (j0.start, j0.end, j0.tasks) == (1.0, 2.0, 2)
    assert j0.task_s == pytest.approx(0.5) and j0.task_cpu_s == pytest.approx(0.5)
    assert (j1.start, j1.end, j1.tasks) == (2.5, 3.0, 1)
    assert j1.shuffle_bytes == 100 and j1.spill_bytes == 5


def test_wrap_records_spans_and_restores():
    tracer = trace.Tracer()
    mod = type("M", (), {"f": staticmethod(lambda x: x + 1)})
    original = mod.f
    tracer.wrap(mod, "f", "layer.f")
    assert mod.f(1) == 2
    tracer.restore()
    assert mod.f is original
    assert [s.name for s in tracer.spans] == ["layer.f"]
