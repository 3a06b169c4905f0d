"""Self-tests of the layer ledger: span attribution and the event-log
reader. Run from the repository root:

    python3 -m pytest perfbench/test_ledger.py -q
"""

from __future__ import annotations

import json

import pytest

from perfbench import ledger


@pytest.fixture(scope="module")
def traced_session(tmp_path_factory):
    from pyspark.sql import SparkSession

    events = tmp_path_factory.mktemp("events")
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench_ledger_test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{events}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    book = ledger.Ledger(sc)
    # one single-stage job per step, told apart by its task count
    with book.span("inside"):
        sc.parallelize(range(100), 3).count()
    # submitted after the span closed: must not be charged to it
    sc.parallelize(range(100), 7).count()
    with book.span("second"):
        sc.parallelize(range(100), 5).count()
    spark.stop()
    return book, ledger.event_log_file(str(events))


def test_job_after_span_is_not_charged_to_it(traced_session):
    book, log = traced_session
    groups = ledger.read_event_log(log)
    assert set(book.wall_s) == {"inside", "second"}

    def task_counts(group):
        return sorted(len(t) for t in groups[group].stage_tasks.values())

    assert (groups["inside"].jobs, task_counts("inside")) == (1, [3])
    assert (groups["second"].jobs, task_counts("second")) == (1, [5])
    # the job between the spans ran with no group at all
    assert (groups[None].jobs, task_counts(None)) == (1, [7])


def test_group_task_time_sums_to_log_total(traced_session):
    _, log = traced_session
    total_ms = 0
    with open(log) as f:
        for line in f:
            ev = json.loads(line)
            if ev.get("Event") == "SparkListenerTaskEnd":
                total_ms += (ev.get("Task Metrics") or {}).get("Executor Run Time", 0)
    groups = ledger.read_event_log(log)
    assert sum(g.task_s for g in groups.values()) == pytest.approx(total_ms / 1000, abs=1e-9)
    assert total_ms > 0


def test_span_restores_previous_group():
    class FakeContext:
        def __init__(self):
            self.props = {"spark.jobGroup.id": "outer"}

        def getLocalProperty(self, k):
            return self.props.get(k)

        def setLocalProperty(self, k, v):
            if v is None:
                self.props.pop(k, None)
            else:
                self.props[k] = v

        def setJobGroup(self, group, desc, interruptOnCancel=False):
            self.props.update(
                {
                    "spark.jobGroup.id": group,
                    "spark.job.description": desc,
                    "spark.job.interruptOnCancel": str(interruptOnCancel).lower(),
                }
            )

    sc = FakeContext()
    book = ledger.Ledger(sc)
    with book.span("layer"):
        assert sc.props["spark.jobGroup.id"] == "layer"
    assert sc.props == {"spark.jobGroup.id": "outer"}
    with pytest.raises(RuntimeError):
        with book.span("failing"):
            raise RuntimeError("boom")
    assert sc.props == {"spark.jobGroup.id": "outer"}
    assert book.cpu_s["failing"] >= 0
