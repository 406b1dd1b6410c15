"""Attribution of Spark event-log work to spans, against a hand-made event log.

    python3 -m pytest perfbench/test_tracing.py -q
"""

import os

import pytest

from tracing import (
    Span,
    Tracer,
    attribute,
    event_log_files,
    layer_totals,
    read_event_log,
    self_time,
    spark_op_metrics,
    union_length,
)

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "eventlog")
MB = 1024.0 * 1024.0


def _spans():
    # two ops; jobs in the fixture fall inside these windows (epoch seconds)
    return [
        Span("op", 1000.0, 1010.0, None, 0),
        Span("compiler.execute", 1000.0, 1002.0, 0, 0),
        Span("spark.action", 1002.0, 1009.0, 0, 0),
        Span("op", 1020.0, 1025.0, None, 1),
        Span("spark.action", 1020.5, 1024.5, 3, 1),
    ]


def test_rolling_files_are_read_in_order():
    names = [os.path.basename(p) for p in event_log_files(FIXTURE)]
    assert names == ["events_1_local-1700000000000", "events_2_local-1700000000000"]


def test_event_log_parse():
    log = read_event_log(FIXTURE)
    assert [j.id for j in log.jobs] == [0, 1, 2, 3, 4]
    # job 1 starts in the first file and ends in the second
    assert log.jobs[1].submit == 1003.0 and log.jobs[1].end == 1005.0
    # stage 1 never ran (no submission time), so only 0, 2 and 5 count
    assert [s.id for s in log.stages] == [0, 2, 5]
    assert len(log.tasks) == 4


def test_attribution_by_time_window():
    spans = _spans()
    att = attribute(spans, read_event_log(FIXTURE))
    assert [j.id for j in att.jobs[1]] == [0]
    assert [j.id for j in att.jobs[2]] == [1, 2]
    # job 4 carries its own job group; the time window still puts it in op 1
    assert [j.id for j in att.jobs[4]] == [4]
    # job 3 ran between the ops and belongs to no span
    assert sum(len(v) for v in att.jobs.values()) == 4

    op0 = spark_op_metrics(spans, att, 0)
    assert op0["spark.jobs"] == 3
    assert op0["spark.stages"] == 2
    assert op0["spark.tasks"] == 2
    assert op0["spark.executor_run_s"] == pytest.approx(1.1)
    assert op0["spark.executor_cpu_s"] == pytest.approx(0.85)
    assert op0["spark.jvm_gc_s"] == pytest.approx(0.025)
    # jobs 1 and 2 overlap: the union is 1001-1001.5 plus 1003-1006
    assert op0["spark.job_span_s"] == pytest.approx(3.5)
    assert op0["spark.driver_idle_s"] == pytest.approx(6.5)
    assert op0["spark.shuffle_read_mb"] == pytest.approx(2.0)
    assert op0["spark.shuffle_write_mb"] == pytest.approx(3.0)
    assert op0["spark.spill_mb"] == pytest.approx(2.0)
    assert op0["spark.result_mb"] == pytest.approx(1.0 + 2048 / MB)

    op1 = spark_op_metrics(spans, att, 3)
    assert (op1["spark.jobs"], op1["spark.stages"], op1["spark.tasks"]) == (1, 1, 1)
    assert op1["spark.driver_idle_s"] == pytest.approx(4.0)

    assert layer_totals(spans, att, 0) == {
        "compiler.execute": (pytest.approx(2.0), 1),
        "spark.action": (pytest.approx(7.0), 2),
    }


def test_self_time_subtracts_children():
    spans = _spans()
    assert self_time(spans, 0) == pytest.approx(1.0)
    assert self_time(spans, 2) == pytest.approx(7.0)


def test_union_length_clips_and_merges():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (8, 12)], 1, 10) == 3
    assert union_length([], 0, 1) == 0


def test_tracer_nests_and_inherits_op():
    tr = Tracer(True)
    with tr.span("op", op=7):
        with tr.span("compiler.execute"):
            pass
    assert [(s.name, s.parent, s.op) for s in tr.spans] == [("op", None, 7), ("compiler.execute", 0, 7)]
    assert all(s.end >= s.start for s in tr.spans)

    off = Tracer(False)
    with off.span("op", op=0):
        pass
    assert off.spans == []
