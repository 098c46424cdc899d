"""Tail rule, self time from nested spans, the event-log parser and
the ranking checks."""

import os

import pytest

import measure
from harness import Failure, check_ranking

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


def test_tail_needs_ten_samples_beyond():
    # under 20 samples no ladder step has 10 beyond it: the maximum
    assert measure.tail(list(range(1, 20))) == (100.0, 19)
    assert measure.tail(list(range(19, 0, -1))) == (100.0, 19)
    # 20 samples: p50 (rank 10) has exactly 10 beyond it
    assert measure.tail(list(range(1, 21))) == (50.0, 10.5)
    # 40 samples: p75 (rank 30) has 10 beyond it
    assert measure.tail(list(range(1, 41))) == (75.0, pytest.approx(30.25))
    # 100 samples: p90 (rank 90) has 10 beyond; p95 only 5
    assert measure.tail(list(range(1, 101))) == (90.0, pytest.approx(90.1))
    # 1000 samples: p99 (rank 990) has 10 beyond
    assert measure.tail(list(range(1, 1001))) == (99.0, pytest.approx(990.01))


def test_median_interpolates_and_never_exceeds_tail():
    assert measure.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    for n in range(1, 60):
        xs = [float((7 * i) % 13) for i in range(n)]
        assert measure.median(xs) <= measure.tail(xs)[1]


def test_tail_ignores_input_order():
    xs = [5.0, 1.0, 9.0, 3.0] * 10
    assert measure.tail(xs) == measure.tail(sorted(xs))


def _span(name, start, end, parent=None):
    return measure.Span(name, start, end, parent, None)


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span("request", 0.0, 10.0),
        _span("construct", 0.0, 4.0, 0),
        _span("bm25", 1.0, 2.0, 1),
        _span("bm25", 1.5, 3.0, 1),  # overlaps its sibling: union counts once
        _span("collect", 5.0, 9.0, 0),
    ]
    own = measure.self_times(spans)
    assert own["request"] == pytest.approx(10.0 - 4.0 - 4.0)
    assert own["construct"] == pytest.approx(4.0 - 2.0)
    assert own["bm25"] == pytest.approx(1.0 + 1.5)
    assert own["collect"] == pytest.approx(4.0)


def test_tracer_records_parents_and_requests():
    t = measure.Tracer(True)
    t.request = "r1"
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [(s.name, s.parent, s.request) for s in t.spans] == [
        ("outer", None, "r1"),
        ("inner", 0, "r1"),
    ]
    off = measure.Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_event_log_parser_groups_by_job_group():
    ev = measure.parse_event_log(FIXTURE)
    assert ev["f0:construct"]["jobs"] == 1
    assert ev["f0:construct"]["task_cpu_s"] == pytest.approx(0.25)
    c = ev["f0:collect"]
    assert c["jobs"] == 1
    assert c["tasks"] == 2  # the task without metrics is skipped
    assert c["task_cpu_s"] == pytest.approx(1.5)
    assert c["shuffle_read_bytes"] == 103
    assert c["shuffle_write_bytes"] == 50
    assert c["spill_bytes"] == 12
    assert c["gc_s"] == pytest.approx(0.02)
    assert ev[""]["jobs"] == 1 and ev[""]["tasks"] == 1


def test_ranking_checks():
    check_ranking([(3, 0.9), (1, 0.5), (2, 0.5)], top_k=3)
    with pytest.raises(Failure):
        check_ranking([(1, 0.5), (2, 0.5), (3, 0.9)], top_k=3)  # score order
    with pytest.raises(Failure):
        check_ranking([(2, 0.5), (1, 0.5)], top_k=3)  # id order on ties
    with pytest.raises(Failure):
        check_ranking([(1, 0.5), (1, 0.4)], top_k=3)  # duplicate id
    with pytest.raises(Failure):
        check_ranking([(1, 0.5), (2, 0.4)], top_k=1)  # too many rows
    with pytest.raises(Failure):
        check_ranking([(1, 0.5)], top_k=3, search_after=(0.4, 9))  # before cursor


def test_exec_metrics_cover_only_the_measured_requests():
    import run

    ev = measure.parse_event_log(FIXTURE)
    # an untimed pass's group of the same phase is left out
    ev["repeat0:collect"] = dict(ev["f0:collect"], jobs=50)
    got = run.exec_metrics(ev, "collect", ["f0", "f1"])
    assert got["exec.jobs"] == pytest.approx(0.5)  # one job over two requests
    assert got["exec.tasks"] == pytest.approx(1.0)
    assert run.exec_metrics(ev, "collect", [])["exec.jobs"] == 0
