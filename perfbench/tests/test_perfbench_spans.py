"""Span self-time arithmetic and the event-log parser."""

import os

import pytest

from spans import Span, Tracer, parse_event_log, self_times


def test_self_time_subtracts_the_union_of_clipped_children():
    spans = [
        Span(0, "t", None, "root", 0.0, 10.0),
        Span(1, "t", 0, "a", 1.0, 3.0),
        Span(2, "t", 0, "b", 2.0, 5.0),  # overlaps a: union [1, 5]
        Span(3, "t", 0, "c", 7.0, 8.0),
        Span(4, "t", 0, "d", 9.0, 12.0),  # clipped to [9, 10]
        Span(5, "t", 2, "b.child", 2.5, 4.0),  # only affects b
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 1.0 + 1.0))
    assert st[2] == pytest.approx(3.0 - 1.5)
    assert st[1] == pytest.approx(2.0)


def test_tracer_links_parents_and_shares_trace_ids():
    tr = Tracer(True)
    with tr.trace("exec-0", "execution"):
        with tr.span("siddhiql.parse"):
            pass
        with tr.span("siddhiql.build"):
            pass
    root, parse, build = tr.spans
    assert root.parent is None and parse.parent == root.span_id == build.parent
    assert {s.trace_id for s in tr.spans} == {"exec-0"}
    off = Tracer(False)
    with off.trace("x", "execution"):
        with off.span("y"):
            pass
    assert off.spans == []


LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def _parse(groups):
    with open(LOG) as f:
        return parse_event_log(f, groups)


def test_event_log_totals_per_job_group():
    # trimmed from a recorded Spark 4.1 log of a MinHash/LSH run (group
    # g1, one Arrow stage of 4 tasks) and a shuffle job (group g2);
    # job 1 carries another group and must be left out
    g1 = _parse({"g1"})
    assert g1["jobs"] == 1 and g1["stages"] == 1 and g1["tasks"] == 4
    assert g1["task.run_ms"] == 2421 + 2439 + 2422 + 2443
    assert g1["task.cpu_ms"] == pytest.approx(
        (141337310 + 94662794 + 115303136 + 130396287) / 1e6
    )
    assert g1["python.bytes_sent"] == 4 * 6528
    assert g1["python.bytes_received"] == 4 * 32008
    assert g1["task.skew"] == pytest.approx(2443 / ((2422 + 2439) / 2))

    g2 = _parse({"g2"})
    assert g2["jobs"] == 2 and g2["stages"] == 2 and g2["tasks"] == 5
    assert g2["shuffle.write_bytes"] == 122 + 182 + 119 + 182
    assert g2["shuffle.read_bytes"] == 605
    assert "python.bytes_sent" not in g2
    # the slowest stage is 14 (56 ms against 23 ms)
    assert g2["task.skew"] == pytest.approx(43 / ((39 + 40) / 2))

    both = _parse({"g1", "g2"})
    assert both["tasks"] == 9 and both["jobs"] == 3
