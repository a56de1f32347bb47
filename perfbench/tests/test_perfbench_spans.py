"""The event-log parser against a small recorded log, and span
bookkeeping (self time, roll-up of descendants' jobs)."""

import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pytest  # noqa: E402

import spans  # noqa: E402

# Recorded with Spark 4.1 on local[2]: job group g_udf ran a pandas UDF
# (+1 over 1000 ids) and a sum; g_shuffle a groupBy count; one job ran
# outside any group. Only the events and fields the parser reads are kept.
LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small.jsonl")


def test_event_log_groups():
    got = spans.parse_event_log(LOG)
    assert set(got) == {"g_udf", "g_shuffle", ""}
    udf, shuf, none = got["g_udf"], got["g_shuffle"], got[""]
    assert (udf["jobs"], udf["stages"], udf["tasks"]) == (1, 2, 3)
    assert (shuf["jobs"], shuf["stages"], shuf["tasks"]) == (1, 2, 4)
    assert (none["jobs"], none["stages"], none["tasks"]) == (1, 2, 3)
    # the Python boundary shows only where the UDF ran
    assert udf["python_bytes_sent"] == 8416 and udf["python_bytes_received"] == 8288
    assert udf["python_worker_s"] == pytest.approx(6.179)
    assert shuf["python_worker_s"] == shuf["python_bytes_sent"] == 0
    assert shuf["shuffle_write_bytes"] == shuf["shuffle_read_bytes"] == 364
    assert udf["executor_run_s"] == pytest.approx(8.017)
    assert all(g["spill_bytes"] == 0 for g in got.values())


def test_find_event_log_single_file(tmp_path):
    (tmp_path / "local-1").write_text("")
    (tmp_path / ".local-1.crc").write_text("")
    assert spans.find_event_log(str(tmp_path)) == str(tmp_path / "local-1")


def _tracer_with(spec):
    """spec: (id, parent, start, end)"""
    t = spans.Tracer()
    for sid, parent, s, e in spec:
        t.spans.append(spans.Span(id=sid, name=sid, parent=parent, request=None, start=s, end=e))
    return t


def test_self_time_subtracts_union_of_children():
    t = _tracer_with([
        ("p", None, 0.0, 10.0),
        ("a", "p", 1.0, 4.0),
        ("b", "p", 3.0, 5.0),  # overlaps a: union is 1..5
        ("c", "p", 8.0, 12.0),  # clipped to the parent's end
        ("g", "a", 1.5, 2.0),  # grandchild: not a direct child of p
    ])
    sp = {s.id: s for s in t.spans}
    assert t.self_time(sp["p"]) == pytest.approx(10.0 - 4.0 - 2.0)
    assert t.self_time(sp["a"]) == pytest.approx(3.0 - 0.5)
    assert t.self_time(sp["g"]) == pytest.approx(0.5)


def test_rollup_adds_descendants():
    t = _tracer_with([("p", None, 0, 3), ("a", "p", 0, 1), ("g", "a", 0, 1)])
    by_group = {"p": {k: 0 for k in spans.COUNTERS}, "g": {k: 0 for k in spans.COUNTERS}}
    by_group["p"]["jobs"], by_group["g"]["jobs"] = 1, 2
    tot = spans.rollup(t, by_group)
    assert (tot["p"]["jobs"], tot["a"]["jobs"], tot["g"]["jobs"]) == (3, 2, 2)


def test_disabled_tracer_records_nothing():
    t = spans.Tracer(enabled=False)
    with t.span("x") as sp:
        assert sp is None
    assert t.spans == []
