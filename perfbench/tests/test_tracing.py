"""The traced run's arithmetic: event-log sums per job group, spans and
prefix self times. Pure Python; no Spark session needed.

``data/eventlog_tiny.jsonl`` is a Spark 4 event log captured from a small
local run and cut down to its job starts and task ends: job 1 has no group,
jobs 3 and 7 are in group ``wl``, job 8 is in group ``other``.
"""

import json
import os
import shutil

import pytest

import eventlog
from spans import Tracer, prefix_self_times

DATA = os.path.join(os.path.dirname(__file__), "data", "eventlog_tiny.jsonl")


def lines():
    with open(DATA) as f:
        return f.readlines()


def test_summarize_per_group():
    wl = eventlog.summarize(lines(), "wl")
    assert wl["jobs"] == 2
    assert wl["executor_run_s"] == pytest.approx(0.040 + 0.036)
    assert wl["executor_cpu_s"] == pytest.approx((33102919 + 17226868) / 1e9)
    assert wl["gc_s"] == pytest.approx(0.004)
    assert wl["shuffle_write_bytes"] == 0
    assert wl["input_records"] == 0

    other = eventlog.summarize(lines(), "other")
    assert other["jobs"] == 1
    assert other["executor_run_s"] == pytest.approx(0.036)
    assert other["shuffle_write_bytes"] == 118
    assert other["input_records"] == 5
    assert other["spill_bytes"] == 0

    assert eventlog.summarize(lines(), "absent") == dict.fromkeys(eventlog.METRIC_UNITS, 0.0)


def test_read_events_rolling_layout(tmp_path):
    """Spark 4 writes a rolling directory by default; checksum and status
    files are skipped."""
    roll = tmp_path / "eventlog_v2_local-1"
    roll.mkdir()
    shutil.copy(DATA, roll / "events_1_local-1")
    (roll / "appstatus_local-1").write_text("")
    (roll / ".events_1_local-1.crc").write_bytes(b"\x00")
    assert eventlog.read_events(str(tmp_path)) == lines()


def test_prefix_self_times():
    cumulative = [("scan", 1.0), ("render", 1.5), ("parse", 4.0), ("aggregate", 3.75)]
    assert prefix_self_times(cumulative) == {
        "scan": 1.0,
        "render": 0.5,
        "parse": 2.5,
        # a prefix that materialises less than its input reads negative
        "aggregate": -0.25,
    }


def test_prefix_self_times_over_event_log_groups():
    """Cumulative prefixes measured as per-group executor run time: the
    second prefix (groups wl and other) minus the first (wl) is other's."""
    wl = eventlog.summarize(lines(), "wl")["executor_run_s"]
    other = eventlog.summarize(lines(), "other")["executor_run_s"]
    out = prefix_self_times([("wl", wl), ("other", wl + other)])
    assert out["wl"] == pytest.approx(0.076)
    assert out["other"] == pytest.approx(0.036)


def test_tracer_nests_and_dumps(tmp_path):
    tracer = Tracer("t1")
    with tracer.span("outer"):
        with tracer.span("inner"):
            pass
    with tracer.span("next"):
        pass
    assert [(s.name, s.parent) for s in tracer.spans] == [
        ("outer", None), ("inner", 0), ("next", None),
    ]
    assert all(s.end >= s.start for s in tracer.spans)
    path = tmp_path / "spans.jsonl"
    tracer.dump(str(path))
    rows = [json.loads(l) for l in path.read_text().splitlines()]
    assert [r["name"] for r in rows] == ["outer", "inner", "next"]
    assert {r["trace"] for r in rows} == {"t1"}
