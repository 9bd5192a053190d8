import json
import os

import pytest

from sparkstats import MB, app_log_files, phase_metrics, progress_durations, read_events

LOG = os.path.join(os.path.dirname(__file__), "data", "events_1_local-0001")


@pytest.fixture(scope="module")
def events():
    return read_events([LOG])


def test_parse_phase_from_recorded_log(events):
    m = phase_metrics(events, {"parse"})
    assert (m["jobs"], m["stages"], m["tasks"]) == (2, 2, 2)
    assert m["py_sent_mb"] == pytest.approx(74000 / MB)
    assert m["py_returned_mb"] == pytest.approx(117520 / MB)
    assert m["py_run_s"] == pytest.approx(1.847)
    assert m["py_start_s"] == pytest.approx(1.187)
    assert m["shuffle_write_mb"] == 0.0


def test_funnel_phase_counts_only_stages_that_ran(events):
    m = phase_metrics(events, {"funnel"})
    # job 4 lists stages 4 and 5; stage 4 was skipped (shuffle reuse)
    assert (m["jobs"], m["stages"], m["tasks"]) == (3, 3, 5)
    assert m["shuffle_write_mb"] == pytest.approx((29298 + 6553 + 5991) / MB)
    assert m["py_sent_mb"] == pytest.approx((162736 + 28896 + 32464) / MB)
    # widest stage (3 tasks: 1044, 253, 1588 ms) sets the skew
    assert m["task_skew"] == pytest.approx(1588 / 1044)
    assert m["executor_cpu_s"] > 0 and m["gc_s"] >= 0


def test_all_phases_and_unknown_phase(events):
    assert phase_metrics(events)["jobs"] == 5
    none = phase_metrics(events, {"nope"})
    assert none["jobs"] == 0 and none["tasks"] == 0 and none["task_skew"] == 1.0


def test_rolling_log_parts_are_read_in_order_and_torn_tail_dropped(tmp_path):
    d = tmp_path / "eventlog_v2_local-42"
    d.mkdir()
    (d / "appstatus_local-42").write_text("")
    (d / "events_10_local-42").write_text(json.dumps({"Event": "B"}) + "\n{\"Ev")
    (d / "events_2_local-42").write_text(json.dumps({"Event": "A"}) + "\n")
    files = app_log_files(str(tmp_path), "local-42")
    assert [os.path.basename(f) for f in files] == [
        "events_2_local-42",
        "events_10_local-42",
    ]
    assert [e["Event"] for e in read_events(files)] == ["A", "B"]


def test_progress_durations_skip_empty_triggers():
    prog = [
        {"numInputRows": 0, "durationMs": {"triggerExecution": 5}},
        {
            "numInputRows": 10,
            "durationMs": {
                "triggerExecution": 100,
                "addBatch": 80,
                "queryPlanning": 3,
                "walCommit": 7,
            },
        },
    ]
    d = progress_durations(prog)
    assert d == {
        "trigger": [100.0],
        "add_batch": [80.0],
        "overhead": [20.0],
        "planning": [3.0],
        "wal": [7.0],
    }
