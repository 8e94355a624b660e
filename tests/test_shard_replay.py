"""The parallel run loop's record/replay of shard results
(conftest.shard_record / conftest.replayed_reports): a test skipped
or erroring outside its call phase must come back from a shard with
its original phase and outcome, not as a lost test."""

from __future__ import annotations

import json
from types import SimpleNamespace

from _pytest.reports import TestReport

from conftest import replayed_reports, shard_record

NODE = "tests/test_x.py::test_y"
ITEM = SimpleNamespace(
    nodeid=NODE, location=("tests/test_x.py", 3, "test_y"), keywords={}
)


def _report(when, outcome, longrepr=None):
    return TestReport(
        nodeid=NODE, location=ITEM.location, keywords={}, outcome=outcome,
        longrepr=longrepr, when=when, sections=[], duration=0.25,
    )


def _round_trip(*reports):
    """Stream through JSON exactly as a shard child and parent do."""
    records = [shard_record(r) for r in reports]
    records = [json.loads(json.dumps(r)) for r in records if r is not None]
    return replayed_reports(ITEM, records)


def test_setup_skip_replays_as_setup_skip():
    reason = ("tests/test_x.py", 3, "Skipped: no native library")
    (rep,) = _round_trip(
        _report("setup", "skipped", reason), _report("teardown", "passed")
    )
    assert (rep.when, rep.outcome) == ("setup", "skipped")
    assert rep.longrepr == reason


def test_fixture_errors_replay_in_their_phase():
    reps = _round_trip(
        _report("setup", "failed", "fixture 'lake' raised"),
        _report("teardown", "passed"),
    )
    assert [(r.when, r.outcome) for r in reps] == [("setup", "failed")]
    assert "fixture 'lake' raised" in str(reps[0].longrepr)

    reps = _round_trip(
        _report("setup", "passed"),
        _report("call", "passed"),
        _report("teardown", "failed", "cleanup raised"),
    )
    assert [(r.when, r.outcome) for r in reps] == [
        ("call", "passed"), ("teardown", "failed"),
    ]


def test_call_outcomes_replay_unchanged():
    reps = _round_trip(
        _report("setup", "passed"),
        _report("call", "failed", "assert 1 == 2"),
        _report("teardown", "passed"),
    )
    assert [(r.when, r.outcome) for r in reps] == [("call", "failed")]
    assert reps[0].duration == 0.25
