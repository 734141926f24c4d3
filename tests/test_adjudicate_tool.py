"""tools_adjudicate contract: the quiet gate refuses sick hosts, and the
timing core runs every adjudicable query end-to-end on the test corpus.

The tool is the checked-in form of the ad-hoc re-timing scripts behind
BENCH/ADJUDICATION_r4.md / _r5.md; these tests pin (a) that the gate
cannot be burned through by a persistently sick witness, and (b) that
each --query choice maps to a real engine path (a renamed engine method
fails here, not mid-adjudication after a multi-hour quiet wait).
"""

import pytest

import tools_adjudicate as ta


def test_wait_quiet_gives_up_on_persistently_sick_host(monkeypatch):
    recoveries = []
    monkeypatch.setattr(ta.bench, "host_bandwidth_gbs", lambda: (0.5, 0.1))
    monkeypatch.setattr(ta.bench, "host_active_recovery",
                        lambda *a: recoveries.append(1))
    quiet, pt, waited = ta.wait_quiet(max_wait_s=0.0)
    assert not quiet and pt == 0.1 and waited == 0.0
    assert recoveries  # a sick reading must trigger an active recovery


def test_wait_quiet_recovery_rescues_idle_sick_form(monkeypatch):
    # first reading sick, quiet after the recovery attempt — no sleeping
    readings = iter([(10.0, 0.2), (10.0, 3.5)])
    monkeypatch.setattr(ta.bench, "host_bandwidth_gbs",
                        lambda: next(readings))
    monkeypatch.setattr(ta.bench, "host_active_recovery", lambda *a: None)
    quiet, pt, waited = ta.wait_quiet(max_wait_s=600.0)
    assert quiet and pt == 3.5 and waited == 0.0


def test_wait_quiet_passes_immediately_when_quiet(monkeypatch):
    monkeypatch.setattr(ta.bench, "host_bandwidth_gbs", lambda: (10.0, 3.5))
    monkeypatch.setattr(ta.bench, "host_active_recovery",
                        lambda *a: (_ for _ in ()).throw(AssertionError(
                            "recovery must not run on a quiet host")))
    quiet, pt, waited = ta.wait_quiet(max_wait_s=600.0)
    assert quiet and waited == 0.0  # never sleeps on a quiet host


@pytest.mark.parametrize("query", ta.QUERIES)
def test_adjudicate_times_each_query_end_to_end(spark, sf_dir, query):
    out = ta.adjudicate(spark, query, sf_dir, repeats=1, cpus=4)
    assert out["query"] == query
    assert len(out["walls"]) == 1 and out["best"] == out["walls"][0] > 0
    assert out["pagetouch_open"] > 0 and out["pagetouch_close"] > 0
    assert out["quiet"] == (min(out["pagetouch_open"], out["pagetouch_close"]) >= ta.QUIET_GBS)


@pytest.mark.parametrize("open_gbs,close_gbs,quiet", [
    (3.5, 3.5, True), (3.5, 0.2, False), (0.2, 3.5, False)])
def test_adjudicate_quiet_follows_bracketing_witnesses(
        spark, sf_dir, monkeypatch, open_gbs, close_gbs, quiet):
    # a strike that starts mid-block shows only in the close witness; the
    # result must not claim a quiet timing then
    readings = iter([(10.0, open_gbs), (10.0, close_gbs)])
    monkeypatch.setattr(ta.bench, "host_bandwidth_gbs", lambda: next(readings))
    out = ta.adjudicate(spark, "range_count", sf_dir, repeats=1, cpus=4)
    assert (out["pagetouch_open"], out["pagetouch_close"]) == (open_gbs, close_gbs)
    assert out["quiet"] is quiet
