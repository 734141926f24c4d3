"""Bench harness contract (no Spark): the one quiet gate, and the
local[1] -> local[4] scaling script's arithmetic with its level runs
stubbed.

The gate must not be burned through by a persistently sick page-touch
witness, must try an active recovery before concluding the host is sick,
and must never sleep or recover on a quiet host.  The scaling script must
compute efficiency and the pass flag from the measured walls, and refuse
when a job's answer differs between levels.
"""

import contextlib
import io
import json

import pytest

import bench
import bench_scaling


def test_wait_quiet_gives_up_on_persistently_sick_host(monkeypatch):
    recoveries = []
    monkeypatch.setattr(bench, "host_bandwidth_gbs", lambda: (0.5, 0.1))
    monkeypatch.setattr(bench, "host_active_recovery",
                        lambda *a: recoveries.append(1))
    quiet, pt, waited = bench.wait_quiet(max_wait_s=0.0)
    assert not quiet and pt == 0.1 and waited == 0.0
    assert recoveries  # a sick reading must trigger an active recovery


def test_wait_quiet_recovery_rescues_idle_sick_form(monkeypatch):
    # first reading sick, quiet after the recovery attempt — no sleeping
    readings = iter([(10.0, 0.2), (10.0, 3.5)])
    monkeypatch.setattr(bench, "host_bandwidth_gbs",
                        lambda: next(readings))
    monkeypatch.setattr(bench, "host_active_recovery", lambda *a: None)
    quiet, pt, waited = bench.wait_quiet(max_wait_s=600.0)
    assert quiet and pt == 3.5 and waited == 0.0


def test_wait_quiet_passes_immediately_when_quiet(monkeypatch):
    monkeypatch.setattr(bench, "host_bandwidth_gbs", lambda: (10.0, 3.5))
    monkeypatch.setattr(bench, "host_active_recovery",
                        lambda *a: (_ for _ in ()).throw(AssertionError(
                            "recovery must not run on a quiet host")))
    quiet, pt, waited = bench.wait_quiet(max_wait_s=600.0)
    assert quiet and waited == 0.0  # never sleeps on a quiet host


def _scale(monkeypatch, walls_by_run, answers_by_run):
    """Run bench_scaling.main with each level run replaced by the next
    stubbed (walls, answers) pair; return its parsed JSON line."""
    runs = iter(zip(walls_by_run, answers_by_run))

    def fake_run_level(cores, input_dir, max_wait_s):
        walls, answers = next(runs)
        return {"cores": cores, "rows": 1000, "walls": walls, "answers": answers,
                "witness": {"quiet": True, "pagetouch_open": 3.0,
                            "pagetouch_close": 3.0, "waited_s": 0.0}}

    monkeypatch.setattr(bench_scaling, "prepare_input", lambda sf_dir: "/unused")
    monkeypatch.setattr(bench_scaling, "run_level", fake_run_level)
    monkeypatch.setattr(bench_scaling, "kernel_lookup_bench", lambda input_dir: [])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bench_scaling.main()
    return json.loads(buf.getvalue())


def test_scaling_efficiency_and_pass_follow_the_walls(monkeypatch):
    assert bench_scaling.ORDER == (1, 4, 4, 1)
    answers = {"pip": 7, "knn_join": 3}
    # per level the better run counts: local[1] 40/20, local[4] 10/8;
    # run totals 60, 18.5, 18.5, 65 put every pairing above 0.8
    walls = [{"pip": 40.0, "knn_join": 20.0}, {"pip": 10.5, "knn_join": 8.0},
             {"pip": 10.0, "knn_join": 8.5}, {"pip": 44.0, "knn_join": 21.0}]
    out = _scale(monkeypatch, walls, [answers] * 4)
    assert out["walls"]["1"] == {"pip": 40.0, "knn_join": 20.0, "total": 60.0}
    assert out["walls"]["4"] == {"pip": 10.0, "knn_join": 8.0, "total": 18.0}
    assert out["efficiency"] == {"pip": 1.0, "knn_join": 0.625,
                                 "total": round(60.0 / 18.0 / 4, 3)}
    assert out["pairings"] == [
        {"runs": [i, j], "efficiency": round(t1 / 18.5 / 4, 3)}
        for i, t1 in ((0, 60.0), (3, 65.0)) for j in (1, 2)]
    assert out["pass"] is True and out["answers"] == answers
    assert [r["cores"] for r in out["runs"]] == [1, 4, 4, 1]

    # pairings straddling 0.8 (0.75-0.86 for run totals 60, 20, 19, 65):
    # the verdict is unresolved even though the best-of walls give 0.833
    straddle = [{"pip": 40.0, "knn_join": 20.0}, {"pip": 12.0, "knn_join": 8.0},
                {"pip": 10.0, "knn_join": 9.0}, {"pip": 44.0, "knn_join": 21.0}]
    out = _scale(monkeypatch, straddle, [answers] * 4)
    assert out["efficiency"]["total"] == round(60.0 / 18.0 / 4, 3) > 0.8
    effs = sorted(p["efficiency"] for p in out["pairings"])
    assert effs[0] < 0.8 <= effs[-1]
    assert out["pass"] is None

    # slower local[4] walls: the same script must report a failure
    slow = [dict(w) for w in walls]
    slow[1] = {"pip": 20.0, "knn_join": 9.0}
    slow[2] = {"pip": 21.0, "knn_join": 10.0}
    out = _scale(monkeypatch, slow, [answers] * 4)
    assert out["efficiency"]["total"] == round(60.0 / 29.0 / 4, 3) < 0.8
    assert out["pass"] is False


def test_scaling_refuses_answers_that_differ_between_levels(monkeypatch):
    walls = [{"pip": 4.0}, {"pip": 1.0}, {"pip": 1.0}, {"pip": 4.0}]
    answers = [{"pip": 7}, {"pip": 7}, {"pip": 8}, {"pip": 7}]
    with pytest.raises(RuntimeError, match="pip"):
        _scale(monkeypatch, walls, answers)
