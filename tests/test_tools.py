"""Unit tests for the preflight tooling itself: the plan-fingerprint
gate's ERROR handling (ADVICE r7-medium — a query that cannot construct
must never pass, and --write must refuse to bake the failure into the
snapshot), its --write upkeep of tools/plan_changed.json, and
bench_compare's host-rate normalization (uniform boot-to-boot inflation
is not a regression; idiosyncratic and broad regressions still are)."""

from __future__ import annotations

import importlib.util
import json
import pathlib
import sys

import pytest

_REPO = pathlib.Path(__file__).resolve().parent.parent


def _load(modname: str):
    spec = importlib.util.spec_from_file_location(
        modname, _REPO / "tools" / f"{modname}.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture()
def pf(monkeypatch, tmp_path):
    """plan_fingerprints with session + fingerprint pass stubbed out, the
    snapshot redirected to a temp file and the repo root (CORRECTNESS
    files, tools/plan_changed.json) to a temp dir."""
    mod = _load("plan_fingerprints")
    monkeypatch.setattr(mod, "_open_session", lambda: None)
    monkeypatch.setattr(mod, "SNAPSHOT", tmp_path / "snap.json")
    monkeypatch.setattr(mod, "_REPO", tmp_path)
    (tmp_path / "tools").mkdir()
    return mod


def _run(pf_mod, monkeypatch, argv, prints):
    monkeypatch.setattr(pf_mod, "_fingerprint_pass", lambda *_a, **_k: prints)
    monkeypatch.setattr(sys, "argv", ["plan_fingerprints.py", *argv])
    return pf_mod.main()


def test_fingerprint_write_refuses_error_entries(pf, monkeypatch, capsys):
    rc = _run(pf, monkeypatch, ["--write"], {"good": "abc123", "bad": "ERROR:ValueError"})
    assert rc == 1
    assert not pf.SNAPSHOT.exists(), "snapshot must not be written on ERROR"
    assert "REFUSING" in capsys.readouterr().out


def test_fingerprint_check_fails_on_error_even_when_snapshot_matches(
    pf, monkeypatch, capsys
):
    # legacy snapshot that already contains the ERROR pseudo-fingerprint
    pf.SNAPSHOT.write_text(json.dumps({"q": "ERROR:AnalysisException"}))
    rc = _run(pf, monkeypatch, [], {"q": "ERROR:AnalysisException"})
    assert rc == 1
    assert "BROKEN" in capsys.readouterr().out


def test_fingerprint_check_green_path_and_mismatch(pf, monkeypatch, capsys):
    pf.SNAPSHOT.write_text(json.dumps({"q": "aaa", "r": "bbb"}))
    assert _run(pf, monkeypatch, [], {"q": "aaa", "r": "bbb"}) == 0
    assert _run(pf, monkeypatch, [], {"q": "aaa", "r": "ccc"}) == 1
    assert "CHANGED r" in capsys.readouterr().out


def test_plan_changed_update_stamps_moved_and_drops_expired(pf):
    old = {"kept": "a", "expired": "b", "same": "c", "moved": "d", "gone": "g"}
    new = {"kept": "a", "expired": "b", "same": "c", "moved": "D", "added": "e"}
    changed = {"kept": 15, "expired": 14, "gone": 15}
    last = {"kept": 15, "expired": 15, "same": 15, "moved": 15, "gone": 15}
    assert pf.update_plan_changed(changed, old, new, last, 15) == {
        "added": 15, "kept": 15, "moved": 15,
    }


def test_fingerprint_write_maintains_plan_changed(pf, monkeypatch):
    ok = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    (pf._REPO / "CORRECTNESS_r15.json").write_text(json.dumps({"p": ok, "q": ok}))
    (pf._REPO / "CORRECTNESS_r16.json").write_text(json.dumps({"p": ok}))
    plan_changed = pf._REPO / "tools" / "plan_changed.json"
    plan_changed.write_text(json.dumps({"p": 15, "q": 15}))
    pf.SNAPSHOT.write_text(json.dumps({"p": "aaa", "q": "bbb", "r": "ccc"}))
    # p expired (checked in r16 after its r15 stamp), q still pending,
    # r's plan moved: stamped with the newest round on disk
    assert _run(pf, monkeypatch, ["--write"], {"p": "aaa", "q": "bbb", "r": "CCC"}) == 0
    assert json.loads(plan_changed.read_text()) == {"q": 15, "r": 16}


def test_fingerprint_normalize_strips_session_counters(pf):
    """The three known nondeterminism sources must normalize away:
    expression ids, gid# distinct-group ordering (covered elsewhere),
    and — diagnosed round 8 — HOF lambda variables, whose `x_<n>`
    counter is session-global, so an unrelated HOF added earlier in
    build order renumbers every later plan's lambdas."""
    a = pf._normalize(
        "size(filter(split(text#12,  , -1), lambdafunction("
        "NOT (lambda x_190#190 = ), lambda x_190#190, false)), false)"
    )
    b = pf._normalize(
        "size(filter(split(text#99,  , -1), lambdafunction("
        "NOT (lambda x_216#216 = ), lambda x_216#216, false)), false)"
    )
    assert a == b
    # but a REAL column swap must still fingerprint differently
    assert pf._normalize("sum(qty#1)") != pf._normalize("sum(price#1)")


def test_fingerprint_missing_sfdir_is_environment_exit_2(pf, monkeypatch):
    monkeypatch.setattr(
        sys, "argv", ["plan_fingerprints.py", "--sf-dir", "/nonexistent/sf"]
    )
    assert pf.main() == 2


def _preflight_run(tmp_path, monkeypatch, compare_outcomes, bench_outcomes=None):
    """Drive preflight.main() with _run stubbed: sweep/pytest/plans
    pass, each SUCCESSFUL bench invocation writes a fresh
    BENCH_local_latest, and bench/bench_compare outcomes come from the
    given scripts. Returns (exit_code, labels, repo_dir, snapshots) —
    snapshots records BENCH_local_latest's content right after each
    stage, so tests can assert there is no laundering WINDOW (not just
    a clean end state)."""
    mod = _load("preflight")
    monkeypatch.setattr(mod, "_REPO", tmp_path)
    latest = tmp_path / "BENCH_local_latest.json"
    latest.write_text('{"run": "BASELINE"}')
    labels, snapshots, bench_n = [], [], [0]
    bench_outcomes = list(bench_outcomes or [])

    def fake_run(label, cmd, **_kw):
        labels.append(label)
        # snapshot at stage ENTRY: what the file held when the stage
        # launched — the laundering-window property lives here
        snapshots.append((label, latest.read_text()))
        rc = 0
        if label.startswith("bench") and "compare" not in label:
            rc = bench_outcomes.pop(0) if bench_outcomes else 0
            if rc == 0:
                bench_n[0] += 1
                latest.write_text('{"run": "RUN%d"}' % bench_n[0])
        elif "compare" in label:
            rc = compare_outcomes.pop(0)
        return rc

    monkeypatch.setattr(mod, "_run", fake_run)
    monkeypatch.setattr(sys, "argv", ["preflight.py"])
    return mod.main(), labels, tmp_path, snapshots


def test_preflight_bench_retry_clears_contention_burst(tmp_path, monkeypatch):
    """A bench_compare failure that does NOT reproduce on the retry
    (the round-8 false failure: untouched queries slow under a
    co-tenant burst, every plan fingerprint unchanged) must pass the
    gate, with the retry compared against the ORIGINAL baseline and no
    stale failed-run artifact left behind."""
    rc, labels, repo, _snaps = _preflight_run(tmp_path, monkeypatch, [1, 0])
    assert rc == 0
    assert labels == ["sweep", "pytest", "plans", "bench",
                      "bench_compare", "bench(retry)", "bench_compare(retry)"]
    # the passing retry's record stays as the new latest
    assert "RUN2" in (repo / "BENCH_local_latest.json").read_text()
    assert not (repo / "BENCH_local_failed.json").exists()


def test_preflight_bench_regression_reproduced_fails_and_restores(
    tmp_path, monkeypatch
):
    """A regression that reproduces on the retry fails the gate, the
    pre-run baseline is restored (no laundering on rerun), the
    regressed run is preserved for diagnosis — and at NO point during
    the retry does BENCH_local_latest hold the regressed run (an
    interrupt mid-retry must not leave it in place)."""
    rc, labels, repo, snaps = _preflight_run(tmp_path, monkeypatch, [1, 1])
    assert rc == 1
    assert labels[-1] == "bench_compare(retry)"
    assert "BASELINE" in (repo / "BENCH_local_latest.json").read_text()
    assert "RUN2" in (repo / "BENCH_local_failed.json").read_text()
    # no laundering window: when the retry bench LAUNCHES, latest must
    # already be back to the baseline, not the regressed RUN1
    assert "BASELINE" in dict(snaps)["bench(retry)"]


def test_preflight_retry_bench_crash_is_not_a_confirmed_regression(
    tmp_path, monkeypatch, capsys
):
    """If the retry bench RUN itself crashes, the gate fails but must
    not claim the regression was reproduced (nothing was compared),
    and the baseline stays restored."""
    rc, labels, repo, _snaps = _preflight_run(
        tmp_path, monkeypatch, [1], bench_outcomes=[0, 1]
    )
    assert rc == 1
    assert labels[-1] == "bench(retry)"  # no retry compare ever ran
    out = capsys.readouterr().out
    assert "NOT a confirmed regression" in out
    assert "reproduced" not in out
    assert "BASELINE" in (repo / "BENCH_local_latest.json").read_text()


def _bench_files(tmp_path, old_q, new_q):
    o = tmp_path / "old.json"
    n = tmp_path / "new.json"
    o.write_text(json.dumps({"metric": "total_wall_sec", "queries": old_q}))
    n.write_text(json.dumps({"metric": "total_wall_sec", "queries": new_q}))
    return str(o), str(n)


def test_bench_compare_normalizes_uniform_host_drift(tmp_path):
    bc = _load("bench_compare")
    old = {f"q{i}": 0.5 + 0.01 * i for i in range(40)}
    new = {k: v * 1.3 for k, v in old.items()}  # the documented boot band
    assert bc.main([*_bench_files(tmp_path, old, new), "--threshold", "2.0"]) == 0


def test_bench_compare_ignores_sub_floor_flaps_but_flags_real_small_queries(tmp_path):
    """Round 9: the rig's fixed-latency floor for trivial queries is
    host-phase-dependent (measured 0.11-0.45 s for the same plan on one
    boot), so ratios on sub-0.5 s timings are noise by construction —
    a 0.13→0.40 s floor move must NOT fail the gate (it did, with a
    0.91x whole-run). A genuine multi-second regression still trips."""
    bc = _load("bench_compare")
    old = {f"q{i}": 1.0 for i in range(40)}
    floor_flap = dict(old, q3=0.40)
    old_flap = dict(old, q3=0.13)
    assert bc.main([*_bench_files(tmp_path, old_flap, floor_flap), "--threshold", "2.0"]) == 0
    real = dict(old, q3=2.6)  # 2.6x at seconds scale
    assert bc.main([*_bench_files(tmp_path, old, real), "--threshold", "2.0"]) == 1


def test_verify_all_vacuity_gate_negative_controls():
    """VERDICT r8 task 7: the VACUOUS classification that caught round
    7's join_bloom_prefilter bug must itself be regression-proof — a
    deliberately-empty oracle-gated result and an empty rows-only
    result are BOTH bad+vacuous, even when the compare finds no
    mismatch; non-empty results classify OK / ROWS-ONLY."""
    import pandas as pd

    va = _load("verify_all")
    sys.path.insert(0, str(_REPO / "tests"))
    from _diff import compare  # the sweep's real comparator

    empty = pd.DataFrame({"a": pd.Series([], dtype="int64")})
    full = pd.DataFrame({"a": [1, 2]})

    # empty Spark result + empty oracle: hashes "match" on nothing —
    # the gate must refuse the free pass
    line, bad, vac = va.classify("q_empty", empty, empty, compare)
    assert bad and vac and line.startswith("VACUOUS")
    # rows-only empty: no check at all
    line, bad, vac = va.classify("q_rowsonly_empty", empty, None, compare)
    assert bad and vac and line.startswith("VACUOUS")
    # honest green paths stay green
    line, bad, vac = va.classify("q_ok", full, full.copy(), compare)
    assert (bad, vac) == (False, False) and line.startswith("OK")
    line, bad, vac = va.classify("q_rowsonly", full, None, compare)
    assert (bad, vac) == (False, False) and line.startswith("ROWS-ONLY")
    # a real mismatch is bad but NOT vacuous
    line, bad, vac = va.classify(
        "q_bad", full, pd.DataFrame({"a": [1, 3]}), compare
    )
    assert bad and not vac and line.startswith("MISMATCH")


def test_bench_compare_norm_cap_is_the_observed_boot_band(tmp_path):
    """ADVICE r8: the normalizer must cap at the MEASURED 1.3x
    boot-to-boot band, not 1.5x — a ~2.8x raw single-query regression
    riding a ~1.45x whole-run drift must still be flagged (2.8/1.3 ≈
    2.15 ≥ 2.0), where a 1.5 cap would have excused it (2.8/1.45 ≈
    1.93 < 2.0)."""
    bc = _load("bench_compare")
    old = {f"q{i}": 1.0 for i in range(40)}
    # 39 queries drift x1.4 (host-ish), one regresses x2.8 raw
    new = {k: 1.4 for k in old}
    new["q7"] = 2.8
    assert bc.main([*_bench_files(tmp_path, old, new), "--threshold", "2.0"]) == 1


def test_bench_compare_flags_idiosyncratic_and_broad_regressions(tmp_path):
    bc = _load("bench_compare")
    old = {f"q{i}": 0.5 for i in range(40)}
    one_slow = dict(old, q7=1.6)  # 3.2x on one query, host rate ~1.05x
    assert bc.main([*_bench_files(tmp_path, old, one_slow), "--threshold", "2.0"]) == 1
    broad = {k: v * 2.5 for k, v in old.items()}  # everything regressed
    assert bc.main([*_bench_files(tmp_path, old, broad), "--threshold", "2.0"]) == 1


def _bench_files_meta(tmp_path, old_q, new_q, new_meta=None):
    o = tmp_path / "old_m.json"
    n = tmp_path / "new_m.json"
    o.write_text(json.dumps({"metric": "total_wall_sec", "queries": old_q}))
    n.write_text(json.dumps(
        {"metric": "total_wall_sec", "queries": new_q, **(new_meta or {})}
    ))
    return str(o), str(n)


def test_bench_compare_canary_drift_excuses_measured_host_slowdown(tmp_path):
    """VERDICT r10 task 3: a sustained load arriving mid-run inflates
    the new record uniformly; the end-of-run canary re-time MEASURES
    that (drift > 1), so the gate must not flag it — while the same
    uniform inflation with drift ≈ 1 (the canary re-timed the same →
    it's the code) must still fail the whole-run gate."""
    bc = _load("bench_compare")
    old = {f"q{i}": 1.0 for i in range(40)}
    loaded = {k: 1.6 for k in old}  # uniform 1.6x, beyond the 1.3 boot band

    drifted = {"canary": {"queries": {}, "drift": 1.6}}
    assert bc.main(
        [*_bench_files_meta(tmp_path, old, loaded, drifted), "--threshold", "1.5"]
    ) == 0
    # same inflation, canary says the host did NOT slow → code regressed
    steady = {"canary": {"queries": {}, "drift": 1.02}}
    assert bc.main(
        [*_bench_files_meta(tmp_path, old, loaded, steady), "--threshold", "1.5"]
    ) == 1
    # records without the marker (pre-r11) behave exactly as before
    assert bc.main(
        [*_bench_files_meta(tmp_path, old, loaded), "--threshold", "1.5"]
    ) == 1


def test_bench_compare_canary_drift_does_not_excuse_idiosyncratic_regression(tmp_path):
    """Drift widens the UNIFORM normalizer only: a single query at 4x
    raw under a 1.5-drift run is still 4/1.5 ≈ 2.7x idiosyncratic and
    must flag; and the allowance is capped at 2.0 so a pathological
    canary can't excuse a 5x broad regression."""
    bc = _load("bench_compare")
    old = {f"q{i}": 1.0 for i in range(40)}
    new = {k: 1.5 for k in old}
    new["q7"] = 4.0
    meta = {"canary": {"queries": {}, "drift": 1.5}}
    assert bc.main(
        [*_bench_files_meta(tmp_path, old, new, meta), "--threshold", "2.0"]
    ) == 1
    broad = {k: 5.0 for k in old}
    wild = {"canary": {"queries": {}, "drift": 9.9}}  # cap at 2.0
    assert bc.main(
        [*_bench_files_meta(tmp_path, old, broad, wild), "--threshold", "2.0"]
    ) == 1


def test_bench_compare_meta_survives_driver_tail_truncation(tmp_path):
    """The canary_drift marker rides the compact summary line, which is
    the only part guaranteed to survive the driver's ~2000-char stdout
    tail — reconstruct meta (and exclude the new non-query numeric keys)
    from a truncated wrapper."""
    bc = _load("bench_compare")
    compact = json.dumps({
        "metric": "total_wall_sec", "value": 64.0, "unit": "sec",
        "sf": 0.1, "repeat": 3, "n_queries": 2, "n_errors": 0,
        "canary_drift": 1.42, "load1_end": 31.5,
        "queries": {"q_slow": 2.0, "q_fast": 1.0},
        "full_record": "BENCH_local_latest.json",
    }, separators=(",", ":"))
    wrapper = tmp_path / "driver.json"
    wrapper.write_text(json.dumps(
        {"n": 11, "rc": 0, "tail": '…truncated head…"q_dropped":9.9}\n' + compact}
    ))
    timings, meta = bc.load_record(str(wrapper))
    assert meta["canary_drift"] == 1.42
    assert meta["host"]["end"]["loadavg"][0] == 31.5
    assert timings["q_slow"] == 2.0 and timings["q_fast"] == 1.0
    # regex-pairs path must not mistake the new meta numbers for queries
    assert "canary_drift" not in timings and "load1_end" not in timings
