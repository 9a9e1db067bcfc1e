"""bench.py harness machinery (round-5 verdict task 1) — the pieces that
make a driver-side timeout survivable: last-JSON-line parsing, rotation
cursor persistence, skip bookkeeping, and the main-pid signal guard — plus
main()'s section plan with every Spark-starting section faked, and the sf1
spot's pass/fail bookkeeping. No Spark session needed."""

from __future__ import annotations

import importlib
import itertools
import json
import os
import sys


def _bench(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    import bench

    b = importlib.reload(bench)
    monkeypatch.setattr(b, "CURSOR_PATH", str(tmp_path / "cursor.json"))
    monkeypatch.setattr(b, "PARTIAL_PATH", str(tmp_path / "partial.json"))
    return b


def test_last_json_takes_last_parseable_line(tmp_path, monkeypatch):
    b = _bench(tmp_path, monkeypatch)
    out = 'noise\n{"a": 1}\nWARN something\n{"b": 2}\ntrailing garbage'
    assert b._last_json(out, {}) == {"b": 2}
    assert b._last_json("no json at all", {"fb": True}) == {"fb": True}


def test_cursor_round_trip_and_missing_file(tmp_path, monkeypatch):
    b = _bench(tmp_path, monkeypatch)
    assert b.load_cursor() == {}
    b.save_cursor({"catalog": 17, "sf1": 3})
    assert b.load_cursor() == {"catalog": 17, "sf1": 3}


def test_skip_records_section_and_mirrors_partial(tmp_path, monkeypatch):
    b = _bench(tmp_path, monkeypatch)
    b.skip("tail_mor", 150.0)
    assert b.OUT["skipped_sections"][-1]["section"] == "tail_mor"
    with open(b.PARTIAL_PATH) as f:
        mirrored = json.load(f)
    assert mirrored["skipped_sections"][-1]["section"] == "tail_mor"


def test_signal_handler_is_main_pid_guarded(tmp_path, monkeypatch):
    # a forked pool worker inheriting the handler must not print the JSON
    # line — only the main pid does (the round-5 double-print bug)
    b = _bench(tmp_path, monkeypatch)
    monkeypatch.setattr(b, "_MAIN_PID", os.getpid() + 1)
    exits: list[int] = []

    def fake_exit(code):
        exits.append(code)
        raise SystemExit(code)  # the real os._exit never returns

    monkeypatch.setattr(b.os, "_exit", fake_exit)
    try:
        b._on_signal(15, None)
    except SystemExit:
        pass
    assert exits == [0]
    assert "truncated" not in b.OUT  # guard fired before any bookkeeping


def test_signal_handler_prints_final_json_once(tmp_path, monkeypatch, capsys):
    b = _bench(tmp_path, monkeypatch)
    exits: list[int] = []
    monkeypatch.setattr(b.os, "_exit", exits.append)
    b._on_signal(15, None)
    line = capsys.readouterr().out.strip().splitlines()[-1]
    parsed = json.loads(line)
    assert parsed["truncated"]["signal"] == 15
    assert exits == [0]
    # a second signal (or the finally-block) must not print again
    b._on_signal(15, None)
    assert capsys.readouterr().out == ""


def test_import_leaves_signal_handlers_alone(tmp_path, monkeypatch):
    # main() installs the JSON-printing handlers; merely importing bench
    # (as these tests do) must not take over the test runner's Ctrl-C
    import signal

    b = _bench(tmp_path, monkeypatch)
    assert signal.getsignal(signal.SIGINT) is not b._on_signal
    assert signal.getsignal(signal.SIGTERM) is not b._on_signal


def test_run_child_separates_timeout_from_failure(tmp_path, monkeypatch):
    b = _bench(tmp_path, monkeypatch)
    code = "import sys; print('x'); sys.stderr.write('boom'); sys.exit(3)"
    out, rc, err = b._run_child([sys.executable, "-c", code], timeout=60)
    assert (out.strip(), rc, err) == ("x", 3, "boom")
    sleeper = [sys.executable, "-c", "import time; time.sleep(30)"]
    assert b._run_child(sleeper, timeout=0.5) == ("", None, "")


def test_oracle_failure_is_not_reported_as_timeout(tmp_path, monkeypatch):
    import pytest

    b = _bench(tmp_path, monkeypatch)
    monkeypatch.setattr(b, "_run_child", lambda cmd, timeout: ("", None, ""))
    with pytest.raises(TimeoutError):
        b.oracle_subprocess("q", "/nonexistent", 1.0)
    monkeypatch.setattr(
        b, "_run_child", lambda cmd, timeout: ("", 1, "Traceback\nBinderError: x")
    )
    with pytest.raises(RuntimeError, match="exit 1") as e:
        b.oracle_subprocess("q", "/nonexistent", 1.0)
    assert "BinderError" in str(e.value)


def _run_main(b, monkeypatch, capsys, hi_secs, lo_secs=40.0):
    """Run bench.main() with every Spark-starting section faked; returns
    (the parsed JSON line, the recorded calls)."""
    calls: list[tuple] = []
    his = itertools.cycle(hi_secs)

    def fake_cdc(cores, events_dir, streaming=False):
        calls.append(("cdc", cores, streaming))
        if streaming:
            secs = 15.0
        elif cores > 1:
            secs = next(his)
        else:
            secs = lo_secs
        return {"cores": cores, "secs_min": secs,
                "events_per_sec": b.N_EVENTS / secs, "stages": {"write": secs}}

    def fake_tail(cores, events_dir, merge_mode):
        calls.append(("tail", cores, merge_mode))
        return {"cores": cores, "merge_mode": merge_mode, "secs": 5.0}

    def fake_catalog(deadline):
        calls.append(("catalog", b.CPUS))
        return {"q1": 1.5}

    def fake_sf1(timings):
        calls.append(("sf1", b.CPUS))
        return {"n_gated": 0, "entries": {}}

    monkeypatch.setattr(b.signal, "signal", lambda *a: None)
    monkeypatch.setattr(b, "bench_events_dir", lambda: "/nonexistent/events")
    monkeypatch.setattr(b, "cdc_subprocess", fake_cdc)
    monkeypatch.setattr(b, "cdc_tail_subprocess", fake_tail)
    monkeypatch.setattr(b, "catalog_sweep", fake_catalog)
    monkeypatch.setattr(b, "sf1_spot", fake_sf1)
    b.main()
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1]), calls


def test_main_stays_within_host_cores(tmp_path, monkeypatch, capsys):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    b = _bench(tmp_path, monkeypatch)
    out, calls = _run_main(b, monkeypatch, capsys, hi_secs=(12.0, 11.0, 13.0))
    assert calls and max(c[1] for c in calls) <= 4
    pair_cores = [c[1] for c in calls if c[0] == "cdc" and not c[2]]
    assert pair_cores == [4, 1] * b.PAIRS  # hi first, every pair, no retry
    assert {k: out[k] for k in ("metric", "unit", "sf")} == {
        "metric": "total_catalog_plus_cdc_sec", "unit": "sec", "sf": "sf0.001"}
    assert out["cdc"]["scaling_pair"] == [1, 4]
    assert len(out["cdc"]["scale_1_4"]["pairs"]) == b.PAIRS
    assert out["cdc"]["scaling_efficiency"] == round(40.0 / 11.0 / 4, 3)
    assert "truncated" not in out


def test_batch_apply_comes_from_fastest_hi_run(tmp_path, monkeypatch, capsys):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    b = _bench(tmp_path, monkeypatch)
    out, _ = _run_main(b, monkeypatch, capsys, hi_secs=(20.0, 10.0, 15.0))
    cdc = out["cdc"]
    assert out["queries"]["cdc_apply_batch"] == 10.0
    assert cdc["scale_hi"]["secs_min"] == 10.0
    assert cdc["scale_hi"]["secs_all"] == [20.0, 10.0, 15.0]
    assert cdc["apply_stages"] == {"write": 10.0}
    assert [p["eff"] for p in cdc["scale_1_4"]["pairs"]] == [
        round(40.0 / s / 4, 3) for s in (20.0, 10.0, 15.0)]


def test_sf1_spot_budget_skip_is_not_a_timeout(tmp_path, monkeypatch):
    # entries run in order: "bad" mismatches its oracle, "slow" eats the
    # budget so its gate is skipped, "late" is skipped before it starts
    import types

    import pandas as pd

    from openlogreplicator_spark import oracle_check, queries, session, sf_scale

    b = _bench(tmp_path, monkeypatch)
    left = {"secs": 1000.0}

    def entry(value, secs_left=None):
        def run(spark, sf_dir):
            if secs_left is not None:
                left["secs"] = secs_left
            return types.SimpleNamespace(toPandas=lambda: pd.DataFrame({"v": [value]}))
        return run

    names = ["bad", "slow", "late"]
    monkeypatch.setattr(b, "remaining", lambda: left["secs"])
    monkeypatch.setattr(oracle_check, "sf_backed_entries", lambda: names)
    monkeypatch.setattr(queries, "QUERIES", {
        "bad": entry(1), "slow": entry(2, secs_left=50.0), "late": entry(3)})
    monkeypatch.setattr(queries, "ORACLES", dict.fromkeys(names, "SELECT 1"))
    monkeypatch.setattr(sf_scale, "ensure_scaled_dir", lambda src, k: "/scaled")
    monkeypatch.setattr(session, "build_session", lambda **kw: types.SimpleNamespace(
        stop=lambda: None))
    monkeypatch.setattr(b, "oracle_subprocess",
                        lambda name, sf_dir, timeout: pd.DataFrame({"v": [99]}))
    out = b.sf1_spot({})
    bad = out["entries"]["bad"]
    assert bad["ok"] is False and "values differ" in bad["err"]
    assert "ok" not in out["entries"]["slow"]
    assert out["skipped_for_budget"] == ["slow", "late"]
    assert (out["n_timeout"], out["n_fail"], out["n_gated"]) == (0, 1, 1)
