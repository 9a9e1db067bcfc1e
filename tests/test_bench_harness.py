"""bench.py harness machinery (round-5 verdict task 1) — the pieces that
make a driver-side timeout survivable: last-JSON-line parsing, rotation
cursor persistence, skip bookkeeping, and the main-pid signal guard. No
Spark session needed."""

from __future__ import annotations

import importlib
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
