"""Gate scratch ownership: every engine gate's scratch directory is stamped
with its owner's pid and removed when that process exits; a process prunes
only the scratch of dead pids, never a live neighbour's, and never the
content-addressed fixtures that share the scratch root."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import textwrap

from openlogreplicator_spark import queries as Q

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _python(code: str, **kw) -> subprocess.Popen:
    env = {**os.environ, "PYTHONPATH": REPO}
    return subprocess.Popen(
        [sys.executable, "-c", textwrap.dedent(code)],
        cwd=REPO, env=env, stdout=subprocess.PIPE, text=True, **kw,
    )


def _owned_by(pid: int) -> list[str]:
    return [n for n in os.listdir(Q._REPLAY_BASE) if Q._scratch_pid(n) == pid]


def _dead_pid() -> int:
    p = subprocess.Popen([sys.executable, "-c", "pass"])
    p.wait()  # reaped: the pid names no process until the kernel reuses it
    return p.pid


def test_scratch_name_carries_the_owner_pid():
    d = Q._gate_scratch("probe")
    assert os.path.isdir(d)
    assert os.path.dirname(d) == Q._REPLAY_BASE
    assert Q._scratch_pid(os.path.basename(d)) == os.getpid()


def test_live_scratch_survives_a_neighbours_prune_until_its_owner_dies():
    child = _python("""
        import time
        from openlogreplicator_spark import queries as Q
        print(Q._gate_scratch("live_probe"), flush=True)
        time.sleep(600)
    """)
    try:
        d = child.stdout.readline().strip()
        assert d and os.path.isdir(d)
        assert Q._scratch_pid(os.path.basename(d)) == child.pid
        Q._prune_dead_scratch()  # this process is the neighbour
        assert os.path.isdir(d), "a live process's scratch was pruned"
    finally:
        child.send_signal(signal.SIGKILL)  # no exit hook runs
        child.wait()
        child.stdout.close()
    assert os.path.isdir(d), "SIGKILL leaves the scratch behind"
    Q._prune_dead_scratch()
    assert not os.path.exists(d)


def test_prune_removes_dead_scratch_and_keeps_fixtures():
    dead = os.path.join(Q._REPLAY_BASE, f"olr_probe_{_dead_pid()}_abc_1234")
    # a content-addressed name whose hash happens to be all digits
    fixture_like = os.path.join(Q._REPLAY_BASE, "olr_probe_123456789012")
    for d in (dead, fixture_like):
        os.makedirs(d, exist_ok=True)
    fixtures = [
        v for v in vars(Q).values()
        if isinstance(v, str) and os.path.dirname(v) == Q._REPLAY_BASE
        and os.path.basename(v).startswith("olr_")
    ]
    assert Q._REPLAY_EVENTS in fixtures
    for f in fixtures:
        assert Q._scratch_pid(os.path.basename(f)) is None, f
    present = [f for f in fixtures if os.path.isdir(f)]
    try:
        Q._prune_dead_scratch()
        assert not os.path.exists(dead)
        assert os.path.isdir(fixture_like)
        assert all(map(os.path.isdir, present))
    finally:
        os.rmdir(fixture_like)


def test_gates_leave_no_scratch_after_exit():
    """A fresh process runs a plain pipeline gate, a stream-harness gate
    and a memoised gate; once it exits nothing stamped with its pid
    remains under the scratch root."""
    child = _python("""
        import os
        from openlogreplicator_spark import queries as Q
        from openlogreplicator_spark.session import build_session

        spark = build_session(app_name="gate-scratch", cores=2,
                              shuffle_partitions=4)
        for name in ("engine_replay_state",
                     "engine_stream_suppressed_replay",
                     "engine_delete_where"):
            assert Q.QUERIES[name](spark, "").count() > 0, name
        print(len(Q._SCRATCH), all(map(os.path.isdir, Q._SCRATCH)),
              flush=True)
        spark.stop()
    """)
    out, _ = child.communicate(timeout=900)
    assert child.returncode == 0
    n, alive = out.split()[-2:]
    assert int(n) >= 3 and alive == "True", out
    assert _owned_by(child.pid) == []
