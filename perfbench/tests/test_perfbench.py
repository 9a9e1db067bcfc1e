"""The benchmark's own tests: span arithmetic, the correctness gate, scratch
hygiene, the refusal outside a full checkout, and a tiny-size smoke run of
every workload (measured and traced).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHECKOUT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import engine  # noqa: E402
import host  # noqa: E402
import tracing  # noqa: E402

SPEC = json.load(open(os.path.join(CHECKOUT, "BENCHMARK.json")))


# ------------------------------------------------------------------ spans
def _span(sid, name, start, end, parent=None):
    return tracing.Span(sid, name, start, end, parent=parent)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, "run", 0.0, 10.0),
        _span(1, "a", 1.0, 3.0, parent=0),
        _span(2, "b", 2.0, 5.0, parent=0),    # overlaps a: [1, 5] counted once
        _span(3, "c", 8.0, 12.0, parent=0),   # clipped to the parent: [8, 10]
        _span(4, "d", 2.5, 2.75, parent=2),   # grandchild: only b's business
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[2] == pytest.approx(3.0 - 0.25)
    assert st[4] == pytest.approx(0.25)
    assert st[3] == pytest.approx(4.0)


def test_summarize_and_nested_retries():
    t = tracing.Tracer("r")
    t.spans = [
        _span(0, "commit_files", 0.0, 4.0),
        _span(1, "commit_files", 1.0, 3.0, parent=0),  # a retry
        _span(2, "load", 5.0, 6.0),
    ]
    summ = tracing.summarize(t.spans)
    assert summ["commit_files"]["calls"] == 2
    assert summ["commit_files"]["total_s"] == pytest.approx(6.0)
    assert summ["commit_files"]["self_s"] == pytest.approx(4.0)
    assert t.nested_count("commit_files") == 1


def test_tracer_wraps_and_restores_module_functions():
    engine.import_engine()
    from openlogreplicator_spark.operators import lww, merge
    from openlogreplicator_spark.streaming import pipeline

    before = (merge.lww_compact_auto, lww.lww_compact_auto,
              pipeline.CdcPipeline.__dict__["apply_epoch"])
    t = tracing.Tracer("r")
    t.install()
    try:
        assert merge.lww_compact_auto is lww.lww_compact_auto
        assert merge.lww_compact_auto is not before[0]
    finally:
        t.uninstall()
    after = (merge.lww_compact_auto, lww.lww_compact_auto,
             pipeline.CdcPipeline.__dict__["apply_epoch"])
    assert after == before


# ------------------------------------------------------------------ helpers
def test_percentile_and_formatted_metrics():
    import statusstore
    import workloads

    xs = list(range(0, 101))
    assert workloads.pct(xs, 50) == 50
    assert workloads.pct(xs, 90) == 90
    assert workloads.pct([4.0, 1.0, 3.0, 2.0], 50) == pytest.approx(2.5)
    assert workloads.pct([1.0] * 16 + [3.0] * 16, 50) == pytest.approx(2.0)
    assert statusstore.parse_formatted("31 ms") == pytest.approx(0.031)
    assert statusstore.parse_formatted("1,088.0 KiB") == pytest.approx(1088 * 1024)
    assert statusstore.parse_formatted(
        "total (min, med, max (stageId: taskId))\n1.6 s (1 ms, 2 ms, 3 ms (stage 4.0: task 9))"
    ) == pytest.approx(1.6)


def test_scratch_prunes_only_dead_pids(tmp_path):
    root = str(tmp_path)
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    os.makedirs(os.path.join(root, f"run-{dead.pid}"))
    live = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        os.makedirs(os.path.join(root, f"run-{live.pid}"))
        s = host.Scratch(root)
        assert not os.path.exists(os.path.join(root, f"run-{dead.pid}"))
        assert os.path.exists(os.path.join(root, f"run-{live.pid}"))
        assert os.path.isdir(s.path)
        s.close()
        assert not os.path.exists(s.path)
    finally:
        live.kill()
        live.wait()


# ------------------------------------------------------------------ the gate
@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    engine.import_engine()
    s = engine.start_session(2, str(tmp_path_factory.mktemp("spark")), "1g")
    yield s
    s.stop()
    engine.stop_jvm()


def test_gate_passes_engine_state_and_fails_a_corrupted_one(spark, tmp_path):
    import fixtures
    import oracle
    from pyspark.sql import functions as F

    from openlogreplicator_spark.streaming.pipeline import CdcPipeline

    log = str(tmp_path / "log")
    gen = fixtures.ChangeLog(5)
    files = fixtures.split(gen.base(300), log, 1)
    files.append(fixtures.write(gen.changes(400), os.path.join(log, "events-00001.parquet")))
    p = CdcPipeline(spark, log, str(tmp_path / "t"), str(tmp_path / "c"))
    p.run_batch_replay()
    expected = oracle.oracle_rows(files)
    state = p.target_state()
    assert oracle.compare(oracle.engine_rows(state), expected)["ok"]

    victim = sorted(expected)[0][0]
    one_byte = state.withColumn(
        "text", F.when(F.col("url") == victim, F.concat("text", F.lit(" "))).otherwise(F.col("text")))
    v = oracle.compare(oracle.engine_rows(one_byte), expected)
    assert not v["ok"] and v["missing"] == 1 and v["extra"] == 1
    lost = oracle.compare(oracle.engine_rows(state.filter(F.col("url") != victim)), expected)
    assert not lost["ok"] and lost["missing"] == 1


# ------------------------------------------------------------------ smoke runs
def _run(args, cwd=CHECKOUT, timeout=300):
    """Run the benchmark in a session of its own, with its output in files (a
    pipe would keep the call waiting for any process that inherited it), and
    also return the processes of that session still there once it exited."""
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        p = subprocess.Popen([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                             stdout=out, stderr=err, start_new_session=True)
        try:
            p.wait(timeout)
        finally:
            left = _session_members(p.pid)
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
        out.seek(0)
        err.seek(0)
        return subprocess.CompletedProcess(p.args, p.returncode, out.read(), err.read()), left


def _session_members(sid):
    left = []
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[3]) == sid:
            left.append(int(name))
    return left


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_smoke_run_reports_every_metric(workload, trace):
    p, left = _run(["--workload", workload, "--seed", "3", "--seconds", "2",
                    "--trace", str(trace), "--scale", "tiny"])
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    for m in wanted:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert math.isfinite(got["value"]), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]
    assert len(res["metrics"]) == len(wanted)
    assert left == [], "processes outlived the run"


def test_refuses_without_the_engine(tmp_path):
    shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p, _ = _run(["--workload", "replay_dup", "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=str(tmp_path), timeout=60)
    assert p.returncode != 0
    assert not p.stdout.strip()
