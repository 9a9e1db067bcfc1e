"""The workloads, their set-up, measured phase and correctness gate.

Every run has the same shape:

1. fixture: write the seeded change-log files (not timed as set-up);
2. set-up (``setup_s``): start the ``local[4]`` session, warm up, pre-build the
   state;
3. measured phase of ``--seconds``;
4. correctness gate against the DuckDB oracle, outside every timed region;
5. traced runs only: alternating untraced/traced batch replays of the
   workload's full log (tracing overhead; the untraced ones are the 4-core
   side of the scaling pair), then the 1-core side in a fresh ``local[1]``
   SparkContext of the same JVM.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

import engine
import fixtures
import host

HERE = os.path.dirname(os.path.abspath(__file__))

SIZES = {
    "full": dict(
        replay_events=300_000, replay_files=16,
        tail_base_keys=10_000, tail_warm_files=5, tail_file_events=250,
        tail_files_per_s=4.0, tail_trigger_s=4.0, scale_reps=3, driver_mem="2g",
        need_ram_mb=4000, need_disk_mb=3000,
    ),
    "tiny": dict(
        replay_events=20_000, replay_files=4,
        tail_base_keys=2_000, tail_warm_files=5, tail_file_events=40,
        tail_files_per_s=8.0, tail_trigger_s=1.0, scale_reps=2, driver_mem="1g",
        need_ram_mb=2500, need_disk_mb=500,
    ),
}

WORKLOADS = ("replay_dup", "tail_mor")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """Percentile (q in 0..100), linear between the two closest ranks, so a
    few repeated values (every file of one replay has the same lag) do not
    make it jump from one sample to the next."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = q / 100.0 * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# ------------------------------------------------------------------ fixtures
def make_fixture(name: str, seed: int, seconds: float, size: dict, fx: str) -> dict:
    """Write the workload's files. ``log`` is the directory the engine reads,
    ``scale`` the full log the scaling pair and the overhead check replay, ``all`` every file the
    final state depends on, where the engine last sees it (the oracle's
    input)."""
    log = os.path.join(fx, "log")
    os.makedirs(log)
    if name == "replay_dup":
        files = fixtures.replay_log(log, seed, size["replay_events"], size["replay_files"])
        return {"log": log, "scale": log, "all": files, "events": size["replay_events"]}
    gen = fixtures.ChangeLog(seed)
    n = size["tail_file_events"]
    base = fixtures.write(gen.base(size["tail_base_keys"]),
                          os.path.join(fx, "base-00000.parquet"))
    warm = [fixtures.write(gen.changes(n), os.path.join(fx, f"warm-{i:05d}.parquet"))
            for i in range(size["tail_warm_files"])]
    stage = os.path.join(fx, "stage")
    os.makedirs(stage)
    # one burst of files per trigger, at least 3 bursts (see prepare_tail)
    burst = round(size["tail_trigger_s"] * size["tail_files_per_s"])
    n_tail = burst * max(3, math.ceil(seconds / size["tail_trigger_s"]))
    tail = [fixtures.write(gen.changes(n), os.path.join(stage, f"tail-{i:05d}.parquet"))
            for i in range(n_tail)]
    # the scaling pair replays the same events as one batch log of a few
    # files, so it times decode/LWW/merge work, not per-file overhead
    scale = os.path.join(fx, "scale")
    fixtures.split(pa.concat_tables(pq.read_table(p) for p in [base] + warm + tail),
                   scale, 8)
    return {
        "log": log, "scale": scale, "base": base, "warm": warm, "stage": stage,
        # tail files are renamed from the staging directory into the log
        "all": [base] + warm + [os.path.join(log, os.path.basename(p)) for p in tail],
        "events": n * n_tail,
        "tail_bytes": sum(os.path.getsize(p) for p in tail),
        "period": 1.0 / size["tail_files_per_s"],
        "epoch_files": burst,
    }


# ------------------------------------------------------------------ context
class Ctx:
    """One run's engine handles, paths and raw measurements (``out``)."""

    def __init__(self, name, seed, seconds, scratch, spec, spark):
        self.name, self.seed, self.seconds = name, seed, seconds
        self.spec, self.spark = spec, spark
        self.loadgen_pid: int | None = None
        self.work = scratch.sub("work")
        self.table = os.path.join(self.work, "table")
        self.ckpt = os.path.join(self.work, "ckpt")
        self.metrics_dir = os.path.join(self.work, "lineage")
        self.dead_dir = os.path.join(self.work, "dead_letter")
        self.out: dict = {"state_read_s": [], "read_cpu_s": [], "lags_s": [],
                          "epochs": 0}
        self.pipeline = None

    def new_pipeline(self, **kw):
        from openlogreplicator_spark.streaming.pipeline import CdcPipeline

        self.pipeline = CdcPipeline(self.spark, self.spec["log"], self.table,
                                    self.ckpt, **kw)
        return self.pipeline

    def cpu(self) -> float:
        """CPU seconds used so far by this process tree, load generator
        excluded."""
        return host.tree_cpu_s(os.getpid(), {self.loadgen_pid} if self.loadgen_pid else set())

    def consume(self) -> float:
        return engine.consume(self.pipeline)

    def read(self) -> None:
        """One measured consumer read: its wall and CPU time."""
        cpu0 = self.cpu()
        self.out["state_read_s"].append(self.consume())
        self.out["read_cpu_s"].append(self.cpu() - cpu0)


# ------------------------------------------------------------------ replay_dup
def prepare_replay(c: Ctx) -> None:
    # the first replay compiles (JIT, codegen); later ones still speed up
    # for a few repetitions
    for _ in range(4):
        engine.replay(c.spark, c.spec["log"], c.work)


def measure_replay(c: Ctx, begin, end_phase) -> None:
    times, cpus, n_files = [], [], len(c.spec["all"])
    begin()
    end = time.perf_counter() + c.seconds
    while len(times) < 2 or time.perf_counter() < end:
        due = time.time()
        cpu0 = c.cpu()
        dt, _ = engine.replay(c.spark, c.spec["log"], c.work)
        cpus.append(c.cpu() - cpu0)
        times.append(dt)
        c.out["epochs"] += 1
        commit = engine.epoch_commits(c.table)[0]
        c.out["lags_s"] += [commit - due] * n_files
        c.new_pipeline()
        c.read()
    end_phase()
    c.out["apply_s"] = times
    c.out["events_per_s"] = c.spec["events"] / median(times)
    c.out["cpu_us_per_event"] = median(cpus) / c.spec["events"] * 1e6
    # a read of this small table is short: more samples steady its median
    for _ in range(8):
        c.read()


# ------------------------------------------------------------------ tail_mor
def _tail_pipeline(c: Ctx):
    return c.new_pipeline(metrics_path=c.metrics_dir, dead_letter_path=c.dead_dir)


def _consumed(c: Ctx) -> set[str]:
    return {f for fs in engine.epoch_files(c.ckpt).values() for f in fs}


def prepare_tail(c: Ctx) -> None:
    from openlogreplicator_spark.lake.table import LakeTable
    from openlogreplicator_spark.operators.merge import compact_table

    for p in [c.spec["base"]] + c.spec["warm"]:
        os.link(p, os.path.join(c.spec["log"], os.path.basename(p)))
    # one epoch per file: the base is epoch 0 and the warm-up files 1..5. The
    # tail is at least 3 bursts, so 3 epochs (6, 7, 8, ...): the compaction
    # after epoch 7 (compact_every=8) lands inside every run, and the reads
    # always see the post-compaction deltas of epoch 8
    _tail_pipeline(c).run_available_now(max_files_per_trigger=1)
    # warm the compaction and the read path too, so the first measured
    # compaction or read is not also the JVM's first
    compact_table(LakeTable.load(c.spark, c.table))
    for _ in range(2):
        c.consume()


def measure_tail(c: Ctx, begin, end_phase) -> None:
    spec, log = c.spec, c.spec["log"]
    release = os.path.join(c.work, "release.json")
    t0 = time.time() + 0.25
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "loadgen.py"), "--stage", spec["stage"],
         "--log", log, "--t0", repr(t0), "--period", repr(spec["period"]),
         "--burst", str(spec["epoch_files"]), "--out", release],
    )
    c.loadgen_pid = gen.pid
    busy: list[float] = []
    cpu_s = 0.0
    epochs_before = len(engine.epoch_files(c.ckpt))
    tail_names = set(os.listdir(spec["stage"]))
    deadline = t0 + c.seconds + 60.0
    try:
        begin()
        p = _tail_pipeline(c)
        # the trigger: the generator releases one burst of ``epoch_files``
        # files every ``trigger_s``; the trigger fires once a burst is out (at
        # once when the previous epoch overran) and applies what is released,
        # at most one burst per epoch. Every run is then the same epochs of
        # the same files however fast the host is: a slow epoch delays the
        # next one, it never changes what that one holds
        applied, total = 0, len(tail_names)
        while applied < total:
            want = min(total, applied + spec["epoch_files"])
            while len(set(os.listdir(log)) & tail_names) < want:
                if gen.poll() not in (None, 0) or time.time() > deadline:
                    raise RuntimeError(f"the load generator stopped or stalled "
                                       f"after {applied} of {total} files")
                time.sleep(0.01)
            t, cpu0 = time.perf_counter(), c.cpu()
            p.run_available_now(max_files_per_trigger=spec["epoch_files"])
            busy.append(time.perf_counter() - t)
            cpu_s += c.cpu() - cpu0
            applied = len(_consumed(c) & tail_names)
        end_phase()
    finally:
        if gen.poll() is None:
            gen.terminate()
        gen.wait(timeout=30)
    if gen.returncode != 0:
        raise RuntimeError(f"load generator exited with {gen.returncode}")
    with open(release) as f:
        rel = json.load(f)
    due = {r["name"]: r["due"] for r in rel}
    c.out["late_ms_max"] = max((r["released"] - r["due"]) * 1000.0 for r in rel)
    c.out["lags_s"] = engine.file_lags(c.ckpt, c.table, due)
    if len(c.out["lags_s"]) != len(due):
        raise RuntimeError(f"lag found for {len(c.out['lags_s'])} of {len(due)} files")
    files = engine.epoch_files(c.ckpt)
    c.out["epochs"] = len(files) - epochs_before
    c.out["epoch_files"] = [len(files[e]) for e in sorted(files)[epochs_before:]]
    c.out["apply_s"] = busy
    c.out["events_per_s"] = spec["events"] / sum(busy)
    c.out["cpu_us_per_event"] = cpu_s / spec["events"] * 1e6
    for _ in range(5):
        c.read()


PREPARE = {"replay_dup": prepare_replay, "tail_mor": prepare_tail}
MEASURE = {"replay_dup": measure_replay, "tail_mor": measure_tail}


# ------------------------------------------------------------------ gate
def gate(c: Ctx) -> dict:
    import oracle

    from openlogreplicator_spark.streaming.pipeline import CdcPipeline

    p = CdcPipeline(c.spark, c.spec["log"], c.table, c.ckpt)
    try:
        return oracle.compare(oracle.engine_rows(p.target_state()),
                              oracle.oracle_rows(c.spec["all"]))
    except Exception as e:  # noqa: BLE001 — any failure of the gate is a fail
        return {"ok": False, "error": f"{type(e).__name__}: {e}"}
