"""CDC apply benchmark at ``local[4]``: one workload per invocation.

    python3 perfbench/run.py --workload replay_dup --seed 1 --seconds 8 --trace 0

``--trace 0`` prints every end-to-end metric; ``--trace 1`` runs the same
workload with spans around the engine's public calls and the Spark status
store read after each epoch, and prints every per-layer metric (the 1-core
vs 4-core scaling pair among them) plus the three largest self-time
consumers. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Exit code 0 on a correct
run, 1 when the correctness gate fails or the run raises, 2 when the engine
is not in this checkout, 3 when the host lacks headroom. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import engine  # noqa: E402
import host  # noqa: E402
from py4j.protocol import Py4JError  # noqa: E402

E2E_UNITS = {
    "cpu_us_per_event": "us", "read_cpu_ms": "ms", "setup_s": "s",
    "peak_rss_mb": "MB", "table_mb": "MB",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the benchmark's own tests")
    a = ap.parse_args(argv)
    try:
        engine.import_engine()
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    import workloads  # imports the engine's modules

    if a.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; choose from "
              f"{', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    size = workloads.SIZES[a.scale]
    host.become_subreaper()
    scratch = host.Scratch(os.path.join(engine.CHECKOUT, ".perfbench"))
    scratch.install_sigterm()
    try:
        why = host.check_headroom(scratch.path, size["need_ram_mb"], size["need_disk_mb"])
        if why:
            print(f"perfbench: refusing to run: {why}", file=sys.stderr)
            return 3
        attempted = 1
        try:
            res = run(a, size, scratch, workloads)
        except Exception:  # noqa: BLE001 — report any failure as a failed run
            traceback.print_exc()
            print(json.dumps({"correct": False, "attempted": attempted,
                              "failed": attempted, "metrics": {}}))
            return 1
        for line in res.get("report", ()):
            print(line)
        print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
        return 0 if res["correct"] else 1
    finally:
        # no process of this run may outlive it: the JVM, its Python
        # workers and the load generator are all gone, and reaped, here
        engine.stop_jvm()
        host.stop_descendants()
        scratch.close()


def _metric(v: float, unit: str) -> dict:
    return {"value": float(v), "unit": unit}


def run(a, size, scratch, wl) -> dict:
    name, trace = a.workload, bool(a.trace)
    rid = f"{name}-s{a.seed}-p{os.getpid()}"
    t = time.perf_counter()
    spec = wl.make_fixture(name, a.seed, a.seconds, size, scratch.sub("fx"))
    fixture_s = time.perf_counter() - t

    t_setup = time.perf_counter()
    spark = None
    try:
        spark = engine.start_session(4, scratch.sub("spark"), size["driver_mem"])
        session_s = time.perf_counter() - t_setup
        tracer = reader = None
        if trace:
            import statusstore
            import tracing

            reader = statusstore.StatusReader(spark)
            tracer = tracing.Tracer(rid, on_epoch_end=reader.harvest)
        c = wl.Ctx(name, a.seed, a.seconds, scratch, spec, spark)
        wl.PREPARE[name](c)
        setup_wall = time.perf_counter() - t_setup

        phase: dict = {}
        profile: dict = {}

        def begin():
            exclude = {c.loadgen_pid} if c.loadgen_pid else set()
            phase["rss"] = host.RssSampler(exclude).start()
            if trace:
                from openlogreplicator_spark.operators import merge

                reader.mark()
                merge.STAGE_PROFILE = profile
                tracer.install()
            phase["t0"] = time.perf_counter()

        def end_phase():
            phase["wall"] = time.perf_counter() - phase["t0"]
            if trace:
                from openlogreplicator_spark.operators import merge

                tracer.uninstall()
                merge.STAGE_PROFILE = None
                reader.harvest()
            phase["peak_rss"] = phase["rss"].stop()

        t = time.perf_counter()
        wl.MEASURE[name](c, begin, end_phase)
        measure_s = time.perf_counter() - t
        out = c.out
        table_mb = host.dir_mb(c.table)
        t = time.perf_counter()
        verdict = wl.gate(c)
        gate_s = time.perf_counter() - t
        attempted = out["epochs"] + 1
        failed = 0 if verdict["ok"] else 1
        if not verdict["ok"]:
            print("perfbench: correctness gate FAILED: " + json.dumps(verdict),
                  file=sys.stderr)

        t = time.perf_counter()
        if trace:
            import layers

            metrics, report = layers.per_layer(
                c, tracer, reader, profile, phase, session_s, fixture_s,
                failed / attempted)
            over, replay4 = layers.trace_overhead(c, rid)
            metrics["trace.overhead_share"] = _metric(over, "ratio")
            report.append(f"tracing overhead on the {name} log replay: {over:+.3f}")
            # the scaling pair: the untraced replays above are the 4-core
            # side; the 1-core side runs in a fresh local[1] SparkContext of
            # the same, already warm JVM, so neither side pays JIT warm-up.
            # The median hides the first replay in the new context, which
            # still pays plan compilation.
            spark.stop()
            spark = engine.start_session(1, scratch.sub("spark"), size["driver_mem"])
            replay1 = [engine.replay(spark, spec["scale"], c.work)[0]
                       for _ in range(size["scale_reps"])]
            eff = wl.median(replay1) / wl.median(replay4) / 4.0
            metrics["spark.scale_eff_1_4"] = _metric(eff, "ratio")
            report.append(f"spark.scale_eff_1_4: {eff:.6g} ratio (replay4_s: "
                          f"{' '.join(f'{x:.2f}' for x in replay4)} | replay1_s: "
                          f"{' '.join(f'{x:.2f}' for x in replay1)})")
            layers.save_trace(c, tracer, metrics, report, rid)
        else:
            lags_ms = [x * 1000.0 for x in out["lags_s"]]
            values = {
                "cpu_us_per_event": out["cpu_us_per_event"],
                "read_cpu_ms": wl.median(out["read_cpu_s"]) * 1000.0,
                "setup_s": setup_wall,
                "peak_rss_mb": phase["peak_rss"],
                "table_mb": table_mb,
            }
            metrics = {k: _metric(v, E2E_UNITS[k]) for k, v in values.items()}
            report = [f"{k}: {v:.6g} {E2E_UNITS[k]}" for k, v in values.items()]
            # the wall-clock figures: reported, not bounded (see README)
            report.append(f"wall: events_per_s={out['events_per_s']:.6g} "
                          f"lag_p50_ms={wl.pct(lags_ms, 50):.6g} "
                          f"lag_p90_ms={wl.pct(lags_ms, 90):.6g} "
                          f"state_read_s={wl.median(out['state_read_s']):.6g}")
            report.append(f"samples: apply={len(out['apply_s'])} lags={len(lags_ms)} "
                          f"reads={len(out['state_read_s'])} "
                          f"late_ms_max={out.get('late_ms_max', 0.0):.1f}")
            report.append("apply_s: " + " ".join(f"{x:.2f}" for x in out["apply_s"])
                          + " | files per epoch: "
                          + " ".join(map(str, out.get("epoch_files", []))))
        print(f"perfbench: phases fixture={fixture_s:.1f}s setup={setup_wall:.1f}s "
              f"measure={measure_s:.1f}s gate={gate_s:.1f}s "
              f"{'overhead+scaling' if trace else 'report'}={time.perf_counter() - t:.1f}s",
              file=sys.stderr)
        return {"correct": bool(verdict["ok"]), "attempted": attempted,
                "failed": failed, "metrics": metrics, "report": report}
    finally:
        if spark is not None:
            try:
                spark.stop()
            except Py4JError:
                # a SIGTERM that interrupted a JVM call leaves the gateway
                # unusable; the JVM exits with this process either way
                pass


if __name__ == "__main__":
    sys.exit(main())
