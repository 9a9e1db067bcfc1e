"""Per-layer metrics of a traced run, from three sources: the benchmark's
spans around the engine's public calls (tracing.py), the engine's existing
``merge.STAGE_PROFILE`` hook, and Spark's status store (statusstore.py)."""

from __future__ import annotations

import glob
import json
import os
import time

import engine
import statusstore
import tracing
import workloads

MB = 2.0 ** 20


def _m(v, unit):
    return {"value": float(v), "unit": unit}


def per_layer(c, tracer, reader, profile, phase, session_s, fixture_s,
              failed_share):
    """Every per-layer metric of a traced run, plus report lines naming the
    three largest self-time consumers and the split of the largest
    table-write execution."""
    spec = c.spec
    recs = reader.records
    spans = tracer.spans
    summ = tracing.summarize(spans)
    selfs = tracing.self_times(spans)
    by_id = {s.sid: s for s in spans}
    wall = phase["wall"]
    epochs = len(tracer.named("apply_epoch"))
    lags_ms = [x * 1000.0 for x in c.out["lags_s"]]

    attr = {r["id"]: statusstore.attribute(r) for r in recs}
    groups = {g: sum(a["groups"][g] for a in attr.values()) for g in statusstore.GROUPS}
    target = {r["id"]: statusstore.write_target(r) or "" for r in recs}
    writes = [r for r in recs if os.path.join(c.table, "data") in target[r["id"]]]
    side = [r for r in recs
            if c.dead_dir in target[r["id"]] or c.metrics_dir in target[r["id"]]]

    log = spec["log"]
    rows_in = bytes_read = 0.0
    bc_s = bc_b = bhj_out = bhj_in = rows_written = 0.0
    for r in recs:
        nodes = r["nodes"]
        for n in nodes.values():
            if n.name.startswith("Scan") and log in n.desc:
                rows_in += statusstore.metric(r, n, "number of output rows")
                bytes_read += statusstore.metric(r, n, "size of files read")
            elif n.name == "BroadcastExchange":
                bc_s += sum(statusstore.metric(r, n, k) for k in
                            ("time to collect", "time to build", "time to broadcast"))
                bc_b += statusstore.metric(r, n, "data size")
            elif n.name == "BroadcastHashJoin" and n.cluster is not None:
                bhj_out += statusstore.metric(r, n, "number of output rows")
                bhj_in += max((statusstore.metric(r, nodes[i], "number of output rows")
                               for i in r["clusters"][n.cluster] if i != n.id),
                              default=0.0)
        if os.path.join(c.table, "data") in target[r["id"]]:
            for n in nodes.values():
                if n.name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
                    rows_written += statusstore.metric(r, n, "number of output rows")

    # event-log bytes and events the measured phase applied
    if c.name == "replay_dup":
        log_bytes = sum(os.path.getsize(p) for p in spec["all"]) * c.out["epochs"]
        applied_events = spec["events"] * c.out["epochs"]
    else:
        log_bytes, applied_events = spec["tail_bytes"], spec["events"]

    stage_run = sum(s["run_s"] for r in recs for s in r["stages"])
    stage_gc = sum(s["gc_s"] for r in recs for s in r["stages"])
    top_write = max(writes, key=lambda r: attr[r["id"]]["total_s"], default=None)
    wa = attr[top_write["id"]] if top_write else None
    skews = sorted(attr[r["id"]]["task_skew"] for r in writes)
    commit_top = [s for s in tracer.named("commit_files")
                  if s.parent is None or by_id[s.parent].name != "commit_files"]
    snaps = glob.glob(os.path.join(c.table, "_snapshots", "v*.json"))
    manifests = glob.glob(os.path.join(c.table, "_snapshots", "manifests", "*"))

    from openlogreplicator_spark.lake.table import LakeTable

    dirty = len(LakeTable.load(c.spark, c.table).dirty_buckets())
    over = sum(selfs[s.sid] for s in spans
               if s.name in ("run_available_now", "run_batch_replay"))

    m = {
        "session.start_s": _m(session_s, "s"),
        "loadgen.fixture_s": _m(fixture_s, "s"),
        "loadgen.late_ms_max": _m(c.out.get("late_ms_max", 0.0), "ms"),
        "pipeline.epochs": _m(epochs, "count"),
        "pipeline.events_per_s": _m(c.out["events_per_s"], "1/s"),
        "pipeline.lag_p50_ms": _m(workloads.pct(lags_ms, 50), "ms"),
        "pipeline.lag_p90_ms": _m(workloads.pct(lags_ms, 90), "ms"),
        "pipeline.apply_epoch_s": _m(tracer.total("apply_epoch"), "s"),
        "pipeline.trigger_overhead_s": _m(over, "s"),
        "pipeline.ddl_gate_s": _m(profile.get("ddl_gate", 0.0), "s"),
        "pipeline.sql_executions_per_epoch": _m(len(recs) / max(1, epochs), "count"),
        "pipeline.side_jobs_s": _m(sum(r["wall_s"] for r in side), "s"),
        "decode.scan_task_s": _m(groups["scan"], "s"),
        "decode.rows_in": _m(rows_in, "count"),
        "decode.input_passes": _m(bytes_read / log_bytes if log_bytes else 0.0, "ratio"),
        "lww.winner_agg_task_s": _m(groups["winner_agg"], "s"),
        "lww.agg_peak_mb": _m(max((a["agg_peak_b"] for a in attr.values()), default=0) / MB, "MB"),
        "lww.spill_mb": _m(sum(a["agg_spill_b"] for a in attr.values()) / MB, "MB"),
        "lww.broadcast_s": _m(bc_s, "s"),
        "lww.broadcast_mb": _m(bc_b / MB, "MB"),
        "lww.survivor_ratio": _m(bhj_out / bhj_in if bhj_in else 0.0, "ratio"),
        "lww.estimate_s": _m(tracer.total("choose_lww_strategy"), "s"),
        "merge.write_s": _m(profile.get("write", 0.0), "s"),
        "merge.footer_walk_s": _m(profile.get("footer_walk", 0.0), "s"),
        "merge.commit_s": _m(profile.get("commit", 0.0), "s"),
        "merge.compact_s": _m(profile.get("compact", 0.0), "s"),
        "merge.shuffle_write_mb": _m(sum(s["shuffle_write_b"] for r in writes
                                         for s in r["stages"]) / MB, "MB"),
        "merge.write_stage_task_s": _m(sum(attr[r["id"]]["write_stage_s"] for r in writes), "s"),
        "merge.write_amplification": _m(rows_written / applied_events if applied_events else 0.0,
                                        "ratio"),
        "merge.task_skew": _m(skews[len(skews) // 2] if skews else 0.0, "ratio"),
        "merge.read_state_s": _m(workloads.median(c.out["state_read_s"]), "s"),
        "merge.dirty_buckets_at_read": _m(dirty, "count"),
        "table.commit_files_s": _m(sum(s.end - s.start for s in commit_top), "s"),
        "table.load_s": _m(tracer.total("load"), "s"),
        "table.commit_retries": _m(tracer.nested_count("commit_files"), "count"),
        "table.snapshot_files": _m(len(snaps), "count"),
        "table.manifest_bytes": _m(sum(os.path.getsize(p) for p in manifests), "B"),
        "spark.task_busy_share": _m(stage_run / (wall * 4.0), "ratio"),
        "spark.gc_s": _m(stage_gc, "s"),
        "run.failed_share": _m(failed_share, "ratio"),
    }
    for g in statusstore.GROUPS:
        m[f"ops.{g}_task_s"] = _m(groups[g], "s")
    if wa:
        m["ops.write_exec_task_s"] = _m(wa["total_s"], "s")
        # named groups: every group but the unattributed ``other``
        named = {g: v for g, v in wa["groups"].items() if g != "other"}
        m["ops.write_exec_groups"] = _m(sum(1 for v in named.values() if v > 0), "count")
        m["ops.write_exec_named_share"] = _m(
            sum(named.values()) / wa["total_s"] if wa["total_s"] else 0.0, "ratio")
    else:
        m["ops.write_exec_task_s"] = _m(0.0, "s")
        m["ops.write_exec_groups"] = _m(0.0, "count")
        m["ops.write_exec_named_share"] = _m(0.0, "ratio")
    for name in [t.split(".")[-1].lstrip("_") for _, t in tracing.TRACED] + ["harvest"]:
        m[f"self.{name}_s"] = _m(summ.get(name, {}).get("self_s", 0.0), "s")

    # the harvest is the benchmark's own cost, not a layer of the engine
    ranked = sorted(((k, v) for k, v in summ.items() if k != "harvest"),
                    key=lambda kv: -kv[1]["self_s"])
    report = [f"attribution {c.name} (run {tracer.run_id}, measured wall {wall:.3f} s):"]
    for i, (name, row) in enumerate(ranked[:3], 1):
        report.append(f"  top{i} self time: {name} {row['self_s']:.3f} s "
                      f"({row['calls']} calls, total {row['total_s']:.3f} s)")
    if wa:
        parts = ", ".join(f"{g}={v:.3f}" for g, v in wa["groups"].items() if v > 0)
        report.append(f"  largest table-write execution: {wa['total_s']:.3f} s task time "
                      f"-> {parts}")
    report += [f"{k}: {v['value']:.6g} {v['unit']}" for k, v in m.items()]
    return m, report


def trace_overhead(c, rid) -> tuple[float, list[float]]:
    """Alternating untraced / traced replays of the workload's full log in the
    same JVM: (median traced ÷ median untraced time − 1, the untraced
    times)."""
    import statistics

    plain, traced = [], []
    reader = statusstore.StatusReader(c.spark)
    reader.mark()
    for i in range(6):
        if i % 2:
            tr = tracing.Tracer(rid + "-overhead", on_epoch_end=reader.harvest)
            tr.install()
            try:
                traced.append(engine.replay(c.spark, c.spec["scale"], c.work)[0])
            finally:
                tr.uninstall()
        else:
            plain.append(engine.replay(c.spark, c.spec["scale"], c.work)[0])
    return statistics.median(traced) / statistics.median(plain) - 1.0, plain


def save_trace(c, tracer, metrics, report, rid) -> str:
    """Spans and metrics to ``<checkout>/.perfbench/traces/<run id>.json``."""
    d = os.path.join(engine.CHECKOUT, ".perfbench", "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{rid}.json")
    with open(path, "w") as f:
        json.dump({"run_id": rid, "workload": c.name, "seed": c.seed,
                   "written_at": time.time(),
                   "spans": [s.as_dict() for s in tracer.spans],
                   "summary": tracing.summarize(tracer.spans),
                   "metrics": metrics, "report": report}, f, indent=1)
    report.append(f"trace written to {os.path.relpath(path, engine.CHECKOUT)}")
    return path
