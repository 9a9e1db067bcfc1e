"""Non-file sources + schema-evolution edge cases."""

import os
import time

import pytest
from pyspark.sql import functions as F

from openlogreplicator_spark.lake.table import LakeTable
from openlogreplicator_spark.operators.decode import EVENTS_DDL
from openlogreplicator_spark.streaming.pipeline import CdcPipeline
from openlogreplicator_spark.streaming.sources import (
    kafka_events,
    rate_micro_batch_events,
)


def test_rate_source_feeds_pipeline(spark, tmp_path):
    """S4 online-tail stand-in: a non-file deterministic stream applied by
    the same foreachBatch epoch loop."""
    p = CdcPipeline(spark, events_path="unused", table_path=str(tmp_path / "t"),
                    checkpoint_path=str(tmp_path / "c"))
    stream = rate_micro_batch_events(spark, rows_per_batch=500)
    q = (
        stream.writeStream.foreachBatch(p.apply_epoch)
        .option("checkpointLocation", p.checkpoint_path)
        .trigger(processingTime="1 second")
        .start()
    )
    deadline = time.time() + 60
    while time.time() < deadline:
        t_exists = LakeTable.exists(p.table_path)
        if t_exists and LakeTable.load(spark, p.table_path).last_epoch()[0] >= 2:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()
    state = p.target_state()
    n = state.count()
    assert n > 0
    assert state.groupBy("url").count().filter("count > 1").count() == 0
    # deterministic derivation: text matches the formula
    row = state.filter(F.col("_op") != "d").first()
    assert row["text"].startswith("page ")


def test_kafka_roundtrip_mapping(spark, events_dir):
    """JSON message output maps back into the events schema (reference
    reproduction-case round-trip)."""
    from openlogreplicator_spark.sinks.builders import build_json_messages, kafka_frame

    ev = spark.read.schema(EVENTS_DDL).parquet(events_dir).limit(200)
    frame = kafka_frame(build_json_messages(ev), topic="t")
    back = kafka_events(frame)
    got = {r["seq"]: r for r in back.collect()}
    src = {r["seq"]: r for r in ev.filter(F.col("op") != "ddl").collect()}
    assert set(got) == set(src)
    for s, r in got.items():
        assert r["op"] == src[s]["op"]
        assert r["url"] == src[s]["url"]
        if r["op"] != "d":
            assert r["text"] == src[s]["text"]
        assert r["warc_ts"] == src[s]["warc_ts"]


def test_late_pre_evolution_rows_after_evolution(spark, tmp_path):
    """A v1 row arriving after the table evolved to v4 must merge under the
    final schema with a null evolved column (per-version extras resolution)."""
    from openlogreplicator_spark.operators.decode import EVENTS_DDL as DDL

    e1 = spark.createDataFrame(
        [
            (0, "2020-01-01 00:00:00", "c", "u1", None, "t1", "en", None,
             None, 1, False, None, None, None, None),
            (1, "2020-01-01 00:01:00", "ddl", None, None, None, None, None,
             None, 2, False, "add_column", "fetch_status", None, "int"),
            (2, "2020-01-01 00:02:00", "ddl", None, None, None, None, None,
             None, 3, False, "widen_type", "fetch_status", None, "long"),
            (3, "2020-01-01 00:03:00", "ddl", None, None, None, None, None,
             None, 4, False, "rename_column", "fetch_status", "http_status", None),
            (4, "2020-01-01 00:04:00", "u", "u2", None, "t2", "en", None,
             {"http_status": "200"}, 4, False, None, None, None, None),
        ],
        DDL.replace("warc_ts timestamp", "warc_ts string"),
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    p = CdcPipeline(spark, "unused", str(tmp_path / "t"), str(tmp_path / "c"))
    p.apply_epoch(e1, 0)
    # late v1 event for a NEW key, after evolution
    e2 = spark.createDataFrame(
        [(5, "2020-01-01 00:00:30", "c", "u3", None, "t3", "en", None,
          None, 1, False, None, None, None, None)],
        DDL.replace("warc_ts timestamp", "warc_ts string"),
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    p.apply_epoch(e2, 1)
    state = {r["url"]: r for r in p.target_state().collect()}
    assert state["u2"]["http_status"] == 200
    assert state["u3"]["http_status"] is None
    assert state["u3"]["text"] == "t3"
    t = LakeTable.load(spark, str(tmp_path / "t"))
    assert t.current_schema_ver == 4


def test_base_payload_column_rename_survives_next_epoch(spark, tmp_path):
    """Renaming a v1 base payload column (lang -> language) must not break the
    next epoch: project_dml resolves base columns by field id, not by their
    current name (ADVICE r01)."""
    from openlogreplicator_spark.operators.decode import EVENTS_DDL as DDL

    def ev(rows):
        return spark.createDataFrame(
            rows, DDL.replace("warc_ts timestamp", "warc_ts string")
        ).withColumn("warc_ts", F.to_timestamp("warc_ts"))

    p = CdcPipeline(spark, "unused", str(tmp_path / "t"), str(tmp_path / "c"))
    p.apply_epoch(ev([
        (0, "2020-01-01 00:00:00", "c", "u1", None, "t1", "en", None,
         None, 1, False, None, None, None, None),
        (1, "2020-01-01 00:01:00", "ddl", None, None, None, None, None,
         None, 2, False, "rename_column", "lang", "language", None),
    ]), 0)
    # epoch after the rename: base columns still project from the log names
    p.apply_epoch(ev([
        (2, "2020-01-01 00:02:00", "c", "u2", None, "t2", "de", None,
         None, 2, False, None, None, None, None),
    ]), 1)
    state = {r["url"]: r for r in p.target_state().collect()}
    assert state["u1"]["language"] == "en"
    assert state["u2"]["language"] == "de"


def test_null_op_rows_are_dead_lettered_not_dropped(spark, tmp_path):
    """op IS NULL must route to the dead-letter table (ADVICE r01: with
    three-valued logic `op != 'ddl'` was NULL and the row vanished)."""
    from openlogreplicator_spark.operators.decode import EVENTS_DDL as DDL

    rows = [
        (0, "2020-01-01 00:00:00", "c", "ok", None, "t", "en", None, None,
         1, False, None, None, None, None),
        (1, "2020-01-01 00:01:00", None, "nullop", None, "t", "en", None,
         None, 1, False, None, None, None, None),
    ]
    df = spark.createDataFrame(
        rows, DDL.replace("warc_ts timestamp", "warc_ts string")
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    p = CdcPipeline(spark, "unused", str(tmp_path / "t"), str(tmp_path / "c"),
                    dead_letter_path=str(tmp_path / "dead"))
    p.apply_epoch(df, 0)
    dead = spark.read.parquet(str(tmp_path / "dead"))
    assert dead.count() == 1
    assert dead.collect()[0]["url"] == "nullop"
    # re-delivery of the epoch rewrites (not duplicates) the side output
    p.apply_epoch(df, 0)
    assert spark.read.parquet(str(tmp_path / "dead")).count() == 1


def test_ddl_idempotent_on_redelivery(spark, tmp_path):
    """Re-delivered epoch containing DDL must not re-evolve (ver guard)."""
    from openlogreplicator_spark.operators.decode import EVENTS_DDL as DDL

    rows = [
        (0, "2020-01-01 00:00:00", "c", "u1", None, "t1", "en", None,
         None, 1, False, None, None, None, None),
        (1, "2020-01-01 00:01:00", "ddl", None, None, None, None, None,
         None, 2, False, "add_column", "fetch_status", None, "int"),
    ]
    df = spark.createDataFrame(
        rows, DDL.replace("warc_ts timestamp", "warc_ts string")
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    p = CdcPipeline(spark, "unused", str(tmp_path / "t"), str(tmp_path / "c"))
    p.apply_epoch(df, 0)
    v = LakeTable.load(spark, str(tmp_path / "t")).snap["version"]
    p.apply_epoch(df, 0)  # re-delivery
    t = LakeTable.load(spark, str(tmp_path / "t"))
    assert t.snap["version"] == v
    assert t.current_schema_ver == 2


def test_parse_ddl_sql_forms():
    from openlogreplicator_spark.operators.decode import parse_ddl_sql

    assert parse_ddl_sql("ALTER TABLE pages ADD COLUMN fetch_status int") == \
        ("add_column", "fetch_status", None, "int")
    assert parse_ddl_sql("alter table pages add retry_count bigint;") == \
        ("add_column", "retry_count", None, "bigint")
    assert parse_ddl_sql("ALTER TABLE pages RENAME COLUMN fetch_status TO http_status") == \
        ("rename_column", "fetch_status", "http_status", None)
    assert parse_ddl_sql("ALTER TABLE pages MODIFY (fetch_status long)") == \
        ("widen_type", "fetch_status", None, "long")
    assert parse_ddl_sql("ALTER TABLE pages ALTER COLUMN fetch_status SET DATA TYPE long") == \
        ("widen_type", "fetch_status", None, "long")
    assert parse_ddl_sql("ALTER TABLE pages DROP COLUMN fetch_status") == \
        ("drop_column", "fetch_status", None, None)
    assert parse_ddl_sql("alter table pages drop retry_count;") == \
        ("drop_column", "retry_count", None, None)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_ddl_sql("DROP TABLE pages")
    with _pytest.raises(ValueError):
        parse_ddl_sql("ALTER TABLE pages DROP CONSTRAINT ck_status")


def test_raw_sql_ddl_rows_drive_evolution(spark, tmp_path):
    """A ddl event carrying raw SQL in `text` (no structured fields) evolves
    the dictionary exactly like the structured form (reference OpCode1801)."""
    from openlogreplicator_spark.operators.decode import EVENTS_DDL as DDL

    rows = [
        (0, "2020-01-01 00:00:00", "c", "u1", None, "t1", "en", None,
         None, 1, False, None, None, None, None),
        (1, "2020-01-01 00:01:00", "ddl", None, None,
         "ALTER TABLE pages ADD COLUMN fetch_status int", None, None,
         None, 2, False, None, None, None, None),
        (2, "2020-01-01 00:02:00", "u", "u1", None, "t2", "en", None,
         {"fetch_status": "404"}, 2, False, None, None, None, None),
    ]
    df = spark.createDataFrame(
        rows, DDL.replace("warc_ts timestamp", "warc_ts string")
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    p = CdcPipeline(spark, "unused", str(tmp_path / "t"), str(tmp_path / "c"))
    p.apply_epoch(df, 0)
    t = LakeTable.load(spark, str(tmp_path / "t"))
    assert t.current_schema_ver == 2
    state = p.target_state().collect()[0]
    assert state["fetch_status"] == 404 and state["text"] == "t2"


def test_jsonl_source_replays_identically(spark, events_dir, tmp_path):
    """S3 second archived-log format: the parquet log exported to JSON-lines
    (base64 binaries, epoch-micro times) and replayed through the SAME
    pipeline yields a bit-identical final state — source format is an
    interchange detail, never a semantics change."""
    from openlogreplicator_spark.streaming.sources import (
        jsonl_events,
        write_events_jsonl,
    )

    pq_events = spark.read.schema(EVENTS_DDL).parquet(events_dir)
    jl_dir = str(tmp_path / "jsonl")
    write_events_jsonl(pq_events, jl_dir)

    p1 = CdcPipeline(spark, events_dir, str(tmp_path / "t1"), str(tmp_path / "c1"))
    p1.run_batch_replay()
    p2 = CdcPipeline(spark, jl_dir, str(tmp_path / "t2"), str(tmp_path / "c2"),
                     source_format="jsonl")
    p2.run_batch_replay()

    # streaming flavor: checkpointed micro-batches over the SAME jsonl dir
    # (exercises the jsonl epoch re-read path too)
    p3 = CdcPipeline(spark, jl_dir, str(tmp_path / "t3"), str(tmp_path / "c3"),
                     source_format="jsonl")
    p3.run_available_now(max_files_per_trigger=2)

    cols = ["url", "warc_ts", "_seq", "text", "lang", "http_status"]
    a = sorted(map(tuple, p1.target_state().select(*cols).collect()))
    b = sorted(map(tuple, p2.target_state().select(*cols).collect()))
    c = sorted(map(tuple, p3.target_state().select(*cols).collect()))
    assert a == b == c and len(a) > 0

    # html bytes survive the base64 round-trip exactly
    orig = {r.seq: r.html for r in pq_events.select("seq", "html").collect()}
    back = {r.seq: r.html for r in jsonl_events(spark, jl_dir)
            .select("seq", "html").collect()}
    assert back == orig

    # the streaming flavor exposes the identical schema
    s = jsonl_events(spark, jl_dir, streaming=True)
    assert s.isStreaming and s.schema == jsonl_events(spark, jl_dir).schema


def test_unreachable_schema_version_is_refused(spark, events_dir, events_pdf, tmp_path):
    """An epoch the dictionary cannot reach is refused before any data
    commit: committed DML above the dictionary with no DDL evolving it, and a
    DDL chain with a gap. The last fixture file holds the v4 DDL and DML at
    v3/v4, so on a fresh (v1) table both shapes occur."""
    from openlogreplicator_spark.replayer import replay
    from openlogreplicator_spark.streaming.pipeline import SchemaVersionError

    files = sorted(
        os.path.join(events_dir, f) for f in os.listdir(events_dir)
        if f.endswith(".parquet")
    )
    last = spark.read.schema(EVENTS_DDL).parquet(files[-1])
    assert last.filter(F.col("op") == "ddl").agg(F.min("schema_ver")).first()[0] > 2

    def fresh(name):
        return CdcPipeline(spark, events_dir, str(tmp_path / name / "t"),
                           str(tmp_path / name / "c"), n_buckets=4)

    for name, df in (("dml", last.filter(F.col("op") != "ddl")), ("gap", last)):
        p = fresh(name)
        with pytest.raises(SchemaVersionError):
            p.apply_epoch(df, 0)
        t = LakeTable.load(spark, p.table_path)
        assert t.current_schema_ver == 1
        assert t.last_epoch()[0] < 0
        assert p.target_state().count() == 0

    p = fresh("ordered")
    for i, f in enumerate(files):
        p.apply_epoch(spark.read.schema(EVENTS_DDL).parquet(f), i)
    got = p.target_state().toPandas().sort_values("url").reset_index(drop=True)
    want = replay(events_pdf)
    assert list(got["url"]) == list(want["url"])
    assert list(got["text"]) == list(want["text"])
    assert got["http_status"].astype("Int64").equals(
        want["http_status"].astype("Int64")
    )
