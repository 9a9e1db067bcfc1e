"""Output builders (F12), schemaless mode, append-time filters + online
config reload (P10-P12/T8), dead-letter routing (M6), and streaming
watermarked windows (T1/T6)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from openlogreplicator_spark.operators.decode import (
    EVENTS_DDL,
    apply_log_filters,
    schemaless_projection,
)
from openlogreplicator_spark.operators.lww import lww_compact
from openlogreplicator_spark.sinks.builders import (
    build_json_messages,
    kafka_frame,
    write_file_sink,
)
from openlogreplicator_spark.streaming.pipeline import CdcPipeline


@pytest.fixture(scope="module")
def events_df(spark, events_dir):
    df = spark.read.schema(EVENTS_DDL).parquet(events_dir).cache()
    yield df
    # unpersist so later plan-assertion tests see a parquet scan, not an
    # InMemoryTableScan served from this module's cache
    df.unpersist()


def test_json_messages_shape(spark, events_df):
    msgs = build_json_messages(events_df.limit(500))
    rows = msgs.collect()
    assert rows and all(r["message"] for r in rows)
    doc = json.loads(rows[0]["message"])
    assert set(doc) <= {"scn", "tm", "seq", "payload"}
    p = doc["payload"][0]
    assert p["op"] in ("c", "u", "d")
    assert p["schema"] == {"owner": "CC", "table": "PAGES"}
    if p["op"] != "d":
        assert "after" in p and p["after"]["url"] == p["rid"]
    # scn == warc_ts in micros (the LSN mapping)
    src = events_df.filter(F.col("seq") == doc["seq"]).collect()[0]
    assert doc["scn"] == int(src["warc_ts"].timestamp() * 1_000_000)


def test_file_sink_rotation(spark, events_df, tmp_path):
    msgs = build_json_messages(events_df.limit(1000)).coalesce(1)
    out = str(tmp_path / "sink")
    write_file_sink(msgs, out, max_records_per_file=200)
    files = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(files) >= 5  # 1000 rows / 200 per file
    total = spark.read.text(out).count()
    assert total == msgs.count()


def test_kafka_frame_schema(spark, events_df):
    fr = kafka_frame(build_json_messages(events_df.limit(10)), topic="cc.pages")
    assert dict(fr.dtypes) == {"key": "binary", "value": "binary", "topic": "string"}
    r = fr.collect()[0]
    assert json.loads(bytes(r["value"]).decode())["payload"]


def test_schemaless_projection_and_lww(spark, events_df):
    sl = schemaless_projection(events_df.filter(F.col("op") != "ddl"))
    assert dict(sl.dtypes)["payload"] == "map<string,binary>"
    row = sl.filter(F.col("_op") == "c").first()
    keys = set(row["payload"].keys())
    assert "html" in keys and "text" in keys
    # LWW compaction works unchanged over the opaque payload
    compacted = lww_compact(sl, "url", ("warc_ts", "_seq"))
    assert compacted.groupBy("url").count().filter("count > 1").count() == 0


def test_apply_log_filters(spark, events_df):
    some_urls = [r["url"] for r in
                 events_df.filter(F.col("url").isNotNull()).select("url").distinct().limit(3).collect()]
    out = apply_log_filters(events_df, url_rlike=r"^https://site1\d\.example/.*",
                            skip_urls=some_urls)
    kept = out.filter(F.col("op") != "ddl").select("url").distinct().collect()
    assert kept
    for r in kept:
        assert r["url"].startswith("https://site1")
        assert r["url"] not in some_urls
    # ddl control rows always survive filtering
    assert out.filter(F.col("op") == "ddl").count() == \
        events_df.filter(F.col("op") == "ddl").count()


def test_online_filter_reload_and_dead_letter(spark, events_dir, tmp_path):
    cfg_path = str(tmp_path / "filters.json")
    with open(cfg_path, "w") as f:
        json.dump({"url_rlike": "^https://site[0-4]\\d?\\.example/.*"}, f)
    p = CdcPipeline(
        spark, events_dir, str(tmp_path / "t"), str(tmp_path / "c"),
        filter_config_path=cfg_path,
        max_html_bytes=900,
        dead_letter_path=str(tmp_path / "dead"),
    )
    p.run_batch_replay()
    state = p.target_state().toPandas()
    assert len(state) > 0
    assert all(u.startswith("https://site") for u in state["url"])
    # everything merged respected the filter
    import re
    pat = re.compile(r"^https://site[0-4]\d?\.example/.*")
    assert all(pat.match(u) for u in state["url"])
    # oversized html routed to dead letter, not merged
    dead = spark.read.parquet(str(tmp_path / "dead"))
    assert dead.count() > 0
    assert dead.filter(F.length("html") <= 900).count() == 0
    assert (state["html"].map(lambda b: len(bytes(b))) <= 900).all()


def test_malformed_events_routed_to_dead_letter(spark, tmp_path):
    from openlogreplicator_spark.operators.decode import EVENTS_DDL as DDL

    rows = [
        (0, "2020-01-01 00:00:00", "c", "ok1", None, "t", "en", None, None,
         1, False, None, None, None, None),
        (1, "2020-01-01 00:01:00", "u", None, None, "t", "en", None, None,
         1, False, None, None, None, None),   # null url -> malformed
        (2, None, "c", "ok2", None, "t", "en", None, None,
         1, False, None, None, None, None),   # null warc_ts -> malformed
    ]
    df = spark.createDataFrame(
        rows, DDL.replace("warc_ts timestamp", "warc_ts string")
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    p = CdcPipeline(spark, "unused", str(tmp_path / "t"), str(tmp_path / "c"),
                    dead_letter_path=str(tmp_path / "dead"))
    p.apply_epoch(df, 0)
    state = {r["url"] for r in p.target_state().collect()}
    assert state == {"ok1"}
    dead = spark.read.parquet(str(tmp_path / "dead"))
    assert dead.count() == 2


def test_check_constraint_dead_letters_and_falls_back(spark, tmp_path):
    """CHECK constraints: a c/u row whose predicate IS FALSE is quarantined
    with reason constraint:<name> and excluded from the merge — LWW falls
    back to the key's newest CONFORMING version; a NULL predicate result
    passes (SQL-standard CHECK); deletes and DDL rows are exempt."""
    from openlogreplicator_spark.operators.decode import EVENTS_DDL as DDL

    rows = [
        # u1: good v1, violating v2 -> state keeps v1
        (0, "2020-01-01 00:00:00", "c", "u1", None, "good", "en", None, None,
         1, False, None, None, None, None),
        (1, "2020-01-01 00:01:00", "u", "u1", None, "bad", "xx", None, None,
         1, False, None, None, None, None),
        # u2: only version violates -> key absent entirely
        (2, "2020-01-01 00:02:00", "c", "u2", None, "bad", "xx", None, None,
         1, False, None, None, None, None),
        # u3: NULL lang -> predicate NULL -> passes (SQL CHECK semantics)
        (3, "2020-01-01 00:03:00", "c", "u3", None, "nulllang", None, None,
         None, 1, False, None, None, None, None),
        # u4: created ok then deleted — the delete is exempt and applies
        (4, "2020-01-01 00:04:00", "c", "u4", None, "t", "en", None, None,
         1, False, None, None, None, None),
        (5, "2020-01-01 00:05:00", "d", "u4", None, None, "xx", None, None,
         1, False, None, None, None, None),
    ]
    df = spark.createDataFrame(
        rows, DDL.replace("warc_ts timestamp", "warc_ts string")
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    p = CdcPipeline(spark, "unused", str(tmp_path / "t"), str(tmp_path / "c"),
                    dead_letter_path=str(tmp_path / "dead"),
                    constraints={"lang_ok": "lang <> 'xx'"})
    p.apply_epoch(df, 0)
    state = {r["url"]: r["text"] for r in p.target_state().collect()}
    assert state == {"u1": "good", "u3": "nulllang"}
    dead = spark.read.parquet(str(tmp_path / "dead"))
    assert dead.count() == 2
    assert {r["_dl_reason"] for r in dead.collect()} == {"constraint:lang_ok"}
    assert {r["url"] for r in dead.collect()} == {"u1", "u2"}


def test_max_bytes_per_trigger(spark, events_dir, tmp_path):
    p = CdcPipeline(spark, events_dir, str(tmp_path / "t"), str(tmp_path / "c"))
    p.run_available_now(max_bytes_per_trigger=str(1024 * 1024))
    from openlogreplicator_spark.lake.table import LakeTable

    t = LakeTable.load(spark, str(tmp_path / "t"))
    assert t.last_epoch()[0] >= 1  # several byte-capped epochs
    assert p.target_state().count() > 0


def test_protobuf_messages_wire_format(spark, events_df):
    """BuilderProtobuf twin (F12): RedoResponse wire bytes parse back with an
    independent minimal proto3 reader and carry the right fields."""
    from openlogreplicator_spark.sinks.builders import build_protobuf_messages

    def read_fields(buf):
        """independent proto3 tag walker -> {field_num: [raw values]}"""
        fields, i = {}, 0
        while i < len(buf):
            key, shift = 0, 0
            while True:
                b = buf[i]; i += 1
                key |= (b & 0x7F) << shift; shift += 7
                if not b & 0x80:
                    break
            fnum, wt = key >> 3, key & 7
            if wt == 0:
                v, shift = 0, 0
                while True:
                    b = buf[i]; i += 1
                    v |= (b & 0x7F) << shift; shift += 7
                    if not b & 0x80:
                        break
            elif wt == 2:
                ln, shift = 0, 0
                while True:
                    b = buf[i]; i += 1
                    ln |= (b & 0x7F) << shift; shift += 7
                    if not b & 0x80:
                        break
                v = buf[i:i + ln]; i += ln
            else:
                raise AssertionError(f"unexpected wire type {wt}")
            fields.setdefault(fnum, []).append(v)
        return fields

    src = events_df.filter(F.col("op").isin("c", "u", "d")).limit(50)
    rows = {r["seq"]: r for r in src.collect()}
    got = build_protobuf_messages(src).collect()
    assert len(got) == len(rows)
    for r in got:
        msg = read_fields(bytes(r["message"]))
        assert msg[1] == [5]  # code = PAYLOAD
        ev = rows[r["seq"]]
        import calendar
        assert msg[2][0] == calendar.timegm(ev["warc_ts"].timetuple()) * 1_000_000 \
            + ev["warc_ts"].microsecond  # scn = unix micros
        assert msg[7] == [ev["seq"]]  # xidn
        payload = read_fields(msg[9][0])
        op_enum = {"c": 2, "u": 3, "d": 4}[ev["op"]]
        assert payload[1] == [op_enum]
        assert payload[3][0].decode() == ev["url"]  # rid
        schema = read_fields(payload[2][0])
        assert schema[1][0] == b"CC" and schema[2][0] == b"PAGES"
        if ev["op"] != "d":
            names = [read_fields(v)[1][0].decode() for v in payload.get(5, [])]
            assert "url" in names and "text" in names
        else:
            assert 5 not in payload  # no after-image on delete


def test_protobuf_known_golden_bytes():
    """Pin the exact wire bytes of a tiny message (independent hand encoding)."""
    from openlogreplicator_spark.sinks.builders import encode_redo_response

    got = encode_redo_response(
        "c", 7, "T", 1, "u", [("a", "x")], [], owner="O", table="N", db="D")
    expected = bytes([
        0x08, 0x05,              # code = PAYLOAD
        0x10, 0x07,              # scn = 7
        0x2A, 0x01, ord("T"),    # tms = "T"
        0x38, 0x01,              # xidn = 1
        0x42, 0x01, ord("D"),    # db = "D"
        0x4A, 0x17,              # payload, 23 bytes
        0x08, 0x02,              # op = INSERT
        0x12, 0x06, 0x0A, 0x01, ord("O"), 0x12, 0x01, ord("N"),  # schema
        0x1A, 0x01, ord("u"),    # rid = "u"
        0x2A, 0x06, 0x0A, 0x01, ord("a"), 0x2A, 0x01, ord("x"),  # after Value
        0x38, 0x01,              # seq = 1
    ])
    assert got == expected, got.hex()


def test_dead_letter_fixture_state_and_idempotence(spark, tmp_path):
    """The replay_deadletter fixture end-to-end: healthy 5th-epoch rows
    land in the state, every poison row is excluded (quarantined, not
    applied), and re-delivering the poison epoch leaves the quarantine
    table unchanged (per-epoch overwrite idempotence)."""
    import glob

    from openlogreplicator_spark.operators.decode import EVENTS_DDL
    from openlogreplicator_spark.queries import (
        _DL_MAX_HTML,
        _ensure_deadletter_events,
    )

    ev = _ensure_deadletter_events()
    files = sorted(glob.glob(os.path.join(ev, "*.parquet")))
    p = CdcPipeline(
        spark, ev, str(tmp_path / "t"), str(tmp_path / "c"),
        max_html_bytes=_DL_MAX_HTML,
        dead_letter_path=str(tmp_path / "dead"),
    )
    for i, f in enumerate(files):
        p.apply_epoch(spark.read.schema(EVENTS_DDL).parquet(f), epoch_id=i)
    state = {r["url"] for r in p.target_state().select("url").collect()}
    assert {"https://dl.example/good-1", "https://dl.example/good-2"} <= state
    for poison in ("https://dl.example/oversized", "https://dl.example/null-ts",
                   "https://dl.example/null-op"):
        assert poison not in state
    dead = spark.read.parquet(str(tmp_path / "dead"))
    n_dead = dead.count()
    assert n_dead == 4, n_dead
    reasons = {r["_dl_reason"] for r in dead.collect()}
    assert reasons == {"malformed", "oversized"}
    # idempotent re-delivery of the poison epoch: a FRESH pipeline (the
    # finalized-epoch early return must not swallow the re-run — this is
    # the checkpoint-replay shape) sharing the dead-letter dir re-executes
    # the side write; the per-epoch overwrite keeps the count flat
    p2 = CdcPipeline(
        spark, ev, str(tmp_path / "t2"), str(tmp_path / "c2"),
        max_html_bytes=_DL_MAX_HTML,
        dead_letter_path=str(tmp_path / "dead"),
    )
    p2.apply_epoch(
        spark.read.schema(EVENTS_DDL).parquet(files[-1]),
        epoch_id=len(files) - 1,
    )
    assert spark.read.parquet(str(tmp_path / "dead")).count() == n_dead


def _dml_file(src: str, dst: str, null_col: str | None = None) -> int:
    """Write the DDL-free, NULL-free rows of ``src`` to ``dst`` (pyarrow, so
    the footers carry null counts), with ``null_col`` NULLed on the first two
    rows when given. Returns the row count."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tb = pq.read_table(src)
    ok = pc.not_equal(tb["op"], "ddl")
    for c in ("url", "warc_ts", "op"):
        ok = pc.and_(ok, pc.is_valid(tb[c]))
    tb = tb.filter(pc.fill_null(ok, False))
    if null_col is not None:
        col = tb[null_col].to_pylist()
        col[0] = col[1] = None
        i = tb.schema.get_field_index(null_col)
        tb = tb.set_column(i, null_col, pa.array(col, tb.schema.field(i).type))
    pq.write_table(tb, dst)
    return tb.num_rows


def test_dead_letter_gate_skips_the_job_only_when_footers_prove_clean(
    spark, events_dir, tmp_path
):
    """With only the malformed check configured, an epoch whose footers
    count no NULL url/warc_ts/op gets a zero-row dead-letter directory
    written on the driver (Spark's job output would carry ``_SUCCESS``),
    whose Spark schema equals that of a job-written one. A NULL url or op
    still goes through the job with reason ``malformed``; max_html_bytes or
    a constraint forces the job even on a clean epoch."""
    import glob as _glob

    files = sorted(_glob.glob(os.path.join(events_dir, "*.parquet")))
    src = tmp_path / "src"
    src.mkdir()
    clean = str(src / "clean.parquet")
    _dml_file(files[0], clean)
    null_url = str(src / "null_url.parquet")
    _dml_file(files[1], null_url, "url")
    null_op = str(src / "null_op.parquet")
    _dml_file(files[2], null_op, "op")

    def run(dead, epochs, **kw):
        p = CdcPipeline(spark, "unused", str(dead) + "_t", str(dead) + "_c",
                        dead_letter_path=str(dead), **kw)
        for i, f in enumerate(epochs):
            p.apply_epoch(spark.read.schema(EVENTS_DDL).parquet(f), i)

    def epoch_dir(dead, i):
        return os.path.join(str(dead), f"epoch_id={i}")

    dead = tmp_path / "dead"
    run(dead, [clean, null_url, null_op])
    assert os.listdir(epoch_dir(dead, 0)) == ["part-00000.parquet"]
    assert "_SUCCESS" in os.listdir(epoch_dir(dead, 1))
    assert "_SUCCESS" in os.listdir(epoch_dir(dead, 2))
    gated = spark.read.parquet(epoch_dir(dead, 0))
    assert gated.count() == 0
    assert gated.schema == spark.read.parquet(epoch_dir(dead, 1)).schema
    rows = spark.read.parquet(str(dead)).collect()
    assert sorted((r["epoch_id"], r["_dl_reason"]) for r in rows) == [
        (1, "malformed"), (1, "malformed"), (2, "malformed"), (2, "malformed")
    ]
    assert all(r["url"] is None for r in rows if r["epoch_id"] == 1)
    assert all(r["op"] is None for r in rows if r["epoch_id"] == 2)

    for name, kw in (("oversized", {"max_html_bytes": 10**9}),
                     ("constraint", {"constraints": {"any": "true"}})):
        forced = tmp_path / f"dead_{name}"
        run(forced, [clean], **kw)
        assert "_SUCCESS" in os.listdir(epoch_dir(forced, 0))
        assert spark.read.parquet(epoch_dir(forced, 0)).count() == 0
