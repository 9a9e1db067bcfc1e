"""End-to-end golden tests (SURVEY.md §5): the Spark engine's final target
state must equal the pure-pandas reference replayer, with byte-identical
`text` per url — across batch replay, streaming replay, kill/resume, and
re-delivered epochs."""

import glob
import os
import shutil

import pandas as pd
import pytest

from openlogreplicator_spark.lake.table import LakeTable
from openlogreplicator_spark.replayer import replay
from openlogreplicator_spark.streaming.pipeline import CdcPipeline


def _golden(events_pdf) -> pd.DataFrame:
    return replay(events_pdf)


def _spark_state(pipeline) -> pd.DataFrame:
    pdf = pipeline.target_state().toPandas()
    pdf = pdf.sort_values("url", kind="stable").reset_index(drop=True)
    return pdf


def _assert_matches_golden(spark_pdf: pd.DataFrame, golden: pd.DataFrame):
    assert len(spark_pdf) == len(golden)
    assert list(spark_pdf["url"]) == list(golden["url"])
    # byte-identical text per url — the north-rule invariant
    for got, want in zip(spark_pdf["text"], golden["text"]):
        assert got == want and got.encode() == want.encode()
    assert [bytes(h) for h in spark_pdf["html"]] == [bytes(h) for h in golden["html"]]
    assert list(spark_pdf["lang"]) == list(golden["lang"])
    got_ts = pd.to_datetime(spark_pdf["warc_ts"], utc=True)
    want_ts = pd.to_datetime(golden["warc_ts"], utc=True)
    assert (got_ts.values == want_ts.values).all()
    got_status = spark_pdf["http_status"].astype("Int64")
    assert got_status.equals(golden["http_status"].astype("Int64"))


@pytest.fixture()
def pipe_dirs(tmp_path):
    return {
        "table": str(tmp_path / "target"),
        "ckpt": str(tmp_path / "ckpt"),
        "metrics": str(tmp_path / "metrics"),
    }


def test_batch_replay_matches_golden(spark, events_dir, events_pdf, pipe_dirs):
    p = CdcPipeline(spark, events_dir, pipe_dirs["table"], pipe_dirs["ckpt"],
                    metrics_path=pipe_dirs["metrics"])
    p.run_batch_replay()
    state = _spark_state(p)
    _assert_matches_golden(state, _golden(events_pdf))
    # schema evolved to v4 with a widened, renamed column
    t = LakeTable.load(spark, pipe_dirs["table"])
    assert t.current_schema_ver == 4
    assert dict(p.target_state().dtypes)["http_status"] == "bigint"


def test_streaming_replay_matches_golden(spark, events_dir, events_pdf, pipe_dirs):
    p = CdcPipeline(spark, events_dir, pipe_dirs["table"], pipe_dirs["ckpt"],
                    metrics_path=pipe_dirs["metrics"])
    p.run_available_now(max_files_per_trigger=1)
    _assert_matches_golden(_spark_state(p), _golden(events_pdf))
    # lineage side table: one run, >= one row per epoch, epochs cover all files
    m = spark.read.parquet(pipe_dirs["metrics"]).toPandas()
    n_files = len(glob.glob(os.path.join(events_dir, "*.parquet")))
    assert m["epoch_id"].nunique() == n_files
    assert m["events_in"].sum() == len(events_pdf)
    assert (m["events_applied"] > 0).all() and (m["wall_ms"] > 0).all()
    assert {"events_deduped", "ddl_applied", "committed_at", "partition_id"} <= set(m.columns)


def test_resume_from_checkpoint_is_bit_exact(spark, events_dir, events_pdf,
                                             pipe_dirs, tmp_path):
    """Run on a prefix of the log, 'crash', add the rest, resume from the same
    checkpoint — final state identical to an uninterrupted run (§3.3)."""
    staged = str(tmp_path / "staged_events")
    os.makedirs(staged)
    files = sorted(glob.glob(os.path.join(events_dir, "*.parquet")))
    for f in files[:3]:
        shutil.copy(f, staged)
    p = CdcPipeline(spark, staged, pipe_dirs["table"], pipe_dirs["ckpt"])
    p.run_available_now()
    mid_epoch = LakeTable.load(spark, pipe_dirs["table"]).last_epoch()[0]
    for f in files[3:]:
        shutil.copy(f, staged)
    p2 = CdcPipeline(spark, staged, pipe_dirs["table"], pipe_dirs["ckpt"])
    p2.run_available_now()
    t = LakeTable.load(spark, pipe_dirs["table"])
    assert t.last_epoch()[0] > mid_epoch  # it resumed, not restarted
    _assert_matches_golden(_spark_state(p2), _golden(events_pdf))


def test_streaming_resume_across_rebucket(spark, events_dir, events_pdf,
                                          pipe_dirs, tmp_path):
    """Offline maintenance between streaming runs: the stream stops, the
    table's bucket count evolves 16 → 13 (rebucket maintenance), and the
    SAME checkpoint resumes over the evolved layout — the pipeline's cached
    table handle must pick up the new bucket function (the `_current`
    version check), remaining epochs land in the 13-bucket layout, and the
    final state stays golden. Batch-mode rebucket-then-merge is covered in
    test_incremental; this pins the checkpoint/offset-log interaction."""
    from openlogreplicator_spark.operators.merge import rebucket

    staged = str(tmp_path / "staged_events")
    os.makedirs(staged)
    files = sorted(glob.glob(os.path.join(events_dir, "*.parquet")))
    for f in files[:3]:
        shutil.copy(f, staged)
    p = CdcPipeline(spark, staged, pipe_dirs["table"], pipe_dirs["ckpt"])
    p.run_available_now(max_files_per_trigger=1)
    t = LakeTable.load(spark, pipe_dirs["table"])
    mid_epoch = t.last_epoch()[0]
    rebucket(t, 13)

    for f in files[3:]:
        shutil.copy(f, staged)
    p2 = CdcPipeline(spark, staged, pipe_dirs["table"], pipe_dirs["ckpt"])
    p2.run_available_now(max_files_per_trigger=1)
    t2 = LakeTable.load(spark, pipe_dirs["table"])
    assert t2.last_epoch()[0] > mid_epoch  # resumed, not restarted
    assert t2.n_buckets == 13
    assert {fe["bucket"] for fe in t2.snap["files"]} <= set(range(13))
    _assert_matches_golden(_spark_state(p2), _golden(events_pdf))


def test_redelivered_epoch_is_suppressed(spark, events_dir, events_pdf, pipe_dirs):
    """T2 exactly-once: re-applying an already-confirmed epoch is a no-op
    (reference isNewData gate, Metadata.cpp:592-603)."""
    from openlogreplicator_spark.operators.decode import EVENTS_DDL

    p = CdcPipeline(spark, events_dir, pipe_dirs["table"], pipe_dirs["ckpt"])
    p.run_batch_replay()
    t = LakeTable.load(spark, pipe_dirs["table"])
    v_before = t.snap["version"]
    df = spark.read.schema(EVENTS_DDL).parquet(events_dir)
    p.apply_epoch(df, epoch_id=0)  # re-delivery of the confirmed epoch
    t2 = LakeTable.load(spark, pipe_dirs["table"])
    assert t2.snap["version"] == v_before  # no new snapshot, no state change
    _assert_matches_golden(_spark_state(p), _golden(events_pdf))


def test_idempotent_merge_under_forced_replay(spark, events_dir, events_pdf, pipe_dirs):
    """Even bypassing the gate (a crash after merge but before the final
    commit), re-merging the same batch leaves the state unchanged — merge is
    idempotent by construction (max-by)."""
    from openlogreplicator_spark.operators.decode import EVENTS_DDL

    # incarnation_guard off: the forced replay re-covers the same seq range
    # under a new epoch id — the exact signature the rewind guard refuses
    p = CdcPipeline(spark, events_dir, pipe_dirs["table"], pipe_dirs["ckpt"],
                    incarnation_guard=False)
    p.run_batch_replay()
    before = _spark_state(p)
    df = spark.read.schema(EVENTS_DDL).parquet(events_dir)
    p.apply_epoch(df, epoch_id=1)  # NEW epoch id, same payload → must not change state
    after = _spark_state(p)
    pd.testing.assert_frame_equal(before, after)


def test_pre_evolution_rows_read_null_status(spark, events_dir, events_pdf, pipe_dirs):
    p = CdcPipeline(spark, events_dir, pipe_dirs["table"], pipe_dirs["ckpt"])
    p.run_batch_replay()
    state = _spark_state(p)
    golden = _golden(events_pdf)
    # fixture guarantees some winners predate schema v2 → null status
    assert golden["http_status"].isna().any()
    assert state["http_status"].isna().sum() == golden["http_status"].isna().sum()


def test_streaming_wap_branch_publish_matches_golden(
    spark, events_dir, events_pdf, pipe_dirs
):
    """WAP through the REAL streaming path: a table bootstrapped on main,
    then `run_available_now` staging every micro-batch onto a branch — main
    stays at its bootstrap version until the audited publish, after which
    the published state is golden-identical to a plain replay."""
    from openlogreplicator_spark.operators.merge import read_state

    # bootstrap: an empty table on main (so the staging run has a fork point)
    boot = CdcPipeline(spark, events_dir, pipe_dirs["table"], pipe_dirs["ckpt"])
    boot.ensure_table()
    main_ver = LakeTable.current_version(pipe_dirs["table"])

    stage = CdcPipeline(
        spark, events_dir, pipe_dirs["table"],
        pipe_dirs["ckpt"], branch="wap",
    )
    stage.run_available_now(max_files_per_trigger=2)

    # main never moved during the streaming run
    assert LakeTable.current_version(pipe_dirs["table"]) == main_ver
    assert boot.target_state().count() == 0

    # audit on the branch head, then publish; a staging pipeline's own
    # target_state reads ITS ref (the branch head), not main
    staged = LakeTable.load(spark, pipe_dirs["table"], branch="wap")
    assert read_state(staged).count() == len(_golden(events_pdf))
    assert stage.target_state().count() == len(_golden(events_pdf))
    LakeTable.load(spark, pipe_dirs["table"]).publish_branch("wap")
    _assert_matches_golden(_spark_state(boot), _golden(events_pdf))


def _last_job_id(spark) -> int:
    """The newest Spark job id of the application (ids are sequential), once
    every posted listener event has been processed."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    it = sc.statusStore().jobsList(None).iterator()
    last = -1
    while it.hasNext():
        last = max(last, it.next().jobId())
    return last


def _write_subset(src: str, dst: str, keep, mtime: int) -> None:
    """Copy the rows of parquet file ``src`` that ``keep(table)`` selects
    into ``dst`` with pyarrow, stamped with ``mtime`` (the file stream
    delivers files in modification-time order)."""
    import pyarrow.parquet as pq

    tb = pq.read_table(src)
    pq.write_table(tb.filter(keep(tb)), dst)
    os.utime(dst, (mtime, mtime))


def test_tail_epoch_is_one_job_and_lineage_tells_the_truth(
    spark, events_dir, tmp_path
):
    """A steady-state tail epoch with the lineage and dead-letter side
    outputs on issues exactly the Spark jobs of the same epoch with both off:
    the lineage counts are observed on the apply's own jobs and written from
    the driver, and a footer-clean epoch's dead-letter directory is written
    without a job. The lineage rows, rolled up per epoch, equal a pandas
    recompute from each epoch's source file — also on an epoch holding DDL
    rows and on a DDL-only epoch — and a re-delivered epoch leaves one
    row."""
    import pyarrow.compute as pc

    from openlogreplicator_spark.operators.decode import EVENTS_DDL

    files = sorted(glob.glob(os.path.join(events_dir, "*.parquet")))
    ddl_files = [f for f in files
                 if (pd.read_parquet(f, columns=["op"])["op"] == "ddl").any()]
    assert len(ddl_files) >= 2 and files[0] not in ddl_files

    def clean(tb):  # committed-shape DML rows only: nothing NULL, no DDL
        ok = pc.not_equal(tb["op"], "ddl")
        for c in ("url", "warc_ts", "op"):
            ok = pc.and_(ok, pc.is_valid(tb[c]))
        return pc.fill_null(ok, False)

    # 1) jobs per epoch: side outputs on == side outputs off
    clean_dir = str(tmp_path / "clean")
    os.makedirs(clean_dir)
    for i, f in enumerate(files[:2]):
        _write_subset(f, os.path.join(clean_dir, f"e{i}.parquet"), clean,
                      1_600_000_000 + i)
    jobs = {}
    for side in (False, True):
        d = tmp_path / f"side{int(side)}"
        p = CdcPipeline(
            spark, clean_dir, str(d / "t"), str(d / "c"),
            metrics_path=str(d / "m") if side else None,
            dead_letter_path=str(d / "dl") if side else None,
        )
        first = _last_job_id(spark)
        p.run_available_now(max_files_per_trigger=1)
        jobs[side] = _last_job_id(spark) - first
    assert jobs[True] == jobs[False], jobs
    dead = spark.read.parquet(str(tmp_path / "side1" / "dl"))
    assert dead.count() == 0 and "_dl_reason" in dead.columns
    assert spark.read.parquet(str(tmp_path / "side1" / "m")).count() == 2

    # 2) lineage roll-up == pandas recompute: a clean epoch, an epoch with
    #    DDL rows, a DDL-only epoch (its version evolves the table)
    mixed = str(tmp_path / "mixed")
    os.makedirs(mixed)
    _write_subset(files[0], os.path.join(mixed, "a.parquet"), clean,
                  1_600_000_000)
    _write_subset(ddl_files[0], os.path.join(mixed, "b.parquet"),
                  lambda tb: pc.is_valid(tb["seq"]), 1_600_000_001)
    _write_subset(ddl_files[1], os.path.join(mixed, "c.parquet"),
                  lambda tb: pc.fill_null(pc.equal(tb["op"], "ddl"), False),
                  1_600_000_002)
    metrics = str(tmp_path / "mixed_m")
    p = CdcPipeline(spark, mixed, str(tmp_path / "mt"), str(tmp_path / "mc"),
                    metrics_path=metrics,
                    dead_letter_path=str(tmp_path / "mixed_dl"))
    p.run_available_now(max_files_per_trigger=1)
    m = spark.read.parquet(metrics).toPandas()
    assert len(m) == 3 and (m["partition_id"] == 0).all()
    ddl_seen = []
    for _, r in m.iterrows():
        (src,) = p._epoch_source_files(int(r["epoch_id"]))
        ev = pd.read_parquet(src[7:] if src.startswith("file:") else src)
        valid = ev[ev["op"].notna() & (ev["op"] != "ddl") & ~ev["rolled_back"]
                   & ev["url"].notna() & ev["warc_ts"].notna()]
        applied = valid["url"].nunique()
        ts = pd.to_datetime(ev["warc_ts"], utc=True)
        assert r["events_in"] == len(ev)
        assert r["events_applied"] == applied
        assert r["events_deduped"] == max(0, len(ev) - applied)
        assert r["ddl_applied"] == (ev["op"] == "ddl").sum()
        assert r["rolled_back_excluded"] == ev["rolled_back"].sum()
        assert pd.Timestamp(r["min_warc_ts"], tz="UTC") == ts.min()
        assert pd.Timestamp(r["max_warc_ts"], tz="UTC") == ts.max()
        ddl_seen.append((r["ddl_applied"], r["events_in"]))
    assert sorted(ddl_seen)[0][0] == 0  # the clean epoch
    assert any(d == n > 0 for d, n in ddl_seen)  # the DDL-only epoch

    # 3) re-delivery of a written epoch: the exactly-once gate returns
    #    early, and a fresh table sharing the side table overwrites; either
    #    way the epoch keeps one lineage row
    (src,) = p._epoch_source_files(0)
    again = spark.read.schema(EVENTS_DDL).parquet(src)
    p.apply_epoch(again, 0)
    fresh = CdcPipeline(spark, mixed, str(tmp_path / "ft"), str(tmp_path / "fc"),
                        metrics_path=metrics)
    fresh.apply_epoch(again, 0)
    m2 = spark.read.parquet(metrics).toPandas()
    assert (m2["epoch_id"] == 0).sum() == 1 and len(m2) == 3
