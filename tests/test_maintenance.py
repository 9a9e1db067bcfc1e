"""Table maintenance: time travel, snapshot GC (reference checkpoint GC,
Metadata.cpp:505-554), tombstone purge; plus NUMBER encode/decode property
tests (hypothesis)."""

import glob
import json
import os
from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from openlogreplicator_spark.functions.decoders import (
    decode_oracle_number,
    encode_oracle_number,
)
from openlogreplicator_spark.lake.table import LakeTable
from openlogreplicator_spark.operators.merge import purge_tombstones
from openlogreplicator_spark.streaming.pipeline import CdcPipeline


@given(
    st.decimals(
        min_value=Decimal("-1e20"), max_value=Decimal("1e20"),
        allow_nan=False, allow_infinity=False, places=6,
    )
)
@settings(max_examples=300, deadline=None)
def test_oracle_number_roundtrip_property(v):
    assert decode_oracle_number(encode_oracle_number(v)) == v.normalize() or \
        decode_oracle_number(encode_oracle_number(v)) == v


def test_known_number_encodings():
    assert encode_oracle_number(Decimal(1)) == b"\xc1\x02"
    assert encode_oracle_number(Decimal(123)) == b"\xc2\x02\x18"
    assert encode_oracle_number(Decimal(-1)) == b"\x3e\x64\x66"
    assert encode_oracle_number(Decimal(0)) == b"\x80"


@pytest.fixture()
def replayed(spark, events_dir, tmp_path):
    # explicit CoW: snapshot GC only has orphans to collect when merges
    # REWRITE buckets (the streaming default is now MoR append-deltas, whose
    # snapshots share files and orphan nothing until compaction runs)
    p = CdcPipeline(spark, events_dir, str(tmp_path / "t"), str(tmp_path / "c"),
                    merge_mode="cow")
    p.run_available_now(max_files_per_trigger=2)  # several snapshots
    return p


def test_time_travel(spark, replayed):
    t = LakeTable.load(spark, replayed.table_path)
    vers = t.versions()
    assert len(vers) >= 3
    old = LakeTable.load(spark, replayed.table_path, version=vers[len(vers) // 2])
    n_old = old.read().filter(F.col("_op") != "d").count()
    n_new = t.read().filter(F.col("_op") != "d").count()
    assert 0 < n_old <= n_new  # historical state readable, smaller-or-equal


def test_expire_snapshots(spark, replayed):
    t = LakeTable.load(spark, replayed.table_path)
    before_files = len(glob.glob(os.path.join(t.path, "data", "**", "*.parquet"),
                                 recursive=True))
    state_before = t.read().filter(F.col("_op") != "d").count()
    stats = t.expire_snapshots(keep_last=2)
    assert stats["snapshots_removed"] > 0
    assert stats["data_files_removed"] > 0
    t2 = LakeTable.load(spark, t.path)
    assert len(t2.versions()) <= 3
    # current state fully intact after GC
    assert t2.read().filter(F.col("_op") != "d").count() == state_before
    after_files = len(glob.glob(os.path.join(t.path, "data", "**", "*.parquet"),
                                recursive=True))
    assert after_files < before_files


def test_purge_tombstones(spark, replayed):
    t = LakeTable.load(spark, replayed.table_path)
    tombs = t.read().filter(F.col("_op") == "d")
    n_tombs = tombs.count()
    assert n_tombs > 0, "fixture must produce deletions"
    cutoff = tombs.agg(F.max("warc_ts")).collect()[0][0]
    live_before = t.read().filter(F.col("_op") != "d").count()
    import datetime as dt

    stats = purge_tombstones(t, cutoff + dt.timedelta(seconds=1))
    assert stats["buckets_rewritten"] > 0
    t2 = LakeTable.load(spark, t.path)
    assert t2.read().filter(F.col("_op") == "d").count() == 0
    assert t2.read().filter(F.col("_op") != "d").count() == live_before


def test_pyfiles_zip_builds(tmp_path):
    import subprocess
    import sys
    import zipfile

    out = str(tmp_path / "olr.zip")
    r = subprocess.run(
        [sys.executable, "scripts/run_pipeline.py", "--make-pyfiles", out],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert r.returncode == 0, r.stderr
    names = zipfile.ZipFile(out).namelist()
    assert "openlogreplicator_spark/streaming/pipeline.py" in names
    assert "openlogreplicator_spark/lake/table.py" in names


def test_merge_on_read_matches_golden(spark, events_dir, events_pdf, tmp_path):
    """MoR streaming replay: append-only epochs + read-time LWW produce the
    exact golden state; compaction collapses deltas without changing it."""
    from openlogreplicator_spark.operators.merge import compact_table
    from openlogreplicator_spark.replayer import replay

    p = CdcPipeline(spark, events_dir, str(tmp_path / "t"), str(tmp_path / "c"),
                    merge_mode="mor")
    p.run_available_now(max_files_per_trigger=2)
    golden = replay(events_pdf)

    def state_pdf():
        s = p.target_state().toPandas().sort_values("url").reset_index(drop=True)
        return s

    got = state_pdf()
    assert list(got["url"]) == list(golden["url"])
    assert all(a == b for a, b in zip(got["text"], golden["text"]))
    assert got["http_status"].astype("Int64").equals(golden["http_status"].astype("Int64"))

    t = LakeTable.load(spark, str(tmp_path / "t"))
    assert t.dirty_buckets()
    files_before = len(t.snap["files"])
    stats = compact_table(t)
    assert stats["files"] <= files_before
    t2 = LakeTable.load(spark, str(tmp_path / "t"))
    assert not t2.dirty_buckets()
    # state identical after compaction (and reads no longer need LWW)
    got2 = state_pdf()
    import pandas as pd

    pd.testing.assert_frame_equal(got, got2)


def test_mor_append_is_state_idempotent(spark, events_dir, tmp_path):
    """Forced re-append of the same batch (crash between merge and epoch
    commit) duplicates delta rows but not STATE — read-time LWW collapses."""
    from openlogreplicator_spark.operators.decode import EVENTS_DDL

    # incarnation_guard off: this test SIMULATES the crash window by
    # re-applying the same seq range under a bumped epoch id — precisely
    # the signature the source-rewind guard exists to refuse
    p = CdcPipeline(spark, events_dir, str(tmp_path / "t"), str(tmp_path / "c"),
                    merge_mode="mor", incarnation_guard=False)
    p.run_batch_replay()
    before = p.target_state().toPandas().sort_values("url").reset_index(drop=True)
    df = spark.read.schema(EVENTS_DDL).parquet(events_dir)
    p.apply_epoch(df, epoch_id=1)  # bypass gate with a new epoch id
    after = p.target_state().toPandas().sort_values("url").reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(before, after)


def test_streaming_mor_default_with_compaction_cadence(
    spark, events_dir, events_pdf, tmp_path
):
    """merge_mode='auto' streams as merge-on-read with periodic delta
    compaction; final state matches the CoW reference and snapshot GC can
    reclaim the pre-compaction delta files."""
    import pandas as pd

    p = CdcPipeline(spark, events_dir, str(tmp_path / "t"), str(tmp_path / "c"),
                    compact_every=2)
    p.run_available_now(max_files_per_trigger=2)
    t = LakeTable.load(spark, p.table_path)
    ops = [json.load(open(os.path.join(t.path, "_snapshots", f"v{v:08d}.json")))
           ["summary"].get("op") for v in t.versions()]
    assert "merge_append" in ops and "compact" in ops  # MoR + cadence ran

    ref = CdcPipeline(spark, events_dir, str(tmp_path / "tr"), str(tmp_path / "cr"),
                      merge_mode="cow")
    ref.run_available_now(max_files_per_trigger=2)
    a = p.target_state().toPandas().sort_values("url").reset_index(drop=True)
    b = ref.target_state().toPandas().sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)

    stats = t.expire_snapshots(keep_last=1)
    assert stats["data_files_removed"] > 0  # compaction orphaned the deltas
    from openlogreplicator_spark.operators.merge import read_state

    t2 = LakeTable.load(spark, t.path)
    assert read_state(t2).count() == len(a)  # read-time LWW over surviving deltas


def test_orphans_from_crashed_commit_are_invisible_and_gcable(
    spark, events_dir, tmp_path
):
    """Crash AFTER data files are written but BEFORE the snapshot commit:
    the orphan files are invisible to snapshot-driven reads, the replayed
    epoch is suppressed by the gate, and snapshot GC reclaims the orphans."""
    import glob as _glob

    p = CdcPipeline(spark, events_dir, str(tmp_path / "t"), str(tmp_path / "c"),
                    merge_mode="cow")
    p.run_batch_replay()
    t = LakeTable.load(spark, p.table_path)
    state_rows = p.target_state().count()
    version = t.snap["version"]

    # simulate the torn write: a fresh data dir with files, no commit
    absdir, _rel = t.new_data_dir()
    t.read(buckets=[0]).withColumn("_bucket", t.bucket_expr()) \
        .write.partitionBy("_bucket").parquet(absdir)
    orphans = _glob.glob(os.path.join(absdir, "**", "*.parquet"), recursive=True)
    assert orphans

    assert p.target_state().count() == state_rows  # orphans invisible
    from openlogreplicator_spark.operators.decode import EVENTS_DDL
    p.apply_epoch(spark.read.schema(EVENTS_DDL).parquet(events_dir), 0)  # replay
    t2 = LakeTable.load(spark, p.table_path)
    assert t2.snap["version"] == version  # suppressed, no new commit
    assert p.target_state().count() == state_rows

    stats = t2.expire_snapshots(keep_last=100, orphan_grace_secs=0)  # known debris
    assert stats["data_files_removed"] >= len(orphans)
    assert not any(os.path.exists(f) for f in orphans)
    assert p.target_state().count() == state_rows


def test_expire_snapshots_gcs_orphan_tmp_manifests(spark, replayed):
    """A crash between _write_manifest's tmp write and its os.replace leaves
    a .json.tmp no snapshot references; expire_snapshots must remove it."""
    t = LakeTable.load(spark, replayed.table_path)
    mdir = os.path.join(t.path, "_snapshots", "manifests")
    orphans = [
        os.path.join(mdir, "m99999999-deadbeef.json.tmp"),
        os.path.join(t.path, "_snapshots", "v99999999.json.tmp"),
        os.path.join(t.path, "_snapshots", "_current.tmp"),
    ]
    for orphan in orphans:
        with open(orphan, "w") as f:
            f.write("{}")
    t.expire_snapshots(keep_last=2, orphan_grace_secs=0)
    for orphan in orphans:
        assert not os.path.exists(orphan), orphan


def test_table_stats_and_binpack_rewrite(spark, events_dir, tmp_path):
    """plan_compaction splits dirty vs fragmented buckets; compact_table then
    rewrite_buckets shrinks per-bucket file counts to 1 with the final state
    byte-identical; rewrite refuses dirty buckets."""
    from openlogreplicator_spark.operators.merge import (
        compact_table,
        read_state,
        rewrite_buckets,
    )

    p = CdcPipeline(spark, events_dir, str(tmp_path / "t"), str(tmp_path / "c"),
                    merge_mode="mor")
    p.run_available_now(max_files_per_trigger=2)  # several MoR append epochs
    t = LakeTable.load(spark, p.table_path)
    before = {r["url"]: r for r in read_state(t).collect()}

    stats = t.table_stats()
    assert stats and all(s["bytes"] > 0 for s in stats)
    assert sum(s["rows"] for s in stats) == t.rows_in_buckets()
    plan = t.plan_compaction(max_files_per_bucket=1, small_file_bytes=0)
    assert set(plan["compact"]) == t.dirty_buckets()

    # dirty buckets are refused by the bin-pack path
    if plan["compact"]:
        with pytest.raises(ValueError):
            rewrite_buckets(t, plan["compact"][:1])

    compact_table(t)
    plan2 = t.plan_compaction(max_files_per_bucket=1, small_file_bytes=0)
    assert plan2["compact"] == []
    if plan2["rewrite"]:
        rewrite_buckets(t, plan2["rewrite"])
    t2 = LakeTable.load(spark, p.table_path)
    assert all(s["n_files"] == 1 for s in t2.table_stats())
    after = {r["url"]: r for r in read_state(t2).collect()}
    assert after == before


def test_purge_tombstones_mor_no_resurrection(spark, events_dir, tmp_path):
    """On a merge-on-read table, purging an expired tombstone out of a DIRTY
    bucket must not resurrect the older versions of that key still sitting in
    the uncompacted deltas: purge LWW-resolves the buckets it rewrites (and
    clears their dirty marks). User-facing state is invariant under purge."""
    import datetime as dt

    from openlogreplicator_spark.operators.decode import EVENTS_DDL
    from openlogreplicator_spark.operators.merge import read_state

    files = sorted(glob.glob(os.path.join(events_dir, "*.parquet")))
    p = CdcPipeline(spark, events_dir, str(tmp_path / "t"), str(tmp_path / "c"),
                    merge_mode="mor")
    for i, f in enumerate(files):
        p.apply_epoch(spark.read.schema(EVENTS_DDL).parquet(f), epoch_id=i)
    t = LakeTable.load(spark, p.table_path)
    assert t.dirty_buckets(), "MoR replay must leave uncompacted deltas"
    raw = t.read()
    n_tombs = raw.filter(F.col("_op") == "d").count()
    assert n_tombs > 0
    # at least one tombstoned key must carry older delta versions — the
    # resurrection hazard this test pins
    tomb_keys = raw.filter(F.col("_op") == "d").select("url")
    assert raw.join(tomb_keys, "url", "left_semi").count() > n_tombs

    before = sorted(
        (r["url"], r["warc_ts"], r["_seq"])
        for r in read_state(t).select("url", "warc_ts", "_seq").collect()
    )
    cutoff = raw.filter(F.col("_op") == "d").agg(F.max("warc_ts")).collect()[0][0]
    stats = purge_tombstones(t, cutoff + dt.timedelta(seconds=1))
    assert stats["buckets_rewritten"] > 0

    t2 = LakeTable.load(spark, p.table_path)
    assert t2.read().filter(F.col("_op") == "d").count() == 0
    after = sorted(
        (r["url"], r["warc_ts"], r["_seq"])
        for r in read_state(t2).select("url", "warc_ts", "_seq").collect()
    )
    assert after == before
    # rewritten buckets were resolved in-pass: their dirty marks are gone
    rewritten = {f["bucket"] for f in t2.snap["files"]} - t2.dirty_buckets()
    assert rewritten, "purged buckets must be clean after the rewrite"


def test_tags_pin_versions_and_survive_gc(spark, replayed):
    """Named snapshot refs (Iceberg tags): load-by-tag equals load-by-version,
    tagged versions survive expire_snapshots (retention pin), deleting the
    tag releases them, re-tagging moves the pin."""
    t = LakeTable.load(spark, replayed.table_path)
    vers = t.versions()
    old_v = vers[len(vers) // 2]
    t.tag("bootstrap-audit", old_v)
    assert t.tags() == {"bootstrap-audit": old_v}
    by_tag = LakeTable.load(spark, t.path, tag="bootstrap-audit")
    assert by_tag.snap["version"] == old_v
    pinned_state = by_tag.read().filter(F.col("_op") != "d").count()

    t.expire_snapshots(keep_last=1)
    t2 = LakeTable.load(spark, t.path)
    assert old_v in t2.versions()  # the pin held
    assert LakeTable.load(spark, t.path, tag="bootstrap-audit").read().filter(
        F.col("_op") != "d"
    ).count() == pinned_state

    # move the pin, then release it: the old version becomes collectable
    t2.tag("bootstrap-audit")  # defaults to current version
    t2.expire_snapshots(keep_last=1)
    assert old_v not in LakeTable.load(spark, t.path).versions()
    t2.delete_tag("bootstrap-audit")
    assert t2.tags() == {}
    with pytest.raises(KeyError):
        LakeTable.load(spark, t.path, tag="bootstrap-audit")
    with pytest.raises(ValueError):
        t2.tag("bad", version=10_000)


def test_wap_branch_write_audit_publish(spark, events_dir, tmp_path):
    """Write-audit-publish: epochs staged on a branch are invisible to main
    until one atomic publish; the confirmed-epoch watermark travels with the
    snapshot; GC pins the branch chain; publish refuses a diverged main."""
    from openlogreplicator_spark.operators.decode import EVENTS_DDL

    files = sorted(glob.glob(os.path.join(events_dir, "*.parquet")))
    tp = str(tmp_path / "t")
    main_p = CdcPipeline(spark, events_dir, tp, str(tmp_path / "c1"))
    for i, f in enumerate(files[:3]):
        main_p.apply_epoch(spark.read.schema(EVENTS_DDL).parquet(f), epoch_id=i)
    main_state = main_p.target_state().count()
    main_ver = LakeTable.current_version(tp)

    # stage the remaining epochs on a branch
    br_p = CdcPipeline(spark, events_dir, tp, str(tmp_path / "c2"), branch="audit")
    for i, f in enumerate(files[3:], start=3):
        br_p.apply_epoch(spark.read.schema(EVENTS_DDL).parquet(f), epoch_id=i)

    # isolation: main unmoved in version, state, and exactly-once watermark
    assert LakeTable.current_version(tp) == main_ver
    t_main = LakeTable.load(spark, tp)
    assert t_main.last_epoch() == (2, True)
    assert main_p.target_state().count() == main_state

    # the branch head carries the staged epochs + its own watermark
    t_br = LakeTable.load(spark, tp, branch="audit")
    assert t_br.last_epoch() == (len(files) - 1, True)
    from openlogreplicator_spark.operators.merge import read_state
    audit_state = read_state(t_br).count()
    assert audit_state != main_state  # the branch actually changed something

    # GC while the audit is open: branch chain pinned, still readable
    t_main.expire_snapshots(keep_last=1)
    assert read_state(LakeTable.load(spark, tp, branch="audit")).count() \
        == audit_state

    # publish: main fast-forwards to the audited head in one pointer swap
    published = t_main.publish_branch("audit")
    assert LakeTable.current_version(tp) == published
    t_pub = LakeTable.load(spark, tp)
    assert t_pub.last_epoch() == (len(files) - 1, True)
    assert read_state(t_pub).count() == audit_state
    assert t_pub.branches() == {}  # publish deletes the ref by default

    # a re-delivered staged epoch is now suppressed on MAIN (watermark moved)
    v_before = LakeTable.current_version(tp)
    main_p.apply_epoch(
        spark.read.schema(EVENTS_DDL).parquet(files[3]), epoch_id=3
    )
    assert LakeTable.current_version(tp) == v_before

    # divergence: main advances past the fork -> publish must refuse
    t_pub.create_branch("audit2")
    br2 = CdcPipeline(spark, events_dir, tp, str(tmp_path / "c3"),
                      branch="audit2")
    br2.apply_epoch(
        spark.read.schema(EVENTS_DDL).parquet(files[0]),
        epoch_id=len(files),
    )
    t_now = LakeTable.load(spark, tp)
    t_now.evolve("add_column", "audit_note", new_type="string")  # main moves
    with pytest.raises(ValueError):
        LakeTable.load(spark, tp).publish_branch("audit2")


def test_rollback_to_restores_and_forks_history(spark, replayed):
    """Rollback: main restored to an ancestor in one pointer swap — state
    equals the time-travel read; a later commit forks from there with a
    globally unique version; the exactly-once watermark regresses with the
    snapshot (a re-delivered epoch re-applies after rollback, by design)."""
    from openlogreplicator_spark.operators.merge import read_state
    import datetime as dt

    t = LakeTable.load(spark, replayed.table_path)
    vers = t.versions()
    mid = vers[len(vers) // 2]
    want = read_state(LakeTable.load(spark, t.path, version=mid)).count()
    head = t.snap["version"]

    rb = t.rollback_to(mid)
    assert rb.snap["version"] == mid == LakeTable.current_version(t.path)
    assert read_state(rb).count() == want
    assert rb.last_epoch()[0] < LakeTable.load(
        spark, t.path, version=head
    ).last_epoch()[0]

    # the abandoned line is still loadable; a new commit forks PAST it
    assert head in rb.versions()
    rb.evolve("add_column", "rb_note", new_type="string")
    assert rb.snap["version"] > head  # global numbering: no overwrite
    assert rb.snap["parent"] == mid
    with pytest.raises(ValueError):
        rb.rollback_to(10_000)


def test_branch_crash_orphan_is_harmless_and_gcd(spark, replayed):
    """Crash window in a branch commit: the snapshot JSON lands before the
    branch ref moves. A crash in between leaves an orphan snapshot no ref
    points at — readers are unaffected, the next commit (global version
    allocation) can never collide with it, and GC removes it."""
    t = LakeTable.load(spark, replayed.table_path)
    br = t.create_branch("crashy")
    head_before = br.snap["version"]

    # simulate the torn write: snapshot JSON present, branches.json not moved
    orphan_v = max(t.versions()) + 1
    sdir = os.path.join(t.path, "_snapshots")
    orphan = dict(br.snap)
    orphan.pop("files", None)
    orphan["version"] = orphan_v
    orphan["parent"] = head_before
    with open(os.path.join(sdir, f"v{orphan_v:08d}.json"), "w") as f:
        json.dump(orphan, f)

    # branch head unchanged; loads fine
    assert LakeTable.branch_version(t.path, "crashy") == head_before
    reloaded = LakeTable.load(spark, t.path, branch="crashy")
    assert reloaded.snap["version"] == head_before

    # the writer's NEXT commit allocates past the orphan (no overwrite)
    reloaded.evolve("add_column", "post_crash", new_type="string")
    assert reloaded.snap["version"] > orphan_v

    # GC: the orphan is not on any ref chain -> removed; the branch survives
    LakeTable.load(spark, t.path).expire_snapshots(keep_last=1)
    assert orphan_v not in LakeTable.load(spark, t.path).versions()
    assert LakeTable.branch_version(t.path, "crashy") is not None


def test_maintain_runs_needed_passes_and_preserves_state(
    spark, events_dir, tmp_path
):
    """maintain() = plan_compaction-driven orchestration: on a fresh MoR
    replay it compacts the dirty buckets, bin-packs whatever stays
    fragmented, GCs snapshots — and user-visible state is bit-identical."""
    import datetime as dt

    from openlogreplicator_spark.operators.decode import EVENTS_DDL
    from openlogreplicator_spark.operators.merge import maintain, read_state

    files = sorted(glob.glob(os.path.join(events_dir, "*.parquet")))
    p = CdcPipeline(spark, events_dir, str(tmp_path / "t"), str(tmp_path / "c"),
                    merge_mode="mor", compact_every=0)
    for i, f in enumerate(files):
        p.apply_epoch(spark.read.schema(EVENTS_DDL).parquet(f), epoch_id=i)
    t = LakeTable.load(spark, p.table_path)
    assert t.dirty_buckets()  # MoR appends left work for maintenance
    cols = ["url", "warc_ts", "_seq", "text", "lang"]
    before = sorted(map(tuple, read_state(t).select(*cols).collect()))

    rep = maintain(
        t,
        max_files_per_bucket=1,
        tombstone_older_than=dt.datetime(1990, 1, 1),  # watermark: purge none
        keep_last_snapshots=2,
    )
    assert rep["compact"]["buckets_rewritten"] > 0
    assert "expire" in rep
    assert not t.dirty_buckets()
    t2 = LakeTable.load(spark, p.table_path)
    after = sorted(map(tuple, read_state(t2).select(*cols).collect()))
    assert after == before
    # second run on a healthy table: nothing to compact or rewrite
    rep2 = maintain(t2, max_files_per_bucket=4)
    assert "compact" not in rep2 and "rewrite" not in rep2


def test_maintain_partial_table_routes_to_fold_compaction(spark, tmp_path):
    """On a partial-image table maintain() must never run whole-row LWW
    passes; it folds bounded history only when given the watermark."""
    from openlogreplicator_spark.operators.merge import maintain, merge_append

    import datetime as dt

    fields = [("url", "string"), ("warc_ts", "timestamp"), ("_seq", "long"),
              ("_op", "string"), ("text", "string"), ("lang", "string")]
    t = LakeTable.create(
        spark, str(tmp_path / "pt"), fields, key_col="url", n_buckets=2,
        flags={"partial_images": True},
    )
    ddl = ("url string, warc_ts timestamp, _seq long, _op string, "
           "text string, lang string")
    ts0, ts1 = dt.datetime(2020, 1, 1), dt.datetime(2020, 6, 1)
    merge_append(
        t, spark.createDataFrame(
            [("k", ts0, 1, "c", "full", "en"),
             ("k", ts0, 2, "u", "patch", None)], ddl), epoch_id=0)
    merge_append(
        t, spark.createDataFrame([("k", ts1, 3, "u", None, "de")], ddl),
        epoch_id=1)
    # without a watermark: no fold may run (and no whole-row pass ever)
    rep = maintain(t)
    assert "compact" not in rep and "compact_partial" not in rep
    import time

    wm = int(dt.datetime(2020, 3, 1).timestamp() * 1_000_000)
    rep2 = maintain(t, partial_watermark_us=wm)
    assert "compact_partial" in rep2


def test_analyze_persists_and_survives_later_commits(spark, tmp_path):
    """ANALYZE stats commit metadata-only, are readable off the chain by a
    fresh handle, survive later epochs (table_stats walks back to the
    newest analyze), and a re-analyze supersedes them."""
    from openlogreplicator_spark.datagen import GenSpec, write_events
    from openlogreplicator_spark.lake.table import LakeTable
    from openlogreplicator_spark.operators.decode import EVENTS_DDL
    from openlogreplicator_spark.operators.merge import analyze, table_stats
    from openlogreplicator_spark.streaming.pipeline import CdcPipeline

    src = str(tmp_path / "src")
    write_events(src, GenSpec(n_events=400, n_files=2, seed=11))
    import glob

    files = sorted(glob.glob(src + "/*.parquet"))
    p = CdcPipeline(
        spark, src, str(tmp_path / "t"), str(tmp_path / "c"),
        merge_mode="mor", compact_every=0,
    )
    p.apply_epoch(spark.read.schema(EVENTS_DDL).parquet(files[0]), epoch_id=0)

    t = LakeTable.load(spark, p.table_path)
    stats = analyze(t, columns=("url", "lang"))
    # metadata-only: the analyze commit added no data files
    t2 = LakeTable.load(spark, p.table_path)
    assert (t2.snap.get("summary") or {}).get("op") == "analyze"
    got = table_stats(t2)
    assert got == stats
    assert got["url"]["ndv"] <= got["url"]["n_rows"]
    # direct recompute agrees
    from openlogreplicator_spark.operators.merge import read_state

    st = read_state(t2)
    assert got["url"]["n_rows"] == st.count()
    assert got["url"]["ndv"] == st.select("url").distinct().count()
    # a later epoch pushes the analyze snapshot down the chain but the
    # accessor still finds it
    p.apply_epoch(spark.read.schema(EVENTS_DDL).parquet(files[1]), epoch_id=1)
    t3 = LakeTable.load(spark, p.table_path)
    assert table_stats(t3) == stats
    # re-analyze supersedes
    stats2 = analyze(t3, columns=("url", "lang"))
    assert table_stats(LakeTable.load(spark, p.table_path)) == stats2
    assert stats2["url"]["n_rows"] >= stats["url"]["n_rows"]


def test_import_files_zero_copy_then_rebucket_materializes(spark, tmp_path):
    """import_files registers external parquet by absolute path (nothing
    copied), read-time LWW resolves the imported version history, GC
    never touches the external files, and a rebucket migrates the data
    copy-on-write under the table's own root."""
    import glob

    from openlogreplicator_spark.datagen import GenSpec, write_events
    from openlogreplicator_spark.lake.table import LakeTable
    from openlogreplicator_spark.operators.decode import EVENTS_DDL
    from openlogreplicator_spark.operators.merge import (
        import_files, read_state, rebucket,
    )
    from openlogreplicator_spark.streaming.pipeline import CdcPipeline

    src_dir = str(tmp_path / "src")
    write_events(src_dir, GenSpec(n_events=500, n_files=2, seed=3))
    p = CdcPipeline(spark, src_dir, str(tmp_path / "t"), str(tmp_path / "c"))
    p.run_batch_replay()
    src = LakeTable.load(spark, p.table_path)
    want = {
        (r.url, r.warc_ts, r._seq)
        for r in read_state(src).select("url", "warc_ts", "_seq").collect()
    }

    ext = str(tmp_path / "ext")
    src.read().write.parquet(ext)
    ext_files = sorted(glob.glob(ext + "/*.parquet"))

    dst_path = str(tmp_path / "imported")
    dst = LakeTable.create(
        spark, dst_path,
        fields=[(f["name"], f["type"]) for f in src.current_schema()],
        key_col=src.key_col, n_buckets=src.n_buckets,
    )
    res = import_files(dst, ext_files)
    assert res["files"] == len(ext_files)
    assert not glob.glob(dst_path + "/data/**/*.parquet", recursive=True)

    dst = LakeTable.load(spark, dst_path)
    got = {
        (r.url, r.warc_ts, r._seq)
        for r in read_state(dst).select("url", "warc_ts", "_seq").collect()
    }
    assert got == want

    # GC must hold off external files
    dst.expire_snapshots(keep_last=1, orphan_grace_secs=0)
    for f in ext_files:
        assert os.path.exists(f)

    # rebucket materializes copy-on-write under the table root
    rebucket(LakeTable.load(spark, dst_path), 8)
    dst2 = LakeTable.load(spark, dst_path)
    assert all(not os.path.isabs(fe["path"]) for fe in dst2.snap["files"])
    got2 = {
        (r.url, r.warc_ts, r._seq)
        for r in read_state(dst2).select("url", "warc_ts", "_seq").collect()
    }
    assert got2 == want
    # external dump still intact after materialization + GC
    dst2.expire_snapshots(keep_last=1, orphan_grace_secs=0)
    for f in ext_files:
        assert os.path.exists(f)


def test_import_files_refuses_schema_mismatch(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from openlogreplicator_spark.lake.table import LakeTable
    from openlogreplicator_spark.operators.merge import import_files

    t = LakeTable.create(
        spark, str(tmp_path / "t2"),
        fields=[("url", "string"), ("warc_ts", "timestamp"), ("v", "long")],
        key_col="url",
    )
    bad = str(tmp_path / "bad.parquet")
    pq.write_table(pa.table({"url": ["a"], "mystery": [1]}), bad)
    with _pytest.raises(ValueError, match="missing required"):
        import_files(t, [bad])


def _write_stage_tasks(sc, group: str) -> int:
    """Tasks of the last job's result stage in ``group``: the file writer's
    stage when the group ends with a write."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    last = max(st.getJobIdsForGroup(group))
    return st.getStageInfo(max(st.getJobInfo(last).stageIds)).numTasks


def _files_per_bucket(files) -> dict[int, int]:
    from collections import Counter

    return dict(Counter(f["bucket"] for f in files))


def _pandas_lww_state(t) -> list[tuple]:
    """Independent LWW over every stored version: last by (warc_ts, _seq)
    per url, tombstones dropped."""
    raw = t.read().toPandas().sort_values(["warc_ts", "_seq"], kind="stable")
    win = raw.groupby("url", as_index=False).tail(1)
    win = win[win["_op"] != "d"]
    return sorted(zip(win["url"], win["_seq"], win["text"]))


def _state(t) -> list[tuple]:
    from openlogreplicator_spark.operators.merge import read_state

    return sorted(map(tuple, read_state(t).select("url", "_seq", "text").collect()))


def test_bucket_write_is_sized_by_rows_with_one_file_per_bucket(
    spark, events_dir, tmp_path
):
    """The bucket write takes its task count from AQE's measured shuffle
    bytes, not from the bucket count: a small append into 64 buckets (more
    than the session's 8 shuffle partitions) runs fewer write tasks than
    buckets it touches. Coalescing merges whole buckets, so the layout is
    unchanged: one new file per touched bucket, one file (or one
    ``target_rows_per_file`` chunk run) per bucket after maintenance."""
    import math

    from openlogreplicator_spark.operators.merge import (
        cluster_buckets,
        compact_table,
        merge_append,
        read_state,
    )

    sc = spark.sparkContext
    p = CdcPipeline(spark, events_dir, str(tmp_path / "t"), str(tmp_path / "c"),
                    merge_mode="mor", n_buckets=64)
    p.run_batch_replay()
    t = LakeTable.load(spark, p.table_path)
    assert t.n_buckets == 64

    # a later version of 120 keys, a few of them deletes, as a local batch
    # so the group's jobs are the write's alone
    live = read_state(t)
    base = live.orderBy("url").limit(120).toPandas()
    base["_seq"] += 10**9
    base["text"] = base["text"] + " v2"
    base.loc[base.index % 10 == 0, "_op"] = "d"
    batch = spark.createDataFrame(base, schema=live.schema)
    touched = {r[0] for r in batch.select(t.bucket_expr()).distinct().collect()}
    assert len(touched) > 8

    before = {f["path"] for f in t.snap["files"]}
    sc.setJobGroup("bucket-write-sizing", "small merge_append")
    try:
        merge_append(t, batch, epoch_id=None)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _write_stage_tasks(sc, "bucket-write-sizing") < len(touched)

    t = LakeTable.load(spark, p.table_path)
    new = [f for f in t.snap["files"] if f["path"] not in before]
    assert _files_per_bucket(new) == {b: 1 for b in touched}
    want = _pandas_lww_state(t)
    assert _state(t) == want

    compact_table(t)
    t = LakeTable.load(spark, p.table_path)
    assert set(_files_per_bucket(t.snap["files"]).values()) == {1}
    assert _state(t) == want
    rows = {f["bucket"]: f["rows"] for f in t.snap["files"]}

    cluster_buckets(t, target_rows_per_file=2)
    t = LakeTable.load(spark, p.table_path)
    assert _files_per_bucket(t.snap["files"]) == {
        b: math.ceil(n / 2) for b, n in rows.items()
    }
    assert _state(t) == want


def test_bucket_write_without_aqe_keeps_one_file_per_bucket(
    spark, events_dir, events_pdf, tmp_path
):
    """With AQE off (as on streaming-derived plans) the bucket write runs
    ``spark.sql.shuffle.partitions`` tasks: a 64-bucket copy-on-write replay
    still lands one file per bucket and the golden state."""
    from openlogreplicator_spark.replayer import replay

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = CdcPipeline(spark, events_dir, str(tmp_path / "t"),
                        str(tmp_path / "c"), merge_mode="cow", n_buckets=64)
        p.run_batch_replay()
        t = LakeTable.load(spark, p.table_path)
        touched = {r[0] for r in t.read().select(t.bucket_expr()).distinct().collect()}
        assert _files_per_bucket(t.snap["files"]) == {b: 1 for b in touched}
        got = p.target_state().toPandas().sort_values("url").reset_index(drop=True)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    golden = replay(events_pdf)
    assert list(got["url"]) == list(golden["url"])
    assert all(a == b for a, b in zip(got["text"], golden["text"]))
