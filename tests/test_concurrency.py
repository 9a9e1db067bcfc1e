"""Optimistic concurrency on the snapshot/ref layer: concurrent metadata
writers must conflict loudly (CommitConflict) or compose — never silently
clobber each other's commit. The reference's analogue is the single-owner
checkpoint file swap (Writer.cpp:346-422 atomic rename); a lake target shared
by a pipeline plus maintenance jobs needs Iceberg-style OCC instead."""

import glob
import os
import shutil
import threading

import pytest

from openlogreplicator_spark.lake.table import CommitConflict, LakeTable
from openlogreplicator_spark.operators.decode import EVENTS_DDL
from openlogreplicator_spark.operators.merge import read_state
from openlogreplicator_spark.replayer import replay
from openlogreplicator_spark.streaming.pipeline import CdcPipeline


@pytest.fixture()
def table(spark, events_dir, tmp_path):
    files = sorted(glob.glob(os.path.join(events_dir, "*.parquet")))
    p = CdcPipeline(spark, events_dir, str(tmp_path / "t"), str(tmp_path / "c"),
                    merge_mode="mor")
    for i, f in enumerate(files[:2]):
        p.apply_epoch(spark.read.schema(EVENTS_DDL).parquet(f), epoch_id=i)
    return p.table_path


def test_stale_main_writer_conflicts_not_clobbers(spark, table):
    """Two handles loaded at the same head: the second commit must raise
    CommitConflict (main moved), and the FIRST writer's snapshot must
    survive intact — reload-and-retry then succeeds."""
    a = LakeTable.load(spark, table)
    b = LakeTable.load(spark, table)
    a.evolve("add_column", "won_race", new_type="string")
    v_a = a.snap["version"]

    with pytest.raises(CommitConflict):
        b.evolve("add_column", "lost_race", new_type="string")
    # the winner's commit is untouched and still current
    cur = LakeTable.load(spark, table)
    assert cur.snap["version"] == v_a
    assert "won_race" in [f["name"] for f in cur.current_schema()]
    assert "lost_race" not in [f["name"] for f in cur.current_schema()]
    # OCC contract: reload, re-apply, succeed
    b2 = LakeTable.load(spark, table)
    b2.evolve("add_column", "lost_race", new_type="string")
    names = [f["name"] for f in LakeTable.load(spark, table).current_schema()]
    assert "won_race" in names and "lost_race" in names


def test_stale_branch_writer_conflicts(spark, table):
    t = LakeTable.load(spark, table)
    br1 = t.create_branch("audit")
    br2 = LakeTable.load(spark, table, branch="audit")
    br1.evolve("add_column", "b1", new_type="string")
    with pytest.raises(CommitConflict):
        br2.evolve("add_column", "b2", new_type="string")
    assert LakeTable.branch_version(table, "audit") == br1.snap["version"]


def test_branch_and_main_commits_compose(spark, table):
    """Commits on DIFFERENT refs from the same base are not a conflict:
    both land, with distinct snapshot numbers, and neither overwrites the
    other's snapshot JSON (the cross-ref renumber path)."""
    t = LakeTable.load(spark, table)
    br = t.create_branch("side")
    # both handles now believe the next version is the same number
    t.evolve("add_column", "on_main", new_type="string")
    br.evolve("add_column", "on_branch", new_type="string")
    assert t.snap["version"] != br.snap["version"]
    main_cols = [f["name"] for f in LakeTable.load(spark, table).current_schema()]
    br_cols = [
        f["name"]
        for f in LakeTable.load(spark, table, branch="side").current_schema()
    ]
    assert "on_main" in main_cols and "on_branch" not in main_cols
    assert "on_branch" in br_cols and "on_main" not in br_cols


def test_create_on_existing_table_conflicts(spark, table):
    with pytest.raises(CommitConflict):
        LakeTable.create(spark, table, [("url", "string")], key_col="url")


class SimCrash(RuntimeError):
    pass


def test_commit_crash_points_converge(spark, events_dir, events_pdf, tmp_path):
    """Kill the writer at EVERY metadata-publish point of a DDL-bearing
    epoch's commit sequence (evolve snapshots, manifest, snapshot, pointer
    swap — enumerated, not guessed): after each simulated crash the table
    must still load, and a plain retry of the same epoch must converge to
    the golden final state exactly once. The reference survives the same
    way — checkpoint files are atomically renamed and replay resumes from
    the last confirmed scn (Writer.cpp:346-422)."""
    files = sorted(glob.glob(os.path.join(events_dir, "*.parquet")))
    last = len(files) - 1  # DDLs land at 60/75/90% → the last file has one
    golden = replay(events_pdf)

    base = tmp_path / "base"
    p = CdcPipeline(spark, events_dir, str(base / "t"), str(base / "c"),
                    merge_mode="mor")
    for i, f in enumerate(files[:last]):
        p.apply_epoch(spark.read.schema(EVENTS_DDL).parquet(f), epoch_id=i)
    pre_urls = set(
        r["url"] for r in read_state(LakeTable.load(spark, p.table_path))
        .select("url").collect()
    )

    real_replace = os.replace

    def run_epoch(table_dir: str, crash_at: int | None) -> int:
        """Apply the last epoch against ``table_dir``; crash at the
        ``crash_at``-th metadata publish (os.replace under the table).
        Returns the number of publishes that happened."""
        calls = {"n": 0}

        def wrapper(src, dst, *a, **kw):
            if str(dst).startswith(table_dir):
                calls["n"] += 1
                if crash_at is not None and calls["n"] == crash_at:
                    raise SimCrash(f"publish #{calls['n']}: {dst}")
            return real_replace(src, dst, *a, **kw)

        os.replace = wrapper
        try:
            q = CdcPipeline(spark, events_dir, table_dir,
                            str(tmp_path / "ck_scratch"), merge_mode="mor")
            q.apply_epoch(
                spark.read.schema(EVENTS_DDL).parquet(files[last]),
                epoch_id=last,
            )
        finally:
            os.replace = real_replace
        return calls["n"]

    # enumerate the publish points on a throwaway copy
    probe = str(tmp_path / "probe")
    shutil.copytree(str(base / "t"), probe)
    n_publishes = run_epoch(probe, crash_at=None)
    assert n_publishes >= 3  # at least manifest + snapshot + pointer

    for k in range(1, n_publishes + 1):
        tdir = str(tmp_path / f"crash_{k}")
        shutil.copytree(str(base / "t"), tdir)
        with pytest.raises(SimCrash):
            run_epoch(tdir, crash_at=k)
        # torn state is readable and user-facing rows are intact
        t = LakeTable.load(spark, tdir)
        urls = set(
            r["url"] for r in read_state(t).select("url").collect()
        )
        assert urls == pre_urls, f"crash point {k} corrupted visible state"
        # plain retry converges to golden, exactly once
        run_epoch(tdir, crash_at=None)
        t = LakeTable.load(spark, tdir)
        assert t.last_epoch() == (last, True)
        got = (
            read_state(t).toPandas().sort_values("url").reset_index(drop=True)
        )
        assert list(got["url"]) == list(golden["url"]), f"crash point {k}"
        assert all(a == b for a, b in zip(got["text"], golden["text"]))
        # re-delivery after convergence is a no-op
        v = t.snap["version"]
        run_epoch(tdir, crash_at=None)
        assert LakeTable.current_version(tdir) == v
        # GC collects the crashed attempt's debris without changing state
        stats = LakeTable.load(spark, tdir).expire_snapshots(keep_last=2)
        after = read_state(LakeTable.load(spark, tdir)).count()
        assert after == len(golden), (k, stats)


def test_threaded_commit_hammer_loses_nothing(spark, table):
    """8 threads × reload-commit-retry loops: every intended commit lands
    exactly once on a LINEAR main chain (each parent is the previous head),
    no snapshot number reused, no update lost."""
    n_threads, per_thread = 8, 4
    errors: list[Exception] = []

    def worker(tid: int):
        try:
            for k in range(per_thread):
                while True:
                    h = LakeTable.load(spark, table)
                    try:
                        h.commit_summary_only(
                            {"op": "hammer", "who": f"{tid}:{k}"}
                        )
                        break
                    except CommitConflict:
                        continue
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=120)
    assert not errors and not any(th.is_alive() for th in threads)

    t = LakeTable.load(spark, table)
    seen = []
    chain = {}
    for v in t.versions():
        s = LakeTable.load(spark, table, version=v).snap
        chain[v] = s.get("parent")
        if s["summary"].get("op") == "hammer":
            seen.append(s["summary"]["who"])
    assert sorted(seen) == sorted(
        f"{i}:{k}" for i in range(n_threads) for k in range(per_thread)
    )
    # linear main history: walking parents from the head visits every
    # hammer commit exactly once
    walked = 0
    v = t.snap["version"]
    while v is not None and v in chain:
        s = LakeTable.load(spark, table, version=v).snap
        if s["summary"].get("op") == "hammer":
            walked += 1
        v = chain[v]
    assert walked == n_threads * per_thread


def test_epoch_commit_rebases_over_concurrent_maintenance(
    spark, events_dir, tmp_path
):
    """The scheduler-races-the-pipeline case: maintenance (compact) moves
    main between an epoch's table load and its commit. The epoch commit
    must REBASE (re-apply the same files on the new head) instead of
    killing the stream — and state must equal a serial replay."""
    from openlogreplicator_spark.operators.merge import (
        compact_table,
        merge_append,
    )

    files = sorted(glob.glob(os.path.join(events_dir, "*.parquet")))
    p = CdcPipeline(spark, events_dir, str(tmp_path / "t"), str(tmp_path / "c"),
                    merge_mode="mor", compact_every=0)
    for i, f in enumerate(files[:3]):
        p.apply_epoch(spark.read.schema(EVENTS_DDL).parquet(f), epoch_id=i)

    # two handles: the "pipeline's" (stale after maintenance) and the
    # "scheduler's", which compacts first
    stale = LakeTable.load(spark, p.table_path)
    compact_table(LakeTable.load(spark, p.table_path))
    assert LakeTable.current_version(p.table_path) > stale.snap["version"]

    batch = spark.read.schema(EVENTS_DDL).parquet(files[3])
    from openlogreplicator_spark.operators.decode import (
        dml_events,
        project_dml,
    )

    dml = project_dml(dml_events(batch), stale)
    merge_append(stale, dml, epoch_id=3)  # must rebase, not raise

    # serial replay of the SAME four epochs for comparison
    p2 = CdcPipeline(spark, events_dir, str(tmp_path / "t2"),
                     str(tmp_path / "c2"), merge_mode="mor", compact_every=0)
    for i, f in enumerate(files[:4]):
        p2.apply_epoch(spark.read.schema(EVENTS_DDL).parquet(f), epoch_id=i)
    cols = ["url", "warc_ts", "_seq", "text", "lang"]
    got = sorted(map(tuple, read_state(
        LakeTable.load(spark, p.table_path)).select(*cols).collect()))
    want = sorted(map(tuple, p2.target_state().select(*cols).collect()))
    assert got == want
    # the rebased epoch advanced the exactly-once watermark
    assert LakeTable.load(spark, p.table_path).last_epoch() == (3, True)


def test_epoch_commit_refuses_rebase_over_ingest_or_evolve(
    spark, events_dir, tmp_path
):
    """Rebase is maintenance-only: a concurrent EVOLVE (schema moved under
    the epoch's already-written files) must still raise CommitConflict."""
    from openlogreplicator_spark.operators.decode import (
        dml_events,
        project_dml,
    )
    from openlogreplicator_spark.operators.merge import merge_append

    files = sorted(glob.glob(os.path.join(events_dir, "*.parquet")))
    p = CdcPipeline(spark, events_dir, str(tmp_path / "t"), str(tmp_path / "c"),
                    merge_mode="mor", compact_every=0)
    for i, f in enumerate(files[:3]):
        p.apply_epoch(spark.read.schema(EVENTS_DDL).parquet(f), epoch_id=i)

    stale = LakeTable.load(spark, p.table_path)
    LakeTable.load(spark, p.table_path).evolve(
        "add_column", "race_col", new_type="string"
    )
    batch = spark.read.schema(EVENTS_DDL).parquet(files[3])
    dml = project_dml(dml_events(batch), stale)
    with pytest.raises(CommitConflict, match="non-rebaseable"):
        merge_append(stale, dml, epoch_id=3)


def test_streaming_ingest_with_concurrent_maintenance_soak(
    spark, events_dir, events_pdf, tmp_path
):
    """Property, not a staged race: a maintenance loop (the scheduler)
    hammers compact/GC while the streaming pipeline replays every epoch.
    Whoever loses a commit race follows their contract — epochs REBASE over
    maintenance, maintenance gets CommitConflict and reloads — and the
    final state must be golden under whatever interleaving this run
    produced."""
    import time

    from openlogreplicator_spark.lake.table import CommitConflict
    from openlogreplicator_spark.operators.merge import compact_table

    p = CdcPipeline(spark, events_dir, str(tmp_path / "t"), str(tmp_path / "c"),
                    merge_mode="mor", compact_every=0)
    stop = threading.Event()
    outcomes = {"ok": 0, "conflict": 0, "err": []}

    def scheduler():
        while not stop.is_set():
            try:
                if LakeTable.exists(p.table_path):
                    t = LakeTable.load(spark, p.table_path)
                    compact_table(t)
                    t.expire_snapshots(keep_last=3)
                    outcomes["ok"] += 1
            except CommitConflict:
                outcomes["conflict"] += 1  # lost to an epoch: reload+retry
            except Exception as ex:  # noqa: BLE001 — surface in the assert
                outcomes["err"].append(repr(ex))
                return
            time.sleep(0.2)

    th = threading.Thread(target=scheduler, daemon=True)
    th.start()
    try:
        p.run_available_now(max_files_per_trigger=1)
    finally:
        stop.set()
        th.join(timeout=30)
    assert not outcomes["err"], outcomes["err"]
    assert outcomes["ok"] > 0  # the scheduler really ran against the table

    golden = replay(events_pdf)
    got = (
        p.target_state().toPandas()
        .sort_values("url", kind="stable").reset_index(drop=True)
    )
    assert list(got["url"]) == list(golden["url"])
    assert list(got["text"]) == list(golden["text"])
    assert got["http_status"].astype("Int64").equals(
        golden["http_status"].astype("Int64")
    )


def test_rebase_validates_whole_chain_not_just_head(spark, table):
    """Round-3 ADVICE: if TWO commits land during a maintenance writer's
    window — a non-rebaseable posdelete followed by a rebaseable compact —
    a head-only check would rebase the losing bucket rewrite onto head and
    silently drop the posdelete's delete_files for the replaced buckets
    (resurrecting erased rows). The rebase must walk the parent chain and
    refuse."""
    from pyspark.sql import functions as F

    from openlogreplicator_spark.operators.merge import (
        compact_table, delete_positions,
    )

    # loser: loads the table, will try to commit a bucket rewrite later
    stale = LakeTable.load(spark, table)

    # winner 1 (non-rebaseable): position-delete a few physical rows
    t1 = LakeTable.load(spark, table)
    victims = t1.read(with_file=True, with_pos=True).limit(3)
    out = delete_positions(t1, victims)
    assert out["rows"] == 3
    erased_before = read_state(LakeTable.load(spark, table)).count()

    # winner 2 (rebaseable): compact — head's op is now in _REBASEABLE_OPS
    compact_table(LakeTable.load(spark, table))
    head_op = LakeTable.load(spark, table).snap["summary"]["op"]
    assert head_op in LakeTable._REBASEABLE_OPS

    # loser's rewrite of every bucket was computed from a PRE-posdelete
    # read — rebasing it would resurrect the erased rows
    with pytest.raises(CommitConflict):
        compact_table(stale)

    # and nothing was resurrected
    assert read_state(LakeTable.load(spark, table)).count() == erased_before


def test_rebase_still_composes_over_rebaseable_chain(spark, table):
    """Two rebaseable maintenance commits landing in the window must still
    rebase cleanly (the chain walk must not over-refuse)."""
    import datetime as _dt

    from pyspark.sql import functions as F

    from openlogreplicator_spark.operators.merge import (
        compact_table, merge_append, purge_tombstones,
    )

    stale = LakeTable.load(spark, table)
    compact_table(LakeTable.load(spark, table))
    purge_tombstones(LakeTable.load(spark, table),
                     older_than=_dt.datetime(1990, 1, 1))
    assert LakeTable.current_version(table) >= stale.snap["version"] + 2

    # append an epoch from the stale handle: must rebase over BOTH commits
    df = stale.read().limit(5).select(
        "url", "warc_ts", F.lit(10_000_000).alias("_seq"),
        F.lit("u").alias("_op"), "text", "lang",
    )
    merge_append(stale, df, epoch_id=99)
    assert LakeTable.load(spark, table).last_epoch() == (99, True)


def test_rebased_append_marks_only_its_own_buckets_dirty(spark, table):
    """commit_files derives the dirty set from the head a commit lands on:
    a merge_append that loses to a concurrent compact_table and rebases
    leaves exactly its own buckets dirty, not the buckets the compaction
    just cleaned."""
    from pyspark.sql import functions as F

    from openlogreplicator_spark.operators.merge import (
        compact_table, merge_append,
    )

    stale = LakeTable.load(spark, table)
    df = stale.read().limit(5).select(
        "url", "warc_ts", F.lit(10_000_000).alias("_seq"),
        F.lit("u").alias("_op"), "text", "lang",
    )
    df = spark.createDataFrame(df.collect(), df.schema)  # pin the 5 rows
    own = {r[0] for r in df.select(stale.bucket_expr()).distinct().collect()}
    assert stale.dirty_buckets() - own  # compaction has others to clean

    compact_table(LakeTable.load(spark, table))
    merge_append(stale, df, epoch_id=99)  # conflicts, then rebases
    head = LakeTable.load(spark, table)
    assert head.snap["summary"]["op"] == "merge_append"
    assert head.dirty_buckets() == own
