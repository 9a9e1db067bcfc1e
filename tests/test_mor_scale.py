"""Scale-shape gates for the merge-on-read path (round-2 verdict tasks 4+5):

* dirty buckets are tracked PER BUCKET — a compaction after a 1-bucket epoch
  rewrites exactly 1 bucket, untouched buckets' files survive by reference
  (reference analogue: checkpoint GC touches only stale files,
  /root/reference/src/metadata/Metadata.cpp:505-554);
* read_state / read_state_since / compact_table / merge_into and the
  pipeline's epoch fold all route LWW through the auto-selector: above the
  broadcast budget (``lww.BROADCAST_BUDGET_KEYS``, monkeypatched here) the
  salted two-phase plan engages (no winner-hash broadcast of every distinct
  key — the 10^9-key wall), below it the payload-sparing semijoin stays the
  plan.
"""

import datetime as dt
import json
import os

import pytest

from openlogreplicator_spark.lake.table import LakeTable
from openlogreplicator_spark.operators.merge import (
    compact_table,
    merge_append,
    merge_into,
    read_state,
)

FIELDS = [("url", "string"), ("warc_ts", "timestamp"), ("_seq", "long"),
          ("_op", "string"), ("text", "string")]
TS = dt.datetime(2020, 1, 1)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, _seq long, _op string, text string"
    )


@pytest.fixture()
def seeded(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, key_col="url",
                         n_buckets=8, schema_ver=1)
    merge_into(
        t, _batch(spark, [(f"u{i}", TS, i, "c", f"t{i}") for i in range(40)]),
        epoch_id=0,
    )
    return t


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_merge_append_tracks_dirty_buckets(spark, seeded, tmp_path):
    """Also: snapshots carry no wall-clock values, so two runs of one
    fixture leave snapshot JSONs of identical size."""
    t = seeded
    assert t.dirty_buckets() == set()  # CoW merge leaves the table clean
    merge_append(t, _batch(spark, [("u1", TS, 100, "u", "new1")]), epoch_id=1)
    assert len(t.dirty_buckets()) == 1
    merge_append(t, _batch(spark, [("u2", TS, 101, "u", "new2")]), epoch_id=2)
    d = t.dirty_buckets()
    assert 1 <= len(d) <= 2  # u1/u2 buckets may or may not collide

    # the same fixture again, into a second table
    t2 = LakeTable.create(spark, str(tmp_path / "t2"), FIELDS, key_col="url",
                          n_buckets=8, schema_ver=1)
    merge_into(
        t2, _batch(spark, [(f"u{i}", TS, i, "c", f"t{i}") for i in range(40)]),
        epoch_id=0,
    )
    merge_append(t2, _batch(spark, [("u1", TS, 100, "u", "new1")]), epoch_id=1)
    merge_append(t2, _batch(spark, [("u2", TS, 101, "u", "new2")]), epoch_id=2)

    def snapshots(table):
        sdir = os.path.join(table.path, "_snapshots")
        return {fn: os.path.join(sdir, fn) for fn in os.listdir(sdir)
                if fn.startswith("v") and fn.endswith(".json")}

    a, b = snapshots(t), snapshots(t2)
    assert sorted(a) == sorted(b) and len(a) == 4
    for fn, path in a.items():
        with open(path) as f:
            summary = json.load(f)["summary"]
        assert not [k for k in summary
                    if k.endswith(("_secs", "_ms", "_s"))], summary
        assert os.path.getsize(path) == os.path.getsize(b[fn]), fn


def test_compact_rewrites_only_dirty_buckets(spark, seeded):
    t = seeded
    merge_append(t, _batch(spark, [("u1", TS, 100, "u", "new")]), epoch_id=1)
    dirty = t.dirty_buckets()
    untouched_files = {
        f["path"] for f in t.snap["files"] if f["bucket"] not in dirty
    }
    assert untouched_files
    stats = compact_table(t)
    assert stats["buckets_rewritten"] == 1
    t2 = LakeTable.load(spark, t.path)
    assert t2.dirty_buckets() == set()
    assert untouched_files <= {f["path"] for f in t2.snap["files"]}
    got = {r["url"]: r["text"] for r in read_state(t2).collect()}
    assert got["u1"] == "new" and len(got) == 40


def test_read_state_resolves_only_dirty_buckets(spark, seeded):
    t = seeded
    merge_append(
        t,
        _batch(spark, [("u1", TS, 100, "u", "winner"),
                       ("u3", TS, 101, "d", None)]),
        epoch_id=1,
    )
    got = {r["url"]: r["text"] for r in read_state(t).collect()}
    assert got["u1"] == "winner"
    assert "u3" not in got  # delete delta wins at read time
    assert len(got) == 39
    # clean buckets must NOT pay the LWW aggregation: with one dirty bucket
    # the plan contains exactly one winner-broadcast join
    assert _plan(read_state(t)).count("BroadcastHashJoin") == 1


def test_salted_path_engages_above_budget_at_all_call_sites(
    spark, seeded, monkeypatch, events_dir, tmp_path
):
    from openlogreplicator_spark.operators import lww
    from openlogreplicator_spark.operators.merge import read_state_since
    from openlogreplicator_spark.streaming.pipeline import CdcPipeline

    t = seeded
    merge_append(t, _batch(spark, [("u1", TS, 100, "u", "w1")]), epoch_id=1)
    # the reference replay runs under the default budget (semijoin plans)
    p_ref = CdcPipeline(spark, events_dir, str(tmp_path / "tr"), str(tmp_path / "cr"))
    p_ref.run_batch_replay()

    # budget 0 → every fold plans salted (no broadcast of the winner set)
    monkeypatch.setattr(lww, "BROADCAST_BUDGET_KEYS", 0)
    salted = []
    real_salted = lww.lww_compact_salted

    def spy(*a, **k):
        salted.append(1)
        return real_salted(*a, **k)

    monkeypatch.setattr(lww, "lww_compact_salted", spy)

    df = read_state(t)
    assert "BroadcastHashJoin" not in _plan(df)
    assert {r["url"]: r["text"] for r in df.collect()}["u1"] == "w1"

    # read_state_since: the same fold over a ts-pruned scan
    since = read_state_since(t, 0)
    assert "BroadcastHashJoin" not in _plan(since)
    assert {r["url"]: r["text"] for r in since.collect()}["u1"] == "w1"

    # compact_table: same selector, state unchanged, dirty cleared
    compact_table(t)
    t2 = LakeTable.load(spark, t.path)
    assert t2.dirty_buckets() == set()
    assert {r["url"]: r["text"] for r in read_state(t2).collect()}["u1"] == "w1"

    # merge_into reconcile: salted above budget, winner still correct
    merge_into(t2, _batch(spark, [("u1", TS, 200, "u", "w2")]), epoch_id=3)
    assert {r["url"]: r["text"] for r in read_state(t2).collect()}["u1"] == "w2"
    assert len(salted) >= 4

    # the pipeline's epoch LWW: a salted batch replay reaches the same state
    n = len(salted)
    p = CdcPipeline(spark, events_dir, str(tmp_path / "ts"), str(tmp_path / "cs"))
    p.run_batch_replay()
    assert len(salted) > n
    got = sorted(map(tuple, p.target_state().collect()))
    assert got == sorted(map(tuple, p_ref.target_state().collect()))


def test_semijoin_stays_default_under_budget(spark, seeded):
    t = seeded
    merge_append(t, _batch(spark, [("u1", TS, 100, "u", "w1")]), epoch_id=1)
    df = read_state(t)  # default budget >> 40 keys
    assert "BroadcastHashJoin" in _plan(df)


def test_lookup_keys_prunes_to_key_buckets(spark, seeded):
    """Point lookup: result identical to a full-state filter, but the scan
    touches only the buckets the keys hash into — including MoR deltas
    (dirty-bucket read-time LWW still applies to looked-up keys)."""
    from openlogreplicator_spark.operators.merge import lookup_keys

    t = seeded
    # add MoR deltas so the lookup must LWW-resolve, not just scan
    merge_append(t, _batch(spark, [("u1", TS, 100, "u", "new1"),
                                   ("u3", TS, 101, "d", None)]), epoch_id=1)
    keys = ["u1", "u3", "u7", "nope"]
    got = lookup_keys(t, keys)
    want = read_state(t).filter("url in ('u1','u3','u7','nope')")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert {r["url"] for r in got.collect()} == {"u1", "u7"}  # u3 deleted
    assert (
        next(iter(r["text"] for r in got.collect() if r["url"] == "u1"))
        == "new1"
    )  # the MoR delta won
    # pruning is real: strictly fewer files scanned than the full read
    assert 0 < len(set(got.inputFiles())) < len(set(read_state(t).inputFiles()))
    # empty key set -> empty frame at the current schema, zero files
    empty = lookup_keys(t, [])
    assert empty.count() == 0 and empty.columns == got.columns


def test_read_state_since_prunes_and_matches_full_filter(spark, seeded):
    """'Rows changed since T' slice: lo-side manifest ts pruning + read-time
    LWW must equal the unpruned full-state filter exactly — including a MoR
    delta winner after the cutoff, a tombstone after the cutoff hiding a key,
    and keys whose winner predates the cutoff (absent either way)."""
    from pyspark.sql import functions as F

    from openlogreplicator_spark.operators.merge import read_state_since

    t = seeded  # 40 keys created at TS = 2020-01-01 (epoch 0)
    late = dt.datetime(2020, 1, 5)
    merge_append(
        t,
        _batch(spark, [("u1", late, 100, "u", "new1"),
                       ("u2", late, 101, "d", None),
                       ("u99", late, 102, "c", "fresh")]),
        epoch_id=1,
    )
    since_us = int(
        dt.datetime(2020, 1, 3, tzinfo=dt.timezone.utc).timestamp() * 1e6
    )
    got = read_state_since(t, since_us)
    want = read_state(t).filter(F.unix_micros("warc_ts") >= since_us)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert {r["url"] for r in got.collect()} == {"u1", "u99"}  # u2 tombstoned
    # the prune is real: the lo-bounded scan opens strictly fewer files
    pruned = set(t.read(ts_between=(since_us, None)).inputFiles())
    assert 0 < len(pruned) < len(set(t.read().inputFiles()))


def test_cluster_buckets_time_splits_files_and_preserves_state(spark, seeded):
    """Sort-order rewrite: after a compaction collapses each bucket to one
    wide-time-range file, cluster_buckets re-splits buckets into
    time-disjoint chunks — a narrow ts window then opens strictly fewer
    files — while user-visible state, tombstones, and read_state_since
    slices are all byte-identical; dirty buckets get LWW-folded for free."""
    from pyspark.sql import functions as F

    from openlogreplicator_spark.operators.merge import (
        cluster_buckets,
        read_state_since,
    )

    t = seeded  # 40 keys @ 2020-01-01
    for i, day in enumerate((3, 7, 11, 15)):
        when = dt.datetime(2020, 1, day)
        rows = [(f"u{j}", when, 200 + i * 10 + j, "u", f"v{i}_{j}")
                for j in range(8)]
        if i == 0:
            rows.append(("u20", when, 299, "d", None))  # tombstone survives
        merge_append(t, _batch(spark, rows), epoch_id=i + 1)
    compact_table(t)  # 1 file/bucket: bucket-granular bounds only
    lo = int(dt.datetime(2020, 1, 14, tzinfo=dt.timezone.utc).timestamp() * 1e6)

    def rows_opened(df) -> int:
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(p.removeprefix("file://")).metadata.num_rows
            for p in set(df.inputFiles())
        )

    opened_compacted = rows_opened(t.read(ts_between=(lo, None)))

    # make one bucket dirty again so the cluster pass must LWW-fold it
    merge_append(t, _batch(
        spark, [("u1", dt.datetime(2020, 1, 15), 400, "u", "final1")]),
        epoch_id=9)
    assert t.dirty_buckets()
    want = sorted(map(tuple, read_state(t).collect()))

    res = cluster_buckets(t, target_rows_per_file=2)
    assert t.dirty_buckets() == set()
    n_buckets = len({f["bucket"] for f in t.snap["files"]})
    assert res["files"] > n_buckets  # chunks actually split
    assert sorted(map(tuple, read_state(t).collect())) == want
    assert read_state(t).filter("url = 'u20'").count() == 0  # still deleted

    # the windowed scan now opens only each bucket's in-window tail chunks:
    # strictly fewer ROWS come off disk than the bucket-granular files held
    opened_clustered = rows_opened(t.read(ts_between=(lo, None)))
    assert 0 < opened_clustered < opened_compacted
    since = read_state_since(t, lo)
    full = read_state(t).filter(F.unix_micros("warc_ts") >= lo)
    assert sorted(map(tuple, since.collect())) == sorted(
        map(tuple, full.collect()))
