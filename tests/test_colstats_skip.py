"""Manifest string-column bounds (col_bounds) + read(eq=...) file skipping:
selective after a lang-leading cluster rewrite, provably safe on dirty
merge-on-read buckets (the resurrection hazard is gated in read(), not
documented away)."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from openlogreplicator_spark.lake.table import LakeTable
from openlogreplicator_spark.operators.decode import EVENTS_DDL
from openlogreplicator_spark.operators.merge import (
    cluster_buckets,
    merge_append,
    merge_into,
    read_state,
)
from openlogreplicator_spark.streaming.pipeline import CdcPipeline

TS = dt.datetime(2020, 1, 1)
TS2 = dt.datetime(2020, 1, 2)
DDL = ("url string, warc_ts timestamp, _seq long, _op string, "
       "text string, lang string")
FIELDS = [("url", "string"), ("warc_ts", "timestamp"), ("_seq", "long"),
          ("_op", "string"), ("text", "string"), ("lang", "string")]


def test_col_bounds_recorded_and_eq_prunes_after_cluster(
    spark, events_dir, tmp_path
):
    files = sorted(glob.glob(os.path.join(events_dir, "*.parquet")))
    p = CdcPipeline(spark, events_dir, str(tmp_path / "t"),
                    str(tmp_path / "c"))
    for i, f in enumerate(files):
        p.apply_epoch(spark.read.schema(EVENTS_DDL).parquet(f), epoch_id=i)
    t = LakeTable.load(spark, p.table_path)
    # short string columns carry bounds; long text never does (soundness:
    # a truncated max would under-report the file's upper bound)
    assert any("col_bounds" in fe for fe in t.snap["files"])
    assert all(
        "text" not in fe.get("col_bounds", {}) for fe in t.snap["files"]
    )

    # cluster with lang leading: files get narrow lang ranges
    cluster_buckets(t, target_rows_per_file=40,
                    sort_cols=("lang", "warc_ts"))
    t = LakeTable.load(spark, p.table_path)
    langs = {
        r["lang"]
        for r in t.read().select("lang").dropna().distinct().collect()
    }
    target = sorted(langs)[0]
    pruned = t.read(eq={"lang": target})
    full = t.read()
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    want = sorted(
        (r["url"], r["_seq"])
        for r in full.filter(F.col("lang") == target).collect()
    )
    got = sorted(
        (r["url"], r["_seq"])
        for r in pruned.filter(F.col("lang") == target).collect()
    )
    assert got == want and len(got) > 0


def test_eq_prune_never_touches_dirty_buckets(spark, tmp_path):
    """The resurrection hazard: u1's winner is lang='en', its superseded
    version lang='de'. On a DIRTY (merge-on-read) bucket, eq-pruning the
    'en' file would let the stale 'de' row win read-time LWW. read() must
    refuse to prune dirty buckets — state stays correct."""
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, key_col="url",
                         n_buckets=1, schema_ver=1)
    b1 = spark.createDataFrame([("u1", TS, 1, "c", "old", "de")], DDL)
    b2 = spark.createDataFrame([("u1", TS2, 2, "u", "new", "en")], DDL)
    merge_append(t, b1, epoch_id=0)
    t = LakeTable.load(spark, t.path)
    merge_append(t, b2, epoch_id=1)
    t = LakeTable.load(spark, t.path)
    assert t.dirty_buckets(), "merge_append must leave the bucket dirty"

    # both delta files are read despite eq — no pruning on dirty buckets
    pruned = t.read(eq={"lang": "de"})
    assert sorted(pruned.inputFiles()) == sorted(t.read().inputFiles())
    # and resolved state filtered to lang='de' is EMPTY (the winner is en)
    state = read_state(t)
    assert state.filter(F.col("lang") == "de").count() == 0
    assert state.filter(F.col("url") == "u1").collect()[0]["lang"] == "en"

    # after compaction (clean bucket, one row per key) the prune is exact
    from openlogreplicator_spark.operators.merge import compact_table

    compact_table(t)
    t = LakeTable.load(spark, t.path)
    assert not t.dirty_buckets()
    pr = t.read(eq={"lang": "de"})
    assert pr.filter(F.col("lang") == "de").count() == 0


def test_eq_prune_follows_renames_by_field_id(spark, tmp_path):
    """Files written before a rename carry bounds under the OLD physical
    name; eq on the NEW name must still prune them (field-id matching)."""
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, key_col="url",
                         n_buckets=1, schema_ver=1)
    rows = [(f"u{i}", TS, i, "c", f"t{i}", "aa" if i < 10 else "zz")
            for i in range(20)]
    merge_into(t, spark.createDataFrame(rows, DDL), epoch_id=0)
    t = LakeTable.load(spark, t.path)
    cluster_buckets(t, target_rows_per_file=10, sort_cols=("lang",))
    t = LakeTable.load(spark, t.path)
    t.evolve("rename_column", "lang", new_name="language")
    t = LakeTable.load(spark, t.path)
    pruned = t.read(eq={"language": "aa"})
    full = t.read()
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    got = {r["url"] for r in
           pruned.filter(F.col("language") == "aa").collect()}
    assert got == {f"u{i}" for i in range(10)}


def test_plan_scan_matches_actual_read(spark, events_dir, tmp_path):
    """plan_scan is the metadata EXPLAIN for file skipping: its
    files_selected must equal what read() actually opens, for every
    combination of prunes."""
    files = sorted(glob.glob(os.path.join(events_dir, "*.parquet")))
    p = CdcPipeline(spark, events_dir, str(tmp_path / "t"),
                    str(tmp_path / "c"))
    for i, f in enumerate(files):
        p.apply_epoch(spark.read.schema(EVENTS_DDL).parquet(f), epoch_id=i)
    t = LakeTable.load(spark, p.table_path)
    cluster_buckets(t, target_rows_per_file=40,
                    sort_cols=("lang", "warc_ts"))
    t = LakeTable.load(spark, p.table_path)
    lang = sorted(
        r["lang"] for r in
        t.read().select("lang").dropna().distinct().collect()
    )[0]
    some_bucket = t.snap["files"][0]["bucket"]
    cases = [
        dict(),
        dict(eq={"lang": lang}),
        dict(buckets=[some_bucket]),
        dict(buckets=[some_bucket], eq={"lang": lang}),
    ]
    for kw in cases:
        plan = t.plan_scan(**kw)
        opened = len(t.read(**kw).inputFiles())
        assert plan["files_selected"] == opened, (kw, plan)
        assert (
            plan["files_total"]
            == plan["files_selected"] + plan["skipped_bucket"]
            + plan["skipped_ts"] + plan["skipped_eq"]
        )
    # the eq case must actually skip something on this clustered layout
    assert t.plan_scan(eq={"lang": lang})["skipped_eq"] > 0


def test_zorder_both_dims_prune_same_layout(spark, tmp_path):
    """Z-order interleave: eq on the categorical AND ts_between both skip
    files on the SAME layout — the multi-dim win a one-dim sort_cols
    rewrite cannot give (only its leading column prunes well). Needs
    several files per bucket (one file per bucket has whole-bucket bounds
    and nothing to skip)."""
    from openlogreplicator_spark.operators.merge import (
        ts_micros,
        zorder_buckets,
    )

    langs = ["de", "en", "fr", "zh"]
    rows = [
        (f"u{i}", TS + dt.timedelta(minutes=i), i, "c", f"t{i}",
         langs[i % 4])
        for i in range(400)
    ]
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, key_col="url",
                         n_buckets=2, schema_ver=1)
    merge_into(t, spark.createDataFrame(rows, DDL), epoch_id=0)
    t = LakeTable.load(spark, t.path)
    before = sorted(
        (r["url"], r["_seq"]) for r in read_state(t).collect()
    )
    zorder_buckets(t, cat_col="lang", bits=8,
                   target_rows_per_file=25)
    t = LakeTable.load(spark, t.path)
    assert len(t.snap["files"]) >= 8  # several files per bucket

    # user state untouched by the maintenance rewrite
    after = sorted(
        (r["url"], r["_seq"]) for r in read_state(t).collect()
    )
    assert after == before

    mid_lo = ts_micros(TS + dt.timedelta(minutes=300))
    plan_eq = t.plan_scan(eq={"lang": "de"})
    plan_ts = t.plan_scan(ts_between=(mid_lo, None))
    assert plan_eq["skipped_eq"] > 0, plan_eq
    assert plan_ts["skipped_ts"] > 0, plan_ts

    # eq slice through read() equals scan+filter; ts slice exact too
    got = sorted(
        (r["url"], r["_seq"])
        for r in t.read(eq={"lang": "de"})
        .filter(F.col("lang") == "de").collect()
    )
    want = sorted(
        (r["url"], r["_seq"])
        for r in t.read().filter(F.col("lang") == "de").collect()
    )
    assert got == want
    got_ts = sorted(
        r["url"] for r in t.read(ts_between=(mid_lo, None))
        .filter(F.col("warc_ts") >= TS + dt.timedelta(minutes=300))
        .collect()
    )
    assert got_ts == sorted(f"u{i}" for i in range(300, 400))


def test_read_state_eq_slice(spark, tmp_path):
    """read_state(eq=...) composes pruning with LWW correctly: a key whose
    SUPERSEDED version matched the predicate but whose winner does not is
    absent (dirty path resolves LWW before filtering)."""
    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, key_col="url",
                         n_buckets=1, schema_ver=1)
    merge_append(t, spark.createDataFrame(
        [("u1", TS, 1, "c", "old", "de"),
         ("u2", TS, 2, "c", "keep", "de")], DDL), epoch_id=0)
    t = LakeTable.load(spark, t.path)
    merge_append(t, spark.createDataFrame(
        [("u1", TS2, 3, "u", "new", "en")], DDL), epoch_id=1)
    t = LakeTable.load(spark, t.path)
    rows = {r["url"]: r["lang"]
            for r in read_state(t, eq={"lang": "de"}).collect()}
    assert rows == {"u2": "de"}  # u1's winner is en — absent from the slice


def test_footer_stats_pinned_on_a_multi_row_group_file(spark, tmp_path):
    """One footer walk feeds both the manifest entry and the epoch gate.
    Three row groups: ``lang`` is all NULL in the second (no bounds, null
    count still summed), ``text`` exceeds the 64-char bound limit in the
    third only (no bounds), ``url`` holds one NULL (the malformed count).
    The expected values are literal, so any change to a trust rule shows."""
    path = str(tmp_path / "three_rg.parquet")
    tb = pa.table({
        "seq": pa.array([7, 3, 11, 12, 20, 21], pa.int64()),
        "warc_ts": pa.array(
            [TS + dt.timedelta(seconds=s) for s in (5, 1, 9, 10, 30, 31)],
            pa.timestamp("us"),
        ),
        "op": ["c", "u", "c", "d", "u", "c"],
        "url": ["u1", "u0", None, "u3", "u4", "u5"],
        "lang": ["en", "de", None, None, "fr", "en"],
        "text": ["a", "b", "c", "d", "x" * 70, "e"],
        "schema_ver": pa.array([1, 1, 2, 2, 1, 3], pa.int32()),
    }).replace_schema_metadata({"olr:incarnation": "2"})
    pq.write_table(tb, path, row_group_size=2)
    assert pq.ParquetFile(path).metadata.num_row_groups == 3

    t = LakeTable.create(spark, str(tmp_path / "t"), FIELDS, key_col="url",
                         n_buckets=1, schema_ver=1)
    assert t.manifest_entries([(path, 0)]) == [{
        "path": path,
        "bucket": 0,
        "schema_ver": 1,
        "rows": 6,
        "ts_min_us": 1577836801000000,
        "ts_max_us": 1577836831000000,
        "col_bounds": {"op": ["c", "u"], "url": ["u0", "u5"]},
        "null_counts": {"seq": 0, "warc_ts": 0, "op": 0, "url": 1,
                        "lang": 2, "text": 0, "schema_ver": 0},
    }]

    p = CdcPipeline(spark, str(tmp_path), str(tmp_path / "tt"),
                    str(tmp_path / "ck"))
    assert p._epoch_footer_stats(spark.read.parquet(path)) == {
        "incarnation": 2, "rows": 6, "schema_ver": 3,
        "seq_min": 3, "seq_max": 21, "nulls": 1,
    }
