import os

import pytest
from pyspark.sql import functions as F

from openlogreplicator_spark.lake.table import LakeTable

FIELDS = [("url", "string"), ("warc_ts", "timestamp"), ("_seq", "long"),
          ("_op", "string"), ("text", "string")]


@pytest.fixture()
def table(spark, tmp_path):
    return LakeTable.create(spark, str(tmp_path / "t"), FIELDS, key_col="url",
                            n_buckets=4, schema_ver=1)


def _write_rows(spark, table, rows, schema_ver=None):
    df = spark.createDataFrame(rows, "url string, warc_ts timestamp, _seq long, _op string, text string")
    df = df.withColumn("_bucket", table.bucket_expr())
    absdir, _rel = table.new_data_dir()
    df.write.partitionBy("_bucket").parquet(absdir)
    files = []
    for root, _d, fs in os.walk(absdir):
        for fn in fs:
            if fn.endswith(".parquet"):
                files.append({
                    "path": os.path.relpath(os.path.join(root, fn), table.path),
                    "bucket": int(os.path.basename(root).split("=")[1]),
                    "schema_ver": schema_ver or table.current_schema_ver,
                    "rows": 1,
                })
    table.commit_files(files, {f["bucket"] for f in files}, {"op": "append"})


def test_create_load_roundtrip(spark, table):
    t2 = LakeTable.load(spark, table.path)
    assert t2.snap == table.snap
    assert t2.read().count() == 0
    assert [f["name"] for f in t2.current_schema()] == [n for n, _ in FIELDS]


def test_write_read_and_bucket_pruning(spark, table):
    import datetime as dt
    ts = dt.datetime(2020, 1, 1)
    rows = [(f"u{i}", ts, i, "c", f"t{i}") for i in range(20)]
    _write_rows(spark, table, rows)
    assert table.read().count() == 20
    # pruned read only returns rows of those buckets, consistent with bucket_expr
    got = table.read(buckets=[0, 1]).withColumn("_b", table.bucket_expr())
    bvals = {r["_b"] for r in got.select("_b").distinct().collect()}
    assert bvals <= {0, 1}
    full = table.read().withColumn("_b", table.bucket_expr())
    expect = full.filter(F.col("_b").isin([0, 1])).count()
    assert got.count() == expect


def test_schema_evolution_remaps_old_files(spark, table):
    import datetime as dt
    ts = dt.datetime(2020, 1, 1)
    _write_rows(spark, table, [("a", ts, 1, "c", "old-file-row")])
    table.evolve("add_column", "fetch_status", new_type="int", to_ver=2)
    table.evolve("widen_type", "fetch_status", new_type="long", to_ver=3)
    table.evolve("rename_column", "fetch_status", new_name="http_status", to_ver=4)
    t2 = LakeTable.load(spark, table.path)
    assert t2.current_schema_ver == 4
    df = t2.read()
    assert dict(df.dtypes)["http_status"] == "bigint"
    row = df.collect()[0]
    assert row["text"] == "old-file-row" and row["http_status"] is None


def test_widen_rejects_narrowing(table):
    table.evolve("add_column", "n", new_type="long", to_ver=2)
    with pytest.raises(ValueError):
        table.evolve("widen_type", "n", new_type="int")


def test_epoch_summary_gate(table):
    assert table.last_epoch() == (-1, True)
    table.commit_summary_only({"op": "merge", "epoch_id": 3, "final": False})
    assert table.last_epoch() == (3, False)
    table.commit_summary_only({"op": "merge", "epoch_id": 3, "final": True})
    assert table.last_epoch() == (3, True)


def test_epoch_gate_survives_maintenance_commits(table):
    """A maintenance commit (evolve/compact/purge) between an epoch and its
    re-delivery must not reset the exactly-once gate (ADVICE r01): the
    confirmed-epoch watermark is a dedicated snapshot field, not derived from
    the last commit summary."""
    table.commit_summary_only({"op": "merge", "epoch_id": 7, "final": True})
    table.evolve("add_column", "extra", new_type="int", to_ver=2)
    table.commit_summary_only({"op": "purge_tombstones", "buckets": 0})
    assert table.last_epoch() == (7, True)


def test_rename_of_reserved_columns_rejected(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "r"), FIELDS, key_col="url", n_buckets=4,
        reserved_cols=["warc_ts", "_seq", "_op"],
    )
    for col in ("url", "warc_ts", "_seq", "_op"):
        with pytest.raises(ValueError):
            t.evolve("rename_column", col, new_name="renamed")
    # payload columns stay renamable (resolved by field id downstream)
    t.evolve("rename_column", "text", new_name="body")
    assert any(f["name"] == "body" for f in t.current_schema())


def test_commit_is_atomic_pointer_swap(spark, table):
    v0 = table.snap["version"]
    table.commit_summary_only({"op": "noop"})
    cur = os.path.join(table.path, "_snapshots", "_current")
    with open(cur) as f:
        assert int(f.read()) == v0 + 1
    # old snapshot still readable (time travel by version file)
    assert os.path.exists(os.path.join(table.path, "_snapshots", f"v{v0:08d}.json"))


def test_manifest_commit_cost_is_o_new_files(spark, table):
    """Round-2 verdict 'What's wrong #3': per-commit metadata must be
    O(files added), not O(total files) — the snapshot JSON holds manifest
    refs, each commit adds ONE manifest with only its own files."""
    import datetime as dt
    import json as _json

    ts = dt.datetime(2020, 1, 1)
    for e in range(5):
        _write_rows(spark, table, [(f"u{e}-{i}", ts, e * 100 + i, "c", "x")
                                   for i in range(8)])
    sdir = os.path.join(table.path, "_snapshots")
    with open(os.path.join(sdir, f"v{table.snap['version']:08d}.json")) as f:
        on_disk = _json.load(f)
    assert "files" not in on_disk  # file list never restated per commit
    assert len(on_disk["manifests"]) == 5
    # each manifest carries only its OWN commit's files
    assert max(m["n_files"] for m in on_disk["manifests"]) <= 16
    # reload resolves the chain (with bucket retraction) to the identical list
    t2 = LakeTable.load(spark, table.path)
    assert t2.snap["files"] == table.snap["files"]


def test_manifest_chain_merges_past_threshold(spark, table):
    import datetime as dt

    table.snap["manifest_merge_threshold"] = 4
    ts = dt.datetime(2020, 1, 1)
    for e in range(7):
        _write_rows(spark, table, [(f"k{e}", ts, e, "c", "x")])
    assert len(table.snap["manifests"]) <= 5  # collapsed, not 7
    t2 = LakeTable.load(spark, table.path)
    assert sorted(f["path"] for f in t2.snap["files"]) == sorted(
        f["path"] for f in table.snap["files"]
    )
    # _write_rows replaces each commit's buckets, so the resolved list keeps
    # only the last file per bucket — count follows the file metadata
    assert t2.read().count() == len(table.snap["files"])


def test_expire_snapshots_gcs_unreferenced_manifests(spark, table):
    import datetime as dt

    table.snap["manifest_merge_threshold"] = 3  # force chain collapses
    ts = dt.datetime(2020, 1, 1)
    for e in range(8):
        # same bucket replaced each time -> old files + manifests orphan
        _write_rows(spark, table, [("samekey", ts, e, "c", f"v{e}")])
    mdir = os.path.join(table.path, "_snapshots", "manifests")
    before = len(os.listdir(mdir))
    table.expire_snapshots(keep_last=1)
    after = len(os.listdir(mdir))
    assert after < before  # collapsed-away manifests are GC'd
    # current state still fully readable
    assert table.read().count() == 1
    t2 = LakeTable.load(spark, table.path)
    assert t2.read().collect()[0]["text"] == "v7"


def _fake_entries(buckets):
    # commit_files never opens the data files, so metadata-only entries do
    return [{"path": f"data/fake/_bucket={b}/part.parquet", "bucket": b,
             "schema_ver": 1, "rows": 1} for b in buckets]


def test_commit_files_dirty_bucket_rule(spark, table, tmp_path):
    """commit_files owns the dirty set: a pure append marks its buckets
    dirty, replacing buckets clears them, a commit with no files changes
    nothing, and on a partial_images table a rewrite leaves the written
    buckets dirty. No snapshot carries a needs_read_compaction key."""
    import json as _json

    table.commit_files(_fake_entries([0, 1]), [], {"op": "merge_append"})
    assert table.dirty_buckets() == {0, 1}
    table.commit_files(_fake_entries([1, 2]), [1, 2], {"op": "merge"})
    assert table.dirty_buckets() == {0}
    table.commit_files([], [], {"op": "merge_append"})
    assert table.dirty_buckets() == {0}
    assert LakeTable.load(spark, table.path).dirty_buckets() == {0}
    table.commit_files(_fake_entries([0]), [0], {"op": "compact"},
                       n_buckets=8)
    assert table.dirty_buckets() == set() and table.n_buckets == 8

    part = LakeTable.create(spark, str(tmp_path / "p"), FIELDS, key_col="url",
                            n_buckets=4, flags={"partial_images": True})
    part.commit_files(_fake_entries([0, 2]), [], {"op": "merge_append"})
    part.commit_files(_fake_entries([2, 3]), [0, 2, 3],
                      {"op": "compact_partial"})
    assert part.dirty_buckets() == {2, 3}

    for t in (table, part):
        sdir = os.path.join(t.path, "_snapshots")
        for fn in os.listdir(sdir):
            if fn.startswith("v") and fn.endswith(".json"):
                with open(os.path.join(sdir, fn)) as f:
                    assert "needs_read_compaction" not in _json.load(f)


def test_drop_column_metadata_only_and_no_resurrection(spark, table):
    """Iceberg drop semantics: the column leaves the schema without touching
    data files; re-adding the same NAME gets a fresh field id, so values the
    dropped column wrote can never resurface under the new column."""
    import datetime as dt
    ts = dt.datetime(2020, 1, 1)
    table.evolve("add_column", "fetch_status", new_type="int", to_ver=2)
    df = spark.createDataFrame(
        [("a", ts, 1, "c", "row-a", 200)],
        "url string, warc_ts timestamp, _seq long, _op string, "
        "text string, fetch_status int",
    ).withColumn("_bucket", table.bucket_expr())
    absdir, _rel = table.new_data_dir()
    df.write.partitionBy("_bucket").parquet(absdir)
    files = []
    for root, _d, fs in os.walk(absdir):
        for fn in fs:
            if fn.endswith(".parquet"):
                files.append({
                    "path": os.path.relpath(os.path.join(root, fn), table.path),
                    "bucket": int(os.path.basename(root).split("=")[1]),
                    "schema_ver": 2, "rows": 1,
                })
    table.commit_files(files, set(), {"op": "append"})
    assert table.read().collect()[0]["fetch_status"] == 200

    n_data_files = len(table.snap["files"])
    table.evolve("drop_column", "fetch_status", to_ver=3)
    t3 = LakeTable.load(spark, table.path)
    assert "fetch_status" not in t3.read().columns
    assert len(t3.snap["files"]) == n_data_files  # metadata-only: no rewrite

    t3.evolve("add_column", "fetch_status", new_type="int", to_ver=4)
    row = LakeTable.load(spark, table.path).read().collect()[0]
    assert row["fetch_status"] is None  # new field id: old value stays dead


def test_drop_column_guards(table):
    with pytest.raises(ValueError):
        table.evolve("drop_column", "url")  # merge key
    with pytest.raises(ValueError):
        table.evolve("drop_column", "nope")  # unknown column


def test_with_file_and_file_commits_provenance(spark, table):
    import datetime as dt

    t0 = dt.datetime(2020, 1, 1)
    _write_rows(spark, table, [("u1", t0, 1, "c", "a")])
    t1 = LakeTable.load(spark, table.path)
    t1.commit_files(
        [], [], {"op": "merge_append", "epoch_id": 7, "rows_written": 0}
    )
    # second data commit under an epoch-bearing summary
    df = spark.createDataFrame(
        [("u2", t0, 2, "c", "b")],
        "url string, warc_ts timestamp, _seq long, _op string, text string",
    )
    t2 = LakeTable.load(spark, table.path)
    df2 = df.withColumn("_bucket", t2.bucket_expr())
    absdir, _rel = t2.new_data_dir()
    df2.write.partitionBy("_bucket").parquet(absdir)
    files = []
    for root, _d, fs in os.walk(absdir):
        for fn in fs:
            if fn.endswith(".parquet"):
                files.append({
                    "path": os.path.relpath(os.path.join(root, fn), t2.path),
                    "bucket": int(os.path.basename(root).split("=")[1]),
                    "schema_ver": t2.current_schema_ver, "rows": 1,
                })
    t2.commit_files(files, [], {"op": "merge_append", "epoch_id": 8,
                                "rows_written": 1})

    t3 = LakeTable.load(spark, table.path)
    fc = t3.file_commits()
    got = t3.read(with_file=True).select("url", "_file").collect()
    assert {r.url for r in got} == {"u1", "u2"}
    for r in got:
        assert r._file in fc, (r._file, sorted(fc))
        # the epoch-bearing commit attributes its own files; the plain
        # append's files carry epoch_id=None
        if r.url == "u2":
            assert fc[r._file]["epoch_id"] == 8
        else:
            assert fc[r._file]["epoch_id"] is None


def test_file_commits_survives_snapshot_expiry(spark, table):
    import datetime as dt

    t0 = dt.datetime(2020, 1, 1)
    for i in range(3):
        _write_rows(spark, table, [(f"u{i}", t0, i, "c", "x")])
        table = LakeTable.load(spark, table.path)
    table.expire_snapshots(keep_last=1)
    t = LakeTable.load(spark, table.path)
    fc = t.file_commits()  # must not raise on expired snapshot JSONs
    files = {r._file for r in t.read(with_file=True).collect()}
    assert files <= set(fc)


def test_symlink_manifest_roundtrip_and_refusals(spark, table, tmp_path):
    import datetime as dt
    ts = dt.datetime(2020, 1, 1)
    rows = [(f"u{i}", ts, i, "c", f"t{i}") for i in range(12)]
    rows.append(("u3", dt.datetime(2020, 1, 2), 100, "d", None))
    _write_rows(spark, table, rows)

    man = table.write_symlink_manifest()
    assert os.path.isfile(os.path.join(man, "README"))
    paths = []
    for root, _d, fs in os.walk(man):
        for fn in fs:
            if fn == "manifest":
                with open(os.path.join(root, fn)) as fh:
                    paths += [ln for ln in fh.read().splitlines() if ln]
    assert paths and all(os.path.isabs(p) and os.path.isfile(p) for p in paths)
    # the external-reader contract reproduces the library read exactly
    ext = (
        spark.read.parquet(*paths)
        .filter(F.col("_op") != "d")
        .select("url", "warc_ts", "_seq", "text")
    )
    lib = table.read().filter(F.col("_op") != "d").select(
        "url", "warc_ts", "_seq", "text"
    )
    assert sorted(map(tuple, ext.collect())) == sorted(map(tuple, lib.collect()))

    # refusal 1: dirty merge-on-read buckets need read-time LWW
    table.snap["dirty_buckets"] = [1]
    with pytest.raises(ValueError, match="dirty"):
        table.write_symlink_manifest()
    table.snap["dirty_buckets"] = []

    # refusal 2: files written under a non-current schema (external readers
    # cannot remap by field id)
    table.evolve("rename_column", "text", new_name="body")
    t2 = LakeTable.load(spark, table.path)
    with pytest.raises(ValueError, match="schema"):
        t2.write_symlink_manifest()

    # refusal 3: partial-image tables
    tp = LakeTable.create(
        spark, str(tmp_path / "tp"), FIELDS, key_col="url", n_buckets=2,
        flags={"partial_images": True},
    )
    with pytest.raises(ValueError, match="partial"):
        tp.write_symlink_manifest()


def test_read_builds_without_a_spark_job(spark, table):
    """``read()`` hands each schema version's files their schema from the
    manifest, so building the read runs no footer-inference job, also with
    files at several versions (add, widen, rename, drop) and a position
    delete file; the rows keep their remapped values."""
    import datetime as dt

    from openlogreplicator_spark.operators.merge import delete_positions

    ts = dt.datetime(2020, 1, 1)

    def write(rows, ddl, ver):
        df = spark.createDataFrame(rows, ddl).withColumn(
            "_bucket", table.bucket_expr())
        absdir, _rel = table.new_data_dir()
        df.write.partitionBy("_bucket").parquet(absdir)
        entries = [dict(e, schema_ver=ver)
                   for e in table.manifest_entries(table.written_files(absdir))]
        table.commit_files(entries, set(), {"op": "append"})

    base = "url string, warc_ts timestamp, _seq long, _op string, text string"
    write([("a", ts, 1, "c", "v1")], base, 1)
    table.evolve("add_column", "fetch_status", new_type="int", to_ver=2)
    write([("b", ts, 2, "c", "v2", 200)], base + ", fetch_status int", 2)
    table.evolve("widen_type", "fetch_status", new_type="long", to_ver=3)
    write([("c", ts, 3, "c", "v3", 301)], base + ", fetch_status long", 3)
    table.evolve("rename_column", "fetch_status", new_name="http_status",
                 to_ver=4)
    table.evolve("drop_column", "text", to_ver=5)
    write([("d", ts, 4, "c", 404)],
          "url string, warc_ts timestamp, _seq long, _op string, "
          "http_status long", 5)
    t = LakeTable.load(spark, table.path)
    victim = t.read(with_file=True, with_pos=True).filter(F.col("url") == "d")
    delete_positions(t, victim)
    t = LakeTable.load(spark, table.path)

    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    sc.setJobGroup("lake-read-build", "build LakeTable.read")
    try:
        df = t.read()
        with_file = t.read(with_file=True, with_pos=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup("lake-read-build")) == []
    assert dict(df.dtypes) == {"url": "string", "warc_ts": "timestamp",
                               "_seq": "bigint", "_op": "string",
                               "http_status": "bigint"}
    assert sorted((r["url"], r["http_status"]) for r in df.collect()) == [
        ("a", None), ("b", 200), ("c", 301)]
    assert with_file.count() == 3
