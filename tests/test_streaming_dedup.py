"""Streaming first-seen content dedup: one row per key, cross-epoch and
cross-restart suppression (streaming/dedup.py)."""

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from openlogreplicator_spark.streaming.dedup import first_seen_only

DDL = "id long, k string, ts long, seq long"


def _write(path, rows, mtime):
    t = pa.table(
        {
            "id": pa.array([r[0] for r in rows], pa.int64()),
            "k": pa.array([r[1] for r in rows], pa.string()),
            "ts": pa.array([r[2] for r in rows], pa.int64()),
            "seq": pa.array([r[3] for r in rows], pa.int64()),
        }
    )
    pq.write_table(t, path)
    os.utime(path, (mtime, mtime))


@pytest.fixture()
def src_dir(tmp_path):
    d = tmp_path / "src"
    d.mkdir()
    # epoch 1 (older mtime): dup of k=a inside one batch, plus k=b
    _write(str(d / "f1.parquet"),
           [(1, "a", 10, 1), (2, "a", 20, 2), (3, "b", 10, 3)], 1_000)
    # epoch 2: late re-arrival of k=a (earlier ts — must still lose) + new k=c
    _write(str(d / "f2.parquet"),
           [(4, "a", 0, 0), (5, "c", 50, 4)], 2_000)
    return str(d)


def _run(spark, src, ckpt, name):
    stream = (
        spark.readStream.schema(DDL).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = first_seen_only(stream, "k", ["ts", "seq"])
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}").toPandas()


def test_first_seen_within_and_across_epochs(spark, src_dir, tmp_path):
    got = _run(spark, src_dir, str(tmp_path / "ck"), "dedup1")
    got = got.sort_values("k").reset_index(drop=True)
    # exactly one row per key; within-epoch dup of k=a resolved to min order;
    # the cross-epoch late re-arrival (ts=0) lost to first-seen
    want = pd.DataFrame(
        {"id": [1, 3, 5], "k": ["a", "b", "c"], "ts": [10, 10, 50],
         "seq": [1, 3, 4]}
    )
    pd.testing.assert_frame_equal(got, want.astype(got.dtypes.to_dict()))


def _run_file_sink(spark, src, ckpt, out_dir):
    stream = (
        spark.readStream.schema(DDL).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = first_seen_only(stream, "k", ["ts", "seq"])
    q = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).toPandas()


def test_suppression_survives_restart(spark, src_dir, tmp_path):
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    first = _run_file_sink(spark, src_dir, ck, out)
    assert sorted(first["k"]) == ["a", "b", "c"]
    # new file after the first run: seen key b (higher order) must be
    # suppressed by the CHECKPOINTED state; new key d flows through
    _write(os.path.join(src_dir, "f3.parquet"),
           [(6, "b", 99, 9), (7, "d", 1, 5)], 3_000)
    got = _run_file_sink(spark, src_dir, ck, out)
    got = got.sort_values("k").reset_index(drop=True)
    assert sorted(got["k"]) == ["a", "b", "c", "d"]  # b NOT re-emitted
    assert int(got.loc[got["k"] == "d", "id"].iloc[0]) == 7
    assert int(got.loc[got["k"] == "b", "id"].iloc[0]) == 3  # original winner

