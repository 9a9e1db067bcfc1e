"""The stateful stale-event suppressor (``streaming/stateful.py``) and the
pipeline's ``suppress_stale`` path built on it."""

import pandas as pd
from pyspark.sql import functions as F


def test_stateful_suppressor_cross_epoch(spark, events_dir, events_pdf, tmp_path):
    """Events at-or-below a key's stored high-watermark are suppressed across
    micro-batches; survivors still contain every LWW winner."""
    from openlogreplicator_spark.operators.decode import EVENTS_DDL
    from openlogreplicator_spark.streaming.stateful import suppress_stale_events

    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 2)
        .parquet(events_dir)
        .filter((F.col("op") != "ddl") & (~F.col("rolled_back")))
        .withColumn("extras_json", F.to_json("extras"))
        .withColumn("before_json", F.to_json("before"))
        .select("url", "warc_ts", "seq", "op", "html", "text", "lang",
                "extras_json", "before_json", "schema_ver")
    )
    out = suppress_stale_events(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("suppressed")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM suppressed").toPandas()

    dml = events_pdf[(events_pdf["op"] != "ddl") & (~events_pdf["rolled_back"])]
    assert 0 < len(got) < len(dml)  # something suppressed, something kept
    # survivors per url are strictly increasing in (warc_ts, seq) within each
    # epoch boundary; final winner always survives:
    winners = (
        dml.sort_values(["warc_ts", "seq"], kind="stable").groupby("url").tail(1)
    )
    got_keys = set(zip(got["url"], got["seq"]))
    for _, w in winners.iterrows():
        assert (w["url"], w["seq"]) in got_keys
    # no row is emitted twice
    assert len(got_keys) == len(got)
    # LWW over the survivors equals LWW over the full stream (suppression
    # only removes rows that could never win)
    surv = dml.merge(got[["url", "seq"]], on=["url", "seq"])
    surv_winners = (
        surv.sort_values(["warc_ts", "seq"], kind="stable").groupby("url").tail(1)
    )
    a = winners.sort_values("url")[["url", "seq"]].reset_index(drop=True)
    b = surv_winners.sort_values("url")[["url", "seq"]].reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_pipeline_suppress_stale_matches_golden_and_shrinks(
    spark, events_dir, events_pdf, tmp_path
):
    """run_available_now(suppress_stale=True): final state identical to the
    unsuppressed run (the pre-filter only drops rows that cannot win), and
    later epochs see SHRUNKEN input (metrics events_in < raw rows) because
    duplicates / stale updates die at the state filter."""
    import glob
    import os

    from openlogreplicator_spark.streaming.pipeline import CdcPipeline

    ref = CdcPipeline(spark, events_dir, str(tmp_path / "tr"), str(tmp_path / "cr"))
    ref.run_available_now(max_files_per_trigger=2)

    sup = CdcPipeline(spark, events_dir, str(tmp_path / "ts"), str(tmp_path / "cs"),
                      metrics_path=str(tmp_path / "ms"))
    sup.run_available_now(max_files_per_trigger=2, suppress_stale=True)

    a = ref.target_state().toPandas().sort_values("url").reset_index(drop=True)
    b = sup.target_state().toPandas().sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)

    m = spark.read.parquet(str(tmp_path / "ms")).toPandas()
    raw_rows = len(events_pdf)
    assert m["events_in"].sum() < raw_rows  # stale rows died before the epoch
    # schema evolution still happened (ddl rows bypassed the state filter)
    assert dict(sup.target_state().dtypes)["http_status"] == "bigint"


def test_suppress_stale_carries_before_images(spark, events_dir, events_pdf, tmp_path):
    """ADVICE r02: the stale-suppression path must NOT null the before-image —
    a before-image sink fed from a suppress_stale stream keeps its
    update/delete before rows (base64 JSON ride through the state operator)."""
    from openlogreplicator_spark.operators.decode import EVENTS_DDL
    from openlogreplicator_spark.streaming.pipeline import CdcPipeline

    p = CdcPipeline(spark, events_dir, str(tmp_path / "t"), str(tmp_path / "c"))
    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 2)
        .parquet(events_dir)
    )
    q = (
        p._with_stale_suppression(stream)
        .writeStream.format("memory")
        .queryName("with_before")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT url, seq, before FROM with_before").toPandas()
    # rolled-back rows bypass the state filter (union branch) and keep their
    # before-image too — compare against ALL non-ddl rows
    src = events_pdf[events_pdf["op"] != "ddl"]
    src_before = {
        (r["url"], r["seq"]): dict(r["before"])
        for _, r in src.iterrows() if r["before"] is not None
    }
    matched = 0
    for _, r in got.iterrows():
        if r["before"] is not None:
            want = src_before[(r["url"], r["seq"])]
            assert dict(r["before"]) == want
            matched += 1
    assert matched > 0  # update/delete before-images actually flowed through
