"""Streaming dimension-lookup enrichment: read-committed temporal semantics,
per-version cache reuse, broadcast-vs-shuffle selection, tombstone nulls."""

from __future__ import annotations

import glob
import os
import re

import pytest
from pyspark.sql import functions as F

from openlogreplicator_spark.lake.table import LakeTable
from openlogreplicator_spark.operators.decode import EVENTS_DDL
from openlogreplicator_spark.replayer import replay
from openlogreplicator_spark.streaming import enrich
from openlogreplicator_spark.streaming.enrich import DimensionLookup
from openlogreplicator_spark.streaming.pipeline import CdcPipeline


@pytest.fixture()
def dim_table(spark, events_dir, tmp_path):
    """Replay the fixture epoch-by-epoch; yield (pipeline, files)."""
    files = sorted(glob.glob(os.path.join(events_dir, "*.parquet")))
    p = CdcPipeline(
        spark, events_dir, str(tmp_path / "t"), str(tmp_path / "c"),
        merge_mode="mor",
    )
    return p, files


def _apply(spark, p, f, epoch):
    p.apply_epoch(spark.read.schema(EVENTS_DDL).parquet(f), epoch_id=epoch)


def test_enrich_tracks_commits_and_reuses_cache(
    spark, events_dir, events_pdf, dim_table
):
    p, files = dim_table
    _apply(spark, p, files[0], 0)
    look = DimensionLookup(
        spark, p.table_path, dim_cols={"dim_text": "text", "dim_lang": "lang"}
    )
    v1 = look.refresh()
    state1 = replay(
        spark.read.schema(EVENTS_DDL).parquet(files[0]).toPandas()
    ).set_index("url")

    facts = spark.createDataFrame(
        [(u, 1) for u in state1.index[:20]], "url string, w int"
    )
    out1 = {
        r["url"]: r["dim_text"]
        for r in look.enrich(facts).collect()
    }
    for u, want in state1["text"].iloc[:20].items():
        assert out1[u] == want

    # no new commit → same version, same cached state object (no reload)
    cached = look._state
    assert look.refresh() == v1 and look._state is cached

    # commit the remaining epochs → the NEXT enrich sees the new state
    for i, f in enumerate(files[1:], start=1):
        _apply(spark, p, f, i)
    state_all = replay(events_pdf).set_index("url")
    changed = [
        u for u in state1.index
        if u in state_all.index and state_all.loc[u, "text"] != state1.loc[u, "text"]
    ]
    assert changed, "fixture should update at least one epoch-0 url"
    facts2 = spark.createDataFrame(
        [(u, 1) for u in changed[:10]], "url string, w int"
    )
    out2 = {r["url"]: r["dim_text"] for r in look.enrich(facts2).collect()}
    assert look.version() > v1
    for u in changed[:10]:
        assert out2[u] == state_all.loc[u, "text"]

    # urls deleted by later epochs enrich to NULL (left join, tombstone gone)
    deleted = [u for u in state1.index if u not in state_all.index]
    if deleted:
        out3 = look.enrich(
            spark.createDataFrame([(deleted[0], 1)], "url string, w int")
        ).collect()[0]
        assert out3["dim_text"] is None
    look.close()


def test_enrich_unknown_key_is_null_and_inner_drops(spark, dim_table):
    p, files = dim_table
    _apply(spark, p, files[0], 0)
    look = DimensionLookup(spark, p.table_path, dim_cols=["text"])
    facts = spark.createDataFrame(
        [("nope://missing", 7)], "url string, w int"
    )
    left = look.enrich(facts).collect()
    assert len(left) == 1 and left[0]["text"] is None
    inner = look.enrich(facts, how="inner").collect()
    assert inner == []
    look.close()


def test_enrich_broadcasts_small_dim_only(spark, dim_table, monkeypatch):
    p, files = dim_table
    _apply(spark, p, files[0], 0)
    facts = spark.range(10).select(
        F.concat(F.lit("u"), F.col("id")).alias("url")
    )
    # Disable Spark's size-based auto-broadcast so the plan reflects the
    # lookup's own manifest-row-count decision (at scale a big dim exceeds
    # the auto threshold anyway; the hint is what matters).
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        small = DimensionLookup(spark, p.table_path, dim_cols=["text"])
        try:
            plan_small = (
                small.enrich(facts)._jdf.queryExecution()
                .executedPlan().toString()
            )
            assert small._broadcastable
            # the FACT join (the only LeftOuter) must be broadcast...
            assert re.search(r"BroadcastHashJoin .*LeftOuter", plan_small), \
                plan_small
        finally:
            small.close()
        monkeypatch.setattr(enrich, "DEFAULT_BROADCAST_ROWS", 0)
        big = DimensionLookup(spark, p.table_path, dim_cols=["text"])
        try:
            plan_big = (
                big.enrich(facts)._jdf.queryExecution()
                .executedPlan().toString()
            )
            assert not big._broadcastable
            # ...and above budget it must NOT be (read_state's INTERNAL lww
            # joins may still broadcast — only the fact join is ours here)
            assert not re.search(r"BroadcastHashJoin .*LeftOuter", plan_big), \
                plan_big
            assert re.search(r"SortMergeJoin .*LeftOuter", plan_big), plan_big
        finally:
            big.close()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_enrich_fact_key_rename_and_version_stamp(spark, dim_table):
    p, files = dim_table
    _apply(spark, p, files[0], 0)
    look = DimensionLookup(
        spark, p.table_path, dim_cols=["text"], stamp_version=True
    )
    some_url = replay(
        spark.read.schema(EVENTS_DDL).parquet(files[0]).toPandas()
    )["url"].iloc[0]
    facts = spark.createDataFrame([(some_url, 1)], "page string, w int")
    # fact key named differently than the table key
    out = look.enrich(facts, fact_key="page")
    assert set(out.columns) == {"page", "w", "text", "_dim_version"}
    assert out.collect()[0]["_dim_version"] == look.version()
    look.close()
