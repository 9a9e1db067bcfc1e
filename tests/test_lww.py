"""LWW compaction: the shipped plans agree with each other and with two
oracles (a row_number window and an applyInPandas grouped map), and the
result is invariant to salt count and partition count — the precondition
for the scaling-efficiency criterion (same answer at local[8] and
local[32])."""

import os

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from openlogreplicator_spark.operators import lww
from openlogreplicator_spark.operators.lww import (
    lww_compact,
    lww_compact_salted,
    lww_compact_semijoin,
)


def lww_compact_window(df, key="url", order=("warc_ts", "_seq")):
    """row_number()-based LWW: the readable spec, but a full sort per key
    partition with no partial aggregation — a differential oracle only."""
    w = Window.partitionBy(key).orderBy(*[F.col(c).desc() for c in order])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def lww_compact_grouped_pandas(df, key="url", order=("warc_ts", "_seq")):
    """applyInPandas grouped-map LWW (SURVEY.md §2.10's per-key fallback
    surface): one Arrow batch per key group, winner picked in pandas."""
    cols = list(df.columns)
    order_cols = list(order)

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.sort_values(order_cols, kind="stable").tail(1)[cols]

    return df.groupBy(key).applyInPandas(pick, df.schema)


@pytest.fixture(scope="module")
def dml_df(spark, events_pdf):
    pdf = events_pdf[(events_pdf["op"] != "ddl") & (~events_pdf["rolled_back"])]
    pdf = pdf[["url", "warc_ts", "seq", "op", "text"]].rename(columns={"seq": "_seq"})
    return spark.createDataFrame(pdf).cache()


def _key(df):
    pdf = df.toPandas().sort_values("url").reset_index(drop=True)
    return pdf[["url", "warc_ts", "_seq", "op", "text"]]


def test_five_impls_agree(dml_df):
    a = _key(lww_compact(dml_df, "url", ("warc_ts", "_seq")))
    b = _key(lww_compact_salted(dml_df, "url", ("warc_ts", "_seq")))
    c = _key(lww_compact_window(dml_df, "url", ("warc_ts", "_seq")))
    d = _key(lww_compact_semijoin(dml_df, "url", ("warc_ts", "_seq")))
    e = _key(lww_compact_grouped_pandas(dml_df, "url", ("warc_ts", "_seq")))
    pd.testing.assert_frame_equal(a, b)
    pd.testing.assert_frame_equal(a, c)
    pd.testing.assert_frame_equal(a, d)
    pd.testing.assert_frame_equal(a, e)


@pytest.mark.parametrize("n_salts", [1, 3, 32])
def test_salt_count_invariance(dml_df, n_salts, monkeypatch):
    monkeypatch.setattr(lww, "N_SALTS", n_salts)
    base = _key(lww_compact(dml_df, "url", ("warc_ts", "_seq")))
    salted = _key(lww_compact_salted(dml_df, "url", ("warc_ts", "_seq")))
    pd.testing.assert_frame_equal(base, salted)


@pytest.mark.parametrize("nparts", [1, 7, 32])
def test_partition_count_invariance(dml_df, nparts):
    base = _key(lww_compact(dml_df, "url", ("warc_ts", "_seq")))
    rep = _key(lww_compact(dml_df.repartition(nparts), "url", ("warc_ts", "_seq")))
    pd.testing.assert_frame_equal(base, rep)


def test_one_row_per_key_and_winner_semantics(dml_df):
    out = lww_compact(dml_df, "url", ("warc_ts", "_seq")).toPandas()
    assert out["url"].is_unique
    src = dml_df.toPandas().sort_values(["warc_ts", "_seq"], kind="stable")
    winners = src.groupby("url").tail(1).set_index("url")
    for _, r in out.iterrows():
        w = winners.loc[r["url"]]
        assert (r["warc_ts"], r["_seq"]) == (w["warc_ts"], w["_seq"])


def test_plan_is_two_phase_partial_agg(dml_df):
    """The built-in path must plan partial+final aggregation (map-side
    combine before the shuffle) — the property that makes hot keys cheap."""
    plan = lww_compact(dml_df, "url", ("warc_ts", "_seq"))._jdf.queryExecution().executedPlan().toString()
    assert "max_by" in plan
    n_aggs = plan.count("HashAggregate") + plan.count("ObjectHashAggregate") + plan.count("SortAggregate")
    assert n_aggs >= 2, plan


def test_auto_strategy_selects_by_winner_budget(dml_df, monkeypatch):
    """lww_compact_auto (round-1 verdict task 6): one entry point exercising
    both plans — semijoin under the broadcast budget, salted above it — with
    identical results either way."""
    from openlogreplicator_spark.operators.lww import (
        choose_lww_strategy,
        lww_compact_auto,
    )

    n_keys = dml_df.select("url").distinct().count()
    base = _key(lww_compact(dml_df, "url", ("warc_ts", "_seq")))
    # generous budget -> semijoin
    monkeypatch.setattr(lww, "BROADCAST_BUDGET_KEYS", 10 * n_keys)
    assert choose_lww_strategy(dml_df, "url") == "semijoin"
    via_semi = _key(lww_compact_auto(dml_df, "url", ("warc_ts", "_seq")))
    # tiny budget -> salted
    monkeypatch.setattr(lww, "BROADCAST_BUDGET_KEYS", max(1, n_keys // 10))
    assert choose_lww_strategy(dml_df, "url") == "salted"
    via_salted = _key(lww_compact_auto(dml_df, "url", ("warc_ts", "_seq")))
    # approx_rows short-circuit: total rows under budget needs no estimate job
    monkeypatch.setattr(lww, "BROADCAST_BUDGET_KEYS", 10**9)
    assert choose_lww_strategy(dml_df, "url", approx_rows=1000) == "semijoin"
    pd.testing.assert_frame_equal(base, via_semi)
    pd.testing.assert_frame_equal(base, via_salted)


def test_pipeline_auto_strategy_matches_golden(spark, events_dir, tmp_path,
                                               monkeypatch):
    """A batch replay planned salted (budget forced to 0) reaches the same
    final state as the default semijoin plan."""
    from openlogreplicator_spark.streaming.pipeline import CdcPipeline

    p_ref = CdcPipeline(spark, events_dir, str(tmp_path / "tr"), str(tmp_path / "cr"))
    p_ref.run_batch_replay()
    monkeypatch.setattr(lww, "BROADCAST_BUDGET_KEYS", 0)
    p_salted = CdcPipeline(spark, events_dir, str(tmp_path / "ts"),
                           str(tmp_path / "cs"))
    p_salted.run_batch_replay()
    a = p_salted.target_state().toPandas().sort_values("url").reset_index(drop=True)
    r = p_ref.target_state().toPandas().sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, r)


def test_epoch_plan_choice_uses_footer_bound(spark, events_dir, tmp_path,
                                             monkeypatch):
    """A file-backed epoch under the budget plans the semijoin from its
    parquet footer row count: choose_lww_strategy gets that bound and runs
    no Spark job. A DataFrame-fed epoch has no footer bound, so it pays the
    one narrow estimate instead."""
    import pyarrow.parquet as pq

    from openlogreplicator_spark.operators.decode import EVENTS_DDL
    from openlogreplicator_spark.streaming.pipeline import CdcPipeline

    sc = spark.sparkContext
    calls = []
    real = lww.choose_lww_strategy

    def spy(df, key="url", approx_rows=None):
        group = f"lww-choose-{len(calls)}"
        sc.setJobGroup(group, "plan choice")
        try:
            out = real(df, key, approx_rows)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        calls.append((approx_rows, out, list(sc.statusTracker().getJobIdsForGroup(group))))
        return out

    monkeypatch.setattr(lww, "choose_lww_strategy", spy)
    p = CdcPipeline(spark, events_dir, str(tmp_path / "t"), str(tmp_path / "c"))
    p.run_batch_replay()
    files = [f for f in sorted(os.listdir(events_dir)) if f.endswith(".parquet")]
    footer_rows = sum(
        pq.ParquetFile(os.path.join(events_dir, f)).metadata.num_rows for f in files
    )
    assert calls == [(footer_rows, "semijoin", [])]

    rows = spark.read.schema(EVENTS_DDL).parquet(events_dir).limit(50).collect()
    calls.clear()
    q = CdcPipeline(spark, "unused", str(tmp_path / "t2"), str(tmp_path / "c2"))
    q.apply_epoch(spark.createDataFrame(rows, EVENTS_DDL), epoch_id=0)
    assert len(calls) == 1
    approx_rows, choice, jobs = calls[0]
    assert approx_rows is None and choice == "semijoin" and jobs
