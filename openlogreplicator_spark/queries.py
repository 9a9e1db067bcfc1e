"""Query catalog: every driver-visible operator, as (Spark impl, DuckDB oracle).

Each entry maps a SURVEY.md §2 operator (or one of the training-data ops the
engine adds — dedup / similarity / text analysis) onto the driver's test
tables (region nation customer supplier part orders lineitem events documents
embeddings). The Spark implementation is DataFrame-first; the oracle is ANSI
SQL executable by DuckDB on the same parquet — the differential-oracle test
strategy the reference uses against Oracle's own LOGFILE dumps (SURVEY.md §5).

Conventions (driver compare is column-name + value-hash based):
* every computed column is aliased identically on both sides;
* floating aggregates are rounded (2-6 dp) AFTER aggregation so FP
  summation-order differences between engines cannot flip the hash;
* integer sums are cast to BIGINT (DuckDB sums INTEGER into HUGEINT);
* cross-engine hashing uses md5 only (xxhash64 has no DuckDB twin).
"""

from __future__ import annotations

import atexit
import glob
import os
import re
import shutil
import tempfile
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import bpe as BPE
from .functions import sampling as SAMP
from .functions import similarity as S
from .functions import text as TXT


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # UTC session tz: epoch-based expressions (unix_timestamp in
    # cdc_sessions) must agree with the tz-naive DuckDB oracle even if the
    # harness session runs in a non-UTC zone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# sign-projection LSH spec shared by the embedding queries: the SQL twin is
# GENERATED from the exact pair spec the Spark side uses
# (functions.similarity.hyperplane_dim_pairs), so widening n_bits / adding
# tables changes both sides in lockstep. Catalog pin: 8 bits x 4 tables for
# candidate generation (256-bucket keyspace per table — the round-1 16-bucket
# skew wall removed; n_bits is the corpus-size dial), 16 bits for the
# bucket-histogram skew check.
_LSH_BITS, _LSH_TABLES, _EMB_DIM = 8, 4, 64


def _bucket_sql(pairs: list[tuple[int, int]]) -> str:
    terms = " + ".join(
        f"{2 ** bit} * CASE WHEN embedding[{i}] > embedding[{j}] THEN 1 ELSE 0 END"
        for bit, (i, j) in enumerate(pairs)
    )
    return f"({terms})"


def _lsh_tables_sql(source_sql: str) -> str:
    """UNION ALL of one bucketing per LSH table over ``source_sql``."""
    from .functions.similarity import hyperplane_dim_pairs

    parts = [
        f"SELECT {t} AS table_id, vec_id, embedding, "
        f"{_bucket_sql(hyperplane_dim_pairs(_LSH_BITS, _EMB_DIM, t))} AS bucket "
        f"FROM {source_sql}"
        for t in range(_LSH_TABLES)
    ]
    return " UNION ALL ".join(parts)


def register(name: str, sql: str | None = None):
    def deco(fn):
        # a re-used slug silently SHADOWS the earlier entry in these dicts —
        # it has happened twice (docs_decontamination round 3; a second
        # docs_dsir_weights this round), so fail loudly at import time
        if name in QUERIES:
            raise ValueError(f"duplicate catalog entry: {name}")
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn
    return deco


# =========================================================================
# CDC operators over the driver's `events` table
# (event_id long, ts timestamp, user_id long, event_type string,
#  value double, props string)
# =========================================================================


@register(
    "cdc_lww_latest",
    """
    SELECT user_id, ts, event_id, event_type, value FROM (
      SELECT user_id, ts, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
    """,
)
def cdc_lww_latest(spark, sf_dir):
    """A3/W2 last-writer-wins snapshot per key — the engine's core compaction
    (two-phase partial+final max_by; see operators/lww.py). Key = user_id,
    order = (ts, event_id), the (scn, subScn) analogue."""
    ev = T(spark, sf_dir, "events")
    payload = F.struct("ts", "event_id", "event_type", "value")
    return (
        ev.groupBy("user_id")
        .agg(F.max_by(payload, F.struct("ts", "event_id")).alias("w"))
        .select("user_id", "w.ts", "w.event_id", "w.event_type", "w.value")
    )


@register(
    "cdc_lww_latest_semijoin",
    """
    SELECT user_id, ts, event_id, event_type, value FROM (
      SELECT user_id, ts, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
    """,
)
def cdc_lww_latest_semijoin(spark, sf_dir):
    """Same LWW snapshot via the wide-payload semijoin strategy (narrow
    winner agg + hash broadcast + exact post-compaction) — shares
    cdc_lww_latest's oracle, proving the optimized plan is value-identical."""
    from .operators.lww import lww_compact_semijoin

    ev = T(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    return lww_compact_semijoin(ev, key="user_id", order=("ts", "event_id"))


@register(
    "cdc_lww_latest_salted",
    """
    SELECT user_id, ts, event_id, event_type, value FROM (
      SELECT user_id, ts, event_id, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) WHERE rn = 1
    """,
)
def cdc_lww_latest_salted(spark, sf_dir):
    """Same LWW snapshot via the SALTED two-phase strategy — the north
    rule's literal form ('salted repartition + window-over-(key, ts)
    last-writer-wins') and the 10^9-key fallback lww_compact_auto engages
    above the broadcast budget. Phase 1 collapses each (key, salt) group
    map-side (hot keys split across salts), phase 2 folds the ≤ N_SALTS
    survivors per key; shares cdc_lww_latest's oracle, proving the skew
    path is value-identical to the max_by and semijoin twins."""
    from .operators.lww import lww_compact_salted

    ev = T(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    return lww_compact_salted(
        ev, key="user_id", order=("ts", "event_id"), salt_source="event_id"
    )


@register(
    "cdc_op_counts",
    """
    SELECT event_type, count(*) AS n_events, min(ts) AS first_ts,
           max(ts) AS last_ts, round(sum(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def cdc_op_counts(spark, sf_dir):
    """P4 opcode-dispatch accounting / A5 throughput counters per op type."""
    return (
        T(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "cdc_hourly_throughput",
    """
    SELECT date_trunc('hour', ts) AS hour, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users, round(sum(value), 2) AS sum_value
    FROM events GROUP BY date_trunc('hour', ts)
    """,
)
def cdc_hourly_throughput(spark, sf_dir):
    """T6 tumbling-window metrics (LWN-per-time-slice analogue)."""
    return (
        T(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "cdc_sessions",
    """
    WITH g AS (
      SELECT user_id,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id))
                  > CAST(1800000000 AS BIGINT)
                  THEN 1 ELSE 0 END AS brk
      FROM events)
    SELECT user_id, CAST(sum(brk) + 1 AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM g GROUP BY user_id
    """,
)
def cdc_sessions(spark, sf_dir):
    """Gaps-and-islands sessionization (30-min idle gap) — the transaction
    begin/commit lifecycle analogue (A1) as a window computation. The break
    predicate compares EXACT integer micros on both engines (Spark
    unix_timestamp floors whole seconds while DuckDB epoch() is fractional
    — a gap straddling the boundary by sub-second micros would diverge)."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    brk = (
        (ts_us - F.lag(ts_us).over(w) > 1_800_000_000)
        .cast("int")
    )
    return (
        ev.withColumn("brk", F.coalesce(brk, F.lit(0)))
        .groupBy("user_id")
        .agg(
            (F.sum("brk") + 1).cast("long").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "cdc_changed_values",
    """
    SELECT user_id, event_id, ts, event_type, value, prev_value FROM (
      SELECT user_id, event_id, ts, event_type, value,
             lag(value) OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS prev_value
      FROM events)
    WHERE prev_value IS NOT NULL AND value <> prev_value
    """,
)
def cdc_changed_values(spark, sf_dir):
    """Unchanged-value suppression (reference drops unchanged columns from
    updates, Builder.cpp:1367-1398): emit only events whose value differs
    from the previous event of the same (key, op type)."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_value", F.lag("value").over(w))
        .filter(F.col("prev_value").isNotNull() & (F.col("value") != F.col("prev_value")))
        .select("user_id", "event_id", "ts", "event_type", "value", "prev_value")
    )


@register(
    "cdc_watermark",
    """
    SELECT min(ts) AS low_watermark, max(ts) AS high_watermark,
           count(*) AS n_events, count(DISTINCT user_id) AS n_users
    FROM events
    """,
)
def cdc_watermark(spark, sf_dir):
    """A4 min-watermark over the open-event set (restart low-watermark,
    reference TransactionBuffer checkpoint; Metadata.cpp:338-350)."""
    return T(spark, sf_dir, "events").agg(
        F.min("ts").alias("low_watermark"),
        F.max("ts").alias("high_watermark"),
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "cdc_running_totals",
    """
    SELECT user_id, event_id, ts,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS running_value,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4)
             AS moving_avg_5
    FROM events
    """,
)
def cdc_running_totals(spark, sf_dir):
    """W4 frame specs: running total (unbounded preceding) + 5-row moving
    average per key in event order — the analytic-window surface."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id", "ts",
        F.round(F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4)
        .alias("running_value"),
        F.round(F.avg("value").over(w.rowsBetween(-4, 0)), 4).alias("moving_avg_5"),
    )


@register(
    "cdc_value_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.95), 4) AS p95,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY event_type
    """,
)
def cdc_value_percentiles(spark, sf_dir):
    """A6 ordered-statistic aggregates: exact interpolated percentiles per op
    type (Spark `percentile` == DuckDB `quantile_cont`); the
    approx_percentile/approx_count_distinct sketch family swaps in at scale
    (sketches differ per engine, so the oracle pins the exact form)."""
    ev = T(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


@register(
    "events_sampled_quantiles",
    """
    WITH keyed AS (
      SELECT value, md5(CAST(event_id AS VARCHAR)) AS k FROM events),
    samp AS (SELECT value FROM keyed ORDER BY k LIMIT 1000),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_sample,
             round(quantile_cont(value, 0.5), 4) AS p50_sample,
             round(quantile_cont(value, 0.9), 4) AS p90_sample,
             round(quantile_cont(value, 0.99), 4) AS p99_sample
      FROM samp),
    e AS (
      SELECT round(quantile_cont(value, 0.5), 4) AS p50_exact,
             round(quantile_cont(value, 0.9), 4) AS p90_exact,
             round(quantile_cont(value, 0.99), 4) AS p99_exact
      FROM events)
    SELECT n_sample,
           p50_exact, p50_sample, round(abs(p50_sample - p50_exact), 4) AS p50_abs_err,
           p90_exact, p90_sample, round(abs(p90_sample - p90_exact), 4) AS p90_abs_err,
           p99_exact, p99_sample, round(abs(p99_sample - p99_exact), 4) AS p99_abs_err
    FROM s CROSS JOIN e
    """,
)
def events_sampled_quantiles(spark, sf_dir):
    """Sample-based approximate quantiles under the full value gate — the
    cross-engine-deterministic stand-in for the t-digest/approx_percentile
    family (engine-native quantile sketches hash differently per engine, so
    earlier rounds documented them un-oracle-able; like events_hll_distinct,
    determinism comes from md5: the sample is the 1000 md5-smallest
    event_ids — a fixed, order-free draw both engines reproduce exactly).
    Reports sampled vs exact p50/p90/p99 and the absolute errors — the
    evidence for sizing a sampling rate before replacing the exact sort.
    Shape at 100 TB: the sample is one TakeOrderedAndProject (top-k by
    hash, no global sort, no full shuffle); the exact side rides along only
    to price the error, exactly the HLL/CMS gate pattern."""
    ev = T(spark, sf_dir, "events")
    samp = (
        ev.select("value", F.md5(F.col("event_id").cast("string")).alias("k"))
        .orderBy("k")
        .limit(1000)
    )
    s = samp.agg(
        F.count("*").cast("long").alias("n_sample"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50_sample"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90_sample"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99_sample"),
    )
    e = ev.agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50_exact"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90_exact"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99_exact"),
    )
    return s.crossJoin(e).select(
        "n_sample",
        "p50_exact", "p50_sample",
        F.round(F.abs(F.col("p50_sample") - F.col("p50_exact")), 4)
        .alias("p50_abs_err"),
        "p90_exact", "p90_sample",
        F.round(F.abs(F.col("p90_sample") - F.col("p90_exact")), 4)
        .alias("p90_abs_err"),
        "p99_exact", "p99_sample",
        F.round(F.abs(F.col("p99_sample") - F.col("p99_exact")), 4)
        .alias("p99_abs_err"),
    )


@register(
    "cdc_rollup_type_day",
    """
    SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           count(*) AS n_events
    FROM events GROUP BY ROLLUP(event_type, day)
    """,
)
def cdc_rollup_type_day(spark, sf_dir):
    """A6 grouping-set aggregation: per-(type, day) counts with subtotals and
    a grand total via ROLLUP — built-in, partial-aggregated."""
    return (
        T(spark, sf_dir, "events")
        .select("event_type", F.date_trunc("day", "ts").alias("day"))
        .rollup("event_type", "day")
        .agg(F.count("*").alias("n_events"))
    )


@register(
    "cdc_click_no_purchase_days",
    """
    SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
    FROM events WHERE event_type = 'click'
    EXCEPT
    SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP)
    FROM events WHERE event_type = 'purchase'
    """,
)
def cdc_click_no_purchase_days(spark, sf_dir):
    """§2.6 set ops: (user, day) pairs that clicked but never purchased —
    EXCEPT distinct, the skip-set reconciliation pattern
    (reference Metadata.cpp:403-448 checkpoint-set intersection)."""
    ev = T(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").alias("day")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", day)
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id", day)
    return clicks.subtract(buys)


@register(
    "cdc_props_stats",
    """
    SELECT event_type,
           round(avg(CAST(props->>'k' AS INTEGER)), 4) AS avg_k,
           CAST(max(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS max_k,
           count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def cdc_props_stats(spark, sf_dir):
    """Semi-structured payload decode (the JSON-payload parse path, F8/F12):
    extract props.k JVM-side with get_json_object — no Python."""
    ev = T(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).cast("long").alias("max_k"),
        F.count("*").alias("n_events"),
    )


# LSH candidate pairs (a < b) over the first 500 embeddings: ONE spelling
# for the near-dup, kNN-graph and intrinsic-dimension oracles
_LSH_SAMPLE_CAND_CTES = f"""b AS ({_lsh_tables_sql("(SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500)")}),
    cand AS (
      SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
      FROM b l JOIN b r
        ON l.table_id = r.table_id AND l.bucket = r.bucket
       AND l.vec_id < r.vec_id)"""


def _lsh_sample(spark, sf_dir, *cols: str) -> tuple[DataFrame, DataFrame]:
    """The Spark side of ``_LSH_SAMPLE_CAND_CTES``: the first 500
    embeddings (vec_id, embedding, *cols) and their LSH candidate pairs
    (a, b) with a < b."""
    from .functions.similarity import lsh_candidate_pairs

    emb = (
        T(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 500)
        .select("vec_id", "embedding", *cols)
    )
    cand = lsh_candidate_pairs(
        emb, n_bits=_LSH_BITS, n_tables=_LSH_TABLES, dim=_EMB_DIM
    )
    return emb, cand


@register(
    "emb_near_dup_pairs",
    f"""
    WITH {_LSH_SAMPLE_CAND_CTES}
    SELECT a, b,
           round(CAST(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                             CAST(eb.embedding AS DOUBLE[])) AS DOUBLE), 4)
             AS cosine
    FROM cand JOIN embeddings ea ON cand.a = ea.vec_id
              JOIN embeddings eb ON cand.b = eb.vec_id
    WHERE round(CAST(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                             CAST(eb.embedding AS DOUBLE[])) AS DOUBLE), 4)
          >= 0.3
    """,
)
def emb_near_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate detection: multi-table sign-projection
    LSH candidates (8 bits × 4 tables OR'd — parameterized keyspace, never
    all-pairs) scored exactly, thresholded — the embedding-based dedup path
    of a training-data pipeline."""
    from .functions.similarity import cosine

    emb, cand = _lsh_sample(spark, sf_dir)
    ea = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    return (
        cand.join(ea, "a").join(eb, "b")
        .select("a", "b", F.round(cosine(F.col("ea"), F.col("eb")), 4).alias("cosine"))
        .filter(F.col("cosine") >= 0.3)
    )


# =========================================================================
# Relational coverage (joins / aggs / windows / sorts / anti-joins)
# =========================================================================


@register(
    "tpch_q1_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing(spark, sf_dir):
    """Partial+final aggregation with a pushed-down scan filter (P10's
    Catalyst-free-lunch: predicate reaches the parquet reader)."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "revenue_by_nation",
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def revenue_by_nation(spark, sf_dir):
    """J2-style dictionary-lookup join chain: fact joins small dims — the
    dims are broadcast (reference resolves obj→table via an in-memory hash
    map; broadcast hash join is the distributed form)."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


@register(
    "top_orders_per_customer",
    """
    SELECT c_custkey, o_orderkey, o_totalprice,
           CAST(rn AS INTEGER) AS order_rank FROM (
      SELECT c_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey)
    WHERE rn <= 3
    """,
)
def top_orders_per_customer(spark, sf_dir):
    """W2-style ranked emission per key with deterministic tie-break."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    w = Window.partitionBy("c_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .withColumn("order_rank", F.row_number().over(w))
        .filter(F.col("order_rank") <= 3)
        .select("c_custkey", "o_orderkey", "o_totalprice", "order_rank")
    )


@register(
    "customers_without_big_orders",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
)
def customers_without_big_orders(spark, sf_dir):
    """Anti-join — the skip-list filters (P11/P12) as a distributed op:
    customers with no order above 300k (non-empty at every sf)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "top100_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def top100_orders(spark, sf_dir):
    """Global top-k (TakeOrderedAndProject — no full sort materialization)."""
    return (
        T(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    )


@register(
    "part_type_stats",
    """
    SELECT p_type, count(*) AS n_parts, round(avg(p_retailprice), 2) AS avg_price,
           max(p_size) AS max_size
    FROM part GROUP BY p_type
    """,
)
def part_type_stats(spark, sf_dir):
    """Column-pruned scan + agg (ReadSchema should list 3 columns only)."""
    return (
        T(spark, sf_dir, "part")
        .groupBy("p_type")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.avg("p_retailprice"), 2).alias("avg_price"),
            F.max("p_size").alias("max_size"),
        )
    )


# =========================================================================
# Training-data ops: documents (dedup / text analysis)
# =========================================================================


@register(
    "docs_exact_dedup",
    """
    SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def docs_exact_dedup(spark, sf_dir):
    """Exact dedup by content hash; keep the smallest doc_id per group."""
    return (
        T(spark, sf_dir, "documents")
        .groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


@register(
    "docs_token_stats_by_lang",
    """
    SELECT lang, count(*) AS n_docs,
           round(avg(CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE length(regexp_split_to_array(trim(text), '\\s+')) END), 4)
             AS avg_tokens,
           round(avg(n_chars), 4) AS avg_chars
    FROM documents GROUP BY lang
    """,
)
def docs_token_stats_by_lang(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return (
        d.withColumn("n_tokens", TXT.token_count(F.col("text")))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


@register(
    "docs_quality",
    """
    WITH q AS (
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE length(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
        (length(text) - length(replace(text, '.', '')))
          + (length(text) - length(replace(text, ',', '')))
          + (length(text) - length(replace(text, '!', '')))
          + (length(text) - length(replace(text, '?', ''))) AS n_punct
      FROM documents)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_punct AS BIGINT) AS n_punct,
           (CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 0.5 ELSE 0.0 END
            + CASE WHEN n_punct * 1.0 / greatest(n_tokens, 1) > 0.001
                    AND n_punct * 1.0 / greatest(n_tokens, 1) < 0.5
                   THEN 0.5 ELSE 0.0 END) AS quality
    FROM q
    """,
)
def docs_quality(spark, sf_dir):
    """Quality scoring (length band + punctuation ratio) — web-text filter."""
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TXT.token_count(F.col("text")).alias("n_tokens"),
        TXT.punct_count(F.col("text")).alias("n_punct"),
        TXT.quality_score(F.col("text")).alias("quality"),
    )


def _langid_sql() -> str:
    def score(lang):
        ms = TXT.LANG_MARKERS[lang]
        terms = " + ".join(
            f"CAST((length(p) - length(replace(p, '{m}', ''))) / {len(m)} AS BIGINT)"
            for m in ms
        )
        return f"({terms})"

    codes = sorted(TXT.LANG_MARKERS)  # tie-break: earliest code wins
    cascade = []
    for i, c in enumerate(codes):
        others = [f"s_{c} >= s_{o}" for o in codes[i + 1:]]
        cond = " AND ".join(others) if others else "TRUE"
        cascade.append(f"WHEN {cond} THEN '{c}'")
    scores = ", ".join(f"{score(c)} AS s_{c}" for c in codes)
    gr = ", ".join(f"s_{c}" for c in codes)
    return f"""
    WITH p AS (SELECT lang, ' ' || lower(text) || ' ' AS p FROM documents),
    s AS (SELECT lang, {scores} FROM p)
    SELECT lang, CASE WHEN greatest({gr}) <= 0 THEN 'und'
                 {' '.join(cascade)} END AS predicted_lang,
           count(*) AS n_docs
    FROM s GROUP BY 1, 2
    """


@register("docs_langid_confusion", _langid_sql())
def docs_langid_confusion(spark, sf_dir):
    """n-gram-heuristic language ID vs the labeled lang (confusion counts)."""
    d = T(spark, sf_dir, "documents")
    return (
        d.select("lang", TXT.predicted_lang(F.col("text")).alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "docs_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def docs_fingerprint(spark, sf_dir):
    """Normalized content fingerprint (case/whitespace-insensitive md5)."""
    d = T(spark, sf_dir, "documents")
    return d.select("doc_id", TXT.normalized_fingerprint(F.col("text")).alias("fingerprint"))


@register(
    "docs_bpe_token_stats",
    f"""
    SELECT lang,
           count(*) AS n_docs,
           round(avg(len(regexp_extract_all(lower(text), '{TXT.BPE_TOKEN_RE}'))), 4)
             AS avg_bpe_tokens,
           round(avg(CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE length(regexp_split_to_array(trim(text), '\\s+')) END), 4)
             AS avg_ws_tokens
    FROM documents GROUP BY lang
    """,
)
def docs_bpe_token_stats(spark, sf_dir):
    """Token-budget estimation with a BPE-ish pre-tokenizer (letter runs /
    digit runs / punctuation marks) vs plain whitespace tokens — the counts
    a training-data pipeline sizes its token budget with."""
    d = T(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg(TXT.bpe_token_count(F.col("text"))), 4).alias("avg_bpe_tokens"),
            F.round(F.avg(TXT.token_count(F.col("text"))), 4).alias("avg_ws_tokens"),
        )
    )


@register(
    "docs_top_tokens",
    """
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token,
             doc_id
      FROM documents)
    SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM tok WHERE length(token) > 0
    GROUP BY token
    ORDER BY n_occurrences DESC, token
    LIMIT 100
    """,
)
def docs_top_tokens(spark, sf_dir):
    """Corpus-wide token frequency top-k — the vocabulary head a tokenizer /
    stopword-list builder reads first. Shape at 100 TB: explode → two-phase
    partial-aggregated count (map-side combine absorbs the Zipf head before
    the shuffle) → TakeOrderedAndProject; ties break on the token so the
    top-100 cut is deterministic."""
    d = T(spark, sf_dir, "documents")
    tok = S.tokens(d, "doc_id", "text", distinct=False)
    return (
        tok.groupBy("token")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "token")
        .limit(100)
    )


# 8-hash / band_size-4 MinHash for the Jaccard-verified pipeline: TIGHTER
# bands than the 4/2 recall query above — on templated web corpora loose
# bands make bucket sizes (and thus the candidate count) quadratic; band
# tightness is a dial that must scale with corpus duplication.
_MINHASH_CAND_TMPL = """
    raw AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM documents WHERE doc_id < {id_cap}),
    tok AS (SELECT DISTINCT doc_id, token FROM raw WHERE length(token) > 0),
    sig AS (
      SELECT doc_id,
             min(md5(token || '#0')) AS h0, min(md5(token || '#1')) AS h1,
             min(md5(token || '#2')) AS h2, min(md5(token || '#3')) AS h3,
             min(md5(token || '#4')) AS h4, min(md5(token || '#5')) AS h5,
             min(md5(token || '#6')) AS h6, min(md5(token || '#7')) AS h7
      FROM tok GROUP BY doc_id),
    bands AS (
      SELECT doc_id, 0 AS band_id, md5(h0 || h1 || h2 || h3) AS band_hash FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band_id, md5(h4 || h5 || h6 || h7) AS band_hash FROM sig),
    cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands l JOIN bands r
        ON l.band_id = r.band_id AND l.band_hash = r.band_hash
       AND l.doc_id < r.doc_id)
    """


_MINHASH_CAND_SQL = _MINHASH_CAND_TMPL.format(id_cap=2000)
# the verify half over those candidates: each doc's token count (`sizes`)
# and every candidate pair's exact token-set intersection (`inter`)
_MINHASH_INTER_CTES = """sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT c.a, c.b, count(*) AS n_inter
      FROM cand c
      JOIN tok ta ON ta.doc_id = c.a
      JOIN tok tb ON tb.doc_id = c.b AND tb.token = ta.token
      GROUP BY c.a, c.b)"""


@register(
    "docs_jaccard_verified_dups",
    f"""
    WITH {_MINHASH_CAND_SQL},
    {_MINHASH_INTER_CTES}
    SELECT a, b,
           round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = a
    JOIN sizes sb ON sb.doc_id = b
    WHERE round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 4) >= 0.6
    """,
)
def docs_jaccard_verified_dups(spark, sf_dir):
    """MinHash candidates VERIFIED by exact token-set Jaccard ≥ 0.6 — the
    two-stage near-dup pipeline (cheap LSH recall, exact precision pass on
    candidates only, never all-pairs). 8 hashes / 4-hash bands: tight bands
    keep the CANDIDATE set near-linear on templated corpora; the verified
    PAIR output is still inherently quadratic in duplicate-cluster size
    (a 300-copy template alone yields ~45k true pairs), so the query runs on
    a bounded id-range sample — at production scale the consumer is the
    keep-min-per-group dedup assignment, not the full pair list."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    cand = S.minhash_candidate_pairs(d, "doc_id", "text", n_hashes=8, band_size=4)
    j = S.jaccard_pairs(d, cand, "doc_id", "text")
    return (
        j.select("a", "b", F.round("jaccard", 4).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.6)
    )


# DF-capped 3-token-shingle candidate generation — ONE spelling shared by
# docs_ngram_jaccard_near_dup, docs_containment_dups and
# docs_weighted_jaccard_dups (the [2, 64] DF cap is the quadratic
# hot-shingle guard from docs_ngram_jaccard_near_dup).
_SHINGLE_CAND_CTES = """arr AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS a
      FROM documents WHERE doc_id < 2000),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(a, CAST(i AS INTEGER),
                                        CAST(i AS INTEGER) + 2), ' ') AS shingle
      FROM arr, unnest(generate_series(1, len(a) - 2)) AS t(i)),
    rare AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING count(*) BETWEEN 2 AND 64),
    cs AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    cand AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM cs l JOIN cs r ON l.shingle = r.shingle AND l.doc_id < r.doc_id)"""


@register(
    "docs_ngram_jaccard_near_dup",
    f"""
    WITH {_SHINGLE_CAND_CTES},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.a, c.b, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.a
      JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
      GROUP BY c.a, c.b)
    SELECT a, b,
           round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = a
    JOIN sizes sb ON sb.doc_id = b
    WHERE n_inter * 1.0 / (sa.n + sb.n - n_inter) >= 0.6
    """,
)
def docs_ngram_jaccard_near_dup(spark, sf_dir):
    """Direct n-gram (3-token shingle) Jaccard near-dup pairs — the
    shingle-based member of the dedup family (beside MinHash-LSH, SimHash
    and embedding LSH). Candidates come from a document-frequency-capped
    shingle equi-join (DF in [2, 64] — the cap bounds fan-out on templated
    boilerplate, the quadratic hot-key guard at 100 TB); exact Jaccard is
    then computed over full shingle sets for candidates only. Same bounded
    id-range sample as the MinHash-verified twin (pair output is inherently
    quadratic in duplicate-cluster size)."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    j = S.ngram_jaccard_near_dup(
        d, "doc_id", "text", n=3, max_doc_freq=64, min_jaccard=0.6
    )
    return j.select("a", "b", F.round("jaccard", 4).alias("jaccard")).filter(
        F.col("jaccard") >= 0.6
    )


@register(
    "docs_decontaminate",
    """
    WITH arr AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS a
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(a, CAST(i AS INTEGER),
                                        CAST(i AS INTEGER) + 3), ' ') AS shingle
      FROM arr, unnest(generate_series(1, len(a) - 3)) AS t(i)),
    bench AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 13 = 0),
    corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 13 <> 0)
    SELECT c.doc_id,
           count(DISTINCT c.shingle) AS n_shared_ngrams,
           count(DISTINCT b.bench_id) AS n_benchmark_docs_hit
    FROM corpus c JOIN bench b ON c.shingle = b.shingle
    GROUP BY c.doc_id
    """,
)
def docs_decontaminate(spark, sf_dir):
    """Benchmark decontamination: corpus documents sharing any 4-token
    shingle with a held-out benchmark set (here: every 13th doc stands in
    for the eval suite), with the shared-shingle and benchmark-doc counts a
    pipeline thresholds on before dropping. Scale shape: benchmark shingles
    are tiny vs the corpus, so the match is a broadcast equi-join — the
    corpus side never shuffles (functions/similarity.contamination_overlap)."""
    d = T(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 13 == 0)
    corpus = d.filter(F.col("doc_id") % 13 != 0)
    return S.contamination_overlap(corpus, bench, "doc_id", "text", n=4)


# data-mixing spec shared by the Spark impl and the SQL twin (generated from
# the same dict, so changing a rate changes both sides in lockstep)
_MIX_RATES = {"en": 0.5, "de": 0.25, "fr": 0.25}
_MIX_DEFAULT = 0.125


@register(
    "docs_stratified_sample",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR) || '#mix1'), 1, 4) <
          {SAMP.sample_case_sql("lang", _MIX_RATES, _MIX_DEFAULT)}
    """,
)
def docs_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling — the data-mixing step (keep 50%
    of English, 25% of German/French, 12.5% of everything else), selected
    by a per-key md5 tag against a per-stratum threshold. Pure map-side
    filter: no shuffle, no sampling state, reproducible across runs,
    resumes and engines (functions/sampling.stratified_sample)."""
    d = T(spark, sf_dir, "documents")
    return SAMP.stratified_sample(
        d, "doc_id", "lang", _MIX_RATES, default_rate=_MIX_DEFAULT, seed="mix1"
    ).select("doc_id", "lang")


@register(
    "docs_winnow_fingerprint",
    """
    WITH n AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS arr
      FROM documents)
    SELECT doc_id,
           min(md5(array_to_string(
             list_slice(arr, CAST(i AS INTEGER), CAST(i AS INTEGER) + 2), ' ')))
             AS winnow_fp
    FROM n, unnest(generate_series(1, greatest(len(arr) - 2, 1))) AS t(i)
    GROUP BY doc_id
    """,
)
def docs_winnow_fingerprint(spark, sf_dir):
    """Rolling 3-token-shingle winnowing-style fingerprint per document —
    the content-defined sampling dedup primitive (min window hash survives
    edits outside the minimizing window). Pure JVM split→sequence→
    transform→array_min."""
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id", TXT.kgram_winnow_fingerprint(F.col("text"), k=3).alias("winnow_fp")
    )


@register(
    "docs_minhash_near_dup",
    """
    WITH raw AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM documents),
    tok AS (SELECT DISTINCT doc_id, token FROM raw WHERE length(token) > 0),
    sig AS (
      SELECT doc_id,
             min(md5(token || '#0')) AS h0, min(md5(token || '#1')) AS h1,
             min(md5(token || '#2')) AS h2, min(md5(token || '#3')) AS h3
      FROM tok GROUP BY doc_id),
    bands AS (
      SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS band_hash FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band_id, md5(h2 || h3) AS band_hash FROM sig),
    keep AS (
      SELECT band_id, band_hash FROM bands
      GROUP BY band_id, band_hash
      HAVING count(*) BETWEEN 2 AND 64),
    bb AS (SELECT b.* FROM bands b JOIN keep USING (band_id, band_hash))
    SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
    FROM bb l JOIN bb r
      ON l.band_id = r.band_id AND l.band_hash = r.band_hash
     AND l.doc_id < r.doc_id
    """,
)
def docs_minhash_near_dup(spark, sf_dir):
    """MinHash+LSH near-dup candidates: shingle→minhash→band→bucket-join.
    No O(n²) pair enumeration — pairs only form inside a band bucket, and
    band buckets are CAPPED at 64 members (the hot-bucket guard, same
    dial as the DF-capped shingle join): a bucket past the cap is
    boilerplate/duplicate saturation, cluster-level dedup's job, not pair
    emission's — so output is bounded at buckets·cap²/2 instead of
    Θ(n²·dup-share) on a dup-saturated corpus (round-3 verdict).

    This remains the LOOSE band spec (4 hashes, 2 bands of 2). Band
    tightness is the duplication dial: the production 8-hash × 4-wide
    spec lives in docs_jaccard_verified_dups, and
    docs_minhash_est_vs_exact prices the recall trade between them."""
    d = T(spark, sf_dir, "documents")
    return S.minhash_candidate_pairs(
        d, "doc_id", "text", n_hashes=4, band_size=2, max_bucket=64
    )


# =========================================================================
# Training-data ops: embeddings (similarity search)
# =========================================================================



@register(
    "ann_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
               FROM embeddings WHERE vec_id < 3)
    SELECT query_id, vec_id,
           round(CAST(list_cosine_similarity(CAST(qvec AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])) AS DOUBLE), 4) AS cosine
    FROM q, embeddings
    WHERE vec_id <> query_id
    QUALIFY row_number() OVER (
      PARTITION BY query_id
      ORDER BY list_cosine_similarity(CAST(qvec AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])) DESC, vec_id) <= 5
    """,
)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k (exact ANN baseline); query set broadcast."""
    emb = T(spark, sf_dir, "embeddings")
    out = S.brute_force_topk(emb, emb.filter(F.col("vec_id") < 3), k=5)
    return out.select("query_id", "vec_id", F.round("cosine", 4).alias("cosine"))


@register(
    "ann_lsh_topk",
    f"""
    WITH b AS ({_lsh_tables_sql("embeddings")}),
    q AS (SELECT vec_id AS query_id, embedding AS qvec, table_id, bucket
          FROM b WHERE vec_id < 3),
    cand AS (
      SELECT DISTINCT q.query_id, q.qvec, b.vec_id, b.embedding
      FROM q JOIN b ON q.table_id = b.table_id AND q.bucket = b.bucket
      WHERE b.vec_id <> q.query_id)
    SELECT query_id, vec_id,
           round(CAST(list_cosine_similarity(CAST(qvec AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])) AS DOUBLE), 4) AS cosine
    FROM cand
    QUALIFY row_number() OVER (
      PARTITION BY query_id
      ORDER BY list_cosine_similarity(CAST(qvec AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])) DESC, vec_id) <= 5
    """,
)
def ann_lsh_topk(spark, sf_dir):
    """Bucketed ANN (multi-table sign-projection LSH, 8 bits × 4 tables):
    equi-join on (table, bucket), candidates dedup'd across tables before
    scoring — the 100 TB path (no corpus broadcast, no n² pairs)."""
    emb = T(spark, sf_dir, "embeddings")
    out = S.lsh_bucketed_topk(
        emb, emb.filter(F.col("vec_id") < 3), k=5,
        n_bits=_LSH_BITS, n_tables=_LSH_TABLES, dim=_EMB_DIM,
    )
    return out.select("query_id", "vec_id", F.round("cosine", 4).alias("cosine"))


def _bucket16_sql() -> str:
    from .functions.similarity import hyperplane_dim_pairs

    return _bucket_sql(hyperplane_dim_pairs(16, _EMB_DIM, 0))


@register(
    "ann_lsh_bucket_stats",
    f"""
    SELECT bucket, count(*) AS n_vectors
    FROM (SELECT {_bucket16_sql()} AS bucket FROM embeddings)
    GROUP BY bucket
    """,
)
def ann_lsh_bucket_stats(spark, sf_dir):
    """LSH bucket histogram at the 16-bit spec (2^16 keyspace) — the skew
    check for the bucketed paths: at bench scale every bucket should be
    near-singleton, i.e. no shuffle-skew wall (round-1 verdict item)."""
    from .functions.similarity import hyperplane_dim_pairs

    emb = T(spark, sf_dir, "embeddings")
    return (
        emb.select(S.sign_projection_bucket(
            F.col("embedding"), hyperplane_dim_pairs(16, _EMB_DIM, 0)))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"))
    )


# IVF twin of ann_lsh_bucket_stats: per-cell population of the md5-pinned
# coarse quantizer — the skew gate for the IVF equi-join (one overloaded
# cell = one straggler task at 100 TB; the dial is k_cells). Assignment
# reuses the exact kernel/CTE the recall entries pin (argmax cosine, ties
# to the smaller cell id; DuckDB cosine CAST to DOUBLE[] — float32 drift).
# The quantizer CTEs are shared by every IVF oracle: `init` pins cells 0-7
# to the 8 md5-smallest corpus vectors, `assign` ranks each corpus vector's
# cells by cosine. After editing one, re-run every entry that uses it.
_IVF_INIT_CTES = """ranked_init AS (
      SELECT embedding AS cvec,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
               - 1 AS cid
      FROM embeddings),
    init AS (SELECT cid, cvec FROM ranked_init WHERE cid < 8)"""
_IVF_ASSIGN_CTE = """assign AS (
      SELECT e.vec_id, e.embedding, i.cid,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                               CAST(i.cvec AS DOUBLE[])) DESC,
                        i.cid) AS rn
      FROM embeddings e CROSS JOIN init i)"""
_IVF_CELLS_SQL = f"""
    WITH {_IVF_INIT_CTES},
    assign AS (
      SELECT e.vec_id, i.cid,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                               CAST(i.cvec AS DOUBLE[])) DESC,
                        i.cid) AS rn
      FROM embeddings e CROSS JOIN init i)
    SELECT CAST(cid AS INTEGER) AS cid, CAST(count(*) AS BIGINT) AS n_vectors
    FROM assign WHERE rn = 1 GROUP BY cid
    """


def _pinned_centroids(emb: DataFrame) -> list[list[float]]:
    """The IVF oracles' coarse quantizer on the Spark side: the embeddings
    of the 8 md5-smallest corpus vectors (``_IVF_INIT_CTES``)."""
    rows = (
        emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(8)
        .collect()
    )
    return [[float(x) for x in r["embedding"]] for r in rows]


@register("ann_ivf_cell_stats", _IVF_CELLS_SQL)
def ann_ivf_cell_stats(spark, sf_dir):
    """IVF cell-population histogram (the skew check the LSH path has in
    ann_lsh_bucket_stats): corpus assigned to the md5-pinned coarse cells
    by the same Arrow argmin kernel the search uses — one map-side pass,
    one k-cells-sized groupBy. A hot cell here predicts the straggler task
    in every ivf_topk probe join; re-dial k_cells before it hits search."""
    from .functions.similarity import centroid_topn_udf

    emb = T(spark, sf_dir, "embeddings")
    centroids = _pinned_centroids(emb)
    assign1 = centroid_topn_udf(centroids, 1)
    return (
        emb.select(F.element_at(assign1(F.col("embedding")), 1).alias("cid"))
        .groupBy("cid")
        .agg(F.count("*").alias("n_vectors"))
    )


@register(
    "emb_centroid_by_label",
    """
    WITH e AS (SELECT label, unnest(embedding) AS val,
                      unnest(generate_series(1, len(embedding))) AS pos
               FROM embeddings)
    SELECT label, pos, round(avg(CAST(val AS DOUBLE)), 4) AS centroid
    FROM e GROUP BY label, pos
    """,
)
def emb_centroid_by_label(spark, sf_dir):
    """Per-label centroid — partial-aggregated, no collect to driver."""
    emb = T(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos0", "val"))
        .select("label", (F.col("pos0") + 1).cast("long").alias("pos"),
                F.col("val").cast("double").alias("val"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 4).alias("centroid"))
    )


@register(
    "emb_quantize_error",
    """
    WITH q AS (
      SELECT label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             CASE WHEN list_max(list_transform(embedding,
                                               x -> abs(CAST(x AS DOUBLE)))) > 0
                  THEN list_max(list_transform(embedding,
                                               x -> abs(CAST(x AS DOUBLE)))) / 127.0
                  ELSE 1.0 END AS scale
      FROM embeddings),
    dq AS (
      SELECT label, v,
             list_transform(v, x -> floor(x / scale) * scale) AS deq
      FROM q)
    SELECT label,
           count(*) AS n_vectors,
           round(avg(list_cosine_similarity(v, deq)), 4) AS avg_cosine_fidelity,
           round(avg(list_max(list_transform(
             generate_series(1, len(v)), i -> abs(v[i] - deq[i])))), 6)
             AS avg_max_abs_err
    FROM dq GROUP BY label
    """,
)
def emb_quantize_error(spark, sf_dir):
    """int8 quantization fidelity per label: cosine between each vector and
    its dequantized int8 form plus the max per-component absolute error —
    the acceptance gate before switching ANN scans to the 4×-smaller int8
    storage (functions/similarity.quantize_int8: floor-based symmetric
    quantizer whose math is IEEE-identical in Spark and DuckDB)."""
    emb = T(spark, sf_dir, "embeddings")
    quant = S.quantize_int8(F.col("embedding"))
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = emb.select(
        "label", v.alias("v"), S.dequantize_int8(quant).alias("deq")
    )
    err = F.array_max(F.zip_with("v", "deq", lambda a, b: F.abs(a - b)))
    return d.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.round(F.avg(S.cosine(F.col("v"), F.col("deq"))), 4)
        .alias("avg_cosine_fidelity"),
        F.round(F.avg(err), 6).alias("avg_max_abs_err"),
    )


# =========================================================================
# Engine-native queries (no SQL oracle → driver rows-only check)
# =========================================================================


_IVF_SQL = f"""
    WITH {_IVF_INIT_CTES},
    {_IVF_ASSIGN_CTE},
    cells AS (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, embedding AS qvec, cid
      FROM assign WHERE vec_id < 3 AND rn <= 2)
    SELECT query_id, vec_id,
           round(CAST(list_cosine_similarity(CAST(qvec AS DOUBLE[]),
                                             CAST(embedding AS DOUBLE[]))
                      AS DOUBLE), 4) AS cosine
    FROM probes JOIN cells USING (cid)
    WHERE vec_id <> query_id
    QUALIFY row_number() OVER (
      PARTITION BY query_id
      ORDER BY list_cosine_similarity(CAST(qvec AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[])) DESC,
               vec_id) <= 5
    """


@register("ann_ivf_topk", _IVF_SQL)
def ann_ivf_topk(spark, sf_dir):
    """IVF ANN (the scale path beside LSH): coarse quantizer cells PINNED to
    the 8 md5-smallest corpus vectors (deterministic and SQL-derivable, so
    the search is fully oracle-checked — round-1 task 3), corpus assignment
    via the Arrow-batched argmin kernel (one map-side pass, no shuffle),
    then top-k probing the 2 nearest cells per query. The k-means-refined
    quantizer (kmeans_fit) is the same search path with fitted centroids;
    its recall floor is pinned in tests/test_functions.py."""
    from .functions.similarity import ivf_topk

    emb = T(spark, sf_dir, "embeddings")
    centroids = _pinned_centroids(emb)
    out = ivf_topk(emb, emb.filter(F.col("vec_id") < 3), centroids, k=5, nprobe=2)
    return out.select("query_id", "vec_id", F.round("cosine", 4).alias("cosine"))


# PQ encode chain (codebook pin → per-subspace L2 → argmin codes) — ONE
# spelling shared by ann_pq_topk and emb_pq_code_balance, so the health
# audit can never disagree with the quantizer it audits.
_PQ_CODE_CTES = """ranked AS (
      SELECT embedding AS v,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
               - 1 AS j
      FROM embeddings),
    subs AS (SELECT unnest(range(0, 8)) AS s),
    cb AS (
      SELECT s, j,
             list_transform(list_slice(v, s*8 + 1, s*8 + 8),
                            x -> CAST(x AS DOUBLE)) AS cvec
      FROM ranked CROSS JOIN subs WHERE j < 16),
    dists AS (
      SELECT e.vec_id, c.s, c.j,
             list_reduce(
               [0.0::DOUBLE] || list_transform(range(1, 9),
                 i -> (CAST(e.embedding[CAST(c.s*8 + i AS INT)] AS DOUBLE)
                        - c.cvec[CAST(i AS INT)])
                    * (CAST(e.embedding[CAST(c.s*8 + i AS INT)] AS DOUBLE)
                        - c.cvec[CAST(i AS INT)])),
               (a, b) -> a + b) AS d
      FROM embeddings e CROSS JOIN cb c),
    codes AS (
      SELECT vec_id, s, j AS code FROM (
        SELECT vec_id, s, j,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
        FROM dists) WHERE rn = 1)"""

_PQ_SQL = f"""
    WITH {_PQ_CODE_CTES},
    terms AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id, q.s, q.d
      FROM dists q JOIN codes c ON q.s = c.s AND q.j = c.code
      WHERE q.vec_id < 3 AND c.vec_id <> q.vec_id),
    adc AS (
      SELECT query_id, vec_id,
             list_reduce([0.0::DOUBLE] || list(d ORDER BY s),
                         (a, b) -> a + b) AS a
      FROM terms GROUP BY query_id, vec_id)
    SELECT query_id, vec_id, round(a, 4) AS adc_l2sq
    FROM adc
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY a, vec_id) <= 5
    """


@register("ann_pq_topk", _PQ_SQL)
def ann_pq_topk(spark, sf_dir):
    """PQ-ADC ANN (IVF-PQ's other half): 8 subspaces × 16 centroids pinned to
    the md5-smallest corpus vectors (SQL-derivable like the IVF quantizer),
    corpus encoded to 8 small codes by the Arrow-batched argmin kernel
    (map-side, no shuffle — at 100 TB you persist/scan the 8-byte codes, not
    the 256-byte vectors), queries carry a JVM-built 8×16 ADC distance table,
    approximate distance is 8 table lookups + adds per pair. Reference
    analogue: none (the reference has no ANN); this is the training-data
    similarity-search scale path from the task brief."""
    from .functions.similarity import pq_codebooks, pq_topk

    emb = T(spark, sf_dir, "embeddings")
    cbs = pq_codebooks(emb, m=8, n_codes=16)
    out = pq_topk(emb, emb.filter(F.col("vec_id") < 3), cbs, k=5)
    return out.select(
        "query_id", "vec_id", F.round("adc_l2sq", 4).alias("adc_l2sq")
    )


from .datagen import ensure_fixture, fixture_path  # noqa: E402

_REPLAY_BASE = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
_REPLAY_SPEC = dict(seed=42, n_events=2000, n_urls=200, n_files=4)
# Content-addressed path: embeds a hash of (DATAGEN_VERSION, spec), so a
# generator change regenerates automatically — no stale-cache footgun, no
# manual version bump (round-2 verdict task 9).
_REPLAY_EVENTS = fixture_path(_REPLAY_BASE, "replay_oracle", _REPLAY_SPEC)


def _ensure_replay_events() -> str:
    """Deterministic change log (seed 42, pure numpy/pyarrow — no Spark) at a
    content-addressed path, so the DuckDB oracle reads the very same parquet
    the engine replays. Atomic publish (temp dir + rename): concurrent
    importers and crashes cannot expose partial parquet."""
    from .datagen import GenSpec, write_events

    return ensure_fixture(
        _REPLAY_EVENTS, lambda d: write_events(d, GenSpec(**_REPLAY_SPEC))
    )


_ensure_replay_events()

# Engine-gate harness. Every gate's scratch is `olr_<prefix>_<pid>_<rand>`
# under _REPLAY_BASE, removed at interpreter exit — not earlier: gates
# return lazy DataFrames backed by files under it. A SIGKILLed process never
# runs its exit hook, so the first scratch a process takes prunes the
# scratch of dead pids. The pid test is liveness, never age: a concurrent
# process's scratch survives, and a reused pid only leaks a directory. The
# content-addressed fixtures (olr_<name>_<12 hex>) carry no pid and never
# match the pattern.
_SCRATCH_NAME = re.compile(r"olr_.+_(\d+)_[a-z0-9_]{8}")
_SCRATCH: list[str] = []


def _scratch_pid(name: str) -> int | None:
    m = _SCRATCH_NAME.fullmatch(name)
    return int(m.group(1)) if m else None


def _prune_dead_scratch() -> None:
    for name in os.listdir(_REPLAY_BASE):
        pid = _scratch_pid(name)
        if pid is None:
            continue
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(_REPLAY_BASE, name), ignore_errors=True)
        except (OSError, OverflowError):
            pass  # alive under another uid, or not a pid at all


@atexit.register
def _remove_scratch() -> None:
    for d in _SCRATCH:
        # a forked child inherits the list; only the owner removes
        if _scratch_pid(os.path.basename(d)) == os.getpid():
            shutil.rmtree(d, ignore_errors=True)


def _gate_scratch(prefix: str) -> str:
    """A fresh pid-stamped scratch directory, removed at interpreter exit."""
    if not _SCRATCH:
        _prune_dead_scratch()
    d = tempfile.mkdtemp(prefix=f"olr_{prefix}_{os.getpid()}_", dir=_REPLAY_BASE)
    _SCRATCH.append(d)
    return d


def _gate_pipeline(spark, prefix: str, events_path: str, **kw):
    """A CdcPipeline on ``<scratch>/target`` + ``<scratch>/ckpt``, with the
    session pinned to UTC like T() (gate values are hashed against the
    tz-naive DuckDB oracles)."""
    from .streaming.pipeline import CdcPipeline

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    d = _gate_scratch(prefix)
    return CdcPipeline(
        spark, events_path, os.path.join(d, "target"), os.path.join(d, "ckpt"),
        **kw,
    )


def _event_files(events_path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(events_path, "*.parquet")))


def _apply_files(p, files: list[str], start: int = 0) -> None:
    """Apply each change file as its own epoch, numbered from ``start``."""
    from .operators.decode import EVENTS_DDL

    for i, f in enumerate(files, start=start):
        p.apply_epoch(p.spark.read.schema(EVENTS_DDL).parquet(f), epoch_id=i)


# Gates that ask several questions of one materialized table build it once
# per process, keyed by (gate, fixture path). The value is the table path,
# or a tuple led by it; a path whose directory is gone is rebuilt.
_REPLAYS: dict[tuple[str, str], object] = {}


def _replay_memo(gate: str, events_path: str, build):
    hit = _REPLAYS.get((gate, events_path))
    if hit is None or not os.path.isdir(hit if isinstance(hit, str) else hit[0]):
        hit = _REPLAYS[(gate, events_path)] = build()
    return hit


# Drop + re-add fixture: the 4 replay files plus a synthesized 5th epoch
# whose DDLs DROP http_status (schema_ver 5) and re-ADD it under the same
# NAME (schema_ver 6, fresh field id), followed by a handful of v6 DML rows
# carrying new http_status extras. Iceberg field-id semantics demand the
# pre-drop column data can never resurface under the re-added name — only
# v6 rows may populate it.
_DROP_READD_SPEC = dict(base=_REPLAY_SPEC, marker="drop_readd_v1")
_DROP_READD_EVENTS = fixture_path(_REPLAY_BASE, "replay_dropreadd", _DROP_READD_SPEC)


def _gen_drop_readd(d: str) -> None:
    import shutil as _shutil
    from datetime import datetime, timedelta

    import pyarrow.dataset as _ds
    import pyarrow.parquet as _pq

    import pyarrow as pa

    from .datagen import EVENTS_SCHEMA
    from .functions.extract import extract_text

    src = _ensure_replay_events()
    for f in sorted(os.listdir(src)):
        if f.endswith(".parquet"):
            _shutil.copy(os.path.join(src, f), os.path.join(d, f))
    head = (
        _ds.dataset(src, format="parquet")
        .to_table(columns=["seq", "warc_ts", "url"])
        .to_pandas()
    )
    max_seq = int(head["seq"].max())
    base_us = int(head["warc_ts"].max().value // 1_000) + 10_000_000
    urls = sorted(head["url"].dropna().unique())[:9]

    def ts(i: int):
        return datetime(1970, 1, 1) + timedelta(microseconds=base_us + i * 1_000_000)

    def row(i: int, **kw) -> dict:
        base = {f.name: None for f in EVENTS_SCHEMA}
        base.update(seq=max_seq + 1 + i, warc_ts=ts(i), rolled_back=False,
                    **kw)
        return base

    def page(tag: str) -> tuple[bytes, str]:
        html = (
            f"<html><head><title>readd {tag}</title></head>"
            f"<body><p>readd payload {tag}</p></body></html>"
        ).encode()
        return html, extract_text(html)

    rows = [
        row(0, op="ddl", schema_ver=5, action="drop_column",
            col_name="http_status"),
        row(1, op="ddl", schema_ver=6, action="add_column",
            col_name="http_status", new_type="bigint"),
    ]
    for i, u in enumerate(urls[:8]):
        html, text = page(str(i))
        rows.append(
            row(2 + i, op="u", url=u, html=html, text=text, lang="en",
                schema_ver=6, extras=[("http_status", str(700 + i))])
        )
    rows.append(row(10, op="d", url=urls[8], schema_ver=6))
    html, text = page("new")
    rows.append(
        row(11, op="c", url="https://newpage.example/readd", html=html,
            text=text, lang="en", schema_ver=6,
            extras=[("http_status", "999")])
    )
    _pq.write_table(
        pa.Table.from_pylist(rows, schema=EVENTS_SCHEMA),
        os.path.join(d, "events-00004.parquet"),
    )


def _ensure_drop_readd_events() -> str:
    return ensure_fixture(_DROP_READD_EVENTS, _gen_drop_readd)


_ensure_drop_readd_events()

# One READ-ONLY per-file-epoch MoR replay of the fixed change log, shared by
# the metadata-family engine entries (commit log, metrics truthfulness,
# manifest stats, snapshot diff, incremental agg, as-of time travel): each
# asks the SAME materialized table a different metadata question — exactly a
# real deployment's shape, and it cuts ~5 redundant fixture replays from the
# bench/correctness runs. Entries that MUTATE the table or its refs (WAP
# staging) must NOT use it and build their own. Cache survives session
# restarts within the process: the value is an on-disk path + the version
# confirmed after each epoch, both session-independent.
def _shared_mor_replay(spark) -> tuple[str, list[int], str]:
    """(table_path, per-epoch confirmed versions, metrics_path) of the shared
    read-only replay; built on first use per process."""
    from .lake.table import LakeTable

    ev = _ensure_replay_events()

    def build():
        metrics = _gate_scratch("shared_metrics")
        p = _gate_pipeline(
            spark, "shared_replay", ev,
            metrics_path=metrics, merge_mode="mor", compact_every=0,
        )
        marks = []
        for i, f in enumerate(_event_files(ev)):
            _apply_files(p, [f], start=i)
            marks.append(LakeTable.current_version(p.table_path))
        return p.table_path, marks, metrics

    return _replay_memo("shared_replay", ev, build)


# DuckDB twin of the full pipeline replay over the same fixed log:
# committed-DML filter (null-safe dead-letter predicate has nothing to drop
# here, but the filter is replicated verbatim), per-row schema_ver extras
# resolution (fetch_status @v2-3, http_status @v4, widened to BIGINT), LWW
# winner per url over (warc_ts, seq), delete-tombstone winners excluded.
# The pieces are shared by every replay oracle below; after editing one,
# re-run every entry that uses it.
_COMMITTED_DML = """op IS NOT NULL AND op <> 'ddl' AND NOT rolled_back
        AND url IS NOT NULL AND warc_ts IS NOT NULL"""
_REPLAY_GLOB = f"'{_REPLAY_EVENTS}/*.parquet'"
# the first two fixture files: the epochs a from/as-of snapshot confirmed
_REPLAY_FIRST_TWO = f"""['{_REPLAY_EVENTS}/events-00000.parquet',
                                  '{_REPLAY_EVENTS}/events-00001.parquet']"""
_REPLAY_COLS = """url, warc_ts, seq AS _seq, op AS _op, text, lang,
             CASE WHEN schema_ver >= 4
                    THEN CAST(extras['http_status'][1] AS BIGINT)
                  WHEN schema_ver >= 2
                    THEN CAST(extras['fetch_status'][1] AS BIGINT)
                  ELSE NULL END AS http_status"""


def _lww_ctes(
    cols: str, src: str = _REPLAY_GLOB, ev_where: str = "", ev: str = "ev",
    proj: str = "projected",
) -> str:
    """Two CTEs: ``ev``, the committed DML of ``src`` (plus ``ev_where``),
    and ``proj``, its ``cols`` with each row's LWW rank ``rn`` per url over
    (warc_ts DESC, seq DESC) — the winner is rn = 1."""
    return f"""{ev} AS (
      SELECT * FROM read_parquet({src})
      WHERE {_COMMITTED_DML}{ev_where}),
    {proj} AS (
      SELECT {cols},
             row_number() OVER (PARTITION BY url
                                ORDER BY warc_ts DESC, seq DESC) AS rn
      FROM {ev})"""


def _replay_state_sql(
    ev_where: str = "", extra_cols: str = "", where: str = ""
) -> str:
    """The live LWW state of the fixed replay log: ``ev_where`` filters the
    log before the window, ``extra_cols`` adds output columns, ``where``
    filters the winners."""
    return f"""
    WITH {_lww_ctes(_REPLAY_COLS, ev_where=ev_where)}
    SELECT url, warc_ts, _seq, text, lang, http_status{extra_cols}
    FROM projected WHERE rn = 1 AND _op <> 'd'{where}
    """


_REPLAY_SQL = _replay_state_sql()


@register("engine_replay_state", _REPLAY_SQL)
def engine_replay_state(spark, sf_dir):
    """Flagship CDC path end-to-end on a deterministic synthesized change log
    (seed 42): decode → schema evolution → LWW → bucketed MERGE → final
    state. Golden equivalence vs the pandas replayer is asserted in tests;
    the driver additionally value-hashes it against a DuckDB replay of the
    SAME fixed parquet log (round-1 task 3)."""
    p = _gate_pipeline(spark, "replay", _ensure_replay_events())
    p.run_batch_replay()
    state = p.target_state()
    return state.select("url", "warc_ts", "_seq", "text", "lang", "http_status")


# Time-travel twin: replay ONLY the first two (of four) fixture files — the
# epochs confirmed by snapshot version chosen in engine_replay_state_asof.
# All events there predate the DDL scenario (DDLs land at 60/75/90% of the
# stream), so the as-of schema is v1: no fetch/http_status column exists yet.
_REPLAY_ASOF_SQL = f"""
    WITH {_lww_ctes("url, warc_ts, seq AS _seq, op AS _op, text, lang",
                    src=_REPLAY_FIRST_TWO)}
    SELECT url, warc_ts, _seq, text, lang
    FROM projected WHERE rn = 1 AND _op <> 'd'
    """


def _confirmed_version(spark, table_path: str, epoch: int) -> int:
    """The newest snapshot version of ``table_path`` whose confirmed epoch
    is ``epoch`` (finalized): the version a time-travel read pins."""
    from .lake.table import LakeTable

    return max(
        v
        for v in LakeTable.load(spark, table_path).versions()
        if LakeTable.load(spark, table_path, version=v).last_epoch()
        == (epoch, True)
    )


@register("engine_replay_state_asof", _REPLAY_ASOF_SQL)
def engine_replay_state_asof(spark, sf_dir):
    """Snapshot time travel (Iceberg-style; reference analogue: checkpoint
    files let the replicator resume from ANY confirmed scn —
    src/state/StateDisk.cpp + Metadata.cpp snapshot chain): replay the fixed
    change log as four per-file epochs, then read the table AS OF the
    snapshot that confirmed epoch 1. The time-traveled state must equal a
    replay of only the first two files — including the DICTIONARY as of
    then: the fetch_status/http_status columns added by later DDL epochs
    must be absent."""
    from .lake.table import LakeTable
    from .operators.merge import read_state

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    table_path, _marks, _metrics = _shared_mor_replay(spark)
    # pick the newest snapshot whose confirmed epoch is 1 (time travel)
    ver = _confirmed_version(spark, table_path, 1)
    asof = LakeTable.load(spark, table_path, version=ver)
    return read_state(asof).select("url", "warc_ts", "_seq", "text", "lang")


# "What changed since T" slice: winners computed over the FULL log, then
# filtered to the window — mirroring the Spark side's post-LWW filter (the
# lo-side file prune is a plan optimization, not a semantics change).
_SINCE_TS = "2020-01-02 00:00:00"
_SINCE_US = 1_577_923_200_000_000  # epoch micros of _SINCE_TS (UTC)
_STATE_SINCE_SQL = _replay_state_sql(
    where=f" AND warc_ts >= TIMESTAMP '{_SINCE_TS}'"
)


@register("engine_state_since", _STATE_SINCE_SQL)
def engine_state_since(spark, sf_dir):
    """Incremental consumer slice: current-state rows last changed at or
    after a cutoff, answered with manifest min/max FILE SKIPPING on the low
    side — the Iceberg-style "rows modified since T" read every downstream
    sync job runs (reference analogue: checkpoint headers carry first/next
    scn per redo file, so resume opens only covering files). The lo-side
    prune composed with read-time LWW is exact (proof in
    operators/merge.read_state_since); the hi side is the one that cannot
    prune under LWW, per LakeTable.read's caveat. At 10^10 rows this reads
    O(files overlapping the window), not the table."""
    from .lake.table import LakeTable
    from .operators.merge import read_state_since

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    table_path, _marks, _metrics = _shared_mor_replay(spark)
    t = LakeTable.load(spark, table_path)
    return read_state_since(t, _SINCE_US).select(
        "url", "warc_ts", "_seq", "text", "lang", "http_status"
    )


# Incremental near-dup INDEX maintenance from the CDF changelog: the Spark
# side never rescans the table — it folds each epoch's snapshot_diff batch
# into a persisted MinHash signature index (upsert new sigs, anti-join away
# deleted/superseded urls) and emits band-collision pairs from the MAINTAINED
# index. The DuckDB twin recomputes the same 4-hash / 2-band index from
# scratch over the final replay state — incremental maintenance must net to
# the from-scratch answer exactly (same invariant family as
# engine_incremental_agg, applied to a dedup index instead of an aggregate).
_INC_MINHASH_SQL = f"""
    WITH {_lww_ctes("url, text, op AS _op")},
    state AS (SELECT url, text FROM projected WHERE rn = 1 AND _op <> 'd'),
    raw AS (
      SELECT url,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM state),
    tok AS (SELECT DISTINCT url, token FROM raw WHERE length(token) > 0),
    sig AS (
      SELECT url,
             min(md5(token || '#0')) AS h0, min(md5(token || '#1')) AS h1,
             min(md5(token || '#2')) AS h2, min(md5(token || '#3')) AS h3
      FROM tok GROUP BY url),
    bands AS (
      SELECT url, 0 AS band_id, md5(h0 || h1) AS band_hash FROM sig
      UNION ALL
      SELECT url, 1 AS band_id, md5(h2 || h3) AS band_hash FROM sig)
    SELECT DISTINCT l.url AS a, r.url AS b
    FROM bands l JOIN bands r
      ON l.band_id = r.band_id AND l.band_hash = r.band_hash
     AND l.url < r.url
    """


@register("engine_incremental_minhash", _INC_MINHASH_SQL)
def engine_incremental_minhash(spark, sf_dir):
    """Incremental dedup-index maintenance: a per-url MinHash LSH index is
    kept current purely from CDF batches — for every epoch, sign only the
    batch's inserted/updated after-images, anti-join away every changed
    url's old signature (deletes included), persist, repeat — and near-dup
    candidate pairs are answered from the MAINTAINED index. This is the op
    a 100 TB corpus needs to keep dedup live under CDC churn: per epoch the
    work is O(changed keys) signatures + an anti-join against the index,
    never a corpus rescan (snapshot_diff itself prunes quiet buckets
    driver-side). The DuckDB twin recomputes the index from scratch over
    the final state — incremental must net to from-scratch exactly.
    Reference analogue: the downstream-consumer contract of checkpointed
    incremental delivery (WriterStream confirm protocol); the index is one
    such consumer's materialization."""
    import shutil as _shutil

    from .lake.table import LakeTable
    from .operators.merge import snapshot_diff

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    table_path, marks, _metrics = _shared_mor_replay(spark)
    versions = LakeTable.load(spark, table_path).versions()
    base = _gate_scratch("inc_minhash")
    sig_path = None
    from_v = min(versions)
    for i, to_v in enumerate(marks):
        if to_v == from_v:
            continue
        batch = snapshot_diff(spark, table_path, from_v, to_v)
        changed_urls = batch.select("url").distinct()
        upserts = batch.filter(F.col("_change") != "delete").select(
            "url", "text"
        )
        new_sigs = S.minhash_signature(
            S.tokens(upserts, "url", "text", distinct=False), "url",
            n_hashes=4,
        )
        if sig_path is not None:
            kept = spark.read.parquet(sig_path).join(
                changed_urls, "url", "left_anti"
            )
            index = kept.unionByName(new_sigs)
        else:
            index = new_sigs
        nxt = os.path.join(base, f"sig_v{to_v}")
        index.write.parquet(nxt)
        if sig_path is not None:
            _shutil.rmtree(sig_path, ignore_errors=True)
        sig_path, from_v = nxt, to_v
    b = S.minhash_bands(
        spark.read.parquet(sig_path), "url", n_hashes=4, band_size=2
    )
    left = b.select(F.col("url").alias("a"), "band_id", "band_hash")
    right = b.select(F.col("url").alias("b"), "band_id", "band_hash")
    return (
        left.join(right, ["band_id", "band_hash"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


# Partial-image semantics: committed 'u' events are masked to carry only
# "changed" columns (text dropped when seq%3=1, lang when seq%3=2 — a
# deterministic stand-in for a source emitting changed columns only); the
# oracle resolves by delete-segmented last-non-NULL per column, exactly
# read_state_partial's fold.
_PARTIAL_SQL = f"""
    WITH ev AS (
      SELECT * FROM read_parquet('{_REPLAY_EVENTS}/*.parquet')
      WHERE {_COMMITTED_DML}),
    masked AS (
      SELECT url, warc_ts, seq AS _seq, op AS _op,
             CASE WHEN op = 'u' AND seq % 3 = 1 THEN NULL ELSE text END
               AS text,
             CASE WHEN op = 'u' AND seq % 3 = 2 THEN NULL ELSE lang END
               AS lang,
             CASE WHEN schema_ver >= 4
                    THEN CAST(extras['http_status'][1] AS BIGINT)
                  WHEN schema_ver >= 2
                    THEN CAST(extras['fetch_status'][1] AS BIGINT)
                  ELSE NULL END AS http_status
      FROM ev),
    lifed AS (
      SELECT *,
             sum(CASE WHEN _op = 'd' THEN 1 ELSE 0 END) OVER
               (PARTITION BY url ORDER BY warc_ts, _seq
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - CASE WHEN _op = 'd' THEN 1 ELSE 0 END AS _life
      FROM masked),
    filled AS (
      SELECT url, warc_ts, _seq, _op,
             last_value(text IGNORE NULLS) OVER w AS text,
             last_value(lang IGNORE NULLS) OVER w AS lang,
             last_value(http_status IGNORE NULLS) OVER w AS http_status,
             row_number() OVER (PARTITION BY url
                                ORDER BY warc_ts DESC, _seq DESC) AS rn
      FROM lifed
      WINDOW w AS (PARTITION BY url, _life ORDER BY warc_ts, _seq
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT url, warc_ts, _seq, text, lang, http_status
    FROM filled WHERE rn = 1 AND _op <> 'd'
    """


def _partial_batch(spark, path: str) -> DataFrame:
    """One fixture file as a partial-image epoch: the ``masked`` CTE of
    ``_PARTIAL_SQL`` (a 'u' row loses text when seq % 3 = 1 and lang when
    seq % 3 = 2)."""
    from .operators.decode import EVENTS_DDL

    is_u = F.col("op") == "u"
    return (
        spark.read.schema(EVENTS_DDL).parquet(path)
        .withColumn(
            "text",
            F.when(is_u & (F.col("seq") % 3 == 1), F.lit(None))
            .otherwise(F.col("text")),
        )
        .withColumn(
            "lang",
            F.when(is_u & (F.col("seq") % 3 == 2), F.lit(None))
            .otherwise(F.col("lang")),
        )
    )


@register("engine_partial_update_state", _PARTIAL_SQL)
def engine_partial_update_state(spark, sf_dir):
    """Partial-image CDC end-to-end (the Debezium / OpenLogReplicator
    changed-columns-only output shape — reference Builder.cpp emits only
    columns present in the redo vector unless full supplemental logging is
    on): the fixed log's committed updates are masked to NULL out
    deterministic column subsets, replayed through the pipeline in
    partial_updates mode (raw-version MoR appends — no batch collapse, no
    LWW compaction), and the state is served by the read-time fold
    (operators/merge.read_state_partial): last non-NULL per column within
    the key's tombstone-segmented life, newest version wins row identity,
    re-creates after a delete inherit nothing. The DuckDB twin replays the
    identical fold; a single wrongly-carried column anywhere hash-fails.
    Shape at 100 TB: one key exchange serves both fold windows."""
    ev = _ensure_replay_events()
    p = _gate_pipeline(
        spark, "partial", ev,
        merge_mode="mor", compact_every=0, partial_updates=True,
    )
    for i, f in enumerate(_event_files(ev)):
        p.apply_epoch(_partial_batch(spark, f), epoch_id=i)
    return p.target_state().select(
        "url", "warc_ts", "_seq", "text", "lang", "http_status"
    )


def _state_chain_ctes(extra: str = "") -> str:
    """``s{k}``/``st{k}`` for k = 0..3: the LWW ranks and the live winners
    (url, warc_ts, _seq plus the ``extra`` columns) after replaying fixture
    files 0..k — the consecutive states the per-epoch CDF oracles diff."""
    ctes = []
    for k in range(4):
        flist = ", ".join(
            f"'{_REPLAY_EVENTS}/events-{i:05d}.parquet'" for i in range(k + 1)
        )
        ctes.append(f"""
    s{k} AS (
      SELECT url, warc_ts, seq AS _seq, op AS _op{extra},
             row_number() OVER (PARTITION BY url
                                ORDER BY warc_ts DESC, seq DESC) AS rn
      FROM read_parquet([{flist}])
      WHERE {_COMMITTED_DML}),
    st{k} AS (SELECT url, warc_ts, _seq{extra} FROM s{k}
              WHERE rn = 1 AND _op <> 'd')""")
    return ",".join(ctes)


def _follow_chain_sql() -> str:
    """Per-epoch CDF oracle: winners after files 0..k diffed against
    winners after files 0..k-1, for k = 0..3 (k=0 diffs against the empty
    created table — inserts only). Same diff spelling as
    _SNAPSHOT_DIFF_SQL, code-generated per epoch pair."""
    diffs = ["SELECT 0 AS epoch, 'insert' AS _change, url, _seq FROM st0"]
    for k in range(1, 4):
        diffs.append(f"""
    SELECT {k} AS epoch,
           CASE WHEN o.url IS NULL THEN 'insert'
                WHEN n.url IS NULL THEN 'delete'
                ELSE 'update' END AS _change,
           COALESCE(n.url, o.url) AS url,
           CASE WHEN n.url IS NULL THEN o._seq ELSE n._seq END AS _seq
    FROM st{k - 1} o FULL OUTER JOIN st{k} n ON o.url = n.url
    WHERE o.url IS NULL OR n.url IS NULL
       OR o.warc_ts <> n.warc_ts OR o._seq <> n._seq""")
    return "WITH " + _state_chain_ctes() + " ".join(
        ["", diffs[0]] + [f"UNION ALL {d}" for d in diffs[1:]]
    )


@register("engine_follow_changes", _follow_chain_sql())
def engine_follow_changes(spark, sf_dir):
    """The PULL changelog consumer end-to-end (operators/merge.
    follow_changes — the polling twin of the network sink's push confirm
    protocol; reference analogue: a WriterStream client resuming from its
    own confirmed checkpoint, Writer.cpp:346-422): a live follower tails
    the snapshot chain WHILE the pipeline commits four epochs, receiving
    one CDF batch per commit; resume-position continuity (each batch's
    from_version == previous batch's to_version) is asserted in-flight,
    and the concatenated per-epoch changelogs must value-hash against a
    DuckDB recompute of every consecutive state diff — a single missed,
    duplicated, or misclassified change anywhere in the chain fails.
    Shape at 100 TB: each poll costs one snapshot_diff (quiet buckets
    pruned driver-side), never a rescan of history."""
    from .lake.table import LakeTable
    from .operators.merge import follow_changes

    ev = _ensure_replay_events()
    files = _event_files(ev)
    p = _gate_pipeline(spark, "follow", ev, merge_mode="mor", compact_every=0)
    _apply_files(p, files[:1])
    base = min(LakeTable.load(spark, p.table_path).versions())
    gen = follow_changes(
        spark, p.table_path, from_version=base, poll_secs=0.05, max_polls=3
    )
    batches = [next(gen)]
    for i, f in enumerate(files[1:], start=1):
        _apply_files(p, [f], start=i)
        batches.append(next(gen))
    out = None
    prev_to = base
    for i, (frm, to, df) in enumerate(batches):
        if frm != prev_to:
            raise AssertionError(f"resume gap: batch {i} from {frm} != {prev_to}")
        prev_to = to
        part = df.select(
            F.lit(i).alias("epoch"), "_change", "url", "_seq"
        )
        out = part if out is None else out.unionByName(part)
    return out


def _scd2_chain_sql() -> str:
    """SCD2 oracle over the consecutive-state-diff chain (the
    _follow_chain_sql recompute carrying payload columns): per url the
    chronological CDF rows ARE the version chain — an update's timestamp
    closes the previous version, a delete closes it with no successor, and
    LWW/out-of-order semantics come for free because a state diff only
    exists when the applied winner actually moved."""
    diffs = [
        "SELECT 0 AS epoch, 'insert' AS _change, url, warc_ts, _seq, "
        "text, lang FROM st0"
    ]
    for k in range(1, 4):
        diffs.append(f"""
    SELECT {k} AS epoch,
           CASE WHEN o.url IS NULL THEN 'insert'
                WHEN n.url IS NULL THEN 'delete'
                ELSE 'update' END AS _change,
           COALESCE(n.url, o.url) AS url,
           COALESCE(n.warc_ts, o.warc_ts) AS warc_ts,
           CASE WHEN n.url IS NULL THEN o._seq ELSE n._seq END AS _seq,
           COALESCE(n.text, o.text) AS text,
           COALESCE(n.lang, o.lang) AS lang
    FROM st{k - 1} o FULL OUTER JOIN st{k} n ON o.url = n.url
    WHERE o.url IS NULL OR n.url IS NULL
       OR o.warc_ts <> n.warc_ts OR o._seq <> n._seq""")
    chain = " UNION ALL ".join(diffs)
    return (
        "WITH " + _state_chain_ctes(", text, lang") + f""",
    chain AS ({chain}),
    fold AS (
      SELECT url, epoch, _change, warc_ts, _seq, text, lang,
             lead(_change) OVER w AS nxt_change,
             lead(warc_ts) OVER w AS nxt_ts
      FROM chain
      WINDOW w AS (PARTITION BY url ORDER BY epoch))
    SELECT url,
           CAST(row_number() OVER (PARTITION BY url ORDER BY epoch)
                AS BIGINT) AS ver_no,
           warc_ts AS valid_from,
           CASE WHEN nxt_change = 'update' THEN nxt_ts END AS valid_to,
           nxt_change IS NULL AS is_current,
           _seq, text, lang
    FROM fold WHERE _change <> 'delete'
    """
    )


@register("engine_scd2_from_cdf", _scd2_chain_sql())
def engine_scd2_from_cdf(spark, sf_dir):
    """SCD Type-2 dimension maintained INCREMENTALLY from CDF batches — the
    classic warehouse consumer of a CDC stream (Debezium → slowly-changing
    dimension): per epoch, snapshot_diff's changelog closes the touched
    keys' current rows (update closes at the new version's timestamp,
    delete closes with no successor) and opens one new version per
    insert/update; version numbers continue across re-creates. The
    maintained table — built ONLY from O(changed keys) per-epoch batches,
    never a rescan — must equal a from-scratch SCD2 computed by DuckDB over
    the consecutive-state-diff chain (the engine_incremental_agg invariant
    applied to validity intervals; cdc_scd2_history is the from-raw-log
    twin). Shape at 100 TB: each epoch costs one snapshot_diff (quiet
    buckets pruned) + equi-joins keyed on the batch's keys; the window-free
    maintenance never sorts history."""
    from .operators.merge import snapshot_diff

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path, marks, _ = _shared_mor_replay(spark)
    from .lake.table import LakeTable

    base = min(LakeTable.load(spark, path).versions())
    d = _gate_scratch("scd2")
    cols = ["url", "ver_no", "valid_from", "valid_to", "is_current",
            "_seq", "text", "lang"]
    scd_path = None
    for k, (frm, to) in enumerate(zip([base] + marks[:-1], marks)):
        cdf = snapshot_diff(spark, path, frm, to).select(
            "_change", "url", "warc_ts", "_seq", "text", "lang"
        )
        opens = cdf.filter(F.col("_change") != "delete")
        if scd_path is None:
            nxt = opens.select(
                "url",
                F.lit(1).cast("long").alias("ver_no"),
                F.col("warc_ts").alias("valid_from"),
                F.lit(None).cast("timestamp").alias("valid_to"),
                F.lit(True).alias("is_current"),
                "_seq", "text", "lang",
            )
        else:
            scd = spark.read.parquet(scd_path)
            chg = cdf.select(
                "url", F.col("_change").alias("_chg"),
                F.col("warc_ts").alias("_chg_ts"),
            )
            # close the changed keys' current rows: an update's new version
            # timestamp bounds the old validity; a delete leaves no bound
            closed = (
                scd.filter("is_current")
                .join(F.broadcast(chg), "url")
                .select(
                    "url", "ver_no", "valid_from",
                    F.when(F.col("_chg") == "update", F.col("_chg_ts"))
                    .alias("valid_to"),
                    F.lit(False).alias("is_current"),
                    "_seq", "text", "lang",
                )
            )
            untouched = scd.join(F.broadcast(chg), "url", "left_anti")
            history = scd.filter(~F.col("is_current")).join(
                F.broadcast(chg), "url", "left_semi"
            )
            prior = scd.groupBy("url").agg(F.max("ver_no").alias("_prev"))
            new_rows = (
                opens.join(F.broadcast(prior), "url", "left")
                .select(
                    "url",
                    (F.coalesce("_prev", F.lit(0)) + 1).cast("long")
                    .alias("ver_no"),
                    F.col("warc_ts").alias("valid_from"),
                    F.lit(None).cast("timestamp").alias("valid_to"),
                    F.lit(True).alias("is_current"),
                    "_seq", "text", "lang",
                )
            )
            nxt = (
                untouched.select(cols)
                .unionByName(history.select(cols))
                .unionByName(closed.select(cols))
                .unionByName(new_rows.select(cols))
            )
        # the maintained dimension is STORED between epochs (it is a real
        # table a consumer reads); re-reading also cuts the per-epoch
        # join lineage
        scd_path = os.path.join(d, f"scd_{k}")
        nxt.write.mode("overwrite").parquet(scd_path)
    return spark.read.parquet(scd_path).select(cols)


@register("engine_partial_compact_state", _PARTIAL_SQL)
def engine_partial_compact_state(spark, sf_dir):
    """Watermark-bounded compaction of a partial-image table through the
    value gate: replay the masked log (engine_partial_update_state's
    scenario), then compact_partial at a mid-log watermark — every key's
    pre-watermark history collapses into one full row (manifest-ts bucket
    discovery, tombstone winners kept), newer versions stay raw — and the
    fold-served state must STILL value-hash against the DuckDB replay of
    the full un-compacted fold. Physical row shrinkage is asserted
    in-flight; the oracle proves the shrinkage changed nothing. This is
    the read-cost bound for partial tables at 10^10 events: history is
    bounded by watermark lag, not stream length."""
    from .lake.table import LakeTable
    from .operators.decode import EVENTS_DDL
    from .operators.merge import compact_partial

    ev = _ensure_replay_events()
    p = _gate_pipeline(
        spark, "pcompact", ev,
        merge_mode="mor", compact_every=0, partial_updates=True,
    )
    hi_ts = None
    for i, f in enumerate(_event_files(ev)):
        p.apply_epoch(_partial_batch(spark, f), epoch_id=i)
        if i == 1:  # watermark = end of epoch 1 (T4: nothing older arrives)
            hi_ts = (
                spark.read.schema(EVENTS_DDL).parquet(f)
                .agg(F.max(F.unix_micros(F.col("warc_ts").cast("timestamp"))))
                .first()[0]
            )
    stats = compact_partial(LakeTable.load(spark, p.table_path), hi_ts)
    if not stats["rows_after"] < stats["rows_before"]:
        raise AssertionError(f"compaction did not shrink history: {stats}")
    return p.target_state().select(
        "url", "warc_ts", "_seq", "text", "lang", "http_status"
    )


_MASKED_REPLAY_SPEC = dict(base=_REPLAY_SPEC, mask="u_seq_mod3_text_lang_v1")
_MASKED_REPLAY_EVENTS = fixture_path(
    _REPLAY_BASE, "replay_masked", _MASKED_REPLAY_SPEC
)


def _ensure_masked_replay_events() -> str:
    """Masked COPY of the replay fixture for the STREAMING partial-image
    gate: the same deterministic changed-columns-only rule _PARTIAL_SQL
    applies in SQL (text NULLed on committed 'u' with seq%3=1, lang on
    seq%3=2), applied file-by-file with pyarrow — a distributed rewrite
    would scramble the ordered-archive file boundaries (ROUND3 notes:
    DDL-before-its-base-column hazard) — and mtimes touched strictly
    ascending in name order so FileStreamSource delivers archive order."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = _ensure_replay_events()

    def _write(d: str) -> None:
        import numpy as np

        for k, f in enumerate(_event_files(src)):
            t = pq.read_table(f)
            is_u = pc.fill_null(
                pc.equal(t["op"].combine_chunks(), pa.scalar("u")), False
            )
            # seq is non-null int64; pyarrow.compute has no modulo kernel
            rem = pa.array(t["seq"].combine_chunks().to_numpy() % 3)
            for col, r in (("text", 1), ("lang", 2)):
                m = pc.and_(is_u, pc.equal(rem, np.int64(r)))
                idx = t.schema.get_field_index(col)
                masked = pc.if_else(
                    m,
                    pa.nulls(len(t), t.schema.field(col).type),
                    t[col].combine_chunks(),
                )
                t = t.set_column(idx, t.schema.field(col), masked)
            out = os.path.join(d, os.path.basename(f))
            pq.write_table(t, out, compression="snappy")
            os.utime(out, (1_600_000_000 + k, 1_600_000_000 + k))

    return ensure_fixture(_MASKED_REPLAY_EVENTS, _write)


@register("engine_partial_stream_state", _PARTIAL_SQL)
def engine_partial_stream_state(spark, sf_dir):
    """Partial-image CDC through the STRUCTURED STREAMING path (the batch
    twin is engine_partial_update_state): the masked changed-columns-only
    log is tailed as a file stream — checkpointed one-file micro-batches,
    epoch re-read optimization, raw-version MoR appends — and the
    fold-served state must value-hash against the DuckDB replay of the
    identical fold. Micro-batch boundaries are the risk being gated: a
    column carried across (or dropped at) an epoch boundary by the
    read-time fold differs from the batch answer and hash-fails. The mask
    lives IN the fixture here (a source emits partial images; the engine
    never sees full rows), applied file-by-file so the ordered-archive
    property survives — the oracle applies the same seq%3 rule in SQL over
    the unmasked fixture, so fixture masking and SQL masking are also
    cross-checked against each other."""
    p = _gate_pipeline(
        spark, "pstream", _ensure_masked_replay_events(),
        merge_mode="mor", compact_every=0, partial_updates=True,
    )
    p.run_available_now(max_files_per_trigger=1)
    return p.target_state().select(
        "url", "warc_ts", "_seq", "text", "lang", "http_status"
    )


@register("engine_bootstrap_tail", _REPLAY_SQL)
def engine_bootstrap_tail(spark, sf_dir):
    """Snapshot-bootstrap → log-tail handoff (the Debezium initial-load /
    Kafka compacted-topic consumer shape; reference analogue: OLR's
    dictionary bootstrap + start-from-scn): a NEW target is stood up from
    (a) the boundary DDL traffic replayed as metadata-only epochs — the
    dictionary lands at the boundary version (v3 here, asserted) with the
    SAME field ids a full replay allocates, (b) one bulk load of the
    source's compacted changelog at the boundary — newest version per key
    INCLUDING delete tombstones (asserted present; an out-of-order tail
    event must lose LWW to a boundary delete, so live-rows-only bootstrap
    resurrects dead keys — tests/test_bootstrap.py), then (c) tailing only
    the post-boundary file, whose rename DDL must re-map the
    bootstrap-written v3 files by field id. Final state value-hashes
    against the DuckDB replay of the FULL log — handoff is exact, no gap,
    no overlap, no resurrection. Shape at 100 TB: the snapshot bulk load
    is O(state) MoR appends (no event decode, no read of existing data);
    the tail is the normal incremental path."""
    from .lake.table import LakeTable
    from .operators.decode import EVENTS_DDL
    from .operators.lww import lww_compact_auto

    ev = _ensure_replay_events()
    files = _event_files(ev)
    boundary = 3  # files [0, 3) are source history, file 3 is the tail

    # the "source database": replay history to materialize its state
    src = _gate_pipeline(spark, "boot_src", ev)
    _apply_files(src, files[:boundary])
    st = LakeTable.load(spark, src.table_path)
    snap = lww_compact_auto(st.read(), key="url", order=("warc_ts", "_seq"))
    if snap.filter(F.col("_op") == "d").limit(1).count() == 0:
        raise AssertionError("boundary changelog carries no tombstones")

    # the new consumer: metadata-only epochs -> bulk bootstrap -> tail
    tgt = _gate_pipeline(spark, "boot_tgt", ev)
    for i in range(boundary):
        ddl_only = (
            spark.read.schema(EVENTS_DDL)
            .parquet(files[i])
            .filter(F.col("op") == "ddl")
        )
        tgt.apply_epoch(ddl_only, epoch_id=i)
    tt = LakeTable.load(spark, tgt.table_path)
    if tt.current_schema_ver != st.current_schema_ver:
        raise AssertionError(
            f"dictionary handoff diverged: {tt.current_schema_ver} "
            f"!= {st.current_schema_ver}"
        )
    tgt.bootstrap_changelog(snap)
    _apply_files(tgt, files[boundary:], start=boundary)
    return tgt.target_state().select(
        "url", "warc_ts", "_seq", "text", "lang", "http_status"
    )


@register("engine_purge_replay", _REPLAY_SQL)
def engine_purge_replay(spark, sf_dir):
    """Tombstone physical erasure (GDPR retention clock) through the value
    gate: replay the fixed log as MoR epochs, purge EVERY delete tombstone
    (cutoff beyond the log's horizon — safe once the watermark passed it,
    T4), then serve the state. Purged keys must stay absent — on a
    merge-on-read table the purge pass LWW-folds the dirty subset of every
    bucket it rewrites, precisely so dropping a tombstone cannot resurrect
    the older delta versions beneath it (the round-3 resurrection bug,
    pinned here end-to-end against the DuckDB replay, whose winners
    exclude deletes by predicate). Reference analogue: checkpoint GC
    dropping obsolete undo once the scn horizon passes,
    Metadata.cpp:505-554."""
    import datetime as _dt

    from .operators.merge import purge_tombstones

    ev = _ensure_replay_events()
    p = _gate_pipeline(spark, "purge", ev, merge_mode="mor", compact_every=0)
    _apply_files(p, _event_files(ev))
    purge_tombstones(p.ensure_table(), _dt.datetime(2100, 1, 1))
    return p.target_state().select(
        "url", "warc_ts", "_seq", "text", "lang", "http_status"
    )


# Undo-chain consistency: a committed 'u'/'d' event's before-image must
# equal the PREVIOUS committed state's text — lag of (text if not delete
# else NULL) over the committed per-url order. The reference trusts this
# invariant when it pairs undo with redo (OpCode0501 undo ⋈ redo); this
# audit proves a log actually satisfies it.
_UNDO_AUDIT_SQL = f"""
    WITH ev AS (
      SELECT url, warc_ts, seq, op, text,
             decode(before['text'][1]) AS before_text
      FROM read_parquet('{_REPLAY_EVENTS}/*.parquet')
      WHERE {_COMMITTED_DML}),
    chained AS (
      SELECT op, before_text,
             lag(CASE WHEN op = 'd' THEN NULL ELSE text END)
               OVER (PARTITION BY url ORDER BY warc_ts, seq) AS prev_text
      FROM ev)
    SELECT op,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(before_text) AS BIGINT) AS n_with_before,
           CAST(sum(CASE WHEN before_text IS NOT NULL
                          AND before_text = prev_text
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
           CAST(sum(CASE WHEN before_text IS NULL AND prev_text IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_born_absent,
           CAST(sum(CASE WHEN before_text IS NOT NULL
                          AND (prev_text IS NULL OR before_text <> prev_text)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
    FROM chained GROUP BY op
    """


def _committed_dml(spark, path: str | None = None) -> DataFrame:
    """The Spark twin of ``_COMMITTED_DML``: the committed DML rows of the
    parquet change log at ``path`` (default: the whole replay fixture)."""
    from .operators.decode import EVENTS_DDL

    return spark.read.schema(EVENTS_DDL).parquet(
        path or _ensure_replay_events()
    ).filter(
        F.col("op").isNotNull() & (F.col("op") != "ddl")
        & ~F.col("rolled_back")
        & F.col("url").isNotNull() & F.col("warc_ts").isNotNull()
    )


@register("cdc_undo_chain_audit", _UNDO_AUDIT_SQL)
def cdc_undo_chain_audit(spark, sf_dir):
    """Undo-chain consistency audit over the committed change log: every
    'u'/'d' before-image must equal the previous committed state's text
    for its key (lag over the per-url (warc_ts, seq) order, with deletes
    resetting state to absent) — the invariant the reference's undo⋈redo
    pairing assumes (OpCode0501; Transaction.cpp rollback chains) and the
    first thing to check when a source's supplemental logging is
    misconfigured. n_violations must be 0 on a healthy log; the per-op
    counts (including born-absent keys) are what the gate value-hashes.
    Shape at 100 TB: one window exchange on the key — identical
    partitioning to LWW, so the audit co-locates with the engine's own
    shuffle. Reference analogue: src/parser/OpCode0501.cpp undo-record
    supplemental-log checks."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = (
        _committed_dml(spark)
        .select(
            "url", "warc_ts", "seq", "op", "text",
            F.element_at(F.col("before"), "text").cast("string")
            .alias("before_text"),
        )
    )
    w = Window.partitionBy("url").orderBy("warc_ts", "seq")
    chained = ev.select(
        "op", "before_text",
        F.lag(
            F.when(F.col("op") == "d", F.lit(None).cast("string"))
            .otherwise(F.col("text"))
        ).over(w).alias("prev_text"),
    )
    has_b = F.col("before_text").isNotNull()
    return chained.groupBy("op").agg(
        F.count("*").alias("n_events"),
        F.count("before_text").alias("n_with_before"),
        F.sum(
            F.when(has_b & (F.col("before_text") == F.col("prev_text")), 1)
            .otherwise(0)
        ).alias("n_match"),
        F.sum(
            F.when(~has_b & F.col("prev_text").isNull(), 1).otherwise(0)
        ).alias("n_born_absent"),
        F.sum(
            F.when(
                has_b
                & (
                    F.col("prev_text").isNull()
                    | (F.col("before_text") != F.col("prev_text"))
                ),
                1,
            ).otherwise(0)
        ).alias("n_violations"),
    )


_HTML_MARKUP_SQL = f"""
    WITH pages AS (
      SELECT lang, decode(html) AS h, text
      FROM read_parquet('{_REPLAY_EVENTS}/*.parquet')
      WHERE {_COMMITTED_DML} AND html IS NOT NULL)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_pages,
           round(avg(len(regexp_extract_all(h, '<[^>]+>'))), 4) AS avg_tags,
           round(avg(len(regexp_extract_all(h, '(?i)<script\\b'))), 4)
             AS avg_scripts,
           round(avg(CAST(length(text) AS DOUBLE) / length(h)), 4)
             AS avg_text_ratio
    FROM pages GROUP BY lang
    """


@register("docs_html_markup_stats", _HTML_MARKUP_SQL)
def docs_html_markup_stats(spark, sf_dir):
    """Markup-density profile of the raw html payloads (tag count, script
    count, extracted-text-to-markup ratio per language) — the
    boilerplate/quality signal trafilatura-style extraction pipelines
    read before deciding how aggressively to strip (a page whose text
    ratio collapses is navigation chrome, not content). Runs on the raw
    change log's binary html column decoded JVM-side — the engine's only
    catalog op that touches the html BYTES with expressions (extraction
    itself is the frozen Arrow kernel, functions/extract.py). Shape at
    100 TB: pure map-side regexp counts into a langs-sized partial agg.
    Reference analogue: the reference hex-dumps LOB payloads without
    inspecting them; markup profiling is the web-pipeline extension."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    pages = (
        _committed_dml(spark)
        .filter(F.col("html").isNotNull())
        .select(
            "lang", F.decode(F.col("html"), "UTF-8").alias("h"), "text"
        )
    )
    return pages.groupBy("lang").agg(
        F.count("*").alias("n_pages"),
        F.round(F.avg(F.regexp_count(F.col("h"), F.lit(r"<[^>]+>"))), 4)
        .alias("avg_tags"),
        F.round(
            F.avg(F.regexp_count(F.col("h"), F.lit(r"(?i)<script\b"))), 4
        ).alias("avg_scripts"),
        F.round(
            F.avg(F.length("text").cast("double") / F.length("h")), 4
        ).alias("avg_text_ratio"),
    )


# Pure-expression text extraction, mirrored step-for-step on both engines.
# The regex steps are the frozen kernel's (functions/extract.py) INCLUDING
# numeric-entity decode: split on '&#', classify each following piece with
# the kernel's entity regex, and re-emit either chr(codepoint)+rest or the
# literal '&#'+piece — DuckDB has native chr(); Spark synthesizes it as
# unhex(codepoint-as-UTF-16BE-hex) |> decode('UTF-16BE') with explicit
# surrogate-pair arithmetic above the BMP. Named entities are chained in
# the kernel's order BEFORE the numeric pass (so '&amp;#65;' decodes, like
# the kernel). Java regex and RE2 share every spelling used here ((?is)
# flags, lazy .*?, \\b; NO backreferences — script and style are two
# passes). Length guards (<=15 entity chars on both engines) keep the parse
# overflow-free on both engines; the kernel accepts longer zero-padded
# digit runs, a divergence only a pathological page could show.
_EXTRACT_ENTITY_CHAIN = (
    ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&apos;", "'"),
)
_ENTITY_RE = "^(x[0-9a-fA-F]+|[0-9]+);"


def _num_entities_spark(col):
    """Kernel-equivalent numeric-entity decode as pure Spark expressions."""
    def piece(p):
        m = F.regexp_extract(p, _ENTITY_RE, 1)
        is_hex = m.startswith("x")
        guard = F.when(is_hex, F.length(m) <= 15).otherwise(F.length(m) <= 15)
        cp = (
            F.when(is_hex, F.conv(F.substring(m, 2, 100), 16, 10))
            .otherwise(m)
            .cast("long")
        )
        sup = cp - F.lit(65536)
        hi = F.lit(55296) + F.shiftright(sup, 10)
        lo = F.lit(56320) + sup.bitwiseAND(F.lit(1023))
        chr_expr = F.decode(
            F.unhex(
                F.when(cp < 65536, F.lpad(F.hex(cp), 4, "0")).otherwise(
                    F.concat(
                        F.lpad(F.hex(hi), 4, "0"), F.lpad(F.hex(lo), 4, "0")
                    )
                )
            ),
            "UTF-16BE",
        )
        valid = (cp > 0) & (cp <= 1114111) & ~cp.between(55296, 57343)
        rest = p.substr(F.length(m) + F.lit(2), F.length(p))
        literal = F.concat(F.lit("&#"), p)
        return (
            F.when(m == "", literal)
            .when(~guard, literal)
            .otherwise(
                F.when(valid, F.concat(chr_expr, rest)).otherwise(literal)
            )
        )

    arr = F.split(col, "&#", -1)
    tail = F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0)))
    return F.concat(
        F.element_at(arr, 1), F.array_join(F.transform(tail, piece), "")
    )


def _num_entities_sql(expr: str) -> str:
    """The identical decode for DuckDB (native chr; same guards/classify)."""
    m = f"regexp_extract(p, '{_ENTITY_RE}', 1)"
    cp = (
        f"CASE WHEN {m} LIKE 'x%' "
        f"THEN CAST('0x' || substr({m}, 2) AS BIGINT) "
        f"ELSE CAST({m} AS BIGINT) END"
    )
    valid = (
        f"({cp}) > 0 AND ({cp}) <= 1114111 "
        f"AND ({cp}) NOT BETWEEN 55296 AND 57343"
    )
    piece = f"""CASE
        WHEN {m} = '' OR length({m}) > 15 THEN '&#' || p
        WHEN {valid} THEN chr(CAST({cp} AS INTEGER))
                          || substr(p, length({m}) + 2)
        ELSE '&#' || p END"""
    return (
        f"((string_split({expr}, '&#'))[1] || coalesce(array_to_string("
        f"list_transform((string_split({expr}, '&#'))[2:], "
        f"p -> {piece}), ''), ''))"
    )


def _extract_sql() -> str:
    clean = (
        "regexp_replace(regexp_replace(regexp_replace(h,"
        " '(?is)<script\\b.*?</script\\s*>', ' ', 'g'),"
        " '(?is)<style\\b.*?</style\\s*>', ' ', 'g'),"
        " '(?s)<[^>]*>', ' ', 'g')"
    )
    for ent, ch in _EXTRACT_ENTITY_CHAIN:
        rep = ch.replace("'", "''")
        clean = f"replace({clean}, '{ent}', '{rep}')"
    clean = _num_entities_sql(clean)
    clean = f"trim(regexp_replace({clean}, '\\s+', ' ', 'g'))"
    return f"""
    WITH pages AS (
      SELECT seq, lang, decode(html) AS h, text
      FROM read_parquet('{_REPLAY_EVENTS}/*.parquet')
      WHERE {_COMMITTED_DML} AND html IS NOT NULL),
    ex AS (
      SELECT seq, lang, text, {clean} AS clean,
             regexp_extract(h, '(?is)<title>(.*?)</title>', 1) AS title
      FROM pages)
    SELECT seq, lang, title, md5(clean) AS clean_md5,
           (clean = text) AS extract_match
    FROM ex
    """


@register("docs_html_text_extract", _extract_sql())
def docs_html_text_extract(spark, sf_dir):
    """Trafilatura-style main-text extraction as PURE JVM expressions —
    script/style removal, tag strip, named-entity chain, NUMERIC-entity
    decode (split-on-'&#' + HOF transform; chr() synthesized via
    unhex→UTF-16BE with surrogate-pair arithmetic), whitespace collapse,
    <title> pull — value-gated THREE ways at once: the md5 of the
    expression-extracted text is hash-compared against DuckDB's RE2 twin,
    and ``extract_match`` compares it per-row against the frozen
    Arrow-kernel extraction (functions/extract.py) that wrote the log's
    ``text`` column (all-true pinned in tests/test_extract.py) — one
    divergent byte anywhere flips the hash. The frozen pandas_udf stays
    the versioned source of truth (unicode \\s classes and >15-digit
    zero-padded entities are kernel-only, documented); this is its
    whole-stage-codegen scale path. Shape at 100 TB: map-side regexp/HOF
    chain, zero shuffles, embarrassingly parallel. Reference analogue:
    Builder::parseString's charset decode is the same per-payload pure
    function (Builder.h:1006-1116)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    pages = (
        _committed_dml(spark)
        .filter(F.col("html").isNotNull())
        .select(
            "seq", "lang", F.decode(F.col("html"), "UTF-8").alias("h"),
            "text",
        )
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.col("h"), r"(?is)<script\b.*?</script\s*>", " "
            ),
            r"(?is)<style\b.*?</style\s*>", " ",
        ),
        r"(?s)<[^>]*>", " ",
    )
    for ent, ch in _EXTRACT_ENTITY_CHAIN:
        clean = F.replace(clean, F.lit(ent), F.lit(ch))
    clean = _num_entities_spark(clean)
    clean = F.trim(F.regexp_replace(clean, r"\s+", " "))
    return pages.select(
        "seq",
        "lang",
        F.regexp_extract(F.col("h"), r"(?is)<title>(.*?)</title>", 1)
        .alias("title"),
        F.md5(clean.cast("binary")).alias("clean_md5"),
        (clean == F.col("text")).alias("extract_match"),
    )


_PROVENANCE_SQL = f"""
    WITH ev AS (
      SELECT * FROM read_parquet('{_REPLAY_EVENTS}/*.parquet', filename=true)
      WHERE {_COMMITTED_DML}),
    projected AS (
      SELECT url, seq AS _seq, op AS _op,
             CAST(regexp_extract(filename, 'events-(\\d+)\\.parquet', 1)
                  AS INTEGER) AS epoch_id,
             row_number() OVER (PARTITION BY url
                                ORDER BY warc_ts DESC, seq DESC) AS rn
      FROM ev)
    SELECT url, _seq, epoch_id
    FROM projected WHERE rn = 1 AND _op <> 'd'
    """


@register("engine_row_provenance", _PROVENANCE_SQL)
def engine_row_provenance(spark, sf_dir):
    """Row-level provenance — every live row answers "which commit wrote
    you" (Iceberg's ``_file`` metadata column joined through the manifest
    chain; reference analogue: every output record carries the scn/rba of
    the redo vector it came from, Builder.cpp column metadata): the scan
    carries ``_metadata.file_path`` (read(with_file=True)), the manifest
    chain maps each live file to the commit that added it
    (LakeTable.file_commits — O(chain) metadata reads, no data scan), and
    on an append-only MoR replay the winning row's file IS its delivering
    epoch's delta — so the DuckDB twin can recompute the expected epoch
    from each winner's source FILENAME in the raw log. A single
    mis-attributed file anywhere in the manifest chain hash-fails. Shape
    at 100 TB: the file→commit map is files-sized metadata broadcast
    against the scan; LWW is the standard two-phase max_by."""
    from .lake.table import LakeTable

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    table_path, _marks, _metrics = _shared_mor_replay(spark)
    t = LakeTable.load(spark, table_path)
    fc = t.file_commits()
    fmap = spark.createDataFrame(
        [(k, v["epoch_id"]) for k, v in fc.items()],
        "_file string, epoch_id int",
    )
    raw = t.read(with_file=True)
    winners = (
        raw.groupBy("url")
        .agg(
            F.max_by(
                F.struct("warc_ts", "_seq", "_op", "_file"),
                F.struct("warc_ts", "_seq"),
            ).alias("w")
        )
        .select("url", "w._seq", "w._op", "w._file")
        .filter(F.col("_op") != "d")
    )
    return winners.join(F.broadcast(fmap), "_file").select(
        "url", "_seq", "epoch_id"
    )


@register("engine_replay_state_streaming", _REPLAY_SQL)
def engine_replay_state_streaming(spark, sf_dir):
    """The STREAMING ingest path through the value gate (batch replay is
    engine_replay_state; this runs the same log through Structured
    Streaming — readStream → checkpointed micro-batches → foreachBatch
    epochs, S1-S4/T1-T3 live, one file per trigger so all four epochs and
    both DDL boundaries exercise the per-epoch gate): the final table
    state must value-hash identically to the DuckDB batch replay —
    micro-batching is an execution choice, never a semantics change.
    Stale-suppression stays OFF so before-images ride untouched; the
    epoch re-read optimization (checkpoint offset log → plain batch scan,
    AQE restored) is on the path, so its exactness is gated here too."""
    p = _gate_pipeline(spark, "stream_replay", _ensure_replay_events())
    with _stream_harness(spark):
        p.run_available_now(max_files_per_trigger=1)
    return p.target_state().select(
        "url", "warc_ts", "_seq", "text", "lang", "http_status"
    )


@register(
    "emb_matryoshka_error",
    """
    WITH ks AS (SELECT unnest([8, 16, 32]) AS k),
    per_vec AS (
      SELECT label, k,
             round(sqrt(list_reduce(list_transform(embedding[1:k],
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                     (a, b) -> a + b)
                   / list_reduce(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                     (a, b) -> a + b)), 6) AS cos_trunc
      FROM embeddings CROSS JOIN ks)
    SELECT label, CAST(k AS INT) AS k,
           round(avg(cos_trunc), 4) AS avg_cos,
           round(min(cos_trunc), 4) AS min_cos
    FROM per_vec GROUP BY label, k
    """,
)
def emb_matryoshka_error(spark, sf_dir):
    """Matryoshka truncation audit: cosine between each vector and its
    first-k-dims truncation (algebraically √(energy share in the prefix),
    so it needs no second pass over the truncated vector) for k ∈
    {8,16,32}, rolled up per label — the report that prices MRL-style
    dimension cuts for ANN serving (emb_quantize_error's twin along the
    dimension axis instead of the precision axis). Per-vector ratios are
    rounded 6dp before the avg/min fold. Shape at 100 TB: pure map-side
    expression (two HOF folds per k) into a (labels × 3)-bounded partial
    agg; the k fan-out is an explode of a 3-element literal, never a join.
    Reference analogue: none — training-data pipeline extension."""
    emb = T(spark, sf_dir, "embeddings")
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    fanned = emb.select(
        "label",
        "embedding",
        F.explode(F.array(F.lit(8), F.lit(16), F.lit(32))).alias("k"),
    )
    cos_trunc = F.round(
        F.sqrt(
            sq(F.slice(F.col("embedding"), F.lit(1), F.col("k")))
            / sq(F.col("embedding"))
        ),
        6,
    )
    return (
        fanned.select("label", F.col("k").cast("int").alias("k"),
                      cos_trunc.alias("cos_trunc"))
        .groupBy("label", "k")
        .agg(
            F.round(F.avg("cos_trunc"), 4).alias("avg_cos"),
            F.round(F.min("cos_trunc"), 4).alias("min_cos"),
        )
    )


@register(
    "events_ab_lift",
    """
    WITH stats AS (
      SELECT event_type,
             CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS n0,
             CAST(count(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT) AS n1,
             round(avg(value) FILTER (WHERE user_id % 2 = 0), 6) AS m0,
             round(avg(value) FILTER (WHERE user_id % 2 = 1), 6) AS m1,
             round(var_samp(value) FILTER (WHERE user_id % 2 = 0), 6) AS v0,
             round(var_samp(value) FILTER (WHERE user_id % 2 = 1), 6) AS v1
      FROM events GROUP BY event_type)
    SELECT event_type, n0, n1, m0, m1,
           round(m1 - m0, 4) AS lift,
           round((m1 - m0) / sqrt(v0 / n0 + v1 / n1), 4) AS welch_t
    FROM stats
    """,
)
def events_ab_lift(spark, sf_dir):
    """A/B experiment readout — per-metric (event_type) treatment lift with
    Welch's t statistic, under a deterministic 50/50 unit-of-randomization
    split (user_id parity here; hash(unit_id) mod k in production — same
    assignment algebra as docs_train_split's md5 buckets). The standard
    experimentation query a feature-flag platform runs over the event
    stream. Cross-engine determinism: means and variances are rounded 6dp
    AFTER aggregation, and the t statistic is computed FROM the rounded
    stats, so FP summation order cannot flip the hash. Shape at 100 TB:
    one partial-agg groupBy over event types — variant splits ride as
    conditional aggregates, never a self-join; the t arithmetic runs on
    the types-sized relation. Reference analogue: none — training-data
    pipeline extension."""
    ev = T(spark, sf_dir, "events")
    v0 = F.col("user_id") % 2 == 0
    v1 = F.col("user_id") % 2 == 1
    stats = ev.groupBy("event_type").agg(
        F.count(F.when(v0, 1)).alias("n0"),
        F.count(F.when(v1, 1)).alias("n1"),
        F.round(F.avg(F.when(v0, F.col("value"))), 6).alias("m0"),
        F.round(F.avg(F.when(v1, F.col("value"))), 6).alias("m1"),
        F.round(F.var_samp(F.when(v0, F.col("value"))), 6).alias("v0"),
        F.round(F.var_samp(F.when(v1, F.col("value"))), 6).alias("v1"),
    )
    return stats.select(
        "event_type", "n0", "n1", "m0", "m1",
        F.round(F.col("m1") - F.col("m0"), 4).alias("lift"),
        F.round(
            (F.col("m1") - F.col("m0"))
            / F.sqrt(F.col("v0") / F.col("n0") + F.col("v1") / F.col("n1")),
            4,
        ).alias("welch_t"),
    )


@register(
    "events_ab_srm_check",
    """
    WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
    c AS (
      SELECT event_type,
             CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS n0,
             CAST(count(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT) AS n1
      FROM u GROUP BY event_type)
    SELECT event_type, n0, n1,
           round(CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1), 6)
             AS chi2,
           CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1) > 3.841 AS srm
    FROM c
    """,
)
def events_ab_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch check for the A/B split events_ab_lift reads —
    the guardrail every experimentation platform runs BEFORE trusting a
    lift: per metric, the chi-square of exposed randomization UNITS
    (distinct users, never raw events — a chatty user must not tilt the
    ratio) against the designed 50/50, flagged at the 95% one-dof critical
    value 3.841. With e = (n0+n1)/2 the two-cell statistic collapses to
    (n0−n1)²/(n0+n1) — exact BIGINT arithmetic up to one final division,
    so both engines agree bitwise before the rounding. Shape at 100 TB:
    two-phase distinct (dropDuplicates partial-aggs map-side) into a
    types-bounded conditional-count groupBy — never countDistinct, never a
    self-join. Reference analogue: none; training-data extension."""
    ev = T(spark, sf_dir, "events")
    u = ev.select("event_type", "user_id").dropDuplicates()
    c = u.groupBy("event_type").agg(
        F.count(F.when(F.col("user_id") % 2 == 0, 1)).alias("n0"),
        F.count(F.when(F.col("user_id") % 2 == 1, 1)).alias("n1"),
    )
    d = F.col("n0") - F.col("n1")
    chi2 = (d * d).cast("double") / (F.col("n0") + F.col("n1"))
    return c.select(
        "event_type", "n0", "n1",
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 3.841).alias("srm"),
    )


# P10 table/regex filter through the value gate: only urls matching the
# tracked pattern may contribute winners. Filtering the LOG commutes with
# LWW (winners are per-url), so the oracle filters the event CTE.
_FILTER_RLIKE = r"^https://site1[0-9]\."
_REPLAY_FILTERED_SQL = _replay_state_sql(
    ev_where=" AND regexp_matches(url, '^https://site1[0-9]\\.')"
)


@register("engine_replay_state_url_filtered", _REPLAY_FILTERED_SQL)
def engine_replay_state_url_filtered(spark, sf_dir):
    """Tracked-table/regex filtering (P10, reference Schema.cpp:2092-2116
    table-regex tracking) end-to-end through the value gate: the pipeline
    replays the fixed log with a url_rlike filter CONFIG active (the
    online-reload T8 path — the filter arrives from the config file, not
    code), so only tracked urls are decoded, merged, and materialized.
    The DuckDB twin applies the same RE2∩Java-safe pattern to the raw log
    before its LWW — append-time filtering must commute with per-key LWW
    exactly. Shape at 100 TB: the url predicate is pushed into the parquet
    scan (plan-tested for apply_log_filters), so untracked data is never
    decoded — the reference's motivation for filtering at the parser."""
    import json as _json

    cfg = os.path.join(_gate_scratch("filters"), "filters.json")
    with open(cfg, "w") as f:
        _json.dump({"url_rlike": _FILTER_RLIKE}, f)
    p = _gate_pipeline(
        spark, "filtered", _ensure_replay_events(), filter_config_path=cfg
    )
    p.run_batch_replay()
    return p.target_state().select(
        "url", "warc_ts", "_seq", "text", "lang", "http_status"
    )


@register("engine_rebucket_replay", _REPLAY_SQL)
def engine_rebucket_replay(spark, sf_dir):
    """Partition evolution through the value gate (Iceberg bucket[N]
    transform evolution; operators/merge.rebucket): replay the fixed log,
    rewrite the table from its creation-time bucket count to a coprime new
    one (16 → 13 — every key moves buckets unless hashes collide, the
    worst case), then serve the state from the NEW layout. LWW folds in
    the same rewrite pass, so the rebucketed table is also fully
    compacted; the state must be bit-identical to the plain replay, which
    is exactly the DuckDB oracle. Shape at 100 TB: one repartition
    shuffle on the new bucket expr — the one-shot answer when a table
    outgrows its creation-time n_buckets."""
    from .lake.table import LakeTable
    from .operators.merge import rebucket

    p = _gate_pipeline(spark, "rebucket", _ensure_replay_events())
    p.run_batch_replay()
    t = LakeTable.load(spark, p.table_path)
    old_n = t.n_buckets
    rebucket(t, 13)
    t2 = LakeTable.load(spark, p.table_path)
    if (old_n, t2.n_buckets) != (16, 13):
        raise AssertionError(f"rebucket did not evolve: {old_n}->{t2.n_buckets}")
    return p.target_state().select(
        "url", "warc_ts", "_seq", "text", "lang", "http_status"
    )


# Drop + re-add gate: only schema_ver-6 rows may populate the re-added
# column — every pre-drop http_status/fetch_status value (field id retired
# at v5) must read NULL, across BOTH code paths that could resurface it
# (project_dml's per-version extras CASE for log rows, and the field-id
# read projection for rows already materialized in files under the old id).
_DROP_READD_COLS = """url, warc_ts, seq AS _seq, op AS _op, text, lang,
             CASE WHEN schema_ver = 6
                    THEN CAST(extras['http_status'][1] AS BIGINT)
                  ELSE NULL END AS http_status"""
_DROP_READD_GLOB = f"'{_DROP_READD_EVENTS}/*.parquet'"
_DROP_READD_SQL = f"""
    WITH {_lww_ctes(_DROP_READD_COLS, src=_DROP_READD_GLOB)}
    SELECT url, warc_ts, _seq, text, lang, http_status
    FROM projected WHERE rn = 1 AND _op <> 'd'
    """


@register("engine_drop_readd_column", _DROP_READD_SQL)
def engine_drop_readd_column(spark, sf_dir):
    """DROP COLUMN + re-ADD under the same name through the value gate
    (Iceberg field-id semantics; reference analogue: the versioned
    dictionary retires a column's identity on drop, Schema.cpp:727-930):
    the fixture appends a 5th epoch whose DDLs drop http_status at v5 and
    re-add it at v6 with a FRESH field id, then writes v6 DML carrying new
    values. Correctness demands the retired column's data can never
    resurface under the re-added name — the oracle populates http_status
    for schema_ver-6 rows only, so a single leaked pre-drop value (from
    the log-projection CASE or from files materialized under the old
    field id) hash-fails. In-flight asserts pin the fresh field id and
    that exactly the v6-touched urls carry a value."""
    from .lake.table import LakeTable
    from .operators.merge import read_state

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _ensure_drop_readd_events()

    def build():
        # per-file MoR epochs, NOT one batch replay: epochs 0-3 must
        # MATERIALIZE data files under the pre-drop schemas (old field id
        # bound in parquet) before epoch 4 drops/re-adds — that is the
        # resurface hazard the read path's field-id projection guards.
        p = _gate_pipeline(
            spark, "dropreadd", ev, merge_mode="mor", compact_every=0
        )
        _apply_files(p, _event_files(ev))
        t = LakeTable.load(spark, p.table_path)
        assert t.current_schema_ver == 6
        old_fid = next(
            f["id"] for f in t.schema_at(4) if f["name"] == "http_status"
        )
        new_fid = next(
            f["id"] for f in t.current_schema() if f["name"] == "http_status"
        )
        assert new_fid != old_fid  # field ids are never reused
        n_valued = (
            p.target_state().filter(F.col("http_status").isNotNull()).count()
        )
        assert n_valued == 9  # 8 v6 updates + 1 v6 create, nothing else
        return p.table_path

    t = LakeTable.load(spark, _replay_memo("dropreadd", ev, build))
    return read_state(t).select(
        "url", "warc_ts", "_seq", "text", "lang", "http_status"
    )


# Multi-table routing twin: the full replay, with each winner's route name
# recomputed from the SAME md5-bucket rule the router evaluates (first 8 md5
# hex chars as an unsigned 32-bit int, mod n). Disjointness/completeness are
# implicit in the value gate: a row routed to both shards (or neither) makes
# the union's row count diverge from the single-table replay.
_ROUTED_SQL = _replay_state_sql(
    extra_cols=""",
           CASE CAST('0x' || substring(md5(url), 1, 8) AS BIGINT) % 2
                WHEN 0 THEN 'shard0' WHEN 1 THEN 'shard1' END AS route"""
)


@register("engine_multi_table_state", _ROUTED_SQL)
def engine_multi_table_state(spark, sf_dir):
    """Multi-table demultiplexing through the value gate (the reference
    replicates MANY tables from one redo stream — per-table schema.table
    filters, Schema.cpp per-table dictionaries; streaming/router.TableRouter
    is the Spark shape: decode + LWW ONCE, then a map-side predicate per
    target feeds that table's own exactly-once merge). Two targets split by
    an md5-bucket route over the immutable key; DDL replays into every
    target's dictionary. The union of both tables' live states, each row
    tagged with its route, must equal the single-table replay with the
    route recomputed — proving every winner landed in exactly one target
    and the dictionary evolved everywhere. Shape at 100 TB: the data-sized
    work (scan, decode, LWW) is shared; N routes add N disjoint-subset
    merges, not N scans."""
    from .streaming.router import TableRouter

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _ensure_replay_events()
    d = _gate_scratch("routed")
    bucket = "CAST(conv(substring(md5(url), 1, 8), 16, 10) AS BIGINT) % 2"
    r = TableRouter(
        spark, ev, os.path.join(d, "tables"), os.path.join(d, "ckpt"),
        routes={"shard0": f"{bucket} = 0", "shard1": f"{bucket} = 1"},
    )
    r.run_batch_replay()
    parts = [
        r.target_state(name)
        .select("url", "warc_ts", "_seq", "text", "lang", "http_status")
        .withColumn("route", F.lit(name))
        for name in ("shard0", "shard1")
    ]
    return parts[0].unionByName(parts[1])


_INC_INVIDX_SQL = f"""
    WITH {_lww_ctes("url, text, op AS _op")},
    state AS (SELECT url, text FROM projected WHERE rn = 1 AND _op <> 'd'),
    raw AS (
      SELECT url,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM state),
    tok AS (SELECT DISTINCT url, token FROM raw WHERE length(token) > 0)
    SELECT token,
           CAST(count(*) AS BIGINT) AS df,
           md5(string_agg(url, '|' ORDER BY url)) AS postings_md5
    FROM tok GROUP BY token
    """


@register("engine_incremental_inverted_index", _INC_INVIDX_SQL)
def engine_incremental_inverted_index(spark, sf_dir):
    """Incrementally-maintained full-text INVERTED INDEX (token → posting
    list) over the CDC-maintained corpus — the search-serving twin of
    engine_incremental_minhash's dedup index: per epoch, tokenize ONLY the
    CDF batch's after-images, anti-join away every changed url's old
    postings (deletes included), persist — O(changed keys) per epoch,
    never a corpus rescan. The result hashes each token's FULL sorted
    posting list (not just document frequency), so a single stale or
    leaked posting anywhere in the maintained index hash-fails against
    the DuckDB twin's from-scratch index over the final replay state.
    Shape at 100 TB: postings are (token, url) — the maintenance anti-join
    is url-keyed; the report is a vocab-keyed partial agg. Reference
    analogue: downstream-consumer materialization of checkpointed
    incremental delivery (WriterStream confirm contract), like the
    MinHash index."""
    import shutil as _shutil

    from .lake.table import LakeTable
    from .operators.merge import snapshot_diff

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    table_path, marks, _metrics = _shared_mor_replay(spark)
    versions = LakeTable.load(spark, table_path).versions()
    base = _gate_scratch("inc_invidx")
    idx_path = None
    from_v = min(versions)
    for to_v in marks:
        if to_v == from_v:
            continue
        batch = snapshot_diff(spark, table_path, from_v, to_v)
        changed_urls = batch.select("url").distinct()
        upserts = batch.filter(F.col("_change") != "delete").select(
            "url", "text"
        )
        new_postings = S.tokens(upserts, "url", "text", distinct=True)
        if idx_path is not None:
            kept = spark.read.parquet(idx_path).join(
                changed_urls, "url", "left_anti"
            )
            index = kept.unionByName(new_postings)
        else:
            index = new_postings
        nxt = os.path.join(base, f"idx_v{to_v}")
        index.write.parquet(nxt)
        if idx_path is not None:
            _shutil.rmtree(idx_path, ignore_errors=True)
        idx_path, from_v = nxt, to_v
    return (
        spark.read.parquet(idx_path)
        .groupBy("token")
        .agg(
            F.count("*").alias("df"),
            F.md5(
                F.concat_ws("|", F.array_sort(F.collect_list("url"))).cast(
                    "binary"
                )
            ).alias("postings_md5"),
        )
    )


@register("engine_replay_state_wap", _REPLAY_SQL)
def engine_replay_state_wap(spark, sf_dir):
    """Write-audit-publish over the same fixed change log: epochs 0-1 commit
    to main, epochs 2-3 are STAGED on a branch ref (Iceberg branch / WAP
    staging; reference analogue: a writer builds its checkpoint privately
    and atomically renames it into place, Writer.cpp:346-422), the audit
    gate reads the staged head, and a passing audit fast-forwards main with
    one atomic pointer swap — the confirmed-epoch watermark publishes with
    the data. Isolation is asserted in-flight (main's version must not move
    while the audit is open); the published state must equal the plain
    four-file replay, which is exactly the DuckDB oracle."""
    from .lake.table import LakeTable
    from .operators.merge import read_state
    from .streaming.pipeline import CdcPipeline

    ev = _ensure_replay_events()
    files = _event_files(ev)
    p = _gate_pipeline(spark, "wap", ev)
    table = p.table_path
    _apply_files(p, files[:2])
    main_ver = LakeTable.current_version(table)

    bp = CdcPipeline(
        spark, ev, table, os.path.join(os.path.dirname(table), "ckpt_wap"),
        branch="wap_audit",
    )
    _apply_files(bp, files[2:], start=2)
    if LakeTable.current_version(table) != main_ver:
        raise AssertionError("WAP isolation violated: main moved during audit")
    # the audit gate: the staged head must be readable and non-empty
    staged = LakeTable.load(spark, table, branch="wap_audit")
    if read_state(staged).count() <= 0:
        raise AssertionError("WAP audit failed: staged state empty")
    LakeTable.load(spark, table).publish_branch("wap_audit")
    return p.target_state().select(
        "url", "warc_ts", "_seq", "text", "lang", "http_status"
    )


# Commit-log observability: the metadata layer must be TRUTHFUL — each MoR
# epoch commit records rows_written, which must equal the number of LWW
# winners in that epoch's committed DML (every url with >=1 committed event
# contributes exactly one winner row, tombstones included). The oracle
# recomputes that from the raw change log, so a metadata bug (double count,
# dropped manifest, dead-letter rows leaking into the append) hash-fails.
_COMMIT_LOG_SQL = f"""
    SELECT CAST(regexp_extract(filename, 'events-(\\d+)\\.parquet', 1)
                AS INTEGER) AS epoch_id,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS rows_added
    FROM read_parquet('{_REPLAY_EVENTS}/*.parquet', filename=true)
    WHERE {_COMMITTED_DML}
    GROUP BY 1
    """


@register("engine_commit_log", _COMMIT_LOG_SQL)
def engine_commit_log(spark, sf_dir):
    """Per-epoch write-amplification monitor from snapshot metadata alone
    (Iceberg's `snapshots` metadata table; reference analogue: the
    checkpoint-file headers the replicator dumps for ops,
    Metadata.cpp state dump). Replays the fixed log as four MoR epochs,
    then reads each commit's rows_written OFF THE SNAPSHOT CHAIN — a
    driver-side metadata walk, O(commits), deliberately no data scan
    (that absence is the feature: at 10^6 files the ops question 'how much
    did each epoch write?' must never cost a table scan). The DuckDB twin
    recomputes the expected winner counts from the raw events, proving the
    metadata tells the truth."""
    from .lake.table import LakeTable

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    table_path, _marks, _metrics = _shared_mor_replay(spark)
    t = LakeTable.load(spark, table_path)
    log = [
        (int(s["epoch_id"]), int(s["rows_written"]))
        for v in t.versions()
        for s in [LakeTable.load(spark, table_path, version=v).snap["summary"]]
        if s.get("op") == "merge_append"
    ]
    return spark.createDataFrame(log, "epoch_id int, rows_added long")


# Lineage-truthfulness gate (§2 A5): the lineage side table (one row per
# epoch, counted by DataFrame.observe on the merge's own jobs), rolled up
# per epoch, must reproduce counts recomputed from the raw log — events_in
# (all rows), events_applied (LWW winners of committed DML), events_deduped
# (their difference), ddl rows, rolled-back rows, and the epoch's event-time
# bounds. Nondeterministic channels (partition_id, wall_ms, committed_at)
# are deliberately excluded from the roll-up.
_METRICS_LOG_SQL = f"""
    SELECT CAST(regexp_extract(filename, 'events-(\\d+)\\.parquet', 1)
                AS INTEGER) AS epoch_id,
           CAST(count(*) AS BIGINT) AS events_in,
           CAST(count(DISTINCT CASE
                  WHEN op IS NOT NULL AND op <> 'ddl' AND NOT rolled_back
                   AND url IS NOT NULL AND warc_ts IS NOT NULL
                  THEN url END) AS BIGINT) AS events_applied,
           CAST(count(*) - count(DISTINCT CASE
                  WHEN op IS NOT NULL AND op <> 'ddl' AND NOT rolled_back
                   AND url IS NOT NULL AND warc_ts IS NOT NULL
                  THEN url END) AS BIGINT) AS events_deduped,
           CAST(sum(CASE WHEN op = 'ddl' THEN 1 ELSE 0 END) AS BIGINT)
             AS ddl_applied,
           CAST(sum(CASE WHEN rolled_back THEN 1 ELSE 0 END) AS BIGINT)
             AS rolled_back_excluded,
           min(warc_ts) AS min_warc_ts,
           max(warc_ts) AS max_warc_ts
    FROM read_parquet('{_REPLAY_EVENTS}/*.parquet', filename=true)
    GROUP BY 1
    """


@register("engine_metrics_log", _METRICS_LOG_SQL)
def engine_metrics_log(spark, sf_dir):
    """Lineage metrics (A5; reference analogue: the replicator's perf
    counters and checkpoint headers, Writer.cpp metrics dump) rolled up per
    epoch and value-checked against a DuckDB recompute from the raw change
    log — the side table must TELL THE TRUTH about what each epoch saw,
    applied, deduped, and skipped. The engine writes one row per epoch
    (partition_id 0), counted while the merge runs, like the reference's
    in-decode counters; the roll-up keeps the gate independent of that
    layout, and only its deterministic channels are compared."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _table_path, _marks, metrics = _shared_mor_replay(spark)
    m = spark.read.parquet(metrics)
    return m.groupBy("epoch_id").agg(
        F.sum("events_in").alias("events_in"),
        F.max("events_applied").alias("events_applied"),
        F.max("events_deduped").alias("events_deduped"),
        F.sum("ddl_applied").alias("ddl_applied"),
        F.sum("rolled_back_excluded").alias("rolled_back_excluded"),
        F.min("min_warc_ts").alias("min_warc_ts"),
        F.max("max_warc_ts").alias("max_warc_ts"),
    )


# Dictionary-chain truthfulness: the DDL is RE-DERIVED from the table's
# stored per-version field lists (diff consecutive schemas by FIELD ID —
# new id = add, same id new name = rename, same id new type = widen,
# missing id = drop) and must match the raw log's ddl rows exactly. The
# n_cols expectation replays adds/drops over the target's 7 base columns
# (url, warc_ts, _seq, _op, html, text, lang — the pipeline's fixed layout).
_DICT_LOG_SQL = f"""
    SELECT CAST(schema_ver AS BIGINT) AS to_ver, action, col_name,
           new_name, new_type,
           CAST(7 + sum(CASE action WHEN 'add_column' THEN 1
                                    WHEN 'drop_column' THEN -1
                                    ELSE 0 END)
                OVER (ORDER BY seq ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS n_cols
    FROM read_parquet('{_REPLAY_EVENTS}/*.parquet') WHERE op = 'ddl'
    """


@register("engine_dictionary_log", _DICT_LOG_SQL)
def engine_dictionary_log(spark, sf_dir):
    """Dictionary-chain parity (S5/P9; reference analogue: the checkpoint's
    serialized schema chain must reproduce the DDL that built it,
    Schema.cpp / SystemTransaction.cpp dictionary replay): the replayed
    table's stored per-version field lists are DIFFED consecutive-pairwise
    by field id to re-derive every DDL action — a new field id is an
    add_column, a same-id name change a rename, a same-id type change a
    widen, a vanished id a drop — and the reconstruction must value-hash
    against the raw log's ddl rows (action, column, new name/type, target
    version) plus a replayed column count. Catches dictionary corruption
    the state gates can't see: a schema version written with the wrong
    field id or a lost widening still serves correct CURRENT data but
    breaks time travel and field-id reads of old files. Driver-side
    metadata walk, O(versions), no data scan."""
    from .lake.table import LakeTable

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    table_path, _marks, _metrics = _shared_mor_replay(spark)
    t = LakeTable.load(spark, table_path)
    vers = sorted(int(v) for v in t.snap["schemas"])
    rows = []
    for prev_v, v in zip(vers, vers[1:]):
        prev = {f["id"]: f for f in t.schema_at(prev_v)}
        cur = {f["id"]: f for f in t.schema_at(v)}
        added = [f for fid, f in cur.items() if fid not in prev]
        dropped = [f for fid, f in prev.items() if fid not in cur]
        renamed = [
            (prev[fid]["name"], cur[fid]["name"])
            for fid in cur
            if fid in prev and prev[fid]["name"] != cur[fid]["name"]
        ]
        widened = [
            (cur[fid]["name"], cur[fid]["type"])
            for fid in cur
            if fid in prev and prev[fid]["type"] != cur[fid]["type"]
        ]
        n_changes = len(added) + len(dropped) + len(renamed) + len(widened)
        if n_changes != 1:
            raise AssertionError(
                f"schema v{prev_v}->v{v} is not one DDL: {n_changes} changes"
            )
        if added:
            rec = ("add_column", added[0]["name"], None, added[0]["type"])
        elif dropped:
            rec = ("drop_column", dropped[0]["name"], None, None)
        elif renamed:
            rec = ("rename_column", renamed[0][0], renamed[0][1], None)
        else:
            rec = ("widen_type", widened[0][0], None, widened[0][1])
        rows.append((v, *rec, len(cur)))
    return spark.createDataFrame(
        rows,
        schema="to_ver long, action string, col_name string, "
        "new_name string, new_type string, n_cols long",
    )


# Incremental view maintenance off the CDF changelog: a downstream consumer
# keeps a per-lang aggregate of the target table current by applying ONLY
# each epoch's pre/post-image rows (sign-uniform: +1 insert/update_postimage,
# −1 delete/update_preimage) — never rescanning the table. The oracle is the
# direct aggregate over the DuckDB full-replay final state: the maintained
# aggregate must equal it EXACTLY (counts and an order-sensitive checksum,
# sum of the winners' _seq).
_INC_AGG_SQL = f"""
    WITH {_lww_ctes("url, lang, seq AS _seq, op AS _op")}
    SELECT lang, CAST(count(*) AS BIGINT) AS n_urls,
           CAST(sum(_seq) AS BIGINT) AS seq_sum
    FROM projected WHERE rn = 1 AND _op <> 'd'
    GROUP BY lang
    """


@register("engine_incremental_agg", _INC_AGG_SQL)
def engine_incremental_agg(spark, sf_dir):
    """Incremental aggregate maintenance from the Delta-CDF-shaped changelog
    (snapshot_diff(emit_preimage=True)): replay the fixed log as four MoR
    epochs, then maintain a per-lang (n_urls, seq_sum) materialized aggregate
    purely from each epoch's changelog batch — the downstream-consumer
    contract the reference serves with its client confirm protocol
    (WriterStream.cpp: a consumer that confirmed scn A asks for exactly what
    changed since). Each update contributes a preimage (−) and postimage (+)
    row, so the maintained aggregate nets to the true final-state aggregate
    without a table rescan; langs whose count nets to zero drop out. The
    changelog batches are projected to the maintenance columns BEFORE the
    union, so mid-chain schema evolution (fetch_status→http_status rename)
    cannot skew the union-by-name."""
    from functools import reduce

    from .lake.table import LakeTable
    from .operators.merge import snapshot_diff

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    table_path, marks, _metrics = _shared_mor_replay(spark)
    bounds = [min(LakeTable.load(spark, table_path).versions())] + marks
    batches = [
        snapshot_diff(spark, table_path, a, b, emit_preimage=True)
        .select("_change", "lang", "_seq")
        for a, b in zip(bounds, bounds[1:])
        if a != b
    ]
    cdf = reduce(DataFrame.unionByName, batches)
    sign = (
        F.when(F.col("_change").isin("insert", "update_postimage"), F.lit(1))
        .otherwise(F.lit(-1))
    )
    return (
        cdf.select("lang", sign.alias("_sign"), "_seq")
        .groupBy("lang")
        .agg(
            F.sum("_sign").cast("long").alias("n_urls"),
            F.sum(F.col("_sign") * F.col("_seq")).cast("long").alias("seq_sum"),
        )
        .filter(F.col("n_urls") != 0)
    )


# Manifest-statistics truthfulness: the per-file row counts and warc_ts
# [min,max] bounds the commit path stores (the inputs to ts_between file
# skipping and lww_compact_auto's key-count budget) must agree with a DuckDB
# recompute of each epoch's LWW winners from the raw change log. A stats bug
# here silently breaks pruning correctness at scale, so it gets its own gate.
_MANIFEST_STATS_SQL = f"""
    WITH ev AS (
      SELECT *, CAST(regexp_extract(filename, 'events-(\\d+)\\.parquet', 1)
                     AS INTEGER) AS epoch_id
      FROM read_parquet('{_REPLAY_EVENTS}/*.parquet', filename=true)
      WHERE {_COMMITTED_DML}),
    w AS (
      SELECT epoch_id, url, warc_ts,
             row_number() OVER (PARTITION BY epoch_id, url
                                ORDER BY warc_ts DESC, seq DESC) AS rn
      FROM ev)
    SELECT epoch_id, CAST(count(*) AS BIGINT) AS rows_added,
           min(warc_ts) AS min_warc_ts, max(warc_ts) AS max_warc_ts
    FROM w WHERE rn = 1 GROUP BY 1
    """


@register("engine_manifest_stats", _MANIFEST_STATS_SQL)
def engine_manifest_stats(spark, sf_dir):
    """File-statistics audit off the manifest chain alone (Iceberg's `files`
    metadata table; reference analogue: the checkpoint-file min/max scn
    headers GC trusts, Metadata.cpp:505-554): replay four MoR epochs, then
    report each merge_append commit's added-file row counts and warc_ts
    bounds FROM SNAPSHOT METADATA ONLY — a driver-side walk, no data scan.
    The DuckDB twin recomputes each epoch's winner count and the min/max of
    the winners' warc_ts from the raw events; parquet int64-micros stats are
    exact (never truncated like strings), so bounds must match to the
    microsecond. MoR appends never replace buckets, so a commit's added
    files are exactly the path-set delta vs its parent."""
    from .lake.table import LakeTable

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    table_path, _marks, _metrics = _shared_mor_replay(spark)
    t = LakeTable.load(spark, table_path)
    prev_paths: set[str] = set()
    log = []
    for v in sorted(t.versions()):
        tv = LakeTable.load(spark, table_path, version=v)
        cur = {fe["path"]: fe for fe in tv.snap["files"]}
        s = tv.snap["summary"]
        if s.get("op") == "merge_append":
            added = [fe for pth, fe in cur.items() if pth not in prev_paths]
            log.append((
                int(s["epoch_id"]),
                int(sum(fe["rows"] for fe in added)),
                min(fe["ts_min_us"] for fe in added),
                max(fe["ts_max_us"] for fe in added),
            ))
        prev_paths = set(cur)
    df = spark.createDataFrame(
        log, "epoch_id int, rows_added long, lo long, hi long"
    )
    return df.select(
        "epoch_id",
        "rows_added",
        F.timestamp_micros("lo").alias("min_warc_ts"),
        F.timestamp_micros("hi").alias("max_warc_ts"),
    )


_PII_SPEC = dict(seed=7, n_docs=400)
_PII_DOCS = fixture_path(_REPLAY_BASE, "pii_docs", _PII_SPEC)


def _ensure_pii_docs() -> str:
    from .datagen import write_pii_docs

    return ensure_fixture(
        _PII_DOCS, lambda d: write_pii_docs(d, **{
            "n_docs": _PII_SPEC["n_docs"], "seed": _PII_SPEC["seed"],
        })
    )


def _pii_sql() -> str:
    (_, email_re, _), (_, ip_re, _), (_, phone_re, _) = TXT.PII_PATTERNS
    red = "text"
    for _, pat, token in TXT.PII_PATTERNS:
        red = "regexp_replace(%s, '%s', '%s', 'g')" % (red, pat, token)
    return """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '%s')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '%s')) AS INT) AS n_ipv4s,
           CAST(len(regexp_extract_all(text, '%s')) AS INT) AS n_phones,
           md5(%s) AS redacted_md5
    FROM read_parquet('%s/*.parquet')
    """ % (email_re, ip_re, phone_re, red, _PII_DOCS)


@register("docs_pii_redact", _pii_sql())
def docs_pii_redact(spark, sf_dir):
    """PII detection + redaction (emails / IPv4 / phone numbers) — the
    standard web-text scrub pass, run on a deterministic PII-laced fixture
    (the sf* documents are salad with no PII). Pure JVM regexp chain, one
    scan, embarrassingly parallel at 100 TB; the md5 of the redacted text is
    what the oracle value-hashes, so the exact replacement spans (not just
    the counts) are cross-checked against DuckDB's RE2."""
    d = spark.read.parquet(_ensure_pii_docs())
    cols = [
        TXT.pii_count(F.col("text"), pat).alias("n_" + name)
        for name, pat, _ in TXT.PII_PATTERNS
    ]
    return d.select(
        "doc_id",
        *cols,
        F.md5(TXT.redact_pii(F.col("text")).cast("binary")).alias("redacted_md5"),
    )


_DOMAIN_CHURN_SQL = f"""
    WITH ev AS (
      SELECT * FROM read_parquet('{_REPLAY_EVENTS}/*.parquet')
      WHERE {_COMMITTED_DML}),
    by_host AS (
      SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
             CAST(count(*) AS BIGINT) AS n_changes,
             CAST(count(DISTINCT url) AS BIGINT) AS n_pages,
             CAST(sum(CASE WHEN op = 'd' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_deletes
      FROM ev GROUP BY 1)
    SELECT host, n_changes, n_pages, n_deletes,
           round(n_changes::DOUBLE / sum(n_changes) OVER (), 4) AS change_share
    FROM by_host
    """


@register("cdc_domain_churn", _DOMAIN_CHURN_SQL)
def cdc_domain_churn(spark, sf_dir):
    """Per-host change accounting over the committed change log — the
    heavy-hitter profile that drives salting/bucketing decisions for hot
    domains (datagen gives url #0 ~5% of all events by construction; its
    host tops this table). Shape at scale: partial-agg groupBy on an
    extracted host key; change_share is a window over the already-aggregated
    ~|hosts| rows, not the event stream."""
    from .operators.decode import EVENTS_DDL, dml_events

    ev = spark.read.schema(EVENTS_DDL).parquet(_ensure_replay_events())
    committed = dml_events(
        ev.filter(F.col("op").isNotNull() & F.col("url").isNotNull()
                  & F.col("warc_ts").isNotNull())
    )
    agg = committed.groupBy(
        F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host")
    ).agg(
        F.count("*").alias("n_changes"),
        F.countDistinct("url").alias("n_pages"),
        F.sum(F.when(F.col("op") == "d", 1).otherwise(0)).alias("n_deletes"),
    )
    return agg.select(
        "host", "n_changes", "n_pages", "n_deletes",
        F.round(
            F.col("n_changes")
            / F.sum("n_changes").over(Window.partitionBy()), 4
        ).alias("change_share"),
    )


@register(
    "docs_repetition_stats",
    """
    WITH base AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
      FROM documents),
    stats AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS nd
      FROM base),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM base),
    topt AS (SELECT doc_id, max(c) AS top_tok FROM
              (SELECT doc_id, tok, count(*) AS c FROM tok
               GROUP BY doc_id, tok)
             GROUP BY doc_id),
    big AS (
      SELECT doc_id,
             unnest(CASE WHEN len(toks) >= 2
               THEN list_transform(generate_series(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i + 1])
               ELSE CAST([] AS VARCHAR[]) END) AS bi
      FROM base),
    topb AS (SELECT doc_id, max(c) AS top_big FROM
              (SELECT doc_id, bi, count(*) AS c FROM big GROUP BY doc_id, bi)
             GROUP BY doc_id)
    SELECT s.doc_id, s.n_tokens,
           round(CASE WHEN s.n_tokens > 0
                      THEN 1.0 - s.nd::DOUBLE / s.n_tokens
                      ELSE 0.0 END, 4) AS dup_token_frac,
           round(COALESCE(topt.top_tok, 0)::DOUBLE
                 / greatest(s.n_tokens, 1), 4) AS top_token_frac,
           round(COALESCE(topb.top_big, 0)::DOUBLE
                 / greatest(s.n_tokens, 1), 4) AS top_bigram_frac
    FROM stats s LEFT JOIN topt USING (doc_id) LEFT JOIN topb USING (doc_id)
    """,
)
def docs_repetition_stats(spark, sf_dir):
    """Gopher-style repetition filter channels (duplicate-token fraction,
    top token / top bigram occupancy) — catches boilerplate pages that are
    globally unique but internally degenerate; see TXT.repetition_stats for
    the explode→two-phase-agg scale shape."""
    return TXT.repetition_stats(T(spark, sf_dir, "documents"))


def _simhash_sig_ctes() -> str:
    """CTE chain ending in ``full_sig(doc_id, simhash)`` — THE spelling of
    functions.similarity.simhash_signatures (md5-nibble bit votes per
    distinct token, 64-bit pack with bit 63 as the signed-BIGINT
    complement), shared by the pair queries and the bit-balance audit."""
    nibs = ", ".join(
        f"(strpos('0123456789abcdef', substr(md5(token), {i + 1}, 1)) - 1) AS n{i}"
        for i in range(16)
    )
    votes = ", ".join(
        f"SUM(2 * ((n{15 - (b >> 2)} >> {b & 3}) & 1) - 1) AS v{b}"
        for b in range(64)
    )
    low = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END" for b in range(63)
    )
    sig = f"({low} + CASE WHEN v63 > 0 THEN -9223372036854775808 ELSE 0 END)"
    return f"""raw AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM documents),
    tok AS (SELECT DISTINCT doc_id, token FROM raw WHERE length(token) > 0),
    nib AS (SELECT doc_id, {nibs} FROM tok),
    votes AS (SELECT doc_id, {votes} FROM nib GROUP BY doc_id),
    sig AS (SELECT doc_id, {sig} AS simhash FROM votes),
    full_sig AS (
      SELECT d.doc_id, COALESCE(s.simhash, 0) AS simhash
      FROM documents d LEFT JOIN sig s ON d.doc_id = s.doc_id)"""


def _simhash_sql(max_hamming: int = 3) -> str:
    """DuckDB twin of simhash signatures + 16-bit-chunk pigeonhole
    blocking. The threshold is a parameter so histogram-style entries can
    keep every blocked candidate (max_hamming=64) while sharing this one
    spelling."""
    return f"""
    WITH {_simhash_sig_ctes()},
    blocked AS (
      SELECT doc_id, simhash, c.chunk_id,
             (simhash >> (c.chunk_id * 16)) & 65535 AS chunk
      FROM full_sig, (SELECT unnest([0, 1, 2, 3]) AS chunk_id) c)
    SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
           CAST(bit_count(xor(l.simhash, r.simhash)) AS INTEGER) AS hamming
    FROM blocked l JOIN blocked r
      ON l.chunk_id = r.chunk_id AND l.chunk = r.chunk AND l.doc_id < r.doc_id
    WHERE bit_count(xor(l.simhash, r.simhash)) <= {max_hamming}
    """


@register("docs_simhash_near_dup", _simhash_sql())
def docs_simhash_near_dup(spark, sf_dir):
    """SimHash near-dup pairs (hamming ≤ 3) with 16-bit-chunk blocking —
    pigeonhole guarantees no candidate is missed; no all-pairs join. The
    signature is built from JVM md5-nibble bit votes (no Python kernel),
    which also makes it SQL-expressible for the DuckDB oracle."""
    d = T(spark, sf_dir, "documents")
    return S.simhash_near_dup_pairs(d, "doc_id", "text", max_hamming=3)


def _components_cte() -> str:
    """DuckDB twin of functions.similarity.connected_components over the
    SimHash near-dup pairs: component = min doc_id reachable through the
    pair graph. EXACT at any scale via contract-then-close (round-5 verdict
    task 5 — the naive all-pairs reach closure is Θ(Σ component_size²) and
    near-dup clusters here hold half the corpus: 118 s at sf0.1 / 2,957 s
    at sf1). Every multiply-referenced CTE is MATERIALIZED: DuckDB 1.0
    INLINES plain CTEs per reference, so a chain of passes each reading its
    predecessor twice re-evaluates the whole upstream tree exponentially
    (measured 121 s → 1.0 s at sf0.1 from the keyword alone — the round-5
    dialect gotcha). Three non-recursive min-label passes collapse every
    node to
    the minimum id within ≤3 hops (near-dup clusters are pigeonhole-blocked
    near-cliques, so almost all collapse fully), then the exact recursive
    closure runs only on the CONTRACTED label graph — edges between
    distinct surviving labels — which is empty-to-tiny. Correct for ANY
    graph: labels are sound (min over a reachable subset), and the closure
    over contracted edges restores completeness; composition returns the
    true component minimum."""
    return f"""
    pairs AS MATERIALIZED ({_simhash_sql()}),
    edges AS MATERIALIZED (SELECT a AS u, b AS v FROM pairs
              UNION SELECT b AS u, a AS v FROM pairs),
    l1 AS MATERIALIZED (SELECT u, LEAST(u, MIN(v)) AS lbl FROM edges GROUP BY u),
    l2 AS MATERIALIZED (SELECT e.u, LEAST(MIN(lu.lbl), MIN(lv.lbl)) AS lbl
           FROM edges e
           JOIN l1 lu ON lu.u = e.u JOIN l1 lv ON lv.u = e.v
           GROUP BY e.u),
    l3 AS MATERIALIZED (SELECT e.u, LEAST(MIN(lu.lbl), MIN(lv.lbl)) AS lbl
           FROM edges e
           JOIN l2 lu ON lu.u = e.u JOIN l2 lv ON lv.u = e.v
           GROUP BY e.u),
    ce AS MATERIALIZED (SELECT DISTINCT LEAST(la.lbl, lb.lbl) AS u,
                  GREATEST(la.lbl, lb.lbl) AS v
           FROM edges e
           JOIN l3 la ON la.u = e.u JOIN l3 lb ON lb.u = e.v
           WHERE la.lbl <> lb.lbl),
    cedges AS MATERIALIZED (SELECT u, v FROM ce UNION SELECT v AS u, u AS v FROM ce),
    reach(u, v) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM cedges) n
      UNION
      SELECT e.u, r.v FROM cedges e JOIN reach r ON r.u = e.v),
    supercomp AS (SELECT u AS lbl, MIN(v) AS component FROM reach GROUP BY u),
    comp AS (SELECT l3.u AS doc_id,
                    COALESCE(sc.component, l3.lbl) AS component
             FROM l3 LEFT JOIN supercomp sc ON sc.lbl = l3.lbl)
    """


@register(
    "docs_dup_clusters",
    f"WITH RECURSIVE {_components_cte()} SELECT doc_id, component FROM comp",
)
def docs_dup_clusters(spark, sf_dir):
    """Near-dup pairs → duplicate CLUSTERS: connected components (alternating
    large-star/small-star, O(log²n) rounds — diameter-proof, unlike min-label
    propagation) over the SimHash pair graph. component = min doc_id in the
    cluster; docs with no near-dup are absent (their own component). This is
    the step a corpus dedup needs between pair generation and keep-one —
    a~b and b~c must collapse into ONE surviving document."""
    d = T(spark, sf_dir, "documents")
    pairs = S.simhash_near_dup_pairs(d, "doc_id", "text", max_hamming=3)
    return S.connected_components(pairs, "a", "b").select(
        F.col("id").alias("doc_id"), "component"
    )


# shared quality-ranked cluster-member CTEs (one spelling — the survivor
# pick and the contrastive-pair builder must move together)
_SURVIVOR_RANKED_CTES = """
    q AS (
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE length(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
        (length(text) - length(replace(text, '.', '')))
          + (length(text) - length(replace(text, ',', '')))
          + (length(text) - length(replace(text, '!', '')))
          + (length(text) - length(replace(text, '?', ''))) AS n_punct
      FROM documents),
    quality AS (
      SELECT doc_id,
        (CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 0.5 ELSE 0.0 END
         + CASE WHEN n_punct * 1.0 / greatest(n_tokens, 1) > 0.001
                 AND n_punct * 1.0 / greatest(n_tokens, 1) < 0.5
                THEN 0.5 ELSE 0.0 END) AS _q
      FROM q),
    ranked AS (
      SELECT c.component, c.doc_id, quality._q,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY quality._q DESC, c.doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY c.component) AS n_members
      FROM comp c JOIN quality USING (doc_id))
"""


@register(
    "docs_dedup_survivors",
    f"""
    WITH RECURSIVE {_components_cte()},
    {_SURVIVOR_RANKED_CTES}
    SELECT component, CAST(n_members AS BIGINT) AS n_members,
           doc_id AS survivor_doc_id, _q AS survivor_quality
    FROM ranked WHERE rn = 1
    """,
)
def docs_dedup_survivors(spark, sf_dir):
    """Keep-one dedup policy per duplicate cluster: the highest-quality
    member survives (ties → smallest doc_id). Completes the dedup pipeline:
    SimHash pairs → connected components → survivor pick — one shuffle on
    component via a two-phase max_by."""
    d = T(spark, sf_dir, "documents")
    pairs = S.simhash_near_dup_pairs(d, "doc_id", "text", max_hamming=3)
    comps = S.connected_components(pairs, "a", "b")
    return S.dup_cluster_survivors(
        d, comps, "doc_id", TXT.quality_score(F.col("text"))
    )


@register(
    "docs_leakage_safe_split",
    f"""
    WITH RECURSIVE {_components_cte()},
    grouped AS (
      SELECT d.doc_id, CAST(coalesce(comp.component, d.doc_id) AS BIGINT)
               AS group_key
      FROM documents d LEFT JOIN comp USING (doc_id))
    SELECT doc_id, group_key,
           CASE
             WHEN CAST(('0x' || substr(md5(CAST(group_key AS VARCHAR)), 1, 8))
                       AS BIGINT) % 100 < 90 THEN 'train'
             WHEN CAST(('0x' || substr(md5(CAST(group_key AS VARCHAR)), 1, 8))
                       AS BIGINT) % 100 < 95 THEN 'valid'
             ELSE 'test'
           END AS split
    FROM grouped
    """,
)
def docs_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/valid/test split: the split key is the document's
    near-dup CLUSTER (SimHash connected component; its own id for
    singletons), so every member of a duplicate cluster lands in the same
    split — the guard against eval contamination that a plain per-doc hash
    split (docs_train_split) cannot give: two near-identical documents can
    otherwise straddle train and test and leak the answer. Same md5-bucket
    90/5/5 rule as the per-doc split, applied to the group key. Shape at
    100 TB: pair graph + components are the blocked near-linear path, the
    group-key join is cluster-sized, and the split itself is a map-side
    expression. Reference analogue: none — training-data extension."""
    d = T(spark, sf_dir, "documents")
    pairs = S.simhash_near_dup_pairs(d, "doc_id", "text", max_hamming=3)
    comps = S.connected_components(pairs, "a", "b").select(
        F.col("id").alias("doc_id"), "component"
    )
    grouped = d.join(comps, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id"))
        .cast("long").alias("group_key"),
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("group_key").cast("string")), 1, 8), 16, 10
        ).cast("long") % 100
    )
    return grouped.select(
        "doc_id", "group_key",
        F.when(bucket < 90, "train")
        .when(bucket < 95, "valid")
        .otherwise("test").alias("split"),
    )


@register(
    "docs_softdedup_weights",
    f"""
    WITH RECURSIVE {_components_cte()},
    sizes AS (SELECT component, COUNT(*) AS n FROM comp GROUP BY component),
    w AS (SELECT comp.doc_id, sizes.n
          FROM comp JOIN sizes USING (component))
    SELECT d.doc_id,
           CAST(coalesce(w.n, 1) AS BIGINT) AS cluster_size,
           round(1.0 / coalesce(w.n, 1), 6) AS weight
    FROM documents d LEFT JOIN w USING (doc_id)
    """,
)
def docs_softdedup_weights(spark, sf_dir):
    """Soft deduplication: instead of DROPPING near-duplicates (the
    keep-one policy of docs_dedup_survivors), every document gets a training
    weight of 1/|its duplicate cluster| — the down-weighting strategy for
    data-constrained training where repeated content should count once in
    expectation but hard deletion would discard coverage. Singleton docs
    weigh 1.0; a 3-member SimHash cluster's members weigh 1/3 each, so every
    cluster contributes exactly one document-equivalent. Shape at 100 TB:
    the pair graph is the blocked SimHash path, components are the
    O(log²n)-round star algorithm, and the weight join is cluster-sized —
    never all-pairs. Reference analogue: none — training-data extension."""
    d = T(spark, sf_dir, "documents")
    pairs = S.simhash_near_dup_pairs(d, "doc_id", "text", max_hamming=3)
    comps = S.connected_components(pairs, "a", "b").select(
        F.col("id").alias("doc_id"), "component"
    )
    sizes = comps.groupBy("component").agg(F.count("*").alias("n"))
    w = comps.join(sizes, "component").select("doc_id", "n")
    return d.join(w, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n"), F.lit(1)).cast("long").alias("cluster_size"),
        F.round(
            F.lit(1.0) / F.coalesce(F.col("n"), F.lit(1)), 6
        ).alias("weight"),
    )


_ASOF_SQL = """
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
         c AS (SELECT * FROM events WHERE event_type = 'click')
    SELECT p.event_id AS purchase_id, p.user_id AS user_id,
           c.event_id AS click_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS lag_us,
           round(c.value, 2) AS click_value
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    """


@register("events_asof_attribution", _ASOF_SQL)
def events_asof_attribution(spark, sf_dir):
    """Backward as-of join (last-touch attribution): every purchase gets the
    user's newest click at-or-before it; purchases with no prior click keep
    nulls. Spark has no ASOF JOIN — this is the union + one-shuffle window
    composition (operators/asof.py), oracle-checked against DuckDB's native
    ASOF LEFT JOIN. Reference analogue: each change resolves against the
    dictionary version in force at its scn (Metadata.cpp schema chain)."""
    from .operators.asof import asof_join

    ev = T(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id"), "value"
    )
    j = asof_join(purchases, clicks, on="user_id")
    return j.select(
        "purchase_id",
        "user_id",
        "click_id_asof",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("ts_asof").cast("timestamp"))
        ).alias("lag_us"),
        F.round("value_asof", 2).alias("click_value"),
    ).withColumnsRenamed({"click_id_asof": "click_id"})


@register("events_asof_attribution_bcast", _ASOF_SQL)
def events_asof_attribution_bcast(spark, sf_dir):
    """Broadcast twin of events_asof_attribution: the click side is packed
    to one sorted chain per user and broadcast; matching is a map-side
    array probe with ZERO shuffle of the purchase side — the plan when the
    right side is dimension-sized (the reference's dictionary chain vs
    10^10 changes). Same oracle SQL as the shuffle variant, so the driver
    value-checks the two implementations against each other too."""
    from .operators.asof import asof_join_broadcast

    ev = T(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id"), "value"
    )
    j = asof_join_broadcast(purchases, clicks, on="user_id")
    return j.select(
        "purchase_id",
        "user_id",
        F.col("click_id_asof").alias("click_id"),
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("ts_asof").cast("timestamp"))
        ).alias("lag_us"),
        F.round("value_asof", 2).alias("click_value"),
    )


_GOPHER_SQL = """
    WITH w AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS words,
             ' ' || lower(text) || ' ' AS pad, text
      FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_words,
             list_sum(list_transform(words, x -> CAST(length(x) AS DOUBLE)))
               / greatest(CAST(len(words) AS DOUBLE), 1.0) AS mean_word_len,
             (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
              + CAST((length(text) - length(replace(text, '...', ''))) / 3
                     AS DOUBLE))
               / greatest(CAST(len(words) AS DOUBLE), 1.0) AS symbol_ratio,
             CAST(len(list_filter(words, x -> regexp_matches(x, '[a-z]')))
                  AS DOUBLE)
               / greatest(CAST(len(words) AS DOUBLE), 1.0) AS alpha_ratio,
             CAST((CASE WHEN contains(pad, ' the ') THEN 1 ELSE 0 END)
                + (CASE WHEN contains(pad, ' be ') THEN 1 ELSE 0 END)
                + (CASE WHEN contains(pad, ' to ') THEN 1 ELSE 0 END)
                + (CASE WHEN contains(pad, ' of ') THEN 1 ELSE 0 END)
                + (CASE WHEN contains(pad, ' and ') THEN 1 ELSE 0 END)
                + (CASE WHEN contains(pad, ' that ') THEN 1 ELSE 0 END)
                + (CASE WHEN contains(pad, ' have ') THEN 1 ELSE 0 END)
                + (CASE WHEN contains(pad, ' with ') THEN 1 ELSE 0 END)
              AS INT) AS n_stopwords
      FROM w)
    SELECT doc_id, n_words, round(mean_word_len, 4) AS mean_word_len,
           round(symbol_ratio, 4) AS symbol_ratio,
           round(alpha_ratio, 4) AS alpha_ratio, n_stopwords,
           (n_words BETWEEN 50 AND 100000) AS ok_n_words,
           (mean_word_len BETWEEN 3.0 AND 10.0) AS ok_mean_len,
           (symbol_ratio <= 0.1) AS ok_symbols,
           (alpha_ratio >= 0.8) AS ok_alpha,
           (n_stopwords >= 2) AS ok_stopwords,
           ((n_words BETWEEN 50 AND 100000)
            AND (mean_word_len BETWEEN 3.0 AND 10.0)
            AND (symbol_ratio <= 0.1) AND (alpha_ratio >= 0.8)
            AND (n_stopwords >= 2)) AS gopher_pass
    FROM m
    """


@register("docs_gopher_filter", _GOPHER_SQL)
def docs_gopher_filter(spark, sf_dir):
    """Gopher-style (Rae et al. 2021 §A1.1) rule-based quality filter:
    word-count band, mean-word-length band, symbol-to-word ratio,
    alphabetic-word ratio, minimum stopwords — the measured stats, the
    per-rule booleans, and the ANDed verdict, so rejection reasons are
    loggable. All pure JVM expressions: one codegen'd scan, embarrassingly
    parallel at 100 TB. Reference analogue: none (the reference filters by
    table/op, not content) — this is the web-text curation extension."""
    d = T(spark, sf_dir, "documents")
    r = TXT.gopher_rules(F.col("text"))
    return d.select(
        "doc_id",
        r["n_words"].alias("n_words"),
        F.round(r["mean_word_len"], 4).alias("mean_word_len"),
        F.round(r["symbol_ratio"], 4).alias("symbol_ratio"),
        F.round(r["alpha_ratio"], 4).alias("alpha_ratio"),
        r["n_stopwords"].alias("n_stopwords"),
        *[r[k].alias(k) for k in (
            "ok_n_words", "ok_mean_len", "ok_symbols", "ok_alpha",
            "ok_stopwords", "gopher_pass",
        )],
    )


_TFIDF_SQL = """
    WITH tok AS (
      SELECT lang, doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
      FROM documents),
    tf AS (
      SELECT lang, token, count(*) AS tf
      FROM tok WHERE length(token) > 0 GROUP BY 1, 2),
    df AS (
      SELECT token, count(DISTINCT doc_id) AS df
      FROM tok WHERE length(token) > 0 GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.lang, tf.token,
             CAST(tf.tf AS BIGINT) AS tf, CAST(df.df AS BIGINT) AS df,
             CAST(tf.tf AS DOUBLE)
               * ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS tfidf
      FROM tf JOIN df USING (token) CROSS JOIN n)
    SELECT lang, token, tf, df, round(tfidf, 4) AS tfidf
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY lang
                               ORDER BY tfidf DESC, token) <= 5
    """


@register("docs_tfidf_by_lang", _TFIDF_SQL)
def docs_tfidf_by_lang(spark, sf_dir):
    """Top-5 most distinctive tokens per language by TF-IDF — the corpus
    profiling pass a mixture/contamination analysis starts from. Shape at
    100 TB: explode → two partial-aggregated counts (term frequency per
    lang, document frequency corpus-wide), a broadcast of the df side if
    the vocabulary is small or a shuffle join on token otherwise (left to
    AQE), then a per-lang top-k window over lang-count rows (vocab × langs,
    tiny next to the corpus)."""
    d = T(spark, sf_dir, "documents")
    tok = S.tokens(d, "doc_id", "text", distinct=False, extra_cols=("lang",))
    tf = tok.groupBy("lang", "token").agg(F.count("*").alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()
    scored = tf.join(df, "token").select(
        "lang",
        "token",
        "tf",
        "df",
        (F.col("tf").cast("double") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("tfidf"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("tfidf"), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
        .select("lang", "token", "tf", "df", F.round("tfidf", 4).alias("tfidf"))
    )


_INCR_DEDUP_SQL = """
    WITH inc AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
    cor AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    cfp AS (
      SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
        AS fp FROM cor),
    exact_ok AS (
      SELECT * FROM inc
      WHERE md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
        NOT IN (SELECT fp FROM cfp)),
    itok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
      FROM exact_ok),
    isig AS (
      SELECT doc_id,
             min(md5(token || '#0')) AS h0, min(md5(token || '#1')) AS h1,
             min(md5(token || '#2')) AS h2, min(md5(token || '#3')) AS h3,
             min(md5(token || '#4')) AS h4, min(md5(token || '#5')) AS h5,
             min(md5(token || '#6')) AS h6, min(md5(token || '#7')) AS h7
      FROM itok WHERE length(token) > 0 GROUP BY doc_id),
    ibands AS (
      SELECT doc_id, 0 AS band_id, md5(h0 || h1 || h2 || h3) AS band_hash
      FROM isig
      UNION ALL
      SELECT doc_id, 1 AS band_id, md5(h4 || h5 || h6 || h7) AS band_hash
      FROM isig),
    ctok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
      FROM cor),
    csig AS (
      SELECT doc_id,
             min(md5(token || '#0')) AS h0, min(md5(token || '#1')) AS h1,
             min(md5(token || '#2')) AS h2, min(md5(token || '#3')) AS h3,
             min(md5(token || '#4')) AS h4, min(md5(token || '#5')) AS h5,
             min(md5(token || '#6')) AS h6, min(md5(token || '#7')) AS h7
      FROM ctok WHERE length(token) > 0 GROUP BY doc_id),
    cbands AS (
      SELECT DISTINCT band_id, band_hash FROM (
        SELECT 0 AS band_id, md5(h0 || h1 || h2 || h3) AS band_hash FROM csig
        UNION ALL
        SELECT 1 AS band_id, md5(h4 || h5 || h6 || h7) AS band_hash FROM csig)),
    hits AS (
      SELECT DISTINCT i.doc_id
      FROM ibands i JOIN cbands c USING (band_id, band_hash))
    SELECT e.doc_id, e.lang
    FROM exact_ok e
    WHERE e.doc_id NOT IN (SELECT doc_id FROM hits)
    """


@register("docs_incremental_dedup", _INCR_DEDUP_SQL)
def docs_incremental_dedup(spark, sf_dir):
    """Incremental (new-batch-vs-corpus) dedup — the streaming-ingest shape:
    odd doc_ids arrive as the new batch, even doc_ids are the kept corpus;
    survivors are incoming docs that are neither exact dups (normalized md5
    anti-join) nor near dups (any shared MinHash LSH band, anti-join; 8
    hashes x 4-hash bands — the tight-band setting, since loose bands on
    templated web corpora flag everything) of a corpus doc. Both probes shuffle the corpus's DISTINCT key space, never
    its row count, and nothing is quadratic in epochs — at 100 TB the
    corpus band set is a bucketed table maintained incrementally."""
    d = T(spark, sf_dir, "documents")
    incoming = d.filter(F.col("doc_id") % 2 == 1)
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    out = S.incremental_dedup_survivors(incoming, corpus, n_hashes=8, band_size=4)
    return out.select("doc_id", "lang")


_NET_EFFECT_SQL = f"""
    WITH ev AS (
      SELECT url, warc_ts, seq, op
      FROM read_parquet('{_REPLAY_EVENTS}/*.parquet')
      WHERE op IN ('c', 'u', 'd') AND NOT rolled_back AND url IS NOT NULL),
    ranked AS (
      SELECT url, op,
             row_number() OVER (PARTITION BY url
                                ORDER BY warc_ts, seq) AS rn_a,
             row_number() OVER (PARTITION BY url
                                ORDER BY warc_ts DESC, seq DESC) AS rn_d,
             count(*) OVER (PARTITION BY url) AS n_ops
      FROM ev),
    fl AS (
      SELECT url, max(CASE WHEN rn_a = 1 THEN op END) AS first_op,
             max(CASE WHEN rn_d = 1 THEN op END) AS last_op,
             CAST(max(n_ops) AS BIGINT) AS n_ops
      FROM ranked GROUP BY url)
    SELECT url, first_op, last_op, n_ops,
           CASE WHEN first_op = 'c' AND last_op = 'd' THEN 'none'
                WHEN first_op = 'c' THEN 'insert'
                WHEN last_op = 'd' THEN 'delete'
                ELSE 'update' END AS net_effect
    FROM fl
    """


@register("cdc_net_effect", _NET_EFFECT_SQL)
def cdc_net_effect(spark, sf_dir):
    """Net-effect batch collapse — the CDC merge-batch optimization: all of
    a key's ops in a window reduce to one net change (create..delete =
    no-op; create..update = insert with the final image; existing..delete =
    delete; otherwise update). The reference's transaction assembly does
    precisely this inside one txn (Transaction.cpp op override chain);
    lifted here to the table/window level. Scale shape: ONE partial-agg
    shuffle — min_by/max_by over the (warc_ts, seq) total order, never a
    per-key sort (contrast the window-rank oracle, which is the readable
    spec)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(_ensure_replay_events())
    dml = ev.filter(
        F.col("op").isin("c", "u", "d")
        & ~F.col("rolled_back")
        & F.col("url").isNotNull()
    )
    order = F.struct(F.col("warc_ts"), F.col("seq"))
    agg = dml.groupBy("url").agg(
        F.min_by("op", order).alias("first_op"),
        F.max_by("op", order).alias("last_op"),
        F.count("*").alias("n_ops"),
    )
    net = (
        F.when((F.col("first_op") == "c") & (F.col("last_op") == "d"), "none")
        .when(F.col("first_op") == "c", "insert")
        .when(F.col("last_op") == "d", "delete")
        .otherwise("update")
    )
    return agg.select(
        "url", "first_op", "last_op", "n_ops", net.alias("net_effect")
    )


_PACK_SQL = """
    WITH t AS (
      SELECT doc_id,
             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
               AS BIGINT) AS n_tokens
      FROM documents),
    placed AS (
      SELECT doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS "offset"
      FROM t)
    SELECT doc_id, n_tokens, "offset",
           CAST(floor("offset" / 2048.0) AS BIGINT) AS first_chunk,
           CAST(floor(("offset" + greatest(n_tokens, 1) - 1) / 2048.0)
             AS BIGINT) AS last_chunk,
           CAST(floor(("offset" + greatest(n_tokens, 1) - 1) / 2048.0)
              - floor("offset" / 2048.0) + 1 AS BIGINT) AS n_chunks
    FROM placed
    """


@register("docs_pack_chunks", _PACK_SQL)
def docs_pack_chunks(spark, sf_dir):
    """Sequence packing (concatenate-then-chunk, ctx=2048): place every
    document on the global token tape and report which context windows it
    spans. The oracle's ``sum() OVER (ORDER BY ...)`` is the single-node
    spec; the Spark impl is the distributed two-phase scan
    (functions/packing.py): range shuffle + per-partition Arrow cumsum +
    P-scalar driver cumulation broadcast back — never an empty-partition
    window (which Spark executes in ONE task). Reference analogue: none;
    training-data pipeline extension."""
    from .functions.packing import pack_chunks

    d = T(spark, sf_dir, "documents")
    t = d.select("doc_id", TXT.token_count(F.col("text")).alias("n_tokens"))
    return pack_chunks(t, "doc_id", "n_tokens", ctx=2048)


# Sliding-window twin of pack_chunks: per-document overlapping 32-token
# windows, stride 24. Window starts are 0, 24, 48, ... and generation stops
# once a window reaches the document end (a start survives iff it is 0 or
# the PREVIOUS window ended short of the last token) — both engines spell
# that rule identically. DuckDB list slices are 1-based inclusive;
# generate_series is BIGINT, so every int column is CAST to INTEGER to
# match Spark's int32 arithmetic.
_CHUNK_SIZE, _CHUNK_STRIDE = 32, 24
_CHUNK_SQL = f"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
      FROM documents),
    sized AS (
      SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) >= 1),
    starts AS (
      SELECT doc_id, toks, n,
             unnest(generate_series(0, n - 1, {_CHUNK_STRIDE})) AS start_tok
      FROM sized)
    SELECT doc_id,
           CAST(start_tok // {_CHUNK_STRIDE} AS INTEGER) AS chunk_id,
           CAST(start_tok AS INTEGER) AS start_tok,
           CAST(least({_CHUNK_SIZE}, n - start_tok) AS INTEGER) AS chunk_tokens,
           array_to_string(
             toks[start_tok + 1 : start_tok + {_CHUNK_SIZE}], ' ') AS chunk_text
    FROM starts
    WHERE start_tok = 0 OR start_tok - {_CHUNK_STRIDE} + {_CHUNK_SIZE} < n
    """


@register("docs_chunk_windows", _CHUNK_SQL)
def docs_chunk_windows(spark, sf_dir):
    """Context-window chunking for training rows: overlapping fixed-size
    token windows per document (size 32, stride 24 → 8 tokens of overlap on
    this corpus' scale; a production run dials ctx-sized windows the same
    way). Zero-shuffle, whole-stage-codegen expression chain — see
    functions/text.chunk_windows."""
    d = T(spark, sf_dir, "documents")
    return TXT.chunk_windows(
        d, "doc_id", "text", size=_CHUNK_SIZE, stride=_CHUNK_STRIDE
    )


# CCNet-style paragraph dedup over fixed 8-token segments: the DuckDB twin
# replays the exact first-occurrence rule (row_number over the segment hash
# in (doc_id, pos) order) and rebuilds each doc with an ORDER BY string_agg;
# integer counts are CAST to BIGINT and count/count division is DOUBLE on
# both engines. The rebuilt text ships as md5 so the gate value-hashes the
# reconstruction, not just the counts.
_PARA_SEG = 8
_PARA_DEDUP_SQL = f"""
    WITH base AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                  ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
      FROM documents),
    sized AS (
      SELECT doc_id, toks, len(toks) AS n FROM base WHERE len(toks) >= 1),
    segs AS (
      SELECT doc_id,
             CAST(start // {_PARA_SEG} AS INTEGER) AS pos,
             array_to_string(toks[start + 1 : start + {_PARA_SEG}], ' ') AS seg
      FROM (SELECT doc_id, toks, n,
                   unnest(generate_series(0, n - 1, {_PARA_SEG})) AS start
            FROM sized)),
    flagged AS (
      SELECT doc_id, pos, seg,
             row_number() OVER (PARTITION BY md5(seg)
                                ORDER BY doc_id, pos) = 1 AS keep
      FROM segs)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segs,
           CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS kept_segs,
           round(1.0 - (count(*) FILTER (WHERE keep)) / count(*), 4)
             AS dup_frac,
           md5(coalesce(string_agg(seg, ' ' ORDER BY pos)
                          FILTER (WHERE keep), '')) AS clean_md5
    FROM flagged GROUP BY doc_id
    """


@register("docs_paragraph_dedup", _PARA_DEDUP_SQL)
def docs_paragraph_dedup(spark, sf_dir):
    """CCNet paragraph-level exact dedup with document RECONSTRUCTION: every
    8-token segment survives only at its globally first (doc_id, pos)
    occurrence, and each doc is rebuilt from its surviving segments — the
    step CCNet runs over whole Common-Crawl snapshots (dup_ngram_share
    MEASURES cross-doc duplication; this op REMOVES it and re-emits the
    corpus). clean_md5 value-hashes the rebuilt text. Shape at scale: see
    functions/text.paragraph_dedup — one hash-keyed partial agg + equi-join
    + per-doc rebuild groupBy, linear in corpus segments."""
    d = T(spark, sf_dir, "documents")
    return TXT.paragraph_dedup(d, "doc_id", "text", seg=_PARA_SEG)


_FUNNEL_SQL = """
    WITH v AS (
      SELECT *, min(CASE WHEN event_type = 'view' THEN ts END)
                  OVER (PARTITION BY user_id) AS first_view
      FROM events),
    c AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts > first_view
                         THEN ts END)
                  OVER (PARTITION BY user_id) AS first_click
      FROM v),
    p AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > first_click
                         THEN ts END)
                  OVER (PARTITION BY user_id) AS first_purchase
      FROM c)
    SELECT DISTINCT user_id, first_view, first_click, first_purchase,
           CASE WHEN first_purchase IS NOT NULL THEN 3
                WHEN first_click IS NOT NULL THEN 2
                WHEN first_view IS NOT NULL THEN 1
                ELSE 0 END AS funnel_stage
    FROM p
    """


def _funnel_firsts(ev: DataFrame) -> DataFrame:
    """The Spark side of ``_FUNNEL_SQL``'s v/c/p CTEs: per user, the first
    view, the first click after it and the first purchase after that
    click, as three stacked windows over one user_id partitioning."""
    w = Window.partitionBy("user_id")
    return (
        ev.withColumn(
            "first_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "first_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("first_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "first_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("first_click")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )


@register("events_funnel", _FUNNEL_SQL)
def events_funnel(spark, sf_dir):
    """Ordered conversion funnel per user: first view, first click AFTER
    that view, first purchase AFTER that click (strict event-order funnel,
    not mere presence). Three stacked unordered windows over the SAME
    partition key — Catalyst plans ONE hash exchange on user_id and chains
    the window operators without re-shuffling or sorting (unbounded frames
    need no sort); the final distinct collapses per-user duplicates. At
    100 TB: one shuffle of the events scan + one of user-sized rows."""
    staged = _funnel_firsts(T(spark, sf_dir, "events"))
    stage = (
        F.when(F.col("first_purchase").isNotNull(), 3)
        .when(F.col("first_click").isNotNull(), 2)
        .when(F.col("first_view").isNotNull(), 1)
        .otherwise(0)
    )
    return staged.select(
        "user_id", "first_view", "first_click", "first_purchase",
        stage.alias("funnel_stage"),
    ).distinct()


_RETENTION_SQL = """
    WITH firsts AS (
      SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id,
             date_trunc('week', f.first_ts) AS cohort_week,
             CAST(floor(date_diff('day', date_trunc('week', f.first_ts),
                                  date_trunc('week', e.ts)) / 7.0)
               AS BIGINT) AS week_offset
      FROM events e JOIN firsts f USING (user_id))
    SELECT cohort_week, week_offset,
           CAST(count(*) AS BIGINT) AS n_active_users
    FROM activity GROUP BY cohort_week, week_offset
    """


# DAU/WAU + stickiness: trailing-7-day distinct actives WITHOUT a range
# self-join — each (user, active-day) pair is exploded to the ≤7 window
# ends it contributes to (bounded 7× blowup), deduped, counted. Only days
# with activity are reported (inner join on the DAU side). Two-phase
# distinct (dropDuplicates → count) per the repo rule: never countDistinct.
_DAU_WAU_SQL = """
    WITH pairs AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
    dau AS (
      SELECT day, CAST(count(*) AS BIGINT) AS dau FROM pairs GROUP BY day),
    wpairs AS (
      SELECT DISTINCT user_id, day + i * INTERVAL 1 DAY AS wday
      FROM pairs, unnest(generate_series(0, 6)) AS t(i)),
    wau AS (
      SELECT wday, CAST(count(*) AS BIGINT) AS wau FROM wpairs GROUP BY wday)
    SELECT d.day, d.dau, w.wau,
           round(CAST(d.dau AS DOUBLE) / w.wau, 4) AS stickiness
    FROM dau d JOIN wau w ON d.day = w.wday
    """


@register("events_dau_wau", _DAU_WAU_SQL)
def events_dau_wau(spark, sf_dir):
    """Daily/weekly active users and DAU/WAU stickiness — the engagement
    trend a product pipeline reads daily. The scalable trick is the
    explode-to-window: a trailing-window DISTINCT is not expressible as a
    window aggregate (count distinct over a frame is unsupported and a
    range self-join is O(days × activity)), so each (user, day) pair emits
    the ≤7 window ends it belongs to, and the distinct+count shuffle stays
    linear in activity. Reference analogue: none; analytics extension."""
    ev = T(spark, sf_dir, "events")
    pairs = (
        ev.select("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .dropDuplicates(["user_id", "day"])
    )
    dau = pairs.groupBy("day").agg(F.count("*").alias("dau"))
    wpairs = (
        pairs.select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("day"),
                    F.col("day") + F.expr("INTERVAL 6 DAYS"),
                    F.expr("INTERVAL 1 DAY"),
                )
            ).alias("wday"),
        )
        .dropDuplicates(["user_id", "wday"])
    )
    wau = wpairs.groupBy("wday").agg(F.count("*").alias("wau"))
    return dau.join(wau, dau["day"] == wau["wday"]).select(
        "day", "dau", "wau",
        F.round(F.col("dau") / F.col("wau"), 4).alias("stickiness"),
    )


def _cohort_activity(ev: DataFrame) -> DataFrame:
    """The Spark side of ``_RETENTION_SQL``'s activity CTE: each user's
    (cohort_week, week_offset) pairs, weeks Monday-truncated and the
    offset a BIGINT count of whole weeks since the first event."""
    w = Window.partitionBy("user_id")
    return (
        ev.withColumn("first_ts", F.min("ts").over(w))
        .select(
            "user_id",
            F.date_trunc("week", "first_ts").alias("cohort_week"),
            F.floor(
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.date_trunc("week", F.col("first_ts")).cast("date"),
                )
                / 7.0
            ).alias("week_offset"),
        )
        .distinct()
    )


@register("events_retention", _RETENTION_SQL)
def events_retention(spark, sf_dir):
    """Weekly cohort retention: users grouped by the week of their first
    event; n_active_users at each week offset since. Shape at 100 TB: the
    cohort assignment is a window-min over ONE hash shuffle on user_id
    (no join back to a firsts table — the same exchange serves the window
    and feeds the distinct), then a partial-agg count over (cohort, offset)
    rows. Week arithmetic pinned to Monday-truncated dates so Spark and
    DuckDB agree on boundaries."""
    act = _cohort_activity(T(spark, sf_dir, "events"))
    return act.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_active_users")
    )


_UNIGRAM_SQL = """
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
      FROM documents),
    t AS (SELECT doc_id, token FROM tok WHERE length(token) > 0),
    tf AS (SELECT token, count(*) AS tf FROM t GROUP BY token),
    tot AS (SELECT sum(tf) AS n FROM tf),
    scored AS (
      SELECT t.doc_id,
             -ln(CAST(tf.tf AS DOUBLE) / CAST(tot.n AS DOUBLE)) AS lp
      FROM t JOIN tf USING (token) CROSS JOIN tot)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(lp), 4) AS cross_entropy
    FROM scored GROUP BY doc_id
    """


@register("docs_unigram_logprob", _UNIGRAM_SQL)
def docs_unigram_logprob(spark, sf_dir):
    """Unigram-LM cross-entropy per document — the perplexity-proxy quality
    filter (CCNet filters on KenLM perplexity; the unigram LM is its
    SQL-checkable core): fit p(token) on the corpus itself, score each doc
    by -avg ln p over its token multiset; high = off-distribution/garbage.
    Shape at 100 TB: one partial-agg shuffle builds the vocab-sized tf
    table, the corpus total rides a 1-row cross join, the token->prob join
    is vocab-vs-corpus (AQE broadcasts the tf side when it fits), then a
    per-doc partial-agg avg. Nothing touches a per-doc Python loop."""
    d = T(spark, sf_dir, "documents")
    tok = S.tokens(d, "doc_id", "text", distinct=False)
    tf = tok.groupBy("token").agg(F.count("*").alias("tf"))
    tot = tf.agg(F.sum("tf").alias("n"))
    scored = tok.join(tf, "token").crossJoin(F.broadcast(tot)).select(
        "doc_id",
        (-F.log(F.col("tf").cast("double") / F.col("n").cast("double"))).alias("lp"),
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg("lp"), 4).alias("cross_entropy"),
    )


_ZIPF_SQL = """
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
      FROM documents),
    tf AS (SELECT token, count(*) AS freq FROM tok WHERE length(token) > 0
           GROUP BY token),
    ranked AS (
      SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rnk
      FROM tf)
    SELECT round(regr_slope(ln(CAST(freq AS DOUBLE)),
                            ln(CAST(rnk AS DOUBLE))), 4) AS zipf_slope,
           round(regr_intercept(ln(CAST(freq AS DOUBLE)),
                                ln(CAST(rnk AS DOUBLE))), 4) AS zipf_intercept,
           round(regr_r2(ln(CAST(freq AS DOUBLE)),
                         ln(CAST(rnk AS DOUBLE))), 4) AS r2,
           CAST(count(*) AS BIGINT) AS n_ranks
    FROM ranked WHERE rnk <= 100
    """


@register("docs_zipf_fit", _ZIPF_SQL)
def docs_zipf_fit(spark, sf_dir):
    """Zipf fit of the vocabulary head: OLS slope/intercept/r² of ln(freq)
    on ln(rank) over the top-100 tokens — the corpus-health diagnostic
    (natural text ≈ -1 slope; templated/synthetic corpora flatten). Shape:
    one partial-agg count to vocab rows, a distributed top-k
    (TakeOrderedAndProject — never a full vocab sort) down to 100 rows,
    rank assigned by window only over those 100, then built-in regr_*
    aggregates (single reduce). Rank ties break on token so both engines
    rank identically."""
    d = T(spark, sf_dir, "documents")
    tok = S.tokens(d, None, "text", distinct=False)
    tf = tok.groupBy("token").agg(F.count("*").alias("freq"))
    head = tf.orderBy(F.desc("freq"), "token").limit(100)
    ranked = head.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.desc("freq"), "token"))
        .alias("rnk"),
    )
    y = F.log(F.col("freq").cast("double"))
    x = F.log(F.col("rnk").cast("double"))
    return ranked.agg(
        F.round(F.regr_slope(y, x), 4).alias("zipf_slope"),
        F.round(F.regr_intercept(y, x), 4).alias("zipf_intercept"),
        F.round(F.regr_r2(y, x), 4).alias("r2"),
        F.count("*").alias("n_ranks"),
    )


_ANOMALY_SQL = """
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT *, avg(n) OVER (PARTITION BY event_type) AS mu,
             stddev_samp(n) OVER (PARTITION BY event_type) AS sd
      FROM daily)
    SELECT event_type, day, n, round((n - mu) / sd, 4) AS zscore
    FROM stats
    WHERE abs((n - mu) / sd) >= 2.0
    """


@register("events_anomaly_zscore", _ANOMALY_SQL)
def events_anomaly_zscore(spark, sf_dir):
    """Volume-anomaly days per event type: z-score of the daily count
    against that type's own mean/stddev; |z| >= 2 flags the day (the CDC
    ops dashboard "did ingest spike/stall" check). Heavy lifting is one
    partial-agg count to (type, day) rows; the window statistics run over
    ~types×days rows, noise at any corpus scale."""
    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type")
    z = (F.col("n") - F.avg("n").over(w)) / F.stddev_samp("n").over(w)
    return (
        daily.withColumn("zscore", z)
        .filter(F.abs(F.col("zscore")) >= 2.0)
        .select("event_type", "day", "n", F.round("zscore", 4).alias("zscore"))
    )


_PMI_SQL = """
    WITH base AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    uni AS (
      SELECT unnest(toks) AS token FROM base),
    un AS (SELECT token, count(*) AS c FROM uni WHERE length(token) > 0
           GROUP BY token),
    tot AS (SELECT sum(c) AS n FROM un),
    bi AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1])) AS bigram
      FROM base WHERE len(toks) >= 2),
    bn AS (SELECT bigram, count(*) AS bc FROM bi GROUP BY bigram),
    btot AS (SELECT sum(bc) AS bn FROM bn),
    scored AS (
      SELECT b.bigram, CAST(b.bc AS BIGINT) AS n_bigram,
             ln((CAST(b.bc AS DOUBLE) / btot.bn)
                / ((CAST(a1.c AS DOUBLE) / tot.n)
                   * (CAST(a2.c AS DOUBLE) / tot.n))) AS pmi
      FROM bn b
      JOIN un a1 ON a1.token = split_part(b.bigram, ' ', 1)
      JOIN un a2 ON a2.token = split_part(b.bigram, ' ', 2)
      CROSS JOIN tot CROSS JOIN btot
      WHERE b.bc >= 5)
    SELECT bigram, n_bigram, round(pmi, 4) AS pmi
    FROM scored
    QUALIFY row_number() OVER (ORDER BY pmi DESC, bigram) <= 20
    """


@register("docs_bigram_pmi", _PMI_SQL)
def docs_bigram_pmi(spark, sf_dir):
    """Collocation mining: top-20 bigrams by pointwise mutual information
    (tokenizer-merge / phrase-vocabulary candidates). Bigrams come from a
    pure-JVM transform over the token array (sequence guarded to len>=2 —
    Spark's sequence(1, n<=0) DESCENDS rather than returning empty), then
    two partial-agg counts; the unigram table joins back twice on the
    bigram's parts (vocab-sized, AQE broadcasts); totals ride 1-row cross
    joins; final top-20 is a distributed TakeOrderedAndProject, not a
    global-window sort."""
    d = T(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    # unigram counts come from ALL non-empty docs (the len>=2 guard applies
    # only to the bigram build) — the oracle's `uni` CTE draws from `base`
    # unfiltered, and a 1-token doc must still count toward p(token)
    all_toks = d.select(toks.alias("toks"))
    base = all_toks.filter(F.size("toks") >= 2)
    un = (
        all_toks.select(F.explode("toks").alias("token"))
        .filter(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    tot = un.agg(F.sum("c").alias("n"))
    bi = base.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("toks"), i).alias("a"),
                    F.element_at(F.col("toks"), i + 1).alias("b"),
                ),
            )
        ).alias("bg")
    ).select("bg.a", "bg.b")
    bn = (
        bi.groupBy("a", "b").agg(F.count("*").alias("bc"))
        .filter(F.col("bc") >= 5)
    )
    btot_all = bi.agg(F.count("*").alias("bn"))
    un_a = un.select(F.col("token").alias("a"), F.col("c").alias("ca"))
    un_b = un.select(F.col("token").alias("b"), F.col("c").alias("cb"))
    scored = (
        bn.join(un_a, "a").join(un_b, "b")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot_all))
        .select(
            F.concat_ws(" ", "a", "b").alias("bigram"),
            F.col("bc").alias("n_bigram"),
            F.log(
                (F.col("bc").cast("double") / F.col("bn"))
                / (
                    (F.col("ca").cast("double") / F.col("n"))
                    * (F.col("cb").cast("double") / F.col("n"))
                )
            ).alias("pmi"),
        )
    )
    return (
        scored.orderBy(F.desc("pmi"), "bigram")
        .limit(20)
        .select("bigram", "n_bigram", F.round("pmi", 4).alias("pmi"))
    )


_RECRAWL_SQL = f"""
    WITH ev AS (
      SELECT url, warc_ts, seq
      FROM read_parquet('{_REPLAY_EVENTS}/*.parquet')
      WHERE {_COMMITTED_DML}),
    gaps AS (
      SELECT regexp_extract(url, '^https?://([^/]+)', 1) AS host,
             (epoch_us(warc_ts) - epoch_us(lag(warc_ts) OVER
               (PARTITION BY url ORDER BY warc_ts, seq))) / 1e6 AS gap_s
      FROM ev)
    SELECT host, CAST(count(gap_s) AS BIGINT) AS n_gaps,
           round(avg(gap_s), 4) AS avg_gap_s,
           round(quantile_cont(gap_s, 0.5), 4) AS p50_gap_s,
           round(max(gap_s), 4) AS max_gap_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY host
    """


@register("cdc_recrawl_interval", _RECRAWL_SQL)
def cdc_recrawl_interval(spark, sf_dir):
    """Per-host recrawl-interval statistics over the committed change log:
    the gap between consecutive changes of the same url (LSN order =
    (warc_ts, seq), the engine's native per-key ordering), aggregated to
    count/avg/p50/max seconds per host — the crawl-scheduling signal
    ("how fast does this site churn"). Shape at scale: ONE shuffle on url
    for the lag window (the same partitioning LWW already uses), then a
    partial-agg groupBy on the extracted host; percentiles run per host
    over already-windowed gap rows."""
    from .operators.decode import EVENTS_DDL, dml_events

    ev = spark.read.schema(EVENTS_DDL).parquet(_ensure_replay_events())
    committed = dml_events(
        ev.filter(F.col("op").isNotNull() & F.col("url").isNotNull()
                  & F.col("warc_ts").isNotNull())
    ).select("url", "warc_ts", "seq")
    w = Window.partitionBy("url").orderBy("warc_ts", "seq")
    gaps = committed.select(
        F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host"),
        (
            (F.unix_micros("warc_ts")
             - F.unix_micros(F.lag("warc_ts").over(w))) / F.lit(1e6)
        ).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy("host").agg(
        F.count("gap_s").alias("n_gaps"),
        F.round(F.avg("gap_s"), 4).alias("avg_gap_s"),
        F.round(F.expr("percentile(gap_s, 0.5)"), 4).alias("p50_gap_s"),
        F.round(F.max("gap_s"), 4).alias("max_gap_s"),
    )


# 5-gram window CTE shared by the cross-doc n-gram entries (dup share,
# corpus top-k): ONE spelling so the gram definition can never drift
# between the entries that must agree on it.
_FIVEGRAM_CTE = """base AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    g AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 4),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                         || ' ' || toks[i+3] || ' ' || toks[i+4])) AS gram
      FROM base WHERE len(toks) >= 5)"""

_DUP_NGRAM_SQL = f"""
    WITH {_FIVEGRAM_CTE},
    dupg AS (
      SELECT gram FROM (
        SELECT gram, count(DISTINCT doc_id) AS dfc FROM g GROUP BY gram)
      WHERE dfc >= 2),
    tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
            FROM g GROUP BY doc_id),
    dup AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup
            FROM g WHERE gram IN (SELECT gram FROM dupg) GROUP BY doc_id)
    SELECT t.doc_id, t.n_grams,
           COALESCE(d.n_dup, CAST(0 AS BIGINT)) AS n_dup,
           round(COALESCE(d.n_dup, 0)::DOUBLE / t.n_grams, 4) AS dup_share
    FROM tot t LEFT JOIN dup d USING (doc_id)
    """


@register("docs_dup_ngram_share", _DUP_NGRAM_SQL)
def docs_dup_ngram_share(spark, sf_dir):
    """Cross-document duplicated-5-gram share per doc: the fraction of a
    document's 5-gram windows whose gram appears in >= 2 DISTINCT documents
    — the MassiveText/Gopher "duplicate n-grams across documents" boilerplate
    signal, complementing docs_repetition_stats (within-doc). Shape at
    scale: explode is O(tokens); document frequency is two-phase
    (dropDuplicates(doc, gram) partial-agg, then count per gram — never
    countDistinct state on the driver); the dup-gram membership check is a
    left-semi equi-join on gram (hot boilerplate grams are exactly what AQE
    skew-join splits); both per-doc counts are partial-agg groupBys."""
    n = 5
    d = T(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    base = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= n)
    gram_of = lambda i: F.concat_ws(
        " ", *[F.element_at(F.col("toks"), i + k) for k in range(n)]
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.transform(F.sequence(F.lit(1), F.size("toks") - (n - 1)), gram_of)
        ).alias("gram"),
    )
    dupg = (
        grams.dropDuplicates(["doc_id", "gram"])
        .groupBy("gram")
        .agg(F.count("*").alias("dfc"))
        .filter(F.col("dfc") >= 2)
        .select("gram")
    )
    tot = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    dup = (
        grams.join(dupg, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup"))
    )
    return tot.join(dup, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce(F.col("n_dup"), F.lit(0).cast("long")).alias("n_dup"),
        F.round(
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("double")
            / F.col("n_grams"),
            4,
        ).alias("dup_share"),
    )


_MIX_SQL = """
    WITH by_lang AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY source, lang),
    per_src AS (
      SELECT source,
             CAST(sum(c) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_langs,
             sum(c * log2(c))::DOUBLE AS c_log,
             CAST(sum(chars) AS BIGINT) AS w
      FROM by_lang GROUP BY source),
    tot AS (SELECT sum(w)::DOUBLE AS big_w, sum(pow(w::DOUBLE, 0.7)) AS big_w7
            FROM per_src)
    SELECT source, n_docs, n_langs,
           round(log2(n_docs::DOUBLE) - c_log / n_docs, 4) AS lang_entropy,
           round(w / big_w, 6) AS p_raw,
           round(pow(w::DOUBLE, 0.7) / big_w7, 6) AS p_temp,
           round((pow(w::DOUBLE, 0.7) / big_w7) / (w / big_w), 4) AS boost
    FROM per_src, tot
    """


@register("docs_source_mix_entropy", _MIX_SQL)
def docs_source_mix_entropy(spark, sf_dir):
    """Domain-mixture statistics per source: language-diversity entropy and
    temperature-based resampling weights (the XLM-R / DoReMi-style
    p_s ∝ w_s^alpha upweighting of small domains, alpha=0.7, weighted by
    total chars). Shape at scale: two cascaded partial-agg groupBys
    (source,lang → source); the corpus totals are a ONE-ROW aggregate
    broadcast back via crossJoin — no second pass over the data and no
    driver collect. Entropy uses the single-pass identity
    H = log2(n) − Σ c·log2(c) / n so no per-group second scan is needed."""
    alpha = 0.7
    by_lang = (
        T(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count("*").alias("c"), F.sum("n_chars").alias("chars"))
    )
    per_src = by_lang.groupBy("source").agg(
        F.sum("c").alias("n_docs"),
        F.count("*").alias("n_langs"),
        F.sum(F.col("c") * F.log2("c")).alias("c_log"),
        F.sum("chars").alias("w"),
    )
    tot = per_src.agg(
        F.sum(F.col("w").cast("double")).alias("big_w"),
        F.sum(F.pow(F.col("w").cast("double"), F.lit(alpha))).alias("big_w7"),
    )
    w7 = F.pow(F.col("w").cast("double"), F.lit(alpha))
    p_raw = F.col("w").cast("double") / F.col("big_w")
    p_temp = w7 / F.col("big_w7")
    return per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_langs",
        F.round(
            F.log2(F.col("n_docs").cast("double"))
            - F.col("c_log") / F.col("n_docs"),
            4,
        ).alias("lang_entropy"),
        F.round(p_raw, 6).alias("p_raw"),
        F.round(p_temp, 6).alias("p_temp"),
        F.round(p_temp / p_raw, 4).alias("boost"),
    )


_DDL_TIMELINE_SQL = f"""
    SELECT schema_ver,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
           min(seq) AS first_seq, max(seq) AS last_seq,
           min(warc_ts) AS first_ts, max(warc_ts) AS last_ts
    FROM read_parquet('{_REPLAY_EVENTS}/*.parquet')
    WHERE op IS NOT NULL AND op <> 'ddl' AND NOT rolled_back
    GROUP BY schema_ver
    """


@register("cdc_ddl_timeline", _DDL_TIMELINE_SQL)
def cdc_ddl_timeline(spark, sf_dir):
    """Dictionary-version timeline over the committed replay log: for each
    schema_ver the DML volume, distinct-key reach, and the seq/ts span the
    version was live — the engine-side view of the reference's schema
    version tracking (SURVEY.md §2.9; DDLs bump schema_ver in-log exactly
    like the reference replays dictionary changes in SCN order). Shape at
    scale: one partial-agg groupBy on a handful of versions; the distinct
    url count is Spark's standard two-phase distinct aggregate (shuffle on
    (ver,url), never driver state); the scan is narrow — seq/warc_ts/url/
    schema_ver plus filter columns only, payloads pruned."""
    from .operators.decode import EVENTS_DDL, dml_events

    ev = spark.read.schema(EVENTS_DDL).parquet(_ensure_replay_events())
    committed = dml_events(ev.filter(F.col("op").isNotNull()))
    return committed.groupBy("schema_ver").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("url").alias("n_urls"),
        F.min("seq").alias("first_seq"),
        F.max("seq").alias("last_seq"),
        F.min("warc_ts").alias("first_ts"),
        F.max("warc_ts").alias("last_ts"),
    )


_CHANGED_COLS_SQL = f"""
    WITH u AS (
      SELECT url, text, lang,
             unnest(map_entries(before), recursive := true)
      FROM read_parquet('{_REPLAY_EVENTS}/*.parquet')
      WHERE op = 'u' AND NOT rolled_back AND before IS NOT NULL)
    SELECT key AS col_name,
           CAST(count(*) AS BIGINT) AS n_before,
           CAST(sum(CASE WHEN decode(value) IS DISTINCT FROM
                              (CASE key WHEN 'text' THEN text
                                        WHEN 'lang' THEN lang
                                        WHEN 'url'  THEN url END)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
           round(sum(CASE WHEN decode(value) IS DISTINCT FROM
                               (CASE key WHEN 'text' THEN text
                                         WHEN 'lang' THEN lang
                                         WHEN 'url'  THEN url END)
                          THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
             AS changed_share
    FROM u GROUP BY key
    """


@register("cdc_changed_columns", _CHANGED_COLS_SQL)
def cdc_changed_columns(spark, sf_dir):
    """Before-image diffing (P5): for every update's undo-vector column,
    did the value actually change? The reference pairs undo (before) and
    redo (after) vectors per column (SURVEY.md §2.2 P5 / §2.3 J1); this is
    the corpus-level roll-up — per column: how many updates carried a
    before-image and how many were real changes vs no-op writes. Shape at
    scale: explode(before) is O(changed columns), the comparison is a pure
    JVM expression against the same row's after-value (no join — undo and
    redo ride one row by construction), one partial-agg groupBy on a
    bounded key space (column names)."""
    from .operators.decode import EVENTS_DDL

    ev = spark.read.schema(EVENTS_DDL).parquet(_ensure_replay_events())
    upd = ev.filter(
        (F.col("op") == "u") & (~F.col("rolled_back")) & F.col("before").isNotNull()
    )
    e = upd.select(
        "url", "text", "lang", F.explode("before").alias("col_name", "before_val")
    )
    new_val = (
        F.when(F.col("col_name") == "text", F.col("text"))
        .when(F.col("col_name") == "lang", F.col("lang"))
        .when(F.col("col_name") == "url", F.col("url"))
    )
    changed = (~F.decode("before_val", "UTF-8").eqNullSafe(new_val)).cast("long")
    return e.groupBy("col_name").agg(
        F.count("*").alias("n_before"),
        F.sum(changed).alias("n_changed"),
        F.round(F.sum(changed).cast("double") / F.count("*"), 4).alias(
            "changed_share"
        ),
    )


_TEMPLATE_SQL = """
    WITH base AS (
      SELECT doc_id,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    p AS (
      SELECT doc_id, array_to_string(toks[1:3], ' ') AS prefix
      FROM base WHERE len(toks) >= 3)
    SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs,
           min(doc_id) AS min_doc_id
    FROM p GROUP BY prefix HAVING count(*) >= 2
    """


@register("docs_template_prefix_dups", _TEMPLATE_SQL)
def docs_template_prefix_dups(spark, sf_dir):
    """Boilerplate-template detection: documents sharing an identical
    3-token prefix (scraped pages stamped from one template open
    identically — cookie banners, nav headers). Prefix length is the
    sensitivity dial; 3 suits the synthetic corpus' vocabulary. Shape at
    scale: the prefix is a pure JVM expression (no explode — O(1) per doc,
    not O(tokens)), one partial-agg groupBy on the prefix; hot template
    prefixes are exactly the skewed keys AQE skew-join/agg splitting
    handles."""
    d = T(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    base = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 3)
    return (
        base.select("doc_id", F.concat_ws(" ", F.slice("toks", 1, 3)).alias("prefix"))
        .groupBy("prefix")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("n_docs") >= 2)
    )


_SHARED_SPAN_SQL = """
    WITH base AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    g AS (
      SELECT doc_id,
             unnest(generate_series(1, len(toks) - 9)) AS pos,
             unnest(list_transform(generate_series(1, len(toks) - 9),
                    i -> array_to_string(toks[i:i+9], ' '))) AS gram
      FROM base WHERE len(toks) >= 10),
    ok AS (
      SELECT gram FROM (
        SELECT gram, count(DISTINCT doc_id) AS dfc FROM g GROUP BY gram)
      WHERE dfc BETWEEN 2 AND 64),
    gg AS (SELECT * FROM g WHERE gram IN (SELECT gram FROM ok)),
    pairs AS (
      SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa,
             a.pos - b.pos AS diag
      FROM gg a JOIN gg b USING (gram) WHERE a.doc_id < b.doc_id),
    runs AS (
      SELECT da, db, diag,
             pa - row_number() OVER (PARTITION BY da, db, diag
                                     ORDER BY pa) AS grp
      FROM pairs),
    rl AS (
      SELECT da, db, CAST(count(*) AS BIGINT) AS run_len
      FROM runs GROUP BY da, db, diag, grp)
    SELECT da AS doc_a, db AS doc_b,
           CAST(sum(run_len) AS BIGINT) AS n_shared_grams,
           CAST(max(run_len) + 9 AS BIGINT) AS longest_span_tokens
    FROM rl GROUP BY da, db
    """


@register("docs_shared_span_dups", _SHARED_SPAN_SQL)
def docs_shared_span_dups(spark, sf_dir):
    """ExactSubstr-style duplicated-span detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for every
    candidate document pair, the LONGEST exactly-shared token run and the
    total count of shared 10-gram windows — the span-level complement of
    the set-level near-dup family (MinHash/SimHash/Jaccard). Matching
    10-gram positions extend to maximal runs via islands detection on the
    position diagonal (pa − pb): consecutive pa within one (pair, diag)
    group form one duplicated span of pa-run + 9 tokens. Shape at scale:
    seed grams are document-frequency-capped (DF∈[2,64] — the hot-gram
    quadratic guard shared with docs_ngram_jaccard_near_dup); the
    candidate join is an equi-join on gram; islands detection is ONE
    window shuffle keyed (doc_a, doc_b, diag) over match rows only —
    never all-pairs, never a suffix array in driver memory."""
    k = 10
    d = T(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    base = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= k)
    # the gram VALUE never reaches the output — only equality matters — so
    # Spark keys on xxhash64 over the k tokens directly (no string concat,
    # an 8-byte shuffle/join key) while the DuckDB twin joins raw strings;
    # a 64-bit collision would flip the value hash and fail the gate.
    gram_of = lambda i: F.xxhash64(
        *[F.element_at(F.col("toks"), i + j) for j in range(k)]
    )
    grams = base.select(
        "doc_id",
        F.posexplode(
            F.transform(F.sequence(F.lit(1), F.size("toks") - (k - 1)), gram_of)
        ).alias("pos", "gram"),
    )
    seeds = (
        grams.dropDuplicates(["doc_id", "gram"])
        .groupBy("gram")
        .agg(F.count("*").alias("dfc"))
        .filter(F.col("dfc").between(2, 64))
        .select("gram")
    )
    gg = grams.join(seeds, "gram", "left_semi")
    a, b = gg.alias("a"), gg.alias("b")
    pairs = a.join(b, "gram").filter(F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("da"),
        F.col("b.doc_id").alias("db"),
        F.col("a.pos").alias("pa"),
        (F.col("a.pos") - F.col("b.pos")).alias("diag"),
    )
    w = Window.partitionBy("da", "db", "diag").orderBy("pa")
    runs = pairs.select(
        "da", "db", "diag", (F.col("pa") - F.row_number().over(w)).alias("grp")
    )
    rl = runs.groupBy("da", "db", "diag", "grp").agg(
        F.count("*").alias("run_len")
    )
    return rl.groupBy("da", "db").agg(
        F.sum("run_len").alias("n_shared_grams"),
        (F.max("run_len") + (k - 1)).alias("longest_span_tokens"),
    ).select(
        F.col("da").alias("doc_a"),
        F.col("db").alias("doc_b"),
        "n_shared_grams",
        "longest_span_tokens",
    )


# ExactSubstr REMOVAL twin: the DuckDB side replays the identical
# first-occurrence rule over raw string grams (the Spark side keys on
# xxhash64 — see the helper's collision caveat), covers pos..pos+k-1 of
# every non-first window, anti-joins tokens against the coverage set, and
# rebuilds each doc with an ORDER BY string_agg. Parallel unnests in one
# SELECT zip positionally in DuckDB (the tok CTE relies on it).
_EXACT_SUBSTR_K = 10
_EXACT_SUBSTR_SQL = f"""
    WITH base AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    sized AS (SELECT doc_id, toks, len(toks) AS n FROM base),
    g AS (
      SELECT doc_id,
             unnest(generate_series(1, n - {_EXACT_SUBSTR_K - 1})) AS pos,
             unnest(list_transform(
               generate_series(1, n - {_EXACT_SUBSTR_K - 1}),
               i -> array_to_string(toks[i:i + {_EXACT_SUBSTR_K - 1}], ' ')))
               AS gram
      FROM sized WHERE n >= {_EXACT_SUBSTR_K}),
    flagged AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY gram
                                ORDER BY doc_id, pos) AS rn
      FROM g),
    cov AS (
      SELECT DISTINCT doc_id,
             unnest(generate_series(pos, pos + {_EXACT_SUBSTR_K - 1})) AS tpos
      FROM flagged WHERE rn > 1),
    tok AS (
      SELECT doc_id, unnest(toks) AS tok,
             unnest(generate_series(1, n)) AS tpos
      FROM sized),
    kept AS (
      SELECT t.doc_id, t.tok, t.tpos
      FROM tok t LEFT JOIN cov c
        ON t.doc_id = c.doc_id AND t.tpos = c.tpos
      WHERE c.doc_id IS NULL),
    reb AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_tokens,
             string_agg(tok, ' ' ORDER BY tpos) AS clean
      FROM kept GROUP BY doc_id)
    SELECT s.doc_id, CAST(s.n AS BIGINT) AS n_tokens,
           coalesce(r.kept_tokens, 0) AS kept_tokens,
           round(1.0 - coalesce(r.kept_tokens, 0) / s.n, 4) AS removed_frac,
           md5(coalesce(r.clean, '')) AS clean_md5
    FROM sized s LEFT JOIN reb r USING (doc_id)
    """


@register("docs_exact_substr_removal", _EXACT_SUBSTR_SQL)
def docs_exact_substr_removal(spark, sf_dir):
    """ExactSubstr dedup with span REMOVAL and document reconstruction (Lee
    et al. 2022): any 10-token window occurring more than once in the corpus
    survives only at its globally first (doc_id, pos) occurrence; covered
    tokens of every other occurrence are cut and each document is rebuilt
    from the survivors — the paper's actual corpus rewrite, completing the
    span family (docs_shared_span_dups detects, this removes). clean_md5
    value-hashes the rebuilt text. Shape at scale: see
    functions/text.exact_substr_removal — linear in corpus tokens, one
    gram-hash groupBy + anti-join, never pairwise."""
    d = T(spark, sf_dir, "documents")
    return TXT.exact_substr_removal(d, "doc_id", "text", k=_EXACT_SUBSTR_K)


_MINHASH_CALIB_SQL = f"""
    WITH {_MINHASH_CAND_TMPL.format(id_cap=1000)},
    {_MINHASH_INTER_CTES},
    est AS (
      SELECT c.a, c.b,
             ((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END)
            + (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END)
            + (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END)
            + (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END)
            + (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END)
            + (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END)
            + (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END)
            + (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END)) / 8.0 AS est_j
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.a
      JOIN sig sb ON sb.doc_id = c.b)
    SELECT e.a, e.b,
           round(e.est_j, 4) AS est_jaccard,
           round(i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter), 4) AS jaccard,
           round(abs(e.est_j
                     - i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter)), 4)
             AS abs_err
    FROM est e
    JOIN inter i ON i.a = e.a AND i.b = e.b
    JOIN sizes sa ON sa.doc_id = e.a
    JOIN sizes sb ON sb.doc_id = e.b
    """


def _minhash_calib_pairs(spark, sf_dir):
    """The Spark side of ``_MINHASH_CAND_TMPL.format(id_cap=1000)``: the
    documents with doc_id < 1000, their 8-hash signatures, and the
    band-collision candidate pairs (a, b) with a < b."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    tok = S.tokens(d, "doc_id", "text", distinct=False)
    sig = S.minhash_signature(tok, "doc_id", n_hashes=8)
    cand = (
        S.minhash_bands(sig, "doc_id", n_hashes=8, band_size=4)
        .alias("l")
        .join(
            S.minhash_bands(sig, "doc_id", n_hashes=8, band_size=4).alias("r"),
            ["band_id", "band_hash"],
        )
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
    )
    return d, sig, cand


@register("docs_minhash_est_vs_exact", _MINHASH_CALIB_SQL)
def docs_minhash_est_vs_exact(spark, sf_dir):
    """MinHash calibration: for every LSH candidate pair, the signature's
    Jaccard ESTIMATE (matching components / k) against the EXACT token-set
    Jaccard — the diagnostic a pipeline reads to size its signature (k) and
    band layout before trusting estimate-thresholded dedup at scale. Shape:
    the signature is one partial-agg groupBy (signatures are computed once
    and reused for both banding and estimation); the estimate join touches
    candidates only (two broadcast-or-shuffle equi-joins on doc id); the
    exact pass is the shared candidates-only Jaccard kernel — never
    all-pairs. Calibration is a sampled diagnostic by definition, so it runs
    on a TIGHTER id-range than docs_jaccard_verified_dups (doc_id < 1000):
    the estimate-error distribution converges long before the full
    candidate set is scored."""
    d, sig, cand = _minhash_calib_pairs(spark, sf_dir)
    matches = sum(
        F.when(F.col(f"sa.h{k}") == F.col(f"sb.h{k}"), 1).otherwise(0)
        for k in range(8)
    )
    est = (
        cand.join(sig.alias("sa"), F.col("a") == F.col("sa.doc_id"))
        .join(sig.alias("sb"), F.col("b") == F.col("sb.doc_id"))
        .select("a", "b", (matches / F.lit(8.0)).alias("est_j"))
    )
    exact = S.jaccard_pairs(d, cand, "doc_id", "text").select(
        "a", "b", F.col("jaccard").alias("exact_j")
    )
    return est.join(exact, ["a", "b"]).select(
        "a",
        "b",
        F.round("est_j", 4).alias("est_jaccard"),
        F.round("exact_j", 4).alias("jaccard"),
        F.round(F.abs(F.col("est_j") - F.col("exact_j")), 4).alias("abs_err"),
    )


# b-bit MinHash (Li & König 2010): store ONE parity bit per hash instead of
# the full value and estimate J = 2·A − 1 from the bit-agreement rate A.
# The parity spelling ("last md5 hex digit is odd") is IN-list identical on
# both engines; estimates are exact multiples of 1/8, so no FP drift.
_ODD_HEX = "('1','3','5','7','9','b','d','f')"


def _bit_sql(side: str, k: int) -> str:
    return f"(substr({side}.h{k}, 32, 1) IN {_ODD_HEX})"


_MINHASH_BBIT_SQL = f"""
    WITH {_MINHASH_CAND_TMPL.format(id_cap=1000)},
    {_MINHASH_INTER_CTES},
    est AS (
      SELECT c.a, c.b,
             ({" + ".join(f"(CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END)" for k in range(8))})
               / 8.0 AS est_full,
             ({" + ".join(f"(CASE WHEN {_bit_sql('sa', k)} = {_bit_sql('sb', k)} THEN 1 ELSE 0 END)" for k in range(8))})
               / 8.0 AS agree1
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.a
      JOIN sig sb ON sb.doc_id = c.b)
    SELECT e.a, e.b,
           round(e.est_full, 4) AS est_jaccard,
           round(2 * e.agree1 - 1, 4) AS est1_jaccard,
           round(i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter), 4) AS jaccard,
           round(abs(e.est_full
                     - i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter)), 4)
             AS abs_err_full,
           round(abs((2 * e.agree1 - 1)
                     - i.n_inter * 1.0 / (sa.n + sb.n - i.n_inter)), 4)
             AS abs_err_1bit
    FROM est e
    JOIN inter i ON i.a = e.a AND i.b = e.b
    JOIN sizes sa ON sa.doc_id = e.a
    JOIN sizes sb ON sb.doc_id = e.b
    """


@register("docs_minhash_bbit_calib", _MINHASH_BBIT_SQL)
def docs_minhash_bbit_calib(spark, sf_dir):
    """b-bit MinHash calibration (Li & König 2010, b=1): per candidate pair,
    the 1-bit-signature Jaccard estimate 2·A−1 (A = parity-bit agreement)
    next to the full-hash estimate and the exact token-set Jaccard — the
    evidence for cutting signature memory 64× (1 bit vs 8 hex bytes per
    hash) at 10^10 documents, where the signature TABLE is the dominant
    state. The parity bit is the low bit of the last md5 hex digit,
    spelled as the same IN-list on both engines; both estimators are exact
    multiples of 1/8 so no FP drift enters before rounding. Shape: reuses
    the one partial-agg signature and the candidates-only exact kernel —
    the extra cost over docs_minhash_est_vs_exact is 8 boolean compares
    per pair."""
    d, sig, cand = _minhash_calib_pairs(spark, sf_dir)
    odd = list("13579bdf")
    bit = lambda side, k: F.substring(F.col(f"{side}.h{k}"), 32, 1).isin(odd)
    matches_full = sum(
        F.when(F.col(f"sa.h{k}") == F.col(f"sb.h{k}"), 1).otherwise(0)
        for k in range(8)
    )
    matches_1bit = sum(
        F.when(bit("sa", k) == bit("sb", k), 1).otherwise(0) for k in range(8)
    )
    est = (
        cand.join(sig.alias("sa"), F.col("a") == F.col("sa.doc_id"))
        .join(sig.alias("sb"), F.col("b") == F.col("sb.doc_id"))
        .select(
            "a", "b",
            (matches_full / F.lit(8.0)).alias("est_full"),
            (matches_1bit / F.lit(8.0)).alias("agree1"),
        )
    )
    exact = S.jaccard_pairs(d, cand, "doc_id", "text").select(
        "a", "b", F.col("jaccard").alias("exact_j")
    )
    est1 = F.lit(2.0) * F.col("agree1") - F.lit(1.0)
    return est.join(exact, ["a", "b"]).select(
        "a",
        "b",
        F.round("est_full", 4).alias("est_jaccard"),
        F.round(est1, 4).alias("est1_jaccard"),
        F.round("exact_j", 4).alias("jaccard"),
        F.round(F.abs(F.col("est_full") - F.col("exact_j")), 4).alias(
            "abs_err_full"
        ),
        F.round(F.abs(est1 - F.col("exact_j")), 4).alias("abs_err_1bit"),
    )


_SCD2_SQL = f"""
    WITH ev AS (
      SELECT url, warc_ts, seq, op
      FROM read_parquet('{_REPLAY_EVENTS}/*.parquet')
      WHERE {_COMMITTED_DML}),
    v AS (
      SELECT url, op, warc_ts AS valid_from,
             CAST(row_number() OVER w AS INT) AS version_no,
             lead(warc_ts) OVER w AS valid_to
      FROM ev WINDOW w AS (PARTITION BY url ORDER BY warc_ts, seq))
    SELECT url, version_no, op, valid_from, valid_to,
           (valid_to IS NULL AND op <> 'd') AS is_current,
           round((epoch_us(valid_to) - epoch_us(valid_from)) / 1e6, 4)
             AS dwell_s
    FROM v
    """


@register("cdc_scd2_history", _SCD2_SQL)
def cdc_scd2_history(spark, sf_dir):
    """SCD Type-2 history materialization over the committed change log: the
    canonical downstream consumer of a CDC feed (reference users replay
    OpenLogReplicator output into exactly this shape — WriterKafka consumers
    building slowly-changing-dimension tables). Each committed DML opens a
    validity interval [warc_ts, next change's warc_ts); the newest non-delete
    version is current; a delete closes history without opening a version.
    Shape at scale: ONE shuffle — row_number and lead share a single window
    spec over (url ORDER BY warc_ts, seq), the same per-key LSN ordering the
    LWW compactor already partitions by, so the exchange is reusable."""
    from .operators.decode import EVENTS_DDL, dml_events

    ev = spark.read.schema(EVENTS_DDL).parquet(_ensure_replay_events())
    committed = dml_events(
        ev.filter(F.col("op").isNotNull() & F.col("url").isNotNull()
                  & F.col("warc_ts").isNotNull())
    ).select("url", "warc_ts", "seq", "op")
    w = Window.partitionBy("url").orderBy("warc_ts", "seq")
    v = committed.select(
        "url",
        "op",
        F.col("warc_ts").alias("valid_from"),
        F.row_number().over(w).alias("version_no"),
        F.lead("warc_ts").over(w).alias("valid_to"),
    )
    return v.select(
        "url", "version_no", "op", "valid_from", "valid_to",
        (F.col("valid_to").isNull() & (F.col("op") != "d")).alias("is_current"),
        F.round(
            (F.unix_micros("valid_to") - F.unix_micros("valid_from"))
            / F.lit(1e6), 4
        ).alias("dwell_s"),
    )


_OOO_SQL = f"""
    WITH ev AS (
      SELECT url, warc_ts, seq
      FROM read_parquet('{_REPLAY_EVENTS}/*.parquet')
      WHERE {_COMMITTED_DML}),
    lag_us AS (
      SELECT epoch_us(max(warc_ts) OVER (PARTITION BY url ORDER BY seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             - epoch_us(warc_ts) AS late_us
      FROM ev),
    b AS (
      SELECT CASE WHEN late_us = 0 THEN 'a_on_time'
                  WHEN late_us <= 1000000 THEN 'b_within_1s'
                  WHEN late_us <= 60000000 THEN 'c_within_1m'
                  WHEN late_us <= 3600000000 THEN 'd_within_1h'
                  ELSE 'e_over_1h' END AS bucket
      FROM lag_us)
    SELECT bucket, CAST(count(*) AS BIGINT) AS n,
           round(count(*) / (sum(count(*)) OVER ()) , 4) AS share
    FROM b GROUP BY bucket
    """


@register("cdc_out_of_order_profile", _OOO_SQL)
def cdc_out_of_order_profile(spark, sf_dir):
    """Out-of-order arrival profile: how late each committed change arrives
    relative to the newest event time already seen for its key in LSN
    (seq) order — the distribution that sizes the engine's watermark delay
    and the reference's transaction-buffer depth (SURVEY §2.8 T4; reference
    keeps undo chains until the out-of-order window closes). Lateness is the
    running max(warc_ts) per url in arrival order minus the row's own
    warc_ts, in exact integer micros (no FP ambiguity at bucket edges).
    Shape at scale: ONE shuffle for the per-url running-max window (LWW's
    partitioning again), then a partial-agg count into 5 fixed buckets; the
    share window runs over the 5 aggregated rows only."""
    from .operators.decode import EVENTS_DDL, dml_events

    ev = spark.read.schema(EVENTS_DDL).parquet(_ensure_replay_events())
    committed = dml_events(
        ev.filter(F.col("op").isNotNull() & F.col("url").isNotNull()
                  & F.col("warc_ts").isNotNull())
    ).select("url", "warc_ts", "seq")
    w = (
        Window.partitionBy("url")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = committed.select(
        (
            F.unix_micros(F.max("warc_ts").over(w))
            - F.unix_micros("warc_ts")
        ).alias("late_us")
    )
    bucket = (
        F.when(F.col("late_us") == 0, "a_on_time")
        .when(F.col("late_us") <= 1_000_000, "b_within_1s")
        .when(F.col("late_us") <= 60_000_000, "c_within_1m")
        .when(F.col("late_us") <= 3_600_000_000, "d_within_1h")
        .otherwise("e_over_1h")
    )
    counts = late.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n")
    )
    return counts.select(
        "bucket",
        "n",
        F.round(F.col("n") / F.sum("n").over(Window.partitionBy()), 4)
        .alias("share"),
    )


_SEMDEDUP_SQL = f"""
    WITH {_IVF_INIT_CTES},
    {_IVF_ASSIGN_CTE},
    cells AS (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1),
    nbr AS (
      SELECT a.vec_id, b.vec_id AS other
      FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id <> b.vec_id
      WHERE round(CAST(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                              CAST(b.embedding AS DOUBLE[]))
                       AS DOUBLE), 4) >= 0.3),
    agg AS (
      SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dups,
             max(CASE WHEN other < vec_id THEN 1 ELSE 0 END) AS has_smaller
      FROM nbr GROUP BY vec_id)
    SELECT c.vec_id, CAST(c.cid AS INT) AS cid,
           COALESCE(a.n_dups, CAST(0 AS BIGINT)) AS n_dups,
           COALESCE(a.has_smaller, 0) = 0 AS keep
    FROM cells c LEFT JOIN agg a USING (vec_id)
    """


@register("docs_semdedup", _SEMDEDUP_SQL)
def docs_semdedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster embeddings
    with the pinned deterministic coarse quantizer (the IVF md5-smallest
    init, so the whole pipeline is SQL-derivable), then mark as duplicates
    vectors with a same-cluster neighbor at rounded-cosine >= 0.3, keeping
    the lowest vec_id per neighborhood (the paper keeps an arbitrary member;
    lowest-id is the deterministic stand-in). Threshold compares the ROUNDED
    cosine on both engines so FP summation order cannot flip membership.
    Shape at scale: assignment is the map-side Arrow argmin kernel (no
    shuffle); the pairwise pass is ONE shuffle on cid into a per-cell dense
    numpy gram matrix (semdedup_cells) — quadratic only WITHIN a cluster,
    and k is the dial that bounds cell size (k grows with the corpus,
    exactly how SemDeDup runs at scale; k=8 here matches the catalog's IVF
    quantizer). An expression-level cosine join was 4x slower here: 3 HOF
    aggregates/pair interpret ~dim lambdas each, vs one matmul per cell."""
    from .functions.similarity import centroid_topn_udf, semdedup_cells

    emb = T(spark, sf_dir, "embeddings")
    centroids = _pinned_centroids(emb)
    assign1 = centroid_topn_udf(centroids, 1)
    cells = emb.select(
        "vec_id", "embedding",
        F.element_at(assign1(F.col("embedding")), 1).alias("cid"),
    )
    return semdedup_cells(cells, threshold=0.3)


_BLOOM_DEDUP_SQL = """
    WITH inc AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
    cfp AS (
      SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
        AS fp FROM documents WHERE doc_id % 2 = 0)
    SELECT doc_id, lang FROM inc
    WHERE md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
      NOT IN (SELECT fp FROM cfp)
    """


@register("docs_bloom_incremental_dedup", _BLOOM_DEDUP_SQL)
def docs_bloom_incremental_dedup(spark, sf_dir):
    """Bloom-prefiltered EXACT incremental dedup (odd doc_ids = new batch,
    even = kept corpus): the corpus fingerprint set rides as a broadcast
    Bloom bitmap built with one mapInPandas pass (no shuffle); incoming rows
    that miss the filter are DEFINITELY new and skip the anti-join, only the
    bloom-positive remainder (true dups + ~0.9% FP at 10 bits/key, 5 hashes)
    pays the exact confirm join. Output is provably identical to the plain
    anti-join — the oracle IS that anti-join; false negatives are impossible
    because build and probe evaluate the same JVM hash expressions. At
    100 TB this turns the per-epoch dedup shuffle from O(corpus keys) into
    O(epoch novelty): the bitmap is ~12 GB for 10^10 keys vs a ~10× larger
    shuffled key set per epoch. tests/test_queries_catalog.py additionally
    pins that the prefilter really shrinks the confirm join's input."""
    from .functions.similarity import bloom_incremental_dedup

    d = T(spark, sf_dir, "documents")
    incoming = d.filter(F.col("doc_id") % 2 == 1)
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    out = bloom_incremental_dedup(incoming, corpus, text_col="text")
    return out.select("doc_id", "lang")


_SEQ_GAPS_SQL = f"""
    WITH ev AS (
      SELECT seq FROM read_parquet('{_REPLAY_EVENTS}/*.parquet')
      WHERE op IS NOT NULL AND op <> 'ddl' AND NOT rolled_back
        AND url IS NOT NULL),
    nxt AS (SELECT seq, lead(seq) OVER (ORDER BY seq) AS nxt FROM ev)
    SELECT seq + 1 AS gap_start, nxt - 1 AS gap_end,
           nxt - seq - 1 AS missing
    FROM nxt WHERE nxt > seq + 1
    """


@register("cdc_seq_gaps", _SEQ_GAPS_SQL)
def cdc_seq_gaps(spark, sf_dir):
    """Sequence-gap detection over the committed DML log: the contiguous
    LSN ranges consumed by rollbacks/DDL/untracked objects — the continuity
    monitor behind the reference's ordered archive drain (it sleeps and
    retries on a sequence gap rather than skip ahead, SURVEY §2.1 S3;
    Replicator.cpp:683-794). Spark's naive spelling is lead(seq) over a
    GLOBAL order — the empty-partition-key window that drags the whole log
    into one task. The scalable shape used here: a gap START is s+1 where
    s+1 is absent (LEFT ANTI self equi-join), a gap END is t-1 where t-1 is
    absent — both fully distributed over the log — and only the BOUNDARY
    rows (~the rollback count, orders of magnitude below the log) pay a
    row_number window to zip i-th start with i-th end (sorted starts and
    ends of disjoint gaps interleave strictly, so rank pairing is exact)."""
    from .operators.decode import EVENTS_DDL, dml_events

    ev = spark.read.schema(EVENTS_DDL).parquet(_ensure_replay_events())
    # distinct: duplicate seq values (possible in a merged multi-source log)
    # would emit duplicated boundary rows and mispair the rank zip below —
    # gap detection is a set property of the seq values
    s = dml_events(
        ev.filter(F.col("op").isNotNull() & F.col("url").isNotNull())
    ).select("seq").distinct()
    bounds = s.agg(
        F.min("seq").alias("_lo"), F.max("seq").alias("_hi")
    )
    starts = (
        s.select((F.col("seq") + 1).alias("gap_start"))
        .join(s.withColumnRenamed("seq", "gap_start"), "gap_start", "left_anti")
        .crossJoin(bounds)
        .filter(F.col("gap_start") < F.col("_hi"))
        .select("gap_start")
    )
    ends = (
        s.select((F.col("seq") - 1).alias("gap_end"))
        .join(s.withColumnRenamed("seq", "gap_end"), "gap_end", "left_anti")
        .crossJoin(bounds)
        .filter(F.col("gap_end") > F.col("_lo"))
        .select("gap_end")
    )
    rn_s = starts.withColumn(
        "_rn", F.row_number().over(Window.orderBy("gap_start")))
    rn_e = ends.withColumn(
        "_rn", F.row_number().over(Window.orderBy("gap_end")))
    return (
        rn_s.join(rn_e, "_rn")
        .select(
            "gap_start",
            "gap_end",
            (F.col("gap_end") - F.col("gap_start") + 1).alias("missing"),
        )
    )


# =========================================================================
# Round-3 late additions II: ANN quality measurement, skew/state profiling,
# CCNet perplexity bucketing, per-source dedup-impact reporting
# =========================================================================

_RECALL_K = 10

# The recall@k harness of the recall oracles: `q` (the 32-query evaluation
# set) with `exact` (its brute-force top-k), and the per-query hit count of
# `exact` against the `approx` CTE each oracle defines. After editing one,
# re-run every entry that uses it.
_RECALL_EXACT_CTES = f"""q AS (SELECT vec_id AS query_id, embedding AS qvec
          FROM embeddings WHERE vec_id < 32),
    exact AS (
      SELECT query_id, vec_id
      FROM q, embeddings
      WHERE vec_id <> query_id
      QUALIFY row_number() OVER (
        PARTITION BY query_id
        ORDER BY list_cosine_similarity(CAST(qvec AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[])) DESC,
                 vec_id) <= {_RECALL_K})"""
_RECALL_HITS_SQL = f"""hits AS (
      SELECT e.query_id, count(*) AS n
      FROM exact e JOIN approx a
        ON e.query_id = a.query_id AND e.vec_id = a.vec_id
      GROUP BY e.query_id)
    SELECT q.query_id,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
           round(coalesce(h.n, 0) / {_RECALL_K}.0, 4) AS recall
    FROM q LEFT JOIN hits h USING (query_id)"""

_RECALL_SQL = f"""
    WITH {_RECALL_EXACT_CTES},
    b AS ({{lsh_tables}}),
    qb AS (SELECT vec_id AS query_id, embedding AS qvec, table_id, bucket
           FROM b WHERE vec_id < 32),
    cand AS (
      SELECT DISTINCT qb.query_id, qb.qvec, b.vec_id, b.embedding
      FROM qb JOIN b ON qb.table_id = b.table_id AND qb.bucket = b.bucket
      WHERE b.vec_id <> qb.query_id),
    approx AS (
      SELECT query_id, vec_id
      FROM cand
      QUALIFY row_number() OVER (
        PARTITION BY query_id
        ORDER BY list_cosine_similarity(CAST(qvec AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])) DESC, vec_id)
        <= {_RECALL_K}),
    {_RECALL_HITS_SQL}
    """


@register("ann_recall_eval", _RECALL_SQL.format(lsh_tables=_lsh_tables_sql("embeddings")))
def ann_recall_eval(spark, sf_dir):
    """Recall@k of the LSH-bucketed ANN against the exact brute-force top-k
    — 'measure, don't guess': the acceptance gate that must run whenever
    the LSH spec (n_bits × n_tables) is re-dialed for a bigger corpus.
    Per-query recall keeps the hash surface wide (a macro average could
    mask a dead bucket). Shape at 100 TB: the exact side stays a broadcast
    of the (small, fixed) evaluation query set — recall evaluation never
    needs the full corpus as queries — and the approx side is the
    production equi-join path itself; the hit join is top-k×queries-sized.
    Reference analogue: the dump-diff harness measures the engine against
    ground truth rather than trusting the implementation (SURVEY §5)."""
    emb = T(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 32)
    approx = S.lsh_bucketed_topk(
        emb, q, k=_RECALL_K,
        n_bits=_LSH_BITS, n_tables=_LSH_TABLES, dim=_EMB_DIM,
    ).select("query_id", "vec_id")
    return _recall_per_query(emb, q, approx)


def _recall_per_query(emb: DataFrame, q: DataFrame, approx: DataFrame) -> DataFrame:
    """The Spark side of ``_RECALL_HITS_SQL``: per evaluation query, the
    hits of ``approx`` (query_id, vec_id) in the exact brute-force top-k
    and recall = hits / k (0 for a query with none)."""
    exact = S.brute_force_topk(emb, q, k=_RECALL_K).select("query_id", "vec_id")
    hits = (
        exact.join(approx, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        q.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(F.coalesce(F.col("n"), F.lit(0)) / float(_RECALL_K), 4)
            .alias("recall"),
        )
    )


_HOT_KEYS_SQL = """
    WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_changes
               FROM events GROUP BY user_id),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM events),
    top AS (SELECT * FROM c ORDER BY n_changes DESC, user_id LIMIT 20)
    SELECT user_id, n_changes,
           round(n_changes / CAST(t AS DOUBLE), 6) AS share,
           round(sum(n_changes) OVER (ORDER BY n_changes DESC, user_id
                                      ROWS UNBOUNDED PRECEDING)
                 / CAST(t AS DOUBLE), 6) AS cum_share
    FROM top, tot
    """


@register("cdc_hot_keys", _HOT_KEYS_SQL)
def cdc_hot_keys(spark, sf_dir):
    """Hot-key skew profile: the top-20 most-changed keys with their share
    and cumulative share of total change volume — the measurement that
    decides whether the LWW/merge shuffles need salting (operators/lww.py's
    salted path) before the skew becomes a straggler task. Shape at 100 TB:
    per-key counts are ONE partial-agg shuffle, the top-20 cut is
    TakeOrderedAndProject (never a global sort), the total rides a 1-row
    broadcast cross join, and the cumulative window runs on the 20-row
    result only — the single-partition window never sees the corpus."""
    ev = T(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("n_changes"))
    total = ev.agg(F.count("*").alias("_t"))
    top = counts.orderBy(F.desc("n_changes"), "user_id").limit(20)
    w = (
        Window.orderBy(F.desc("n_changes"), "user_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "user_id",
            "n_changes",
            F.round(F.col("n_changes") / F.col("_t").cast("double"), 6)
            .alias("share"),
            F.round(
                F.sum("n_changes").over(w) / F.col("_t").cast("double"), 6
            ).alias("cum_share"),
        )
    )


_TXN_SIZE_SQL = """
    WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           round(avg(n), 4) AS avg_versions,
           round(quantile_cont(n, 0.5), 4) AS p50,
           round(quantile_cont(n, 0.9), 4) AS p90,
           round(quantile_cont(n, 0.99), 4) AS p99,
           CAST(max(n) AS BIGINT) AS max_versions
    FROM c
    """


@register("cdc_txn_size_profile", _TXN_SIZE_SQL)
def cdc_txn_size_profile(spark, sf_dir):
    """Per-key version-count distribution (exact interpolated percentiles +
    max) — the state-sizing input for MoR compaction cadence and the
    stateful store's per-key memory budget (a p99/max gap this wide means
    a few keys dominate the delta log; see lake/merge.py dirty-bucket
    compaction). Shape at 100 TB: per-key counts partial-aggregate into
    one shuffle; the percentile pass runs over the (keys-sized, not
    events-sized) count column, swapping to approx_percentile when even
    keys don't fit — the oracle pins the exact form."""
    ev = T(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    return counts.agg(
        F.count("*").alias("n_keys"),
        F.round(F.avg("n"), 4).alias("avg_versions"),
        F.round(F.expr("percentile(n, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(n, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(n, 0.99)"), 4).alias("p99"),
        F.max("n").alias("max_versions"),
    )


# each label's mean embedding (`cent.centroid`, components 6 dp), shared
# with the silhouette oracle
_LABEL_CENTROID_CTES = """comp AS (
      SELECT label, pos, round(avg(val), 6) AS c
      FROM (SELECT label,
                   unnest(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                     AS val,
                   unnest(generate_series(1, len(embedding))) AS pos
            FROM embeddings)
      GROUP BY label, pos),
    cent AS (SELECT label, list(c ORDER BY pos) AS centroid
             FROM comp GROUP BY label)"""
_EMB_OUTLIERS_SQL = f"""
    WITH {_LABEL_CENTROID_CTES},
    scored AS (
      SELECT vec_id, e.label,
             list_cosine_similarity(
               list_transform(embedding, x -> CAST(x AS DOUBLE)), centroid)
               AS cosc
      FROM embeddings e JOIN cent USING (label))
    SELECT vec_id, label, round(CAST(cosc AS DOUBLE), 4) AS cos_to_centroid
    FROM scored
    QUALIFY row_number() OVER (ORDER BY cosc ASC, vec_id) <= 20
    """


@register("emb_outliers", _EMB_OUTLIERS_SQL)
def emb_outliers(spark, sf_dir):
    """Embedding outlier detection: the 20 vectors farthest (lowest cosine)
    from their own label's centroid — the quality filter that catches
    mislabeled / degenerate embeddings before they poison ANN buckets or
    SemDeDup cells. Centroid components are rounded to 6 dp on BOTH sides
    before the cosine so cross-engine FP summation order in the avg cannot
    flip the top-k threshold. Shape at 100 TB: centroids partial-aggregate
    per (label, pos) — labels×dim rows, tiny — re-assemble via
    array_sort(collect_list), broadcast-join back to the corpus (map-side
    cosine), and the global bottom-20 is TakeOrderedAndProject."""
    emb = T(spark, sf_dir, "embeddings")
    comp = (
        emb.select("label", F.posexplode("embedding").alias("pos0", "val"))
        .select(
            "label", (F.col("pos0") + 1).alias("pos"),
            F.col("val").cast("double").alias("val"),
        )
        .groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 6).alias("c"))
    )
    cent = comp.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("centroid")
    )
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scored = (
        emb.join(F.broadcast(cent), "label")
        .select("vec_id", "label", S.cosine(v, F.col("centroid")).alias("cosc"))
    )
    return (
        scored.orderBy("cosc", "vec_id").limit(20)
        .select("vec_id", "label",
                F.round(F.col("cosc"), 4).alias("cos_to_centroid"))
    )


_CCNET_BUCKET_SQL = """
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
      FROM documents),
    t AS (SELECT doc_id, lang, token FROM tok WHERE length(token) > 0),
    tf AS (SELECT token, count(*) AS tf FROM t GROUP BY token),
    tot AS (SELECT sum(tf) AS n FROM tf),
    ce AS (
      SELECT doc_id, any_value(lang) AS lang,
             round(avg(-ln(CAST(tf.tf AS DOUBLE) / CAST(tot.n AS DOUBLE))), 4)
               AS ce
      FROM t JOIN tf USING (token) CROSS JOIN tot
      GROUP BY doc_id),
    bucketed AS (
      SELECT lang, ce,
             CAST(ntile(3) OVER (PARTITION BY lang ORDER BY ce, doc_id)
               AS INTEGER) AS bucket
      FROM ce)
    SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(ce), 4) AS avg_ce
    FROM bucketed GROUP BY lang, bucket
    """


@register("docs_ccnet_bucket", _CCNET_BUCKET_SQL)
def docs_ccnet_bucket(spark, sf_dir):
    """CCNet-style perplexity bucketing: per-language head/middle/tail
    tertiles of the unigram-LM cross-entropy (CCNet cuts the corpus into
    thirds by KenLM perplexity and trains mostly on the head; the unigram
    LM is its SQL-checkable core — see docs_unigram_logprob). The
    cross-entropy is rounded to 4 dp BEFORE the ntile order (doc_id breaks
    the remaining ties) so cross-engine FP summation order cannot migrate
    a boundary doc between buckets. Shape at 100 TB: scoring is the
    unigram pipeline's partial-agg shuffles; the ntile windows partition
    by lang — per-language skew is real (one lang can dominate a crawl),
    so at production scale the ntile swaps to the two-pass quantile cut
    implemented in functions/sampling.quantile_buckets (per-lang
    percentile_approx thresholds broadcast back, bucket assigned as a
    map-side comparison — no window, no sort; plan-pinned in
    tests/test_sampling_decontam.py), which this catalog entry's oracle
    validates the exact form of."""
    d = T(spark, sf_dir, "documents")
    tok = S.tokens(d, "doc_id", "text", distinct=False, extra_cols=("lang",))
    tf = tok.groupBy("token").agg(F.count("*").alias("tf"))
    tot = tf.agg(F.sum("tf").alias("n"))
    ce = (
        tok.join(tf, "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.any_value(F.col("lang")).alias("lang"),
            F.round(
                F.avg(-F.log(F.col("tf").cast("double") / F.col("n").cast("double"))),
                4,
            ).alias("ce"),
        )
    )
    bucketed = ce.select(
        "lang", "ce",
        F.ntile(3).over(Window.partitionBy("lang").orderBy("ce", "doc_id"))
        .alias("bucket"),
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.count("*").alias("n_docs"), F.round(F.avg("ce"), 4).alias("avg_ce")
    )


_DEDUP_RATE_SQL = """
    WITH per AS (
      SELECT source,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
             count(*) AS n
      FROM documents GROUP BY source, fp)
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_unique,
           round(1.0 - count(*) / CAST(sum(n) AS DOUBLE), 4) AS dup_rate
    FROM per GROUP BY source
    """


@register("docs_dedup_rate_by_source", _DEDUP_RATE_SQL)
def docs_dedup_rate_by_source(spark, sf_dir):
    """Dedup-impact report per source: document count, distinct normalized
    fingerprints, and the duplicate rate — the per-crawl health metric a
    curation pipeline publishes after every ingest (which sources are
    recycling content). Shape at 100 TB: distinct-per-group is the
    two-phase spelling — partial-agg on (source, fp), then partial-agg on
    source — never a countDistinct (no per-group hash sets at the
    aggregator) and never a global distinct."""
    d = T(spark, sf_dir, "documents")
    per = (
        d.select("source", TXT.normalized_fingerprint(F.col("text")).alias("fp"))
        .groupBy("source", "fp")
        .agg(F.count("*").alias("n"))
    )
    return per.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.count("*").alias("n_unique"),
        F.round(F.lit(1.0) - F.count("*") / F.sum("n").cast("double"), 4)
        .alias("dup_rate"),
    )


_TRAIN_SPLIT_SQL = """
    WITH assigned AS (
      SELECT lang,
             CASE
               WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 100 < 90 THEN 'train'
               WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 100 < 95 THEN 'valid'
               ELSE 'test'
             END AS split
      FROM documents),
    tot AS (SELECT split, CAST(count(*) AS BIGINT) AS n_split
            FROM assigned GROUP BY split)
    SELECT a.split, lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(count(*) / CAST(any_value(n_split) AS DOUBLE), 4)
             AS lang_share
    FROM assigned a JOIN tot ON a.split = tot.split
    GROUP BY a.split, lang
    """


# End-to-end curation composite: quality gate → exact dedup (keep-min) →
# benchmark decontamination → deterministic split, reported as per-(split,
# lang) doc/token counts. Every stage reuses the SAME spelling its
# standalone entry pins (gopher thresholds, md5 keep rule, 4-token shingle
# overlap, md5-bucket split) so this entry proves the stages COMPOSE, not
# just pass alone. The gate is 4 of the 5 Gopher channels — the English-
# stopword minimum is omitted because the synthetic vocabulary contains no
# English stopwords at all, so including it passes ZERO documents and the
# composite would verify nothing downstream (the standalone
# docs_gopher_filter keeps the full 5-channel spec). DuckDB notes:
# SUM(BIGINT) is HUGEINT (CAST), and the contaminated set may be computed
# over all non-bench docs — NOT IN only drops candidates, so restricting
# the scan (as Spark does) is equivalent.
_TRAINING_SET_SQL = """
    WITH w AS (
      SELECT doc_id, lang, text,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS words
      FROM documents),
    m AS (
      SELECT doc_id, lang, text,
             CAST(len(words) AS BIGINT) AS n_words,
             list_sum(list_transform(words, x -> CAST(length(x) AS DOUBLE)))
               / greatest(CAST(len(words) AS DOUBLE), 1.0) AS mean_word_len,
             (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
              + CAST((length(text) - length(replace(text, '...', ''))) / 3
                     AS DOUBLE))
               / greatest(CAST(len(words) AS DOUBLE), 1.0) AS symbol_ratio,
             CAST(len(list_filter(words, x -> regexp_matches(x, '[a-z]')))
                  AS DOUBLE)
               / greatest(CAST(len(words) AS DOUBLE), 1.0) AS alpha_ratio
      FROM w),
    passed AS (
      SELECT doc_id, lang, text FROM m
      WHERE (n_words BETWEEN 50 AND 100000)
        AND (mean_word_len BETWEEN 3.0 AND 10.0)
        AND (symbol_ratio <= 0.1) AND (alpha_ratio >= 0.8)),
    keep AS (SELECT min(doc_id) AS doc_id FROM passed GROUP BY md5(text)),
    dedup AS (
      SELECT p.doc_id, p.lang, p.text
      FROM passed p JOIN keep k ON p.doc_id = k.doc_id),
    cand AS (SELECT * FROM dedup WHERE doc_id % 13 <> 0),
    arr AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS a
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(a, CAST(i AS INTEGER),
                                        CAST(i AS INTEGER) + 3), ' ') AS shingle
      FROM arr, unnest(generate_series(1, len(a) - 3)) AS t(i)),
    contaminated AS (
      SELECT DISTINCT s.doc_id
      FROM sh s
      JOIN (SELECT shingle FROM sh WHERE doc_id % 13 = 0) b USING (shingle)
      WHERE s.doc_id % 13 <> 0),
    clean AS (
      SELECT * FROM cand
      WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
    assigned AS (
      SELECT lang,
             CASE
               WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 100 < 90 THEN 'train'
               WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % 100 < 95 THEN 'valid'
               ELSE 'test'
             END AS split,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS nt
      FROM clean)
    SELECT split, lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS sum_tokens
    FROM assigned GROUP BY split, lang
    """


@register("docs_training_set", _TRAINING_SET_SQL)
def docs_training_set(spark, sf_dir):
    """The curation pipeline END TO END: quality gate (4 of 5 Gopher
    channels; the stopword minimum is unsatisfiable on the synthetic
    vocabulary — see the SQL comment) → exact dedup
    (keep smallest doc_id per content hash) → benchmark decontamination
    (drop anything sharing a 4-token shingle with the eval stand-in set)
    → deterministic md5-bucket split, reported per (split, lang) with doc
    and token counts. Composition is the point — each stage reuses the
    exact operator its standalone catalog entry verifies.

    Scale shape: the quality gate and split are map-side expressions; the
    dedup survivor set rides a two-phase partial agg + doc_id semijoin
    (payload never shuffled twice); the contamination match broadcasts the
    eval shingles; the final report is one partial-agg groupBy."""
    d = T(spark, sf_dir, "documents")
    r = TXT.gopher_rules(F.col("text"))
    gate = (
        r["ok_n_words"] & r["ok_mean_len"] & r["ok_symbols"] & r["ok_alpha"]
    )
    passed = d.select("doc_id", "lang", "text").filter(gate)
    keep = (
        passed.groupBy(F.md5(F.col("text").cast("binary")).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    deduped = passed.join(keep, "doc_id", "left_semi")
    cand = deduped.filter(F.col("doc_id") % 13 != 0)
    bench = d.filter(F.col("doc_id") % 13 == 0)
    contam = S.contamination_overlap(
        cand, bench, "doc_id", "text", n=4
    ).select("doc_id")
    clean = cand.join(contam, "doc_id", "left_anti")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    assigned = clean.select(
        "lang",
        F.when(bucket < 90, "train")
        .when(bucket < 95, "valid")
        .otherwise("test")
        .alias("split"),
        TXT.token_count(F.col("text")).alias("nt"),
    )
    return assigned.groupBy("split", "lang").agg(
        F.count("*").alias("n_docs"), F.sum("nt").alias("sum_tokens")
    )


@register("docs_train_split", _TRAIN_SPLIT_SQL)
def docs_train_split(spark, sf_dir):
    """Deterministic 90/5/5 train/valid/test split by content-independent
    key hash (md5 of doc_id — never random(): the split must be stable
    across re-runs, re-shards, and engines), reported as per-(split, lang)
    counts and language shares — the drift check that catches a split
    accidentally correlated with language or source. Shape at 100 TB: the
    split is a map-side column (zero shuffle to assign), the report is two
    partial-agg passes; the split-total join is splits-sized (3 rows,
    broadcast)."""
    d = T(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    assigned = d.select(
        "lang",
        F.when(bucket < 90, "train")
        .when(bucket < 95, "valid")
        .otherwise("test")
        .alias("split"),
    )
    tot = assigned.groupBy("split").agg(F.count("*").alias("n_split"))
    return (
        assigned.join(F.broadcast(tot), "split")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.count("*") / F.any_value(F.col("n_split")).cast("double"), 4
            ).alias("lang_share"),
        )
    )


_EMB_DIM_STATS_SQL = """
    WITH e AS (
      SELECT unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS val,
             unnest(generate_series(1, len(embedding))) AS pos
      FROM embeddings)
    SELECT pos,
           round(avg(val), 6) AS mean,
           round(stddev_samp(val), 6) AS std,
           round(min(val), 6) AS min_val,
           round(max(val), 6) AS max_val,
           CAST(count(*) FILTER (WHERE val = 0.0) AS BIGINT) AS n_zero
    FROM e GROUP BY pos
    """


@register("emb_dim_stats", _EMB_DIM_STATS_SQL)
def emb_dim_stats(spark, sf_dir):
    """Per-dimension embedding health stats (mean/std/min/max/zero count) —
    the check that catches dead or saturated dimensions before they waste
    ANN bucket entropy (a zero-variance dim contributes nothing to any
    sign-projection or PQ codebook). Shape at 100 TB: posexplode →
    partial-agg on pos (dim-sized key space, perfectly balanced); output is
    dim rows regardless of corpus size."""
    emb = T(spark, sf_dir, "embeddings")
    v = (
        emb.select(F.posexplode("embedding").alias("pos0", "val"))
        .select((F.col("pos0") + 1).cast("long").alias("pos"),
                F.col("val").cast("double").alias("val"))
    )
    return v.groupBy("pos").agg(
        F.round(F.avg("val"), 6).alias("mean"),
        F.round(F.stddev_samp("val"), 6).alias("std"),
        F.round(F.min("val"), 6).alias("min_val"),
        F.round(F.max("val"), 6).alias("max_val"),
        F.sum(F.when(F.col("val") == 0.0, 1).otherwise(0))
        .cast("long").alias("n_zero"),
    )


# Lloyd k-means, SQL-replayed: the DuckDB twin unrolls both iterations as
# CTEs and must follow the IDENTICAL trajectory — init = the k vectors with
# smallest md5(id); every assignment orders by the 6dp-ROUNDED cosine with a
# cid tiebreak (so sub-1e-6 cross-engine FP noise falls to the same
# deterministic tiebreak on both sides); every Lloyd mean is rounded 6dp in
# the aggregate (HALF_UP on both engines); empty cells keep their previous
# centroid (coalesce vs the Python-side new.get fallback).
_KMEANS_K, _KMEANS_ITERS = 4, 2


def _kmeans_iter_sql(prev: str, a: str, m: str, nxt: str) -> str:
    """One unrolled Lloyd iteration: assign to nearest (rounded) cosine
    centroid, per-(cid, pos) rounded mean, coalesce empty cells."""
    return f"""
    {a} AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.v), 6) DESC,
                          c.cid) AS rn
        FROM e CROSS JOIN {prev} c) WHERE rn = 1),
    {m} AS (
      SELECT cid, list(cv ORDER BY pos) AS v FROM (
        SELECT cid, pos, round(avg(val), 6) AS cv
        FROM (SELECT cid, unnest(v) AS val,
                     unnest(generate_series(1, len(v))) AS pos FROM {a})
        GROUP BY cid, pos) GROUP BY cid),
    {nxt} AS (
      SELECT i.cid, coalesce({m}.v, i.v) AS v
      FROM {prev} i LEFT JOIN {m} USING (cid))"""


# Shared CTE prefix: init + both Lloyd iterations ending at centroids `c2`
# (reused by emb_cluster_balanced_sample, the same way the IVF recall gates
# reuse the IVF assign CTE).
_KMEANS_PREFIX = f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    init AS (
      SELECT CAST(row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INTEGER)
               AS cid, v
      FROM e
      QUALIFY row_number() OVER (
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= {_KMEANS_K}),
    {_kmeans_iter_sql("init", "a1", "m1", "c1")},
    {_kmeans_iter_sql("c1", "a2", "m2", "c2")}"""


_KMEANS_SQL = f"""
    {_KMEANS_PREFIX},
    final AS (
      SELECT vec_id, cid, cos FROM (
        SELECT e.vec_id, c.cid,
               round(list_cosine_similarity(e.v, c.v), 6) AS cos,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.v), 6) DESC,
                          c.cid) AS rn
        FROM e CROSS JOIN c2 c) WHERE rn = 1)
    SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
           round(avg(cos), 4) AS avg_cos,
           round(min(cos), 4) AS min_cos
    FROM final GROUP BY cid
    """


@register("emb_kmeans_clusters", _KMEANS_SQL)
def emb_kmeans_clusters(spark, sf_dir):
    """Distributed Lloyd k-means over the embedding corpus (the clustering
    behind SemDeDup cells, IVF quantizers, and DCLM-style cluster-balanced
    sampling), value-checked against a DuckDB twin that REPLAYS the whole
    iterative fit as unrolled CTEs — init, both Lloyd iterations, and the
    final assignment all follow the identical rounded trajectory (the
    round_dp=6 dial in kmeans_fit/centroid_topn_udf; ties fall to the same
    smaller-cid rule on both engines). Shape at 100 TB: per iteration ONE
    corpus scan — assignment is a map-side Arrow kernel against the
    broadcast k×dim matrix (no join, no shuffle), means partial-aggregate on
    (cell, pos) (k×dim keys), and only the k×dim centroid matrix ever
    reaches the driver. The final report is a k-row aggregate. Reference
    analogue: none — training-data pipeline extension."""
    # kmeans_fit's contract: cache before the Lloyd iterations — each
    # iteration is one scan; without this the parquet read repeats per iter
    emb = _lc(T(spark, sf_dir, "embeddings"))
    cents = S.kmeans_fit(
        emb, k=_KMEANS_K, iters=_KMEANS_ITERS, round_dp=6
    )
    assign = S.centroid_topn_udf(cents, 1, round_dp=6)
    cdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)],
        "cid int, centroid array<double>",
    )
    scored = (
        emb.select(
            "vec_id", "embedding",
            F.element_at(assign(F.col("embedding")), 1).alias("cid"),
        )
        .join(F.broadcast(cdf), "cid")
        .select(
            "cid",
            F.round(
                S.cosine(F.col("embedding"), F.col("centroid")), 6
            ).alias("cos"),
        )
    )
    return scored.groupBy("cid").agg(
        F.count("*").alias("n_members"),
        F.round(F.avg("cos"), 4).alias("avg_cos"),
        F.round(F.min("cos"), 4).alias("min_cos"),
    )


_CBS_PER = 20
_CBS_SQL = f"""
    {_KMEANS_PREFIX},
    assigned AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.v, c.v), 6) DESC,
                          c.cid) AS rn
        FROM e CROSS JOIN c2 c) WHERE rn = 1)
    SELECT cid, vec_id, label, CAST(rk AS INTEGER) AS rk FROM (
      SELECT a.cid, a.vec_id, emb.label,
             row_number() OVER (
               PARTITION BY a.cid
               ORDER BY md5(CAST(a.vec_id AS VARCHAR)), a.vec_id) AS rk
      FROM assigned a JOIN embeddings emb USING (vec_id))
    WHERE rk <= {_CBS_PER}
    """


@register("emb_cluster_balanced_sample", _CBS_SQL)
def emb_cluster_balanced_sample(spark, sf_dir):
    """DCLM-style cluster-then-sample: fit k-means (same SQL-replayed
    trajectory as emb_kmeans_clusters), then draw a deterministic
    equal-quota sample per cluster — the md5-smallest vec_ids, i.e. a
    seedless uniform hash draw — so the training subset covers embedding
    space instead of letting dense regions dominate. Shape at 100 TB:
    assignment is the map-side kernel column; the per-cluster rank window
    partitions on cid, and in real cluster-balanced sampling k GROWS with
    the corpus (DCLM uses 10^4-10^5 clusters), so partitions stay bounded —
    the k=4 here is the test-scale dial, not the shape. Output is k×quota
    rows. Reference analogue: none — training-data pipeline extension."""
    emb = _lc(T(spark, sf_dir, "embeddings"))  # kmeans_fit cache contract
    cents = S.kmeans_fit(emb, k=_KMEANS_K, iters=_KMEANS_ITERS, round_dp=6)
    assign = S.centroid_topn_udf(cents, 1, round_dp=6)
    w = Window.partitionBy("cid").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        emb.select(
            F.element_at(assign(F.col("embedding")), 1).alias("cid"),
            "vec_id", "label",
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _CBS_PER)
        .select("cid", "vec_id", "label", "rk")
    )


_LEN_HIST_SQL = """
    SELECT lang,
           CAST(CASE WHEN n_chars <= 0 THEN 0
                     ELSE floor(ln(n_chars) / ln(2)) END AS BIGINT)
             AS log2_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang, log2_bucket
    """


@register("docs_length_histogram", _LEN_HIST_SQL)
def docs_length_histogram(spark, sf_dir):
    """Per-language log2-bucketed document-length histogram — the first
    profiling pass over any new crawl (length filters, truncation budgets
    and packing chunk sizes are all read off this shape). log2 buckets keep
    the output bounded (~60 rows per lang at any corpus size) and the
    whole query is a map-side bucket column + one partial-agg shuffle.
    floor(ln/ln 2) rather than a log2 builtin so Spark and DuckDB evaluate
    the identical IEEE expression at bucket boundaries."""
    d = T(spark, sf_dir, "documents")
    bucket = F.when(F.col("n_chars") <= 0, F.lit(0)).otherwise(
        F.floor(F.log(F.col("n_chars").cast("double")) / F.log(F.lit(2.0)))
    )
    return (
        d.select("lang", bucket.cast("long").alias("log2_bucket"), "n_chars")
        .groupBy("lang", "log2_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


_IVF_RECALL_SQL = f"""
    WITH {_IVF_INIT_CTES},
    {_IVF_ASSIGN_CTE},
    cells AS (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, embedding AS qvec, cid
      FROM assign WHERE vec_id < 32 AND rn <= 2),
    approx AS (
      SELECT query_id, vec_id
      FROM probes JOIN cells USING (cid)
      WHERE vec_id <> query_id
      QUALIFY row_number() OVER (
        PARTITION BY query_id
        ORDER BY list_cosine_similarity(CAST(qvec AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[])) DESC,
                 vec_id) <= {_RECALL_K}),
    {_RECALL_EXACT_CTES},
    {_RECALL_HITS_SQL}
    """


@register("ann_recall_eval_ivf", _IVF_RECALL_SQL)
def ann_recall_eval_ivf(spark, sf_dir):
    """Recall@k of the IVF path (md5-pinned coarse quantizer, nprobe=2)
    against the exact brute-force top-k — the IVF twin of ann_recall_eval:
    re-dialing k_cells/nprobe for a bigger corpus trades recall for probe
    cost, and this is the query that prices the trade. Same shape argument
    as the LSH twin: the exact side broadcasts only the fixed evaluation
    set; the approx side is the production cell equi-join."""
    from .functions.similarity import ivf_topk

    emb = T(spark, sf_dir, "embeddings")
    centroids = _pinned_centroids(emb)
    q = emb.filter(F.col("vec_id") < 32)
    approx = ivf_topk(emb, q, centroids, k=_RECALL_K, nprobe=2).select(
        "query_id", "vec_id"
    )
    return _recall_per_query(emb, q, approx)


_BIGRAM_LM_SQL = """
    WITH base AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                    i -> toks[i])) AS w1,
             unnest(list_transform(range(1, len(toks)),
                    i -> toks[i+1])) AS w2
      FROM base WHERE len(toks) >= 2),
    c12 AS (SELECT w1, w2, count(*) AS c FROM bi GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cw FROM c12 GROUP BY w1),
    vocab AS (SELECT count(DISTINCT w2) AS v FROM bi),
    scored AS (
      SELECT bi.doc_id,
             -ln((c12.c + 0.5) / (c1.cw + 0.5 * vocab.v)) AS lp
      FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vocab)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(lp), 4) AS bigram_cross_entropy
    FROM scored GROUP BY doc_id
    """


@register("docs_bigram_logprob", _BIGRAM_LM_SQL)
def docs_bigram_logprob(spark, sf_dir):
    """Bigram-LM cross-entropy per document with add-0.5 smoothing —
    completes the perplexity-filter family (unigram: docs_unigram_logprob;
    CCNet cut: docs_ccnet_bucket): p(w2|w1) = (c(w1 w2)+0.5)/(c(w1)+0.5·V),
    scored over each doc's own bigrams. The bigram model separates
    word-salad from fluent text far better than the unigram (same token
    multiset, different order ⇒ different score). Shape at 100 TB: bigram
    build is a pure-JVM transform over the token array; the two count
    tables partial-aggregate; the score join is (bigram-vocab × corpus) on
    (w1, w2) — AQE broadcasts when it fits — and V rides a 1-row cross
    join. Every doc bigram EXISTS in c12 by construction (fit on the
    corpus itself), so the join drops nothing."""
    d = T(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    base = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 2)
    bi = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("toks"), i).alias("w1"),
                    F.element_at(F.col("toks"), i + 1).alias("w2"),
                ),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    c12 = bi.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    c1 = c12.groupBy("w1").agg(F.sum("c").alias("cw"))
    vocab = bi.agg(F.countDistinct("w2").alias("v"))
    scored = (
        bi.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            (-F.log(
                (F.col("c") + F.lit(0.5))
                / (F.col("cw") + F.lit(0.5) * F.col("v"))
            )).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("lp"), 4).alias("bigram_cross_entropy"),
    )


_COS_HIST_SQL = f"""
    WITH b AS ({_lsh_tables_sql("embeddings")}),
    cand AS (
      SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
      FROM b l JOIN b r
        ON l.table_id = r.table_id AND l.bucket = r.bucket
       AND l.vec_id < r.vec_id),
    scored AS (
      SELECT list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                    CAST(eb.embedding AS DOUBLE[])) AS cos
      FROM cand JOIN embeddings ea ON cand.a = ea.vec_id
                JOIN embeddings eb ON cand.b = eb.vec_id)
    SELECT CAST(floor(cos * 20) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(cos), 4) AS avg_cosine
    FROM scored GROUP BY bucket
    """


@register("emb_pair_cosine_hist", _COS_HIST_SQL)
def emb_pair_cosine_hist(spark, sf_dir):
    """Cosine histogram (0.05-wide buckets) over the LSH candidate pairs —
    the threshold-picking query: a real near-dup corpus shows a bimodal
    histogram (unrelated mass near 0, duplicate mass near 1) and the valley
    is the dedup threshold; running it per crawl catches distribution
    drift before a fixed threshold silently changes recall. Shape at
    100 TB: candidates come from the production equi-join (never
    all-pairs), the cosine is a map-side expression, and the histogram is
    one partial-agg over ~40 bucket keys."""
    from .functions.similarity import cosine, lsh_candidate_pairs

    emb = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cand = lsh_candidate_pairs(
        emb, n_bits=_LSH_BITS, n_tables=_LSH_TABLES, dim=_EMB_DIM
    )
    ea = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    scored = (
        cand.join(ea, "a").join(eb, "b")
        .select(cosine(F.col("ea"), F.col("eb")).alias("cos"))
    )
    return (
        scored.select(F.floor(F.col("cos") * 20).cast("long").alias("bucket"),
                      "cos")
        .groupBy("bucket")
        .agg(F.count("*").alias("n_pairs"),
             F.round(F.avg("cos"), 4).alias("avg_cosine"))
    )


_MARKOV_SQL = """
    WITH seqd AS (
      SELECT user_id, event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM events),
    c AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n_transitions
          FROM seqd WHERE dst IS NOT NULL GROUP BY src, dst)
    SELECT src, dst, n_transitions,
           round(n_transitions /
                 CAST(sum(n_transitions) OVER (PARTITION BY src) AS DOUBLE), 4)
             AS prob
    FROM c
    """


@register("events_markov_transition", _MARKOV_SQL)
def events_markov_transition(spark, sf_dir):
    """First-order event-type transition matrix (per-user ordered chains,
    corpus-level probabilities) — the behavioral fingerprint behind funnel
    design and anomalous-sequence detection. Shape at 100 TB: the lead
    window reuses the engine's per-key (user_id → ts, event_id) exchange —
    the SAME partitioning LWW and sessionization shuffle on, so a shared
    scan pipelines them — then a partial-agg count; the probability
    normalization window runs over the types×types matrix (tiny)."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seqd = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    c = seqd.groupBy("src", "dst").agg(F.count("*").alias("n_transitions"))
    wsrc = Window.partitionBy("src")
    return c.select(
        "src", "dst", "n_transitions",
        F.round(
            F.col("n_transitions")
            / F.sum("n_transitions").over(wsrc).cast("double"), 4
        ).alias("prob"),
    )


_JSD_SQL = """
    WITH tok AS (
      SELECT source,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
      FROM documents),
    c AS (SELECT source, token, count(*) AS cnt FROM tok
          WHERE length(token) > 0 GROUP BY source, token),
    tot AS (SELECT source, sum(cnt) AS n FROM c GROUP BY source),
    p AS (SELECT c.source, token, cnt / CAST(n AS DOUBLE) AS p
          FROM c JOIN tot USING (source)),
    srcs AS (SELECT DISTINCT source FROM documents),
    pairs AS (SELECT a.source AS sa, b.source AS sb
              FROM srcs a, srcs b WHERE a.source < b.source),
    toks AS (
      SELECT DISTINCT sa, sb, token
      FROM pairs JOIN p ON p.source = sa OR p.source = sb),
    j AS (
      SELECT t.sa, t.sb, t.token,
             coalesce(pa.p, 0) AS pa, coalesce(pb.p, 0) AS pb
      FROM toks t
      LEFT JOIN p pa ON pa.source = t.sa AND pa.token = t.token
      LEFT JOIN p pb ON pb.source = t.sb AND pb.token = t.token)
    SELECT sa, sb,
           round(sum(
             CASE WHEN pa > 0 THEN 0.5 * pa * ln(pa / ((pa + pb) / 2)) ELSE 0 END
             + CASE WHEN pb > 0 THEN 0.5 * pb * ln(pb / ((pa + pb) / 2)) ELSE 0 END
           ), 4) AS jsd,
           CAST(count(*) AS BIGINT) AS n_union_tokens
    FROM j GROUP BY sa, sb
    """


@register("docs_source_jsd", _JSD_SQL)
def docs_source_jsd(spark, sf_dir):
    """Jensen–Shannon divergence between every source pair's token
    distribution — the data-mixing diagnostic that quantifies how much two
    crawl sources overlap before weights are assigned (DoReMi-style mixing
    reads exactly this signal; complements docs_source_mix_entropy, which
    is per-source not pairwise). Shape at 100 TB: per-(source, token)
    counts partial-aggregate to vocab×sources rows; everything after runs
    on that vocab-sized relation — the pair expansion is sources²-bounded
    (sources are few by definition), never corpus-sized."""
    d = T(spark, sf_dir, "documents")
    tok = S.tokens(d, None, "text", distinct=False, extra_cols=("source",))
    c = tok.groupBy("source", "token").agg(F.count("*").alias("cnt"))
    tot = c.groupBy("source").agg(F.sum("cnt").alias("n"))
    p = c.join(tot, "source").select(
        "source", "token", (F.col("cnt") / F.col("n").cast("double")).alias("p")
    )
    srcs = d.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("sa"))
        .crossJoin(srcs.select(F.col("source").alias("sb")))
        .filter(F.col("sa") < F.col("sb"))
    )
    toks = (
        pairs.join(
            p.select("source", "token"),
            (F.col("source") == F.col("sa")) | (F.col("source") == F.col("sb")),
        )
        .select("sa", "sb", "token")
        .distinct()
    )
    pa = p.select(F.col("source").alias("sa"), "token", F.col("p").alias("pa"))
    pb = p.select(F.col("source").alias("sb"), "token", F.col("p").alias("pb"))
    j = (
        toks.join(pa, ["sa", "token"], "left")
        .join(pb, ["sb", "token"], "left")
        .select(
            "sa", "sb",
            F.coalesce("pa", F.lit(0.0)).alias("pa"),
            F.coalesce("pb", F.lit(0.0)).alias("pb"),
        )
    )
    m = (F.col("pa") + F.col("pb")) / 2
    term = (
        F.when(F.col("pa") > 0, 0.5 * F.col("pa") * F.log(F.col("pa") / m))
        .otherwise(0.0)
        + F.when(F.col("pb") > 0, 0.5 * F.col("pb") * F.log(F.col("pb") / m))
        .otherwise(0.0)
    )
    return j.groupBy("sa", "sb").agg(
        F.round(F.sum(term), 4).alias("jsd"),
        F.count("*").alias("n_union_tokens"),
    )


_VALUE_DRIFT_SQL = """
    WITH w AS (
      SELECT event_type, date_trunc('week', ts) AS wk,
             CAST(CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000
                            AS HUGEINT) // count(*) AS BIGINT) AS BIGINT)
               AS mean_micro,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type, wk)
    SELECT event_type, wk, mean_micro,
           mean_micro - lag(mean_micro) OVER (PARTITION BY event_type
                                              ORDER BY wk) AS wow_delta_micro,
           n_events
    FROM w
    """


@register("cdc_value_drift", _VALUE_DRIFT_SQL)
def cdc_value_drift(spark, sf_dir):
    """Week-over-week mean-value drift per op type — the payload-level
    drift monitor beside events_anomaly_zscore's volume channel (a value
    distribution that walks while volume stays flat is the silent failure
    mode). Shape at 100 TB: one partial-agg shuffle to types×weeks rows;
    the lag window runs over that tiny relation only. The mean rides as
    EXACT integer micros (decimal sum → ×10⁶ → floor-div by count): a
    float avg straddled a 4 dp rounding midpoint at sf0.001 (mean exactly
    50.19125 — Spark's decimal HALF_UP said .1913, DuckDB's double round
    said .1912), and integer arithmetic is the only spelling both engines
    evaluate identically at midpoints. (Caveat pinned by the oracle: Spark
    `div` truncates while DuckDB `//` floors — identical here because
    `value` is non-negative; a signed metric would need a floor-div
    spelling on the Spark side too.)"""
    ev = T(spark, sf_dir, "events")
    mean_micro = F.expr(
        "CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 "
        "AS DECIMAL(38,0)) div count(*) AS BIGINT)"
    ).alias("mean_micro")
    w = ev.groupBy(
        "event_type", F.date_trunc("week", "ts").alias("wk")
    ).agg(mean_micro, F.count("*").alias("n_events"))
    lagw = Window.partitionBy("event_type").orderBy("wk")
    return w.select(
        "event_type", "wk", "mean_micro",
        (F.col("mean_micro") - F.lag("mean_micro").over(lagw))
        .alias("wow_delta_micro"),
        "n_events",
    )


_CROSS_SOURCE_SQL = f"""
    WITH pairs AS ({_simhash_sql()}),
    labeled AS (
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b
      FROM pairs
      JOIN documents da ON pairs.a = da.doc_id
      JOIN documents db ON pairs.b = db.doc_id)
    SELECT source_a, source_b,
           CAST(count(*) AS BIGINT) AS n_dup_pairs
    FROM labeled GROUP BY source_a, source_b
    """


@register("docs_cross_source_dups", _CROSS_SOURCE_SQL)
def docs_cross_source_dups(spark, sf_dir):
    """Cross-source duplication matrix: SimHash near-dup pairs rolled up by
    unordered source pair — the mirror-detection report (a heavy
    off-diagonal cell means source B is republishing source A, and one of
    them should be down-weighted or dropped before training). Shape at
    100 TB: the pair generation is the pigeonhole-blocked SimHash path
    (never all-pairs); the two doc_id→source joins are AQE-broadcastable
    lookups against a 2-column pruned scan; the rollup is sources²-bounded."""
    d = T(spark, sf_dir, "documents")
    pairs = S.simhash_near_dup_pairs(d, "doc_id", "text", max_hamming=3)
    src = d.select("doc_id", "source")
    labeled = (
        pairs.join(src.withColumnRenamed("doc_id", "a")
                   .withColumnRenamed("source", "sa"), "a")
        .join(src.withColumnRenamed("doc_id", "b")
              .withColumnRenamed("source", "sb"), "b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    return labeled.groupBy("source_a", "source_b").agg(
        F.count("*").alias("n_dup_pairs")
    )


# the hashed-bigram features and per-bucket log-ratio `lr` shared with
# docs_dsir_sample's oracle
_DSIR_LR_CTES = """base AS (
      SELECT doc_id, lang,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    bg AS (
      SELECT doc_id, lang = 'en' AS is_target,
             unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1])) AS bigram
      FROM base WHERE len(toks) >= 2),
    hashed AS (
      SELECT doc_id, is_target,
             CAST('0x' || substr(md5(bigram), 1, 8) AS BIGINT) % 1024 AS bucket
      FROM bg),
    bstat AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS r,
             CAST(count(*) FILTER (WHERE is_target) AS BIGINT) AS t
      FROM hashed GROUP BY bucket),
    tot AS (SELECT CAST(sum(r) AS BIGINT) AS rn, CAST(sum(t) AS BIGINT) AS tn
            FROM bstat),
    lr AS (
      SELECT bucket,
             CAST(round((ln((t + 0.5) / (tn + 512.0))
                         - ln((r + 0.5) / (rn + 512.0))) * 1e6) AS BIGINT)
               AS lr_micros
      FROM bstat CROSS JOIN tot)"""
_DSIR_SQL = f"""
    WITH {_DSIR_LR_CTES}
    SELECT h.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(lr_micros) AS BIGINT) AS logw_micro_nats
    FROM hashed h JOIN lr USING (bucket)
    GROUP BY h.doc_id
    """


@register("docs_dsir_weights", _DSIR_SQL)
def docs_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): hashed word-bigram
    features (1024 buckets), target distribution fit on the in-domain
    subset (lang='en' here), raw distribution on the whole corpus; each
    doc scores the sum over its bigrams of ln p_target(bucket) −
    ln p_raw(bucket) (Laplace α=0.5). Docs are then resampled ∝ exp(w) —
    this query emits the per-doc log-weight. Shape at 100 TB: the feature
    space is FIXED at 1024 buckets no matter the corpus (DSIR's point), so
    the distribution fit is one partial-agg shuffle into a 1024-row table,
    the log-ratio table broadcasts back, and the per-doc weight is a
    partial agg on doc_id. The weight rides as exact integer micro-nats
    (each bucket's log-ratio is rounded once, deterministically, before
    the per-doc SUM) so FP summation order can never flip the value hash.
    Reference analogue: none (training-data op); tokenization matches
    docs_bigram_pmi's bigram build verbatim."""
    d = T(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    base = d.select(
        "doc_id", (F.col("lang") == "en").alias("is_target"), toks.alias("toks")
    ).filter(F.size("toks") >= 2)
    bg = base.select(
        "doc_id",
        "is_target",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("toks"), i),
                    F.element_at(F.col("toks"), i + 1),
                ),
            )
        ).alias("bigram"),
    )
    hashed = bg.select(
        "doc_id",
        "is_target",
        (F.conv(F.substring(F.md5("bigram"), 1, 8), 16, 10).cast("long") % 1024)
        .alias("bucket"),
    )
    bstat = hashed.groupBy("bucket").agg(
        F.count("*").alias("r"),
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).alias("t"),
    )
    tot = bstat.agg(F.sum("r").alias("rn"), F.sum("t").alias("tn"))
    lr = bstat.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.round(
            (
                F.log((F.col("t") + 0.5) / (F.col("tn") + 512.0))
                - F.log((F.col("r") + 0.5) / (F.col("rn") + 512.0))
            )
            * 1e6
        )
        .cast("long")
        .alias("lr_micros"),
    )
    return hashed.join(F.broadcast(lr), "bucket").groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("lr_micros").alias("logw_micro_nats"),
    )


_KEY_LIFECYCLE_SQL = f"""
    WITH ev AS (
      SELECT url, op, warc_ts, seq
      FROM read_parquet('{_REPLAY_EVENTS}/*.parquet')
      WHERE {_COMMITTED_DML}),
    w AS (
      SELECT url, op,
             row_number() OVER (PARTITION BY url
                                ORDER BY warc_ts DESC, seq DESC) AS rn
      FROM ev),
    latest AS (SELECT url, op AS last_op FROM w WHERE rn = 1),
    agg AS (
      SELECT url, CAST(count(*) AS BIGINT) AS n_ops,
             CAST(count(*) FILTER (WHERE op = 'c') AS BIGINT) AS n_inserts,
             CAST(count(*) FILTER (WHERE op = 'u') AS BIGINT) AS n_updates,
             CAST(count(*) FILTER (WHERE op = 'd') AS BIGINT) AS n_deletes,
             min(warc_ts) AS first_ts, max(warc_ts) AS last_ts
      FROM ev GROUP BY url),
    g AS (SELECT max(warc_ts) AS gmax FROM ev)
    SELECT a.url, n_ops, n_inserts, n_updates, n_deletes, last_op,
           (last_op = 'd') AS is_tombstone,
           epoch_us(last_ts) - epoch_us(first_ts) AS lifespan_us,
           CASE WHEN last_op = 'd'
                THEN epoch_us(gmax) - epoch_us(last_ts) END AS tombstone_age_us
    FROM agg a JOIN latest USING (url) CROSS JOIN g
    """


@register("cdc_key_lifecycle", _KEY_LIFECYCLE_SQL)
def cdc_key_lifecycle(spark, sf_dir):
    """Per-key lifecycle / tombstone-GC report over the committed change
    log: op-mix counts, first/last change, whether the LWW winner is a
    delete (= the key is a tombstone awaiting GC), key lifespan, and
    tombstone age vs the log head — the input to retention policy ("purge
    tombstones older than X"). Reference analogue: the replicator keeps
    delete markers so late-arriving updates can't resurrect rows
    (operators/merge.py tombstone semantics; reference checkpoint GC drops
    state only past the confirmed scn, Metadata.cpp:505-554). Shape at
    scale: ONE partial-agg shuffle on url computes counts, min/max ts and
    the (warc_ts, seq)-ordered last op via max_by in the same aggregate —
    no window, no second shuffle; the log-head max rides a 1-row broadcast
    cross join."""
    from .operators.decode import EVENTS_DDL, dml_events

    ev = spark.read.schema(EVENTS_DDL).parquet(_ensure_replay_events())
    committed = dml_events(
        ev.filter(
            F.col("op").isNotNull()
            & F.col("url").isNotNull()
            & F.col("warc_ts").isNotNull()
        )
    ).select("url", "op", "warc_ts", "seq")
    agg = committed.groupBy("url").agg(
        F.count("*").alias("n_ops"),
        F.sum(F.when(F.col("op") == "c", 1).otherwise(0)).alias("n_inserts"),
        F.sum(F.when(F.col("op") == "u", 1).otherwise(0)).alias("n_updates"),
        F.sum(F.when(F.col("op") == "d", 1).otherwise(0)).alias("n_deletes"),
        F.min("warc_ts").alias("first_ts"),
        F.max("warc_ts").alias("last_ts"),
        F.expr("max_by(op, struct(warc_ts, seq))").alias("last_op"),
    )
    g = committed.agg(F.max("warc_ts").alias("gmax"))
    return agg.crossJoin(F.broadcast(g)).select(
        "url",
        "n_ops",
        "n_inserts",
        "n_updates",
        "n_deletes",
        "last_op",
        (F.col("last_op") == "d").alias("is_tombstone"),
        (F.unix_micros("last_ts") - F.unix_micros("first_ts")).alias("lifespan_us"),
        F.when(
            F.col("last_op") == "d",
            F.unix_micros("gmax") - F.unix_micros("last_ts"),
        ).alias("tombstone_age_us"),
    )


_LEXDIV_SQL = """
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
      FROM documents),
    t AS (SELECT doc_id, token FROM tok WHERE length(token) > 0),
    cnt AS (SELECT doc_id, token, count(*) AS c FROM t GROUP BY doc_id, token),
    per AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(count(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax
      FROM cnt GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_distinct, n_hapax,
           (n_distinct * 100000) // n_tokens AS ttr_bp,
           (n_hapax * 100000) // n_tokens AS hapax_bp
    FROM per
    """


@register("docs_lexical_diversity", _LEXDIV_SQL)
def docs_lexical_diversity(spark, sf_dir):
    """Lexical-diversity quality signals per document: type-token ratio and
    hapax-legomenon share (both as exact integer basis points ×10 — a
    ratio of two BIGINTs under floor division, so no float crosses the
    hash). Low TTR = repetitive/template text, abnormally high hapax share
    on long docs = OCR noise / gibberish — standard quality-filter axes
    alongside the Gopher rules. Shape at 100 TB: explode feeds a
    (doc_id, token) partial agg (map-side combine collapses each doc's
    repeats before the shuffle), then a second partial agg on doc_id;
    integer division is floor on both engines for non-negative operands
    (Spark `div` truncates, DuckDB `//` floors — same on ≥0)."""
    d = T(spark, sf_dir, "documents")
    tok = S.tokens(d, "doc_id", "text", distinct=False)
    cnt = tok.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    per = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
    )
    return per.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "n_hapax",
        F.expr("(n_distinct * 100000) div n_tokens").alias("ttr_bp"),
        F.expr("(n_hapax * 100000) div n_tokens").alias("hapax_bp"),
    )


_CHAR_ENTROPY_SQL = """
    WITH chars AS (
      SELECT doc_id,
             unnest(list_transform(range(1, length(text) + 1),
                    i -> substr(text, i, 1))) AS ch
      FROM documents WHERE length(text) > 0),
    cc AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_chars,
           CAST(count(*) AS BIGINT) AS n_distinct_chars,
           round(ln(CAST(sum(c) AS DOUBLE))
                 - sum(c * ln(CAST(c AS DOUBLE))) / CAST(sum(c) AS DOUBLE),
                 4) AS char_entropy
    FROM cc GROUP BY doc_id
    """


@register("docs_char_entropy", _CHAR_ENTROPY_SQL)
def docs_char_entropy(spark, sf_dir):
    """Character-level unigram entropy per document (nats): H = ln n −
    (Σ c·ln c)/n over the doc's char counts — the cheap gibberish/
    binary-junk detector (near-zero entropy = one repeated char; natural
    text sits in a narrow band). Complements the token-level
    docs_repetition_stats at the sub-token level. Shape at 100 TB: the
    char explode is O(total bytes) but feeds a (doc_id, ch) partial agg
    whose combiner collapses each partition to ≤|alphabet| rows per doc
    before the shuffle; the per-doc entropy is a second partial agg. The
    identical ln-based expression runs on both engines (no log2 builtin —
    DuckDB's and Spark's differ in name, not this formula)."""
    d = T(spark, sf_dir, "documents").filter(F.length("text") > 0)
    chars = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("text")),
                lambda i: F.col("text").substr(i, F.lit(1)),
            )
        ).alias("ch"),
    )
    cc = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    n = F.sum("c").cast("double")
    return cc.groupBy("doc_id").agg(
        F.sum("c").alias("n_chars"),
        F.count("*").alias("n_distinct_chars"),
        F.round(
            F.log(n) - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / n,
            4,
        ).alias("char_entropy"),
    )


def _ivfpq_adc_ctes(n_queries: int) -> str:
    """The IVFADC chain shared by the IVF-PQ top-k and recall oracles:
    pinned quantizer → residual PQ codebooks and codes → the ADC distance
    ``adc.a`` of every (query, candidate) pair for the first ``n_queries``
    vectors, probing 2 cells each."""
    return f"""{_IVF_INIT_CTES},
    cvecs AS (
      SELECT cid, list_transform(cvec, x -> CAST(x AS DOUBLE)) AS cv
      FROM init),
    {_IVF_ASSIGN_CTE},
    resid AS (
      SELECT a.vec_id, a.cid,
             list_transform(range(1, 65),
               i -> CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
                    - v.cv[CAST(i AS INT)]) AS r
      FROM assign a JOIN cvecs v USING (cid) WHERE a.rn = 1),
    pinned AS (
      SELECT r.r AS pv, rk.j
      FROM (SELECT vec_id,
                   row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                      vec_id) - 1 AS j
            FROM embeddings) rk
      JOIN resid r USING (vec_id)
      WHERE rk.j < 16),
    subs AS (SELECT unnest(range(0, 8)) AS s),
    cb AS (
      SELECT s, j, list_slice(pv, s*8 + 1, s*8 + 8) AS cvec
      FROM pinned CROSS JOIN subs),
    dists AS (
      SELECT r.vec_id, r.cid, c.s, c.j,
             list_reduce(
               [0.0::DOUBLE] || list_transform(range(1, 9),
                 i -> (r.r[CAST(c.s*8 + i AS INT)] - c.cvec[CAST(i AS INT)])
                    * (r.r[CAST(c.s*8 + i AS INT)] - c.cvec[CAST(i AS INT)])),
               (a, b) -> a + b) AS d
      FROM resid r CROSS JOIN cb c),
    codes AS (
      SELECT vec_id, cid, s, j AS code FROM (
        SELECT vec_id, cid, s, j,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
        FROM dists) WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, embedding AS qvec, cid
      FROM assign WHERE vec_id < {n_queries} AND rn <= 2),
    qresid AS (
      SELECT p.query_id, p.cid,
             list_transform(range(1, 65),
               i -> CAST(p.qvec[CAST(i AS INT)] AS DOUBLE)
                    - v.cv[CAST(i AS INT)]) AS qr
      FROM probes p JOIN cvecs v USING (cid)),
    qdists AS (
      SELECT q.query_id, q.cid, c.s, c.j,
             list_reduce(
               [0.0::DOUBLE] || list_transform(range(1, 9),
                 i -> (q.qr[CAST(c.s*8 + i AS INT)] - c.cvec[CAST(i AS INT)])
                    * (q.qr[CAST(c.s*8 + i AS INT)] - c.cvec[CAST(i AS INT)])),
               (a, b) -> a + b) AS d
      FROM qresid q CROSS JOIN cb c),
    terms AS (
      SELECT q.query_id, co.vec_id, q.s, q.d
      FROM qdists q
      JOIN codes co ON co.cid = q.cid AND co.s = q.s AND co.code = q.j
      WHERE co.vec_id <> q.query_id),
    adc AS (
      SELECT query_id, vec_id,
             list_reduce([0.0::DOUBLE] || list(d ORDER BY s),
                         (a, b) -> a + b) AS a
      FROM terms GROUP BY query_id, vec_id)"""


_IVFPQ_SQL = f"""
    WITH {_ivfpq_adc_ctes(3)}
    SELECT query_id, vec_id, round(a, 4) AS adc_l2sq
    FROM adc
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY a, vec_id) <= 5
    """


@register("ann_ivfpq_topk", _IVFPQ_SQL)
def ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composite ANN (IVFADC, Jégou et al. 2011 — the index FAISS
    ships for billion-vector corpora): md5-pinned coarse quantizer (8
    cells) + PQ codebooks fit on RESIDUALS (8 subspaces × 16 codes, pinned
    to the md5-smallest vectors' residuals so the whole index is
    SQL-derivable), corpus encoded map-side to (cid, 8 codes), queries
    probe their 2 nearest cells and score ONLY those cells' code lists via
    a per-(query, cell) ADC table over the query's own residual. Completes
    the ANN family: brute force (baseline) → LSH (hash pruning) → IVF
    (cell pruning) → PQ (compressed scan) → IVF-PQ (both). Shape at
    100 TB: the persisted index is m+4 bytes/vector, candidate generation
    is an equi-join on cid, the query side broadcasts, nothing rescans
    float vectors."""
    from .functions.similarity import ivfpq_residual_codebooks, ivfpq_topk

    emb = T(spark, sf_dir, "embeddings")
    centroids = _pinned_centroids(emb)
    cbs = ivfpq_residual_codebooks(emb, centroids, m=8, n_codes=16)
    out = ivfpq_topk(
        emb, emb.filter(F.col("vec_id") < 3), centroids, cbs, k=5, nprobe=2
    )
    return out.select(
        "query_id", "vec_id", F.round("adc_l2sq", 4).alias("adc_l2sq")
    )


# Shared covariance CTE chain ending at `covu` (upper triangle, 6 dp) —
# reused by emb_pca_power the same way _KMEANS_PREFIX is shared.
_EMB_COV_CTES = """
    x AS MATERIALIZED (
      SELECT vec_id,
             unnest(generate_series(1, len(embedding))) AS i,
             unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS v
      FROM embeddings),
    sums AS MATERIALIZED (SELECT i, sum(v) AS sx FROM x GROUP BY i),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
    prods AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j, sum(a.v * b.v) AS sxy
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i),
    covu AS MATERIALIZED (
      SELECT p.i, p.j,
             round(p.sxy / n.n - (sa.sx / n.n) * (sb.sx / n.n), 6) AS cov
      FROM prods p
      JOIN sums sa ON sa.i = p.i
      JOIN sums sb ON sb.i = p.j
      CROSS JOIN n)"""

_EMB_COV_SQL = f"""
    WITH {_EMB_COV_CTES}
    SELECT i, j, cov FROM covu
    """


@register("emb_covariance", _EMB_COV_SQL)
def emb_covariance(spark, sf_dir):
    """Embedding covariance matrix (upper triangle) — the sufficient
    statistic for PCA / whitening / anisotropy diagnostics over the corpus
    embeddings; the dim×dim result is what a driver-side eigendecomposition
    consumes, and computing it is the ONLY data-sized step of PCA. Spark
    side: one float64 [X|1]-augmented Gram matmul per partition
    (mapInPandas, Arrow-batched) + a groupBy over the fixed (dim+1)²/2
    keyspace — corpus size never reaches the shuffle. The DuckDB twin is
    the dual-unnest self-join spelling of the same sums (fine at oracle
    scale; the n·dim²/2-row shuffle it implies is exactly what the Gram
    partial avoids at 100 TB)."""
    from .functions.similarity import covariance_upper

    emb = T(spark, sf_dir, "embeddings")
    return covariance_upper(emb, "embedding", dim=_EMB_DIM)


# Incremental changelog between two snapshots over the SAME fixed replay log:
# old state = LWW replay of the first two fixture files (the epochs confirmed
# by the chosen from_version), new state = replay of all four; a full outer
# join classifies insert/update/delete, update meaning the LWW version pair
# (warc_ts, seq) moved. Deletes carry the OLD state's row projected to the
# current schema — those epochs predate every DDL, so http_status is NULL.
_PRE_DDL_COLS = """url, warc_ts, seq AS _seq, op AS _op, text, lang,
             CAST(NULL AS BIGINT) AS http_status"""
_SNAPSHOT_DIFF_SQL = f"""
    WITH {_lww_ctes(_REPLAY_COLS, proj="new_proj")},
    new_state AS (SELECT * FROM new_proj WHERE rn = 1 AND _op <> 'd'),
    {_lww_ctes(_PRE_DDL_COLS, src=_REPLAY_FIRST_TWO, ev="old_ev", proj="old_proj")},
    old_state AS (SELECT * FROM old_proj WHERE rn = 1 AND _op <> 'd')
    SELECT CASE WHEN o.url IS NULL THEN 'insert'
                WHEN n.url IS NULL THEN 'delete'
                ELSE 'update' END AS _change,
           COALESCE(n.url, o.url) AS url,
           CASE WHEN n.url IS NULL THEN o.warc_ts ELSE n.warc_ts END AS warc_ts,
           CASE WHEN n.url IS NULL THEN o._seq ELSE n._seq END AS _seq,
           CASE WHEN n.url IS NULL THEN o.text ELSE n.text END AS text,
           CASE WHEN n.url IS NULL THEN o.lang ELSE n.lang END AS lang,
           CASE WHEN n.url IS NULL THEN o.http_status
                ELSE n.http_status END AS http_status
    FROM old_state o FULL OUTER JOIN new_state n ON o.url = n.url
    WHERE o.url IS NULL OR n.url IS NULL
       OR o.warc_ts <> n.warc_ts OR o._seq <> n._seq
    """


@register("engine_snapshot_diff", _SNAPSHOT_DIFF_SQL)
def engine_snapshot_diff(spark, sf_dir):
    """Incremental snapshot changelog (Delta CDF / Iceberg incremental-scan
    analogue; reference analogue: the WriterStream confirm protocol's
    contract that a consumer resumes from a confirmed position and receives
    exactly the changes since — src/replicator + WriterStream.cpp confirm
    loop). Replays the fixed log as four per-file epochs, picks the snapshot
    version that confirmed epoch 1, and asks the table: what changed between
    then and now? Scale shape (operators/merge.py snapshot_diff): buckets
    whose manifest FILE SETS are identical in both snapshots are pruned
    driver-side before any scan — a quiet epoch diffs O(touched buckets);
    both sides resolve LWW only over their dirty subset; update detection
    compares the (warc_ts, seq) version identity so rewritten-but-unchanged
    rows are never reported."""
    from .operators.merge import snapshot_diff

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    table_path, _marks, _metrics = _shared_mor_replay(spark)
    ver = _confirmed_version(spark, table_path, 1)
    return snapshot_diff(spark, table_path, ver).select(
        "_change", "url", "warc_ts", "_seq", "text", "lang", "http_status"
    )


# IVF-PQ recall@k: the approx side is the full IVFADC chain of _IVFPQ_SQL
# (same pinned quantizers), widened to the 32-query evaluation set; the
# exact side is float64 brute force. Quantization error now comes from BOTH
# stages (cell pruning + residual codes), so this gate prices the composite
# — IVF alone (ann_recall_eval_ivf) isolates the pruning loss.
_IVFPQ_RECALL_SQL = f"""
    WITH {_ivfpq_adc_ctes(32)},
    approx AS (
      SELECT query_id, vec_id FROM adc
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY a, vec_id)
        <= {_RECALL_K}),
    {_RECALL_EXACT_CTES},
    {_RECALL_HITS_SQL}
    """


@register("ann_recall_eval_ivfpq", _IVFPQ_RECALL_SQL)
def ann_recall_eval_ivfpq(spark, sf_dir):
    """Recall@k of the IVF-PQ composite against exact brute force — closes
    the recall-gate family (LSH ✓ IVF ✓ IVF-PQ here): the composite's loss
    is cell pruning PLUS residual quantization, and re-dialing (k_cells,
    nprobe, m, n_codes) for a bigger corpus needs this number next to
    ann_recall_eval_ivf's to attribute which stage is losing neighbors.
    Shape: identical to the production path — map-side encode, cid
    equi-join, broadcast query side; the exact side broadcasts only the
    32-query evaluation set."""
    from .functions.similarity import ivfpq_residual_codebooks, ivfpq_topk

    emb = T(spark, sf_dir, "embeddings")
    centroids = _pinned_centroids(emb)
    cbs = ivfpq_residual_codebooks(emb, centroids, m=8, n_codes=16)
    q = emb.filter(F.col("vec_id") < 32)
    approx = ivfpq_topk(
        emb, q, centroids, cbs, k=_RECALL_K, nprobe=2
    ).select("query_id", "vec_id")
    return _recall_per_query(emb, q, approx)


_BPE_MERGES = 8


@register("docs_bpe_learn", BPE.bpe_sql(_BPE_MERGES))
def docs_bpe_learn(spark, sf_dir):
    """Distributed BPE tokenizer induction (Sennrich 2016) — learn the first
    8 merges over the corpus, value-checked against a DuckDB twin that
    REPLAYS the identical merge trajectory as unrolled CTEs (the
    emb_kmeans_clusters pattern applied to tokenizer training). Determinism:
    count ties fall to the lexicographically smallest pair on both engines,
    and merge application is the doubled-space trick (functions/bpe.py) so
    one engine-native non-overlapping replace() is exactly greedy-left on
    both sides. Shape at 100 TB: the corpus is scanned ONCE (word-count
    groupBy with map-side combine); each merge iteration runs on the cached
    vocab-bounded distinct-word relation and collects a single winner row.
    Reference analogue: none — training-data pipeline extension."""
    d = T(spark, sf_dir, "documents")
    merges = BPE.bpe_learn(d, "text", n_merges=_BPE_MERGES)
    return spark.createDataFrame(
        [(r, p, c) for r, p, c in merges], "rank int, pair string, cnt bigint"
    )


def _pca_iter_sql(prev: str, w: str, nxt: str, cov: str = "cov") -> str:
    """One unrolled power-iteration step: w = C·v, v' = round(w/||w||)."""
    return f"""
    {w} AS MATERIALIZED (
      SELECT c.i AS i, sum(c.cov * v.x) AS s
      FROM {cov} c JOIN {prev} v ON v.i = c.j GROUP BY c.i),
    {nxt} AS MATERIALIZED (
      SELECT i, round(s / sqrt(sum(s * s) OVER ()), 6) AS x FROM {w})"""


_PCA_SQL = f"""
    WITH {_EMB_COV_CTES},
    cov AS MATERIALIZED (
      SELECT i, j, cov FROM covu
      UNION ALL
      SELECT j AS i, i AS j, cov FROM covu WHERE i <> j),
    v0 AS MATERIALIZED (
      SELECT unnest(generate_series(1, {_EMB_DIM})) AS i,
             round(1.0 / sqrt(CAST({_EMB_DIM} AS DOUBLE)), 6) AS x),
    {_pca_iter_sql("v0", "w1", "v1")},
    {_pca_iter_sql("v1", "w2", "v2")},
    {_pca_iter_sql("v2", "w3", "v3")},
    w4 AS (
      SELECT c.i AS i, sum(c.cov * v.x) AS s
      FROM cov c JOIN v3 v ON v.i = c.j GROUP BY c.i),
    lam AS (
      SELECT round(sum(w.s * v.x) / sum(v.x * v.x), 6) AS eigval
      FROM w4 w JOIN v3 v USING (i))
    SELECT v.i AS pos, v.x AS loading, lam.eigval
    FROM v3 v CROSS JOIN lam
    """


@register("emb_pca_power", _PCA_SQL)
def emb_pca_power(spark, sf_dir):
    """Dominant principal component of the corpus embeddings (anisotropy /
    drift diagnostic; the whitening direction ABM-style embedding pipelines
    remove first) — power iteration over the covariance sufficient
    statistic, value-checked against a DuckDB twin that replays the
    identical rounded trajectory as unrolled CTEs (the kmeans/BPE replay
    pattern applied to an eigensolver). Shape at 100 TB: the ONLY
    corpus-sized step is covariance_upper's per-partition float64 Gram
    (fixed dim² shuffle keyspace); each iteration is then an equi-join +
    partial agg over dim² rows — corpus size never reaches the iteration.
    Reference analogue: none — training-data pipeline extension."""
    emb = T(spark, sf_dir, "embeddings")
    cov = S.covariance_upper(emb, "embedding", dim=_EMB_DIM)
    return S.pca_power_top(cov, dim=_EMB_DIM, iters=3, round_dp=6)


_NBQ_CURATED = ("src0", "src1", "src2", "src3", "src4")
_NBQ_IN = ", ".join(f"'{s}'" for s in _NBQ_CURATED)

_NBQ_SQL = f"""
    WITH lab AS (
      SELECT doc_id, text,
             source IN ({_NBQ_IN}) AS curated
      FROM documents),
    tok AS (
      SELECT doc_id, curated,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM lab),
    tok2 AS (SELECT * FROM tok WHERE length(token) > 0),
    cls AS (
      SELECT token,
             sum(CASE WHEN curated THEN 1 ELSE 0 END) AS g,
             sum(CASE WHEN NOT curated THEN 1 ELSE 0 END) AS b
      FROM tok2 GROUP BY token),
    tot AS (SELECT sum(g) AS gt, sum(b) AS bt, count(*) AS v FROM cls),
    llr AS (
      SELECT token,
             ln((g + 0.5) / (gt + 0.5 * v))
               - ln((b + 0.5) / (bt + 0.5 * v)) AS llr
      FROM cls CROSS JOIN tot),
    scored AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             round(avg(llr), 4) AS score
      FROM tok2 JOIN llr USING (token) GROUP BY doc_id)
    SELECT s.doc_id, d.source,
           d.source IN ({_NBQ_IN}) AS curated,
           s.n_tokens, s.score
    FROM scored s JOIN documents d USING (doc_id)
    """


@register("docs_quality_classifier", _NBQ_SQL)
def docs_quality_classifier(spark, sf_dir):
    """Naive-Bayes quality classifier (the GPT-3 / CCNet curated-vs-crawl
    filter, closed-form instead of SGD): a curated-source proxy labels the
    corpus, per-token log-odds llr(t) = ln P(t|curated) − ln P(t|wild) with
    add-0.5 smoothing over the shared vocabulary, and each document scores
    the mean llr of its token multiset — the score a pipeline thresholds or
    pareto-samples on (GPT-3 appendix A). Shape at 100 TB: explode → ONE
    two-phase class-count agg on the vocab keyspace; totals are a one-row
    broadcast crossJoin; scoring re-joins tokens on the vocab-keyed llr
    relation (equi-join, Zipf head absorbed by map-side combine) and
    partial-aggregates per doc. No model state beyond the llr relation —
    it IS the persisted classifier. Reference analogue: none —
    training-data pipeline extension."""
    d = T(spark, sf_dir, "documents")
    lab = d.withColumn("curated", F.col("source").isin(*_NBQ_CURATED))
    tok = S.tokens(lab, "doc_id", "text", distinct=False,
                   extra_cols=("curated",))
    cls = tok.groupBy("token").agg(
        F.sum(F.when(F.col("curated"), 1).otherwise(0)).alias("g"),
        F.sum(F.when(~F.col("curated"), 1).otherwise(0)).alias("b"),
    )
    tot = cls.agg(
        F.sum("g").alias("gt"), F.sum("b").alias("bt"),
        F.count("*").alias("v"),
    )
    llr = cls.crossJoin(F.broadcast(tot)).select(
        "token",
        (
            F.log((F.col("g") + 0.5) / (F.col("gt") + 0.5 * F.col("v")))
            - F.log((F.col("b") + 0.5) / (F.col("bt") + 0.5 * F.col("v")))
        ).alias("llr"),
    )
    scored = (
        tok.join(llr, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("llr"), 4).alias("score"),
        )
    )
    return scored.join(d.select("doc_id", "source"), "doc_id").select(
        "doc_id", "source",
        F.col("source").isin(*_NBQ_CURATED).alias("curated"),
        "n_tokens", "score",
    )


_BPE_FERT_FINAL = r""",
    tokocc AS (
      SELECT source, token FROM (
        SELECT source,
               unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                 AS token
        FROM documents)
      WHERE length(token) > 0),
    fert AS (
      SELECT token, len(string_split(seq, ' ')) AS k FROM w8)
    SELECT o.source,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(f.k) AS BIGINT) AS n_bpe_tokens,
           round(sum(f.k) * 1.0 / count(*), 4) AS fertility
    FROM tokocc o JOIN fert f USING (token)
    GROUP BY o.source
    """


@register("docs_bpe_fertility", BPE.bpe_sql(_BPE_MERGES, _BPE_FERT_FINAL))
def docs_bpe_fertility(spark, sf_dir):
    """Fertility (BPE symbols per word) of the freshly trained tokenizer,
    per source — the metric tokenizer/vocab-size choices are judged by and
    the per-source drift monitor a mixed-corpus pipeline watches (a source
    whose fertility jumps is poorly covered by the merges). Trains the same
    8 merges as docs_bpe_learn (the DuckDB twin replays the identical
    trajectory and reuses its final vocab state), then encodes the corpus
    BY JOINING occurrences to the vocab-keyed symbol-count relation —
    applying k merges is k map-side rewrites of the vocab, never a per-doc
    re-encode. Reference analogue: none — training-data pipeline
    extension."""
    d = T(spark, sf_dir, "documents")
    merges = BPE.bpe_learn(d, "text", n_merges=_BPE_MERGES)
    fert = BPE.segment_counts(d, merges)
    occ = S.tokens(d, None, "text", distinct=False, extra_cols=("source",))
    return (
        occ.join(fert, "token")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("k").cast("long").alias("n_bpe_tokens"),
            F.round(F.sum("k") / F.count("*"), 4).alias("fertility"),
        )
    )


# Streaming lookup-enrichment gate: facts (the last epoch's committed DML)
# enriched via DimensionLookup pinned at the epoch-2 snapshot — the
# read-committed view a consumer epoch would see with the dimension's OWN
# next commit still in flight. Oracle: left join onto the LWW replay of
# files 0-2 only.
_STREAM_ENRICH_SQL = f"""
    WITH dim_ev AS (
      SELECT * FROM read_parquet(['{_REPLAY_EVENTS}/events-00000.parquet',
                                  '{_REPLAY_EVENTS}/events-00001.parquet',
                                  '{_REPLAY_EVENTS}/events-00002.parquet'])
      WHERE {_COMMITTED_DML}),
    dim AS (
      SELECT url, text AS dim_text, lang AS dim_lang FROM (
        SELECT url, text, lang, op,
               row_number() OVER (PARTITION BY url
                                  ORDER BY warc_ts DESC, seq DESC) AS rn
        FROM dim_ev) WHERE rn = 1 AND op <> 'd'),
    facts AS (
      SELECT url, seq AS fact_seq
      FROM read_parquet('{_REPLAY_EVENTS}/events-00003.parquet')
      WHERE {_COMMITTED_DML})
    SELECT f.url, f.fact_seq, d.dim_text, d.dim_lang
    FROM facts f LEFT JOIN dim d ON f.url = d.url
    """


@register("engine_stream_enrich", _STREAM_ENRICH_SQL)
def engine_stream_enrich(spark, sf_dir):
    """Streaming dimension-lookup enrichment (streaming/enrich.py
    DimensionLookup — the Flink-lookup-join / KTable-join consumer shape
    over the CDC-maintained lake table; reference analogue: clients of the
    confirm-protocol sinks keep a materialized copy, src/stream +
    WriterStream.cpp). The last epoch's committed DML rows are enriched
    against the dimension PINNED at the epoch-2 snapshot: exactly the
    read-committed view a consumer epoch sees while the dimension's next
    commit is still in flight; left semantics keep facts whose key is
    absent or tombstoned. Scale shape: the dimension resolves once per
    snapshot version (cached across epochs), broadcasts under the
    manifest-row-count budget (free bound, no count job), and falls back to
    a key-shuffle join above it; fact volume never feeds the decision."""
    from .streaming.enrich import DimensionLookup

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    table_path, _marks, _metrics = _shared_mor_replay(spark)
    ver = _confirmed_version(spark, table_path, 2)
    look = DimensionLookup(
        spark, table_path,
        dim_cols={"dim_text": "text", "dim_lang": "lang"},
        pin_version=ver,
    )
    ev = _ensure_replay_events()
    facts = _committed_dml(spark, os.path.join(ev, "events-00003.parquet")).select(
        "url", F.col("seq").alias("fact_seq")
    )
    return look.enrich(facts).select(
        "url", "fact_seq", "dim_text", "dim_lang"
    )


@register(
    "events_user_sequences",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           string_agg(event_type, ' ' ORDER BY ts, event_id) AS seq
    FROM events GROUP BY user_id
    """,
)
def events_user_sequences(spark, sf_dir):
    """Per-user chronological event-type sequence — the behavioral-corpus
    builder (user-action LM pretraining / next-event prediction datasets):
    one row per user with the ordered action string. Shape at 100 TB: ONE
    groupBy(user) shuffle carrying (ts, event_id, event_type) structs;
    ordering happens inside the aggregate (array_sort on the collected
    structs — (ts, event_id) is unique so the tie field never decides),
    never a global sort or a window. Per-user state bounds the row, and the
    power-law tail is the cdc_hot_keys salting discussion, not a new
    shuffle. Reference analogue: none — training-data pipeline
    extension."""
    ev = T(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list("
                "struct(ts, event_id, event_type))), x -> x.event_type)"
            ),
            " ",
        ).alias("seq"),
    )


# Count-min sketch: d=4 rows x w=64 buckets, bucket = unsigned-32-bit
# md5(key||'#'||row) mod w — identical arithmetic on both engines (Spark
# conv(hex,16,10) == DuckDB CAST('0x'||hex AS BIGINT), both unsigned).
_CMS_D, _CMS_W, _CMS_TOPK = 4, 64, 20


def _cms_bucket_sql(key: str, j: int) -> str:
    return (
        f"(CAST('0x' || substr(md5({key} || '#{j}'), 1, 8) AS BIGINT)"
        f" % {_CMS_W})"
    )


_CMS_SQL = f"""
    WITH keys AS (
      SELECT CAST(user_id AS VARCHAR) AS key FROM events),
    sketch AS (
      {" UNION ALL ".join(
        f"SELECT {j} AS j, {_cms_bucket_sql('key', j)} AS bucket, "
        f"CAST(count(*) AS BIGINT) AS cnt FROM keys GROUP BY bucket"
        for j in range(_CMS_D))}),
    top AS (
      SELECT CAST(user_id AS VARCHAR) AS key,
             CAST(count(*) AS BIGINT) AS exact_n
      FROM events GROUP BY user_id
      ORDER BY exact_n DESC, key LIMIT {_CMS_TOPK}),
    est AS (
      SELECT t.key, t.exact_n, min(s.cnt) AS cms_n
      FROM top t JOIN sketch s
        ON {" OR ".join(
            f"(s.j = {j} AND s.bucket = {_cms_bucket_sql('t.key', j)})"
            for j in range(_CMS_D))}
      GROUP BY t.key, t.exact_n)
    SELECT key, exact_n, CAST(cms_n AS BIGINT) AS cms_n,
           CAST(cms_n - exact_n AS BIGINT) AS overcount
    FROM est
    """


@register("events_cms_heavy_hitters", _CMS_SQL)
def events_cms_heavy_hitters(spark, sf_dir):
    """Count-min sketch vs exact truth on the top-k hottest keys — the
    O(1)-memory approximate counter a 100 TB pipeline uses when exact
    per-key counts can't fit (feature hashing, hot-key pre-detection ahead
    of salting, stream frequency caps). The sketch is a DISTRIBUTIVE
    aggregate over a FIXED d×w keyspace (d=4 rows × w=64 buckets here —
    the accuracy dial): partial aggregation absorbs the corpus before the
    shuffle, the sketch itself broadcasts anywhere. The gate reports
    exact_n, cms_n and the overcount for the exact top-20 — CMS guarantees
    cms_n ≥ exact_n (one-sided error ≤ n/w per row, min over rows), so the
    oracle doubles as a structural correctness check. Buckets come from the
    same md5 arithmetic on both engines (never reimplement a foreign
    filter's hash). Reference analogue: none — training-data pipeline
    extension."""
    ev = T(spark, sf_dir, "events")
    key = F.col("user_id").cast("string").alias("key")
    keys = ev.select(key)

    def bucket(col, j):
        return (
            F.conv(F.substring(F.md5(F.concat(col, F.lit(f"#{j}"))), 1, 8),
                   16, 10).cast("long") % _CMS_W
        )

    sketch = (
        keys.select(
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(j).alias("j"),
                        bucket(F.col("key"), j).alias("bucket"),
                    )
                    for j in range(_CMS_D)
                ])
            ).alias("jb")
        )
        .groupBy("jb.j", "jb.bucket")
        .agg(F.count("*").alias("cnt"))
    )
    top = (
        ev.groupBy(key)
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "key")
        .limit(_CMS_TOPK)
    )
    probes = top.select(
        "key", "exact_n",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    bucket(F.col("key"), j).alias("bucket"),
                )
                for j in range(_CMS_D)
            ])
        ).alias("jb"),
    ).select("key", "exact_n", "jb.j", "jb.bucket")
    est = (
        probes.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("key", "exact_n")
        .agg(F.min("cnt").alias("cms_n"))
    )
    return est.select(
        "key", "exact_n", "cms_n",
        (F.col("cms_n") - F.col("exact_n")).alias("overcount"),
    )


# the DuckDB twin is GENERATED from the same (column, b) spec the Spark
# impl uses, so changing the register count changes both engines together
from .functions.sketches import hll_sql as _hll_sql  # noqa: E402


@register("events_hll_distinct", _hll_sql("events", "event_id", b=6))
def events_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-count sketch (functions/sketches.py) vs the
    exact countDistinct — built from scratch on md5 so BOTH engines compute
    identical registers and an identical estimate, putting an approximate
    algorithm under the full value gate (earlier rounds documented
    engine-native sketches as un-oracle-able; this closes that gap for the
    cardinality family, like events_cms_heavy_hitters did for counts).
    rho uses the integer bit-smear trick, never floating log2; the register
    sum is IEEE-exact, so no rounding dial is load-bearing. Shape at
    100 TB: one m=64-bucket partial agg — the sketch replaces the exact
    distinct's full shuffle; the exact column rides along only to price the
    error (~1.04/sqrt(m) expected)."""
    from .functions.sketches import hll_distinct

    return hll_distinct(T(spark, sf_dir, "events"), "event_id", b=6)


# DuckDB twin of build_json_messages: the SAME reference message layout
# (BuilderJson.cpp {scn,tm,seq,payload:[{op,schema,rid,after,before}]})
# assembled by explicit string concatenation — field order is the struct
# order, null fields drop (ignoreNullFields), scalar strings escape through
# each engine's JSON writer (to_json on both; yyjson and Jackson agree on
# RFC 8259 escaping incl. raw UTF-8 pass-through). Byte-identical messages
# or the value hash fails.
_JSON_MSG_SQL = f"""
    WITH ev AS (
      SELECT * FROM read_parquet('{_REPLAY_EVENTS}/*.parquet')
      WHERE op IN ('c', 'u', 'd') AND NOT rolled_back
        AND url IS NOT NULL AND warc_ts IS NOT NULL),
    parts AS (
      SELECT seq, url, op,
        epoch_us(warc_ts) AS scn,
        strftime(warc_ts, '%Y-%m-%dT%H:%M:%S.%fZ') AS tm,
        CASE WHEN op <> 'd' THEN
          '{{' || array_to_string(list_filter([
             CASE WHEN url IS NOT NULL THEN '"url":' || to_json(url) END,
             CASE WHEN text IS NOT NULL THEN '"text":' || to_json(text) END,
             CASE WHEN lang IS NOT NULL THEN '"lang":' || to_json(lang) END,
             CASE WHEN extras['http_status'][1] IS NOT NULL
               THEN '"http_status":' || to_json(extras['http_status'][1]) END,
             CASE WHEN extras['fetch_status'][1] IS NOT NULL
               THEN '"fetch_status":' || to_json(extras['fetch_status'][1]) END
           ], x -> x IS NOT NULL), ',') || '}}'
        END AS after_json,
        CASE WHEN op IN ('u', 'd') AND before IS NOT NULL THEN
          '{{' || array_to_string(list_transform(map_entries(before),
                 e -> to_json(e.key) || ':' || to_json(decode(e.value))), ',')
              || '}}'
        END AS before_json
      FROM ev)
    SELECT seq, url,
      '{{"scn":' || scn || ',"tm":"' || tm || '","seq":' || seq ||
      ',"payload":[{{"op":"' || op ||
      '","schema":{{"owner":"CC","table":"PAGES"}},"rid":' || to_json(url) ||
      COALESCE(',"after":' || after_json, '') ||
      COALESCE(',"before":' || before_json, '') || '}}]}}' AS message
    FROM parts
    """


@register("cdc_json_messages", _JSON_MSG_SQL)
def cdc_json_messages(spark, sf_dir):
    """F12 JSON message build under the full value gate: every committed DML
    event of the fixed log rendered to the reference's change-message JSON
    (sinks/builders.build_json_messages — BuilderJson.cpp layout) must be
    BYTE-identical to a DuckDB twin that assembles the same document by
    explicit concatenation. This upgrades the builder's golden-bytes pytest
    to a differential gate over the whole fixture: timestamp rendering
    (micros + ISO-6-digit), null-field dropping, before-image binary→UTF-8
    decode, and string escaping all have to line up across engines. Shape
    at 100 TB: to_json is JVM-side whole-stage-codegen (the reference's own
    finding — its JSON builder beats protobuf ~2.5×)."""
    from .operators.decode import EVENTS_DDL
    from .sinks.builders import build_json_messages

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.schema(EVENTS_DDL).parquet(_ensure_replay_events())
    committed = ev.filter(
        F.col("op").isin("c", "u", "d")
        & (~F.col("rolled_back"))
        & F.col("url").isNotNull()
        & F.col("warc_ts").isNotNull()
    )
    return build_json_messages(committed)


# delete_where gate: one batch replay of the fixed log, then an ENGINE
# predicate delete of every winner whose lang is 'de'; result must equal
# the plain replay minus exactly those winners. Built once per process.
_DELETE_WHERE_SQL = f"""
    WITH base AS ({_REPLAY_SQL})
    SELECT url, warc_ts, _seq, text, lang, http_status
    FROM base WHERE lang IS DISTINCT FROM 'de'
    """


@register("engine_delete_where", _DELETE_WHERE_SQL)
def engine_delete_where(spark, sf_dir):
    """Predicate delete (operators/merge.delete_where) — the GDPR /
    right-to-be-forgotten surface: resolve the live winners matching a
    predicate, tombstone exactly them through the NORMAL LWW delete path
    (same warc_ts, _seq+1 — a late source event older than the winner still
    loses, a strictly newer one legitimately resurrects), commit WITHOUT
    advancing the confirmed-epoch watermark (engine deletes are not source
    epochs), leave physical erasure to purge_tombstones' retention clock.
    The oracle is the full replay minus the predicate's winners — proving
    the delete removed exactly the matching keys and nothing else. Cost
    shape: read_state + a merge rewriting only the buckets holding victims.
    Reference analogue: deletes in the reference are source ops
    (OpCode 11.3); the engine-originated twin is what a lake target adds."""
    from .lake.table import LakeTable
    from .operators.merge import delete_where, read_state

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _ensure_replay_events()

    def build():
        p = _gate_pipeline(spark, "delete", ev)
        p.run_batch_replay()
        t = LakeTable.load(spark, p.table_path)
        before = t.last_epoch()
        delete_where(t, "lang = 'de'")
        # the watermark must not move: engine deletes are not source epochs
        assert LakeTable.load(spark, p.table_path).last_epoch() == before
        return p.table_path

    t = LakeTable.load(spark, _replay_memo("delete", ev, build))
    return read_state(t).select(
        "url", "warc_ts", "_seq", "text", "lang", "http_status"
    )


# CHECK-constraint gate: one replay with `lang <> 'ja'` enforced on c/u
# events. The oracle excludes violating DML BEFORE the LWW window — a key
# whose newest version violates must fall back to its newest CONFORMING
# version (or disappear, or keep a delete tombstone): filtering after the
# window would be the wrong semantics and hash-fails. Built once per process.
_CONSTRAINT_SQL = _replay_state_sql(
    ev_where=" AND NOT coalesce(op IN ('c', 'u') AND NOT (lang <> 'ja'), FALSE)"
)


@register("engine_constraint_replay", _CONSTRAINT_SQL)
def engine_constraint_replay(spark, sf_dir):
    """CHECK-constraint enforcement through the full value gate (the
    Delta/Iceberg table-constraint analogue; reference analogue: the
    reference's malformed-vector bounds checks THROW — Parser.cpp/
    RedoLogRecord.h — where a lake engine quarantines): a replay with
    `lang <> 'ja'` enforced on c/u events must equal a DuckDB replay that
    drops violating DML before the LWW window, so keys fall back to their
    newest conforming version. In-flight asserts: every quarantined row is
    tagged `constraint:lang_allowed`, none leaked into the target, and the
    dead-letter rows + surviving events partition the committed log."""
    from .lake.table import LakeTable
    from .operators.merge import read_state

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _ensure_replay_events()

    def build():
        dead = _gate_scratch("constraint_dead")
        p = _gate_pipeline(
            spark, "constraint", ev, dead_letter_path=dead,
            constraints={"lang_allowed": "lang <> 'ja'"},
        )
        p.run_batch_replay()
        dl = spark.read.parquet(dead)
        n_dead = dl.count()
        assert n_dead > 0
        assert dl.filter(
            F.col("_dl_reason") != "constraint:lang_allowed"
        ).count() == 0
        n_ja = (
            spark.read.parquet(ev)
            .filter(F.col("op").isin("c", "u") & (F.col("lang") == "ja"))
            .count()
        )
        assert n_dead == n_ja
        return p.table_path

    t = LakeTable.load(spark, _replay_memo("constraint", ev, build))
    return read_state(t).select(
        "url", "warc_ts", "_seq", "text", "lang", "http_status"
    )


def _pca_comp_sql(c: int, cov: str) -> str:
    """Unrolled power iteration (3 steps + Rayleigh) for ONE component,
    with CTE names prefixed c{c} and the matrix relation ``cov``."""
    p = f"c{c}"
    return f"""
    {p}v0 AS MATERIALIZED (
      SELECT unnest(generate_series(1, {_EMB_DIM})) AS i,
             round(1.0 / sqrt(CAST({_EMB_DIM} AS DOUBLE)), 6) AS x),
    {_pca_iter_sql(f"{p}v0", f"{p}w1", f"{p}v1", cov)},
    {_pca_iter_sql(f"{p}v1", f"{p}w2", f"{p}v2", cov)},
    {_pca_iter_sql(f"{p}v2", f"{p}w3", f"{p}v3", cov)},
    {p}w4 AS MATERIALIZED (
      SELECT m.i AS i, sum(m.cov * v.x) AS s
      FROM {cov} m JOIN {p}v3 v ON v.i = m.j GROUP BY m.i),
    {p}lam AS MATERIALIZED (
      SELECT round(sum(w.s * v.x) / sum(v.x * v.x), 6) AS eigval
      FROM {p}w4 w JOIN {p}v3 v USING (i))"""


_PCA2_SQL = f"""
    WITH {_EMB_COV_CTES},
    cov AS MATERIALIZED (
      SELECT i, j, cov FROM covu
      UNION ALL
      SELECT j AS i, i AS j, cov FROM covu WHERE i <> j),
    {_pca_comp_sql(1, "cov")},
    defl1 AS MATERIALIZED (
      SELECT m.i, m.j, round(m.cov - l.eigval * a.x * b.x, 6) AS cov
      FROM cov m
      JOIN c1v3 a ON a.i = m.i
      JOIN c1v3 b ON b.i = m.j
      CROSS JOIN c1lam l),
    {_pca_comp_sql(2, "defl1")}
    SELECT 1 AS component, v.i AS pos, v.x AS loading, l.eigval
    FROM c1v3 v CROSS JOIN c1lam l
    UNION ALL
    SELECT 2 AS component, v.i AS pos, v.x AS loading, l.eigval
    FROM c2v3 v CROSS JOIN c2lam l
    """


@register("emb_pca_top2", _PCA2_SQL)
def emb_pca_top2(spark, sf_dir):
    """Top-2 principal components via power iteration + Hotelling deflation
    (C' = C − λ₁v₁v₁ᵀ after the dominant pair) — the 2-D projection basis
    an embedding-drift dashboard or whitening step consumes. Deflation stays
    an engine expression over the dim² relation (two dim-row joins + a
    one-row eigenvalue crossJoin, re-rounded), so the unrolled-CTE DuckDB
    twin replays both components' exact trajectories. Shape at 100 TB:
    identical to emb_pca_power — covariance_upper's per-partition Gram is
    the only corpus-sized step; everything after runs on dim²-bounded
    relations. Reference analogue: none — training-data pipeline
    extension."""
    emb = T(spark, sf_dir, "embeddings")
    cov = S.covariance_upper(emb, "embedding", dim=_EMB_DIM)
    return S.pca_power_components(
        cov, dim=_EMB_DIM, n_components=2, iters=3, round_dp=6
    )


@register(
    "events_ewma_daily_rate",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, day),
    folded AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             list_reduce(
               list_transform(list(n ORDER BY day), x -> CAST(x AS DOUBLE)),
               (a, b) -> CAST(0.3 AS DOUBLE) * b + CAST(0.7 AS DOUBLE) * a)
               AS ewma_raw,
             avg(n) AS avg_raw
      FROM daily GROUP BY event_type)
    SELECT event_type, n_days, round(ewma_raw, 4) AS ewma,
           round(avg_raw, 4) AS avg_daily
    FROM folded
    """,
)
def events_ewma_daily_rate(spark, sf_dir):
    """EWMA-smoothed daily event rate per type (alpha=0.3) — the
    alerting-baseline recursion (rate spikes/stalls against a smoothed
    floor, the ingest-health twin of events_anomaly_zscore's z-scores).
    A recursive statistic has no windowed-SQL form, but as a LEFT FOLD over
    the ordered per-day counts it is one higher-order-function expression:
    both engines seed with the first day and fold identically (Spark
    aggregate over slice(...) == DuckDB list_reduce), so the doubles match
    bitwise. Shape at 100 TB: the corpus-sized step is the (type, day)
    count partial agg — types×days rows after; per-type arrays are
    days-bounded. Reference analogue: none — training-data pipeline
    extension."""
    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count("*").alias("n"))
    per_type = daily.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.expr(
            "transform(array_sort(collect_list(struct(day, n))),"
            " x -> CAST(x.n AS DOUBLE))"
        ).alias("ns"),
        F.avg("n").alias("avg_raw"),
    )
    ewma = F.expr(
        "aggregate(slice(ns, 2, size(ns) - 1), ns[0],"
        " (acc, x) -> CAST(0.3 AS DOUBLE) * x + CAST(0.7 AS DOUBLE) * acc)"
    )
    return per_type.select(
        "event_type", "n_days",
        F.round(ewma, 4).alias("ewma"),
        F.round("avg_raw", 4).alias("avg_daily"),
    )


_TOPTERMS_K = 3

_TOPTERMS_SQL = f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM documents),
    tok2 AS (SELECT doc_id, token FROM tok WHERE length(token) > 0),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM tok2 GROUP BY doc_id, token),
    df AS (
      SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok2 GROUP BY token),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
    scored AS (
      SELECT t.doc_id, t.token,
             round(t.tf * ln((n.n + 1) / (d.df + 1)), 6) AS score
      FROM tf t JOIN df d USING (token) CROSS JOIN n)
    SELECT doc_id, token, score, CAST(rk AS INTEGER) AS rk FROM (
      SELECT doc_id, token, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, token) AS rk
      FROM scored)
    WHERE rk <= {_TOPTERMS_K}
    """


@register("docs_top_terms_per_doc", _TOPTERMS_SQL)
def docs_top_terms_per_doc(spark, sf_dir):
    """Per-document TF-IDF top-k terms — keyword extraction (search-index
    previews, topic tags, the per-doc salience signal next to
    docs_tfidf_by_lang's per-language aggregate). Scores are rounded to 6dp
    BEFORE the rank so FP noise cannot flip a near-tie differently per
    engine; residual ties break on the token. Shape at 100 TB: tf and df
    are two partial-agg counts, the scoring join is vocab-keyed, and the
    top-k window partitions by doc (bounded by per-doc vocabulary) — no
    global sort. Reference analogue: none — training-data pipeline
    extension."""
    d = T(spark, sf_dir, "documents")
    tok = S.tokens(d, "doc_id", "text", distinct=False)
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_rel = tok.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n = d.agg(F.count("*").cast("double").alias("n"))
    scored = (
        tf.join(df_rel, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "token",
            F.round(
                F.col("tf") * F.log((F.col("n") + 1) / (F.col("df") + 1)), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "token")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TOPTERMS_K)
        .select("doc_id", "token", "score", "rk")
    )


# Dedup-methodology agreement: the Jaccard-verified MinHash pipeline vs the
# SimHash hamming<=3 pipeline on the same bounded id range — both CTEs are
# the existing entries' spellings, so this gate moves with them.
_METHOD_AGREE_SQL = f"""
    WITH {_MINHASH_CAND_SQL},
    {_MINHASH_INTER_CTES},
    mh AS (
      SELECT a, b
      FROM inter
      JOIN sizes sa ON sa.doc_id = a
      JOIN sizes sb ON sb.doc_id = b
      WHERE round(n_inter * 1.0 / (sa.n + sb.n - n_inter), 4) >= 0.6),
    sh AS (
      SELECT a, b FROM ({_simhash_sql()})
      WHERE a < 2000 AND b < 2000)
    SELECT method, CAST(count(*) AS BIGINT) AS n_pairs FROM (
      SELECT CASE WHEN s.a IS NULL THEN 'minhash_only'
                  WHEN m.a IS NULL THEN 'simhash_only'
                  ELSE 'both' END AS method
      FROM mh m FULL OUTER JOIN sh s ON m.a = s.a AND m.b = s.b)
    GROUP BY method
    """


@register("docs_dedup_method_agreement", _METHOD_AGREE_SQL)
def docs_dedup_method_agreement(spark, sf_dir):
    """Agreement matrix between the two production near-dup pipelines on
    the same id range — Jaccard-verified MinHash (J ≥ 0.6, token-SET
    similarity) vs SimHash (hamming ≤ 3, weighted-profile similarity).
    The both/only counts are the calibration evidence for choosing (or
    stacking) methods on a new corpus: a large simhash_only cell means
    profile-similar docs whose token sets diverge (paraphrase-ish), a
    large minhash_only cell means set-overlap the 64-bit profile blurs.
    Shape: both pair generators are the existing blocked/banded paths
    (never all-pairs); the agreement join is pair-keyed. Reference
    analogue: none — training-data pipeline extension."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    cand = S.minhash_candidate_pairs(
        d, "doc_id", "text", n_hashes=8, band_size=4
    )
    mh = (
        S.jaccard_pairs(d, cand, "doc_id", "text")
        .filter(F.round("jaccard", 4) >= 0.6)
        .select("a", "b")
    )
    sh = S.simhash_near_dup_pairs(
        d, "doc_id", "text", max_hamming=3
    ).select("a", "b")
    joined = mh.withColumn("m", F.lit(1)).join(
        sh.withColumn("s", F.lit(1)), ["a", "b"], "full_outer"
    )
    return (
        joined.select(
            F.when(F.col("s").isNull(), F.lit("minhash_only"))
            .when(F.col("m").isNull(), F.lit("simhash_only"))
            .otherwise(F.lit("both"))
            .alias("method")
        )
        .groupBy("method")
        .agg(F.count("*").alias("n_pairs"))
    )


# eq-skip gate: replay, cluster with lang leading so files carry narrow
# lang bounds, then serve a lang slice through the PRUNED read — the value
# hash proves the skipped files contained nothing the slice needed.
_LANG_SLICE_SQL = f"""
    WITH base AS ({_REPLAY_SQL})
    SELECT url, warc_ts, _seq, text, lang, http_status
    FROM base WHERE lang = 'de'
    """


@register("engine_lang_slice_pruned", _LANG_SLICE_SQL)
def engine_lang_slice_pruned(spark, sf_dir):
    """Column-stats file skipping on a non-key column (manifest
    ``col_bounds``, the Iceberg lower/upper_bounds analogue): after a
    cluster rewrite sorted (lang, warc_ts), each file carries a narrow lang
    range, and read(eq={'lang': 'de'}) opens only files whose bounds admit
    'de' — asserted strictly fewer than the full scan before returning.
    The DuckDB oracle replays the log and filters the winners to lang='de',
    so the value hash proves the SKIPPED files contained nothing the slice
    needed. Soundness at scale: read() refuses to eq-prune DIRTY buckets
    (a superseded old version could outlive its pruned winner and win
    read-time LWW — tests/test_colstats_skip.py pins the hazard); bounds
    are matched by field id across renames; long columns never record
    bounds (a truncated max would under-report). Reference analogue:
    checkpoint headers carry per-file scn ranges for exactly this skip —
    generalized here beyond the time column."""
    from .lake.table import LakeTable
    from .operators.merge import cluster_buckets

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _ensure_replay_events()

    def build():
        p = _gate_pipeline(spark, "langslice", ev)
        p.run_batch_replay()
        t = LakeTable.load(spark, p.table_path)
        cluster_buckets(t, target_rows_per_file=64,
                        sort_cols=("lang", "warc_ts"))
        return p.table_path

    t = LakeTable.load(spark, _replay_memo("langslice", ev, build))
    pruned = t.read(eq={"lang": "de"})
    assert len(pruned.inputFiles()) < len(t.read().inputFiles()), \
        "eq bounds must skip files after the lang-leading cluster rewrite"
    return (
        pruned.filter((F.col("_op") != "d") & (F.col("lang") == "de"))
        .select("url", "warc_ts", "_seq", "text", "lang", "http_status")
    )


@register(
    "events_props_schema_infer",
    """
    WITH kv AS (
      SELECT k, json_extract_string(props, '$.' || k) AS v
      FROM (SELECT props, unnest(json_keys(props)) AS k
            FROM events WHERE props IS NOT NULL)),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_rows FROM events)
    SELECT k,
           CAST(count(*) AS BIGINT) AS n_present,
           round(count(*) / n.n_rows, 4) AS presence,
           CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
           CAST(sum(CASE WHEN regexp_full_match(v, '-?[0-9]+')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_int,
           CAST(sum(CASE WHEN regexp_full_match(v, '-?[0-9]*\\.[0-9]+')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_float,
           CAST(sum(CASE WHEN v IN ('true', 'false')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_bool,
           min(v) AS example
    FROM kv CROSS JOIN n
    GROUP BY k, n.n_rows
    """,
)
def events_props_schema_infer(spark, sf_dir):
    """Semi-structured schema inference over the JSON payload column — the
    drift monitor a pipeline points at evolving upstream props: per key,
    presence share, distinct-value count, and type votes (int / float /
    bool by the same regex on both engines), plus a deterministic example
    (min value). New keys appearing or a key's type votes shifting is the
    schema-evolution alarm for columns the DICTIONARY does not govern
    (reference analogue: the reference only tracks dictionary-declared
    columns; untyped payload drift is the lake-side extension). Shape at
    100 TB: explode keys → one partial-agg groupBy over the key space
    (bounded by the payload vocabulary, not the corpus). JVM-side
    from_json(map<string,string>) renders values exactly like DuckDB's
    json_extract_string (unquoted primitives), which is what makes the
    type-vote regexes cross-engine."""
    ev = T(spark, sf_dir, "events")
    kv = ev.filter(F.col("props").isNotNull()).select(
        F.explode(F.from_json("props", "map<string,string>")).alias("k", "v")
    )
    n = ev.agg(F.count("*").cast("double").alias("n_rows"))
    return (
        kv.crossJoin(F.broadcast(n))
        .groupBy("k", "n_rows")
        .agg(
            F.count("*").alias("n_present"),
            F.round(F.count("*") / F.first("n_rows"), 4).alias("presence"),
            F.countDistinct("v").alias("n_distinct"),
            F.sum(
                F.when(F.col("v").rlike("^-?[0-9]+$"), 1).otherwise(0)
            ).alias("n_int"),
            F.sum(
                F.when(F.col("v").rlike("^-?[0-9]*\\.[0-9]+$"), 1).otherwise(0)
            ).alias("n_float"),
            F.sum(
                F.when(F.col("v").isin("true", "false"), 1).otherwise(0)
            ).alias("n_bool"),
            F.min("v").alias("example"),
        )
        .drop("n_rows")
    )


# Join-shaped incremental view maintenance: the change log is routed into
# two disjoint CDC sides (md5(url) first hex 0-7 -> A, 8-f -> B), and the
# pair-level join view A JOIN B ON host is maintained PURELY from per-epoch
# CDF batches: J' = (J minus pairs touching changed keys of either side)
#   UNION (dA_after JOIN B_after) UNION ((A_after minus dA) JOIN dB_after)
# — the three delta terms are disjoint and complete. The DuckDB twin joins
# the two replayed final states from scratch; incremental must net to it.
_INC_JOIN_SQL = f"""
    WITH {_lww_ctes("url, op AS _op")},
    state AS (SELECT url FROM projected WHERE rn = 1 AND _op <> 'd'),
    sided AS (
      SELECT url,
             regexp_extract(url, '^https?://([^/]+)', 1) AS host,
             substring(md5(url), 1, 1) <= '7' AS side_a
      FROM state)
    SELECT a.host, a.url AS a_url, b.url AS b_url
    FROM (SELECT * FROM sided WHERE side_a) a
    JOIN (SELECT * FROM sided WHERE NOT side_a) b USING (host)
    """


@register("engine_incremental_join", _INC_JOIN_SQL)
def engine_incremental_join(spark, sf_dir):
    """Join-shaped incremental view maintenance (the Materialize/Flink
    materialized-join contract): the log is split into two disjoint CDC
    sides and the pair-level join view A ⋈ B ON host is maintained purely
    from CDF batches — per epoch, pairs touching either side's changed
    keys are anti-joined away and the two delta join terms
    (ΔA⋈B_after, (A_after−ΔA)⋈ΔB_after) are unioned in; the terms are
    disjoint and complete, deletes fall out of the anti-join. The DuckDB
    twin joins the two replayed FINAL states from scratch, so incremental
    maintenance must net to from-scratch exactly — the
    engine_incremental_agg invariant applied to a JOIN. Shape at 100 TB:
    per epoch the work is O(changed keys × matched partners); at real
    scale both side states are co-partitioned on the join key so the
    delta joins shuffle only the deltas (documented dial — here the state
    lookup reads the shared table). Reference analogue: the confirm
    protocol's incremental-delivery contract; the join view is one
    consumer's materialization."""
    import shutil as _shutil

    from .lake.table import LakeTable
    from .operators.merge import read_state, snapshot_diff

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    table_path, marks, _metrics = _shared_mor_replay(spark)
    versions = LakeTable.load(spark, table_path).versions()
    host = F.regexp_extract("url", r"^https?://([^/]+)", 1)
    side_a = F.substring(F.md5(F.col("url")), 1, 1) <= "7"
    base = _gate_scratch("inc_join")
    j_path = None
    from_v = min(versions)
    for to_v in marks:
        if to_v == from_v:
            continue
        batch = snapshot_diff(spark, table_path, from_v, to_v)
        da = batch.filter(side_a).select(
            F.col("url").alias("a_url")
        ).distinct()
        db = batch.filter(~side_a).select(
            F.col("url").alias("b_url")
        ).distinct()
        ups = batch.filter(F.col("_change") != "delete")
        a_new = ups.filter(side_a).select(
            F.col("url").alias("a_url"), host.alias("host")
        ).distinct()
        b_new = ups.filter(~side_a).select(
            F.col("url").alias("b_url"), host.alias("host")
        ).distinct()
        st = read_state(LakeTable.load(spark, table_path, version=to_v))
        a_state = st.filter(side_a).select(
            F.col("url").alias("a_url"), host.alias("host")
        )
        b_state = st.filter(~side_a).select(
            F.col("url").alias("b_url"), host.alias("host")
        )
        add_a = a_new.join(b_state, "host")
        add_b = a_state.join(da, "a_url", "left_anti").join(b_new, "host")
        cols = ["host", "a_url", "b_url"]
        j = add_a.select(*cols).unionByName(add_b.select(*cols))
        if j_path is not None:
            kept = (
                spark.read.parquet(j_path)
                .join(da, "a_url", "left_anti")
                .join(db, "b_url", "left_anti")
            )
            j = kept.select(*cols).unionByName(j)
        nxt = os.path.join(base, f"j_v{to_v}")
        j.write.parquet(nxt)
        if j_path is not None:
            _shutil.rmtree(j_path, ignore_errors=True)
        j_path, from_v = nxt, to_v
    return spark.read.parquet(j_path).select("host", "a_url", "b_url")


# Z-order gate: replay, z-order rewrite on (lang, warc_ts), then serve a
# slice constrained on BOTH dimensions through the pruned read — asserting
# each dimension's prune engaged before returning.
_ZORDER_SLICE_SQL = f"""
    WITH base AS ({_REPLAY_SQL})
    SELECT url, warc_ts, _seq, text, lang, http_status
    FROM base
    WHERE lang = 'en'
      AND warc_ts >= TIMESTAMP '2020-01-03 00:00:00'
    """


@register("engine_zorder_slice", _ZORDER_SLICE_SQL)
def engine_zorder_slice(spark, sf_dir):
    """Two-dimensional z-order file skipping end-to-end (operators/merge.py
    zorder_buckets — Iceberg/Delta z-order analogue): after ONE rewrite
    interleaving the lang code with the time code, a slice constrained on
    BOTH dimensions (lang='en' AND warc_ts >= T) is served with files
    skipped by BOTH prunes — each asserted > 0 via plan_scan before
    returning — where a one-dimensional sort layout prunes only its
    leading column. The DuckDB oracle replays the log and applies the same
    two filters to the winners, so the value hash proves the doubly-pruned
    scan missed nothing. Reference analogue: scn-ordered redo files give
    the reference its one physical clustering dimension; z-order is the
    lake-side generalization to two."""
    from .lake.table import LakeTable
    from .operators.merge import zorder_buckets

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _ensure_replay_events()

    def build():
        # one bucket + small files: each lang region spans several files,
        # so the time dimension can split WITHIN a region (a region that
        # fits one file has whole-range ts bounds and ts never prunes)
        p = _gate_pipeline(spark, "zorder", ev, n_buckets=1)
        p.run_batch_replay()
        t = LakeTable.load(spark, p.table_path)
        zorder_buckets(t, cat_col="lang", bits=8,
                       target_rows_per_file=8)
        return p.table_path

    t = LakeTable.load(spark, _replay_memo("zorder", ev, build))
    lo_us = 1_578_009_600_000_000  # 2020-01-03 00:00:00 UTC in micros
    plan = t.plan_scan(ts_between=(lo_us, None), eq={"lang": "en"})
    assert plan["skipped_ts"] > 0 and plan["skipped_eq"] > 0, plan
    import datetime as _dt

    cut = _dt.datetime(2020, 1, 3)
    return (
        t.read(ts_between=(lo_us, None), eq={"lang": "en"})
        .filter(
            (F.col("_op") != "d")
            & (F.col("lang") == "en")
            & (F.col("warc_ts") >= F.lit(cut))
        )
        .select("url", "warc_ts", "_seq", "text", "lang", "http_status")
    )


_COOC_WIN, _COOC_TOPK = 3, 30

_COOC_SQL = f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> length(x) > 0) AS t
      FROM documents),
    pairs AS (
      {" UNION ALL ".join(
        f'''SELECT least(t[x], t[x + {d}]) AS a,
                   greatest(t[x], t[x + {d}]) AS b,
                   1.0 / {d} AS w
            FROM (SELECT t, unnest(generate_series(1, len(t) - {d})) AS x
                  FROM toks WHERE len(t) > {d})'''
        for d in range(1, _COOC_WIN + 1))})
    SELECT a, b, cooc FROM (
      SELECT a, b, round(sum(w), 6) AS cooc FROM pairs GROUP BY a, b)
    ORDER BY cooc DESC, a, b LIMIT {_COOC_TOPK}
    """


@register("docs_skipgram_cooc", _COOC_SQL)
def docs_skipgram_cooc(spark, sf_dir):
    """Distance-weighted co-occurrence counts (the GloVe X_ij statistic:
    window ±3, weight 1/d) — the sufficient statistic embedding trainers
    and collocation miners consume; docs_bigram_pmi is the d=1 special
    case. Shape at 100 TB: the window pairs are generated map-side from
    the token array (no self-join of the token relation — the classic
    mistake is tokens ⋈ tokens on doc_id with a position filter, which
    shuffles O(len²) per doc), then ONE partial-agg groupBy on the pair
    vocabulary and a TakeOrderedAndProject head. Weights are summed then
    rounded 6dp before the rank so engine-order FP noise cannot reorder
    the cut. Reference analogue: none — training-data pipeline
    extension."""
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        F.expr(
            r"filter(split(lower(trim(text)), '\\s+'), x -> length(x) > 0)"
        ).alias("t")
    )
    parts = []
    for dist in range(1, _COOC_WIN + 1):
        parts.append(
            toks.filter(F.expr(f"size(t) > {dist}")).select(
                F.explode(
                    F.expr(
                        f"transform(slice(t, 1, size(t) - {dist}),"
                        f" (x, i) -> struct("
                        f"least(x, t[i + {dist}]) AS a,"
                        f" greatest(x, t[i + {dist}]) AS b))"
                    )
                ).alias("p"),
                F.lit(1.0 / dist).alias("w"),
            )
        )
    pairs = parts[0]
    for p in parts[1:]:
        pairs = pairs.unionByName(p)
    return (
        pairs.select("p.a", "p.b", "w")
        .groupBy("a", "b")
        .agg(F.round(F.sum("w"), 6).alias("cooc"))
        .orderBy(F.desc("cooc"), "a", "b")
        .limit(_COOC_TOPK)
    )


_RFM_SQL = """
    WITH anchor AS (SELECT max(ts) AS mx FROM events),
    per_user AS (
      SELECT user_id,
             CAST(date_diff('second', max(ts), anchor.mx) AS BIGINT)
               AS rec_secs,
             CAST(count(*) AS BIGINT) AS freq,
             round(sum(value), 4) AS monetary
      FROM events CROSS JOIN anchor
      GROUP BY user_id, anchor.mx),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per_user),
    scored AS (
      SELECT user_id,
             CAST(1 + (4 * (row_number() OVER
                     (ORDER BY rec_secs, user_id) - 1)) // n.n
               AS INTEGER) AS r,
             CAST(1 + (4 * (row_number() OVER
                     (ORDER BY freq DESC, user_id) - 1)) // n.n
               AS INTEGER) AS f,
             CAST(1 + (4 * (row_number() OVER
                     (ORDER BY monetary DESC, user_id) - 1)) // n.n
               AS INTEGER) AS m
      FROM per_user CROSS JOIN n)
    SELECT r, f, m, CAST(count(*) AS BIGINT) AS n_users
    FROM scored GROUP BY r, f, m
    """


@register("events_rfm_segments", _RFM_SQL)
def events_rfm_segments(spark, sf_dir):
    """RFM segmentation (recency / frequency / monetary quartiles) — the
    classic behavioral-cohort cut, as the (r, f, m) cell histogram a
    campaign or retention dashboard consumes. Quartiles are RANK-based
    with a deterministic total order (metric, then user_id) and the
    identical 1 + 4*(rn-1)/n arithmetic on both engines — never ntile on
    raw doubles, whose tie handling is the cross-engine trap
    (quantile_buckets' lesson). Monetary is rounded BEFORE the rank.
    Shape at 100 TB: one per-user partial agg, then three rank windows
    over the users-sized relation (at real scale: the two-pass
    percentile-cut path in functions/sampling.quantile_buckets replaces
    the global-order windows; this entry is the exact-rank twin), and a
    64-cell-bounded final rollup. Reference analogue: none —
    training-data pipeline extension."""
    ev = T(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("mx"))
    per_user = (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            (
                F.first(F.unix_timestamp("mx"))
                - F.unix_timestamp(F.max("ts"))
            ).cast("long").alias("rec_secs"),
            F.count("*").alias("freq"),
            F.round(F.sum("value"), 4).alias("monetary"),
        )
        .select("user_id", "rec_secs", "freq", "monetary")
    )
    n = per_user.agg(F.count("*").alias("n"))
    scored = per_user.crossJoin(F.broadcast(n))

    def quart(order_cols):
        w = Window.orderBy(*order_cols)
        # floor division on both engines: DuckDB CAST(double AS INT)
        # ROUNDS while Spark's cast truncates — never divide-then-cast
        return (
            F.lit(1)
            + F.floor(
                F.lit(4) * (F.row_number().over(w) - 1) / F.col("n")
            )
        ).cast("int")

    out = scored.select(
        quart([F.col("rec_secs"), F.col("user_id")]).alias("r"),
        quart([F.desc("freq"), F.col("user_id")]).alias("f"),
        quart([F.desc("monetary"), F.col("user_id")]).alias("m"),
    )
    return out.groupBy("r", "f", "m").agg(F.count("*").alias("n_users"))


@register(
    "emb_norm_hist",
    """
    WITH norms AS (
      SELECT label,
             round(sqrt(list_reduce(
               list_transform(embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
               (a, b) -> a + b)), 6) AS nrm
      FROM embeddings)
    SELECT label,
           CAST(floor(nrm / 0.5) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(min(nrm), 4) AS min_norm,
           round(max(nrm), 4) AS max_norm
    FROM norms GROUP BY label, bucket
    """,
)
def emb_norm_hist(spark, sf_dir):
    """Per-label L2-norm histogram (0.5-wide buckets) over the embedding
    corpus — the norm-collapse / anisotropic-drift health check read next
    to emb_dim_stats (dead dims) and emb_outliers (direction outliers): a
    label whose norms pile into one bucket or drift between snapshots
    signals encoder regression. Norms are rounded 6dp BEFORE bucketing so
    an FP-boundary value cannot land in different buckets per engine.
    Shape at 100 TB: pure map-side expression (sum-of-squares fold) into
    one partial-agg groupBy on the (labels × buckets)-bounded keyspace.
    Reference analogue: none — training-data pipeline extension."""
    emb = T(spark, sf_dir, "embeddings")
    nrm = F.round(
        F.sqrt(
            F.aggregate(
                F.transform(
                    "embedding",
                    lambda x: x.cast("double") * x.cast("double"),
                ),
                F.lit(0.0),
                lambda a, b: a + b,
            )
        ),
        6,
    )
    norms = emb.select("label", nrm.alias("nrm"))
    return (
        norms.groupBy(
            "label", F.floor(F.col("nrm") / 0.5).cast("long").alias("bucket")
        )
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.min("nrm"), 4).alias("min_norm"),
            F.round(F.max("nrm"), 4).alias("max_norm"),
        )
    )


# Johnson-Lindenstrauss projection audit: the ±1 matrix is generated from
# one md5 spec (similarity.jl_sign_matrix) and embedded as a literal on BOTH
# sides; every fold runs in identical index order, so the doubles match
# bitwise before the 2dp rounding. The DuckDB side spells the 16 dots as
# generated expressions; the Spark side keeps the expression tree O(1) in k
# via higher-order functions (the PQ-ADC janino lesson).
_JL_K = 16
_JL_R = S.jl_sign_matrix(_JL_K, _EMB_DIM)


def _jl_lit_sql(row: list[float]) -> str:
    return "[" + ", ".join(f"{v:.1f}" for v in row) + "]"


# list_dot_product over a pre-cast MATERIALIZED vector column: the previous
# spelling built the 64-element literal list per ELEMENT per projection
# (generate_series + ([lit])[j] — 16×64 list constructions per row, 26 s at
# sf0.1); this one is 0.03 s with identical output (same left-fold order).
_JL_SQL = f"""
    WITH xd AS MATERIALIZED (
      SELECT label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings),
    proj AS (
      SELECT label,
             {", ".join(f"list_dot_product(e, {_jl_lit_sql(r)}) AS y{i}" for i, r in enumerate(_JL_R))},
             list_reduce(list_transform(e, x -> x * x),
               (a, b) -> a + b) AS nx2
      FROM xd),
    ratios AS (
      SELECT label,
             round(({" + ".join(f"y{i} * y{i}" for i in range(_JL_K))})
                   / {_JL_K}.0 / nx2, 2) AS ratio
      FROM proj WHERE nx2 > 0)
    SELECT label, ratio, CAST(count(*) AS BIGINT) AS n_vecs
    FROM ratios GROUP BY label, ratio
    """


@register("emb_jl_norm_ratio", _JL_SQL)
def emb_jl_norm_ratio(spark, sf_dir):
    """Johnson-Lindenstrauss random-projection audit (Achlioptas ±1 form,
    scale 1/sqrt(k)): per-label histogram of |proj(x)|²/|x|² at k=16 — the
    acceptance gate for projecting 64-dim embeddings down before the ANN
    family (JL says the ratio concentrates near 1; a wide or shifted
    histogram prices the dim cut, the twin of emb_matryoshka_error for
    random instead of learned projections). Shape at 100 TB: the matrix is
    a k×dim literal (no broadcast, no join), projection + norms are pure
    map-side HOF folds, and the output groupBy is (labels × ratio
    buckets)-bounded. Reference analogue: none; training-data extension."""
    emb = T(spark, sf_dir, "embeddings")
    xd = F.transform("embedding", lambda x: x.cast("double"))
    rows = [F.array(*[F.lit(v) for v in row]) for row in _JL_R]
    y = F.transform(
        F.array(*rows),
        lambda row: F.aggregate(
            F.zip_with(row, xd, lambda a, b: a * b),
            F.lit(0.0),
            lambda a, b: a + b,
        ),
    )
    ny2 = F.aggregate(
        F.transform(y, lambda v: v * v), F.lit(0.0), lambda a, b: a + b
    ) / F.lit(float(_JL_K))
    nx2 = F.aggregate(
        F.transform(xd, lambda v: v * v), F.lit(0.0), lambda a, b: a + b
    )
    r = emb.select("label", ny2.alias("ny2"), nx2.alias("nx2")).filter(
        F.col("nx2") > 0
    )
    return (
        r.select("label", F.round(F.col("ny2") / F.col("nx2"), 2).alias("ratio"))
        .groupBy("label", "ratio")
        .agg(F.count("*").alias("n_vecs"))
    )


@register(
    "events_cohort_ltv",
    """
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP)
               AS cohort_week
      FROM events GROUP BY user_id),
    joined AS (
      SELECT e.user_id, f.cohort_week,
             CAST(date_diff('week',
                            CAST(f.cohort_week AS TIMESTAMP),
                            CAST(date_trunc('week', e.ts) AS TIMESTAMP))
               AS INTEGER) AS age_weeks,
             e.value
      FROM events e JOIN firsts f USING (user_id)),
    cells AS (
      SELECT cohort_week, age_weeks,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             round(sum(value), 2) AS week_value
      FROM joined GROUP BY cohort_week, age_weeks)
    SELECT cohort_week, age_weeks, n_users, week_value,
           round(sum(week_value) OVER (
             PARTITION BY cohort_week ORDER BY age_weeks), 2) AS cum_value
    FROM cells
    """,
)
def events_cohort_ltv(spark, sf_dir):
    """Cohort LTV triangle — cumulative captured value per signup-week
    cohort by age week (the revenue twin of events_retention's
    user-count triangle; the curve a data-buying or crawl-budget decision
    reads). Shape at 100 TB: first-touch week is ONE per-user partial agg
    joined back (user-keyed equi-join), cells are a (cohorts × ages)-
    bounded groupBy, and the cumulative window runs on the cells-sized
    relation only — never over raw events. week_value is rounded BEFORE
    the running sum so both engines accumulate identical addends in
    identical age order (sum of pre-rounded doubles in one fixed order is
    deterministic cross-engine). Reference analogue: none —
    training-data pipeline extension."""
    ev = T(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    joined = ev.join(firsts, "user_id").select(
        "user_id", "cohort_week",
        (
            F.floor(
                (
                    F.unix_timestamp(F.date_trunc("week", F.col("ts")))
                    - F.unix_timestamp("cohort_week")
                ) / (7 * 86400)
            )
        ).cast("int").alias("age_weeks"),
        "value",
    )
    cells = joined.groupBy("cohort_week", "age_weeks").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("week_value"),
    )
    w = Window.partitionBy("cohort_week").orderBy("age_weeks")
    return cells.select(
        "cohort_week", "age_weeks", "n_users", "week_value",
        F.round(F.sum("week_value").over(w), 2).alias("cum_value"),
    )


_SIL_SQL = f"""
    WITH {_LABEL_CENTROID_CTES},
    scored AS (
      SELECT e.vec_id, e.label AS own, c.label AS other,
             round(CAST(list_cosine_similarity(
               list_transform(e.embedding, x -> CAST(x AS DOUBLE)),
               c.centroid) AS DOUBLE), 6) AS cosc
      FROM embeddings e CROSS JOIN cent c),
    per_vec AS (
      SELECT vec_id, own,
             max(CASE WHEN other = own THEN cosc END) AS intra,
             max(CASE WHEN other <> own THEN cosc END) AS best_inter
      FROM scored GROUP BY vec_id, own)
    SELECT own AS label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(avg(intra), 4) AS avg_intra,
           round(avg(best_inter), 4) AS avg_best_inter,
           round(avg(intra - best_inter), 4) AS separation
    FROM per_vec GROUP BY own
    """


@register("emb_label_silhouette", _SIL_SQL)
def emb_label_silhouette(spark, sf_dir):
    """Centroid-silhouette label-separation report: per label, each
    vector's cosine to its OWN centroid vs its best OTHER centroid, and
    the mean gap — the clustering-quality / embedding-collapse diagnostic
    (separation → 0 means labels are no longer distinguishable; the
    cheap centroid form of the silhouette score, never all-pairs).
    Shape at 100 TB: centroids are a (labels × dim) partial agg; scoring
    joins each vector against the BROADCAST labels-sized centroid set
    map-side; the report is a labels-bounded rollup. Per-centroid cosines
    are rounded 6dp before the max/avg so near-ties fold identically per
    engine. Reference analogue: none — training-data pipeline
    extension."""
    emb = T(spark, sf_dir, "embeddings")
    comp = (
        emb.select(
            "label", F.posexplode("embedding").alias("pos0", "val")
        )
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("c"))
    )
    cent = comp.groupBy("label").agg(
        F.expr("transform(array_sort(collect_list(struct(pos, c))),"
               " x -> x.c)").alias("centroid")
    ).select(F.col("label").alias("other"), "centroid")
    scored = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            F.col("label").alias("own"),
            "other",
            F.round(
                S.cosine(F.col("embedding"), F.col("centroid")), 6
            ).alias("cosc"),
        )
    )
    per_vec = scored.groupBy("vec_id", "own").agg(
        F.max(F.when(F.col("other") == F.col("own"), F.col("cosc"))).alias(
            "intra"
        ),
        F.max(F.when(F.col("other") != F.col("own"), F.col("cosc"))).alias(
            "best_inter"
        ),
    )
    return per_vec.groupBy(F.col("own").alias("label")).agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("intra"), 4).alias("avg_intra"),
        F.round(F.avg("best_inter"), 4).alias("avg_best_inter"),
        F.round(F.avg(F.col("intra") - F.col("best_inter")), 4).alias(
            "separation"
        ),
    )


_MESSY_URL_SPEC = dict(seed=11, n_pages=300)
_MESSY_URLS = fixture_path(_REPLAY_BASE, "messy_urls", _MESSY_URL_SPEC)


def _ensure_messy_urls() -> str:
    from .datagen import write_messy_urls

    return ensure_fixture(
        _MESSY_URLS, lambda d: write_messy_urls(d, **{
            "n_pages": _MESSY_URL_SPEC["n_pages"],
            "seed": _MESSY_URL_SPEC["seed"],
        })
    )


# DuckDB twin of functions/text.canonicalize_url — same algorithm, same
# Java∩RE2-safe patterns; only replacement/list spellings differ by dialect.
_URL_CANON_SQL = f"""
    WITH parts AS (
      SELECT url,
        lower(regexp_extract(url,
          '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)(.*)$', 1)) AS scheme,
        lower(regexp_extract(url,
          '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)(.*)$', 2)) AS host0,
        regexp_replace(regexp_extract(url,
          '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)(.*)$', 3), '#.*$', '')
          AS rest
      FROM read_parquet('{_MESSY_URLS}/*.parquet')),
    norm AS (
      SELECT url, scheme,
        CASE WHEN scheme = 'https'
               THEN regexp_replace(regexp_replace(host0, '^www\\.', ''),
                                   ':443$', '')
             WHEN scheme = 'http'
               THEN regexp_replace(regexp_replace(host0, '^www\\.', ''),
                                   ':80$', '')
             ELSE regexp_replace(host0, '^www\\.', '') END AS host,
        regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/$', '') AS path,
        CASE WHEN contains(rest, '?')
             THEN regexp_replace(rest, '^[^?]*\\?', '') ELSE '' END AS q
      FROM parts),
    canon AS (
      SELECT url,
        scheme || '://' || host || path ||
        CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
             ELSE '' END AS canonical_url
      FROM (SELECT *, list_filter(string_split(q, '&'),
              x -> NOT regexp_matches(x,
                '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid)=')
              AND len(x) > 0) AS kept
            FROM norm))
    SELECT canonical_url,
           CAST(count(DISTINCT url) AS BIGINT) AS n_variants,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM canon GROUP BY canonical_url
    """


@register("docs_url_canonical_dedup", _URL_CANON_SQL)
def docs_url_canonical_dedup(spark, sf_dir):
    """URL canonicalization dedup — the crawl-frontier identity step every
    web pipeline runs BEFORE content dedup (SURT / Common-Crawl canonical
    form): scheme+host case, www, default ports, fragments, tracking
    params, trailing slash all collapse; path case and real query params
    are PRESERVED (the fixture plants both so an over-aggressive
    canonicalizer hash-fails). Runs on a deterministic messy-URL fixture
    (replay-fixture urls are born canonical). The value hash covers the
    full canonical string of every group, so the exact canonicalization —
    not just group counts — is cross-checked against DuckDB's RE2. Shape
    at 100 TB: pure map-side expression chain into one partial-agg groupBy
    on the canonical key. Reference analogue: none — training-data
    pipeline extension."""
    d = spark.read.parquet(_ensure_messy_urls())
    return (
        d.select("url", TXT.canonicalize_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.countDistinct("url").alias("n_variants"),
            F.count("*").alias("n_rows"),
        )
    )


@register("engine_rollback_replay", _REPLAY_SQL)
def engine_rollback_replay(spark, sf_dir):
    """Disaster-recovery rollback + re-delivery convergence, end-to-end
    through the differential gate (rollback_to itself is pytest-pinned;
    this entry value-hashes the CONVERGED state): replay all four epochs,
    roll main back to the snapshot that confirmed epoch 1 (one atomic
    `_current` swap — the confirmed-epoch watermark and the schema
    dictionary regress WITH the snapshot, so the rolled-back table is a
    bit-exact epoch-1 state), then re-deliver epochs 2-3 from the source.
    Because the watermark regressed, the exactly-once gate ACCEPTS the
    re-delivery (by design — the reference replays redo from the restored
    checkpoint scn, StateDisk checkpoint chain), and idempotent MERGE
    re-applies it; the final state must equal the plain four-file replay,
    which is exactly the DuckDB oracle. Shape at 100 TB: rollback is O(1)
    metadata; re-delivery cost is the epochs replayed, same as any resume."""
    from .lake.table import LakeTable

    ev = _ensure_replay_events()
    files = _event_files(ev)
    p = _gate_pipeline(spark, "rollback", ev)
    _apply_files(p, files[:2])
    restore_ver = LakeTable.current_version(p.table_path)
    _apply_files(p, files[2:], start=2)

    rolled = LakeTable.load(spark, p.table_path).rollback_to(restore_ver)
    if rolled.last_epoch() != (1, True):
        raise AssertionError(
            f"rollback did not regress the watermark: {rolled.last_epoch()}"
        )
    # re-delivery: the SAME epochs from the source converge idempotently
    _apply_files(p, files[2:], start=2)
    return p.target_state().select(
        "url", "warc_ts", "_seq", "text", "lang", "http_status"
    )


_UNICODE_SPEC = dict(seed=13, n_docs=300)
_UNICODE_DOCS = fixture_path(_REPLAY_BASE, "unicode_docs", _UNICODE_SPEC)


def _ensure_unicode_docs() -> str:
    from .datagen import write_unicode_docs

    return ensure_fixture(
        _UNICODE_DOCS, lambda d: write_unicode_docs(d, **{
            "n_docs": _UNICODE_SPEC["n_docs"], "seed": _UNICODE_SPEC["seed"],
        })
    )


_UNICODE_SQL = f"""
    SELECT doc_id,
           nfc_normalize(text) <> text AS nfc_changed,
           CAST(length(text) AS INT) AS n_chars_raw,
           CAST(length(nfc_normalize(text)) AS INT) AS n_chars_nfc,
           md5(nfc_normalize(text)) AS norm_md5
    FROM read_parquet('{_UNICODE_DOCS}/*.parquet')
"""


@register("docs_unicode_normalize", _UNICODE_SQL)
def docs_unicode_normalize(spark, sf_dir):
    """Unicode NFC normalization pass — the canonical-equivalence scrub every
    web-text dedup pipeline needs BEFORE hashing (the same page crawled from
    two renderers can differ only in composed-vs-decomposed accents, and an
    exact/MinHash dedup keyed on raw bytes misses the pair). Runs on a
    deterministic mixed-normalization fixture (the sf* documents are already-
    NFC salad): combining sequences, a U+212B singleton, and canonical
    reordering all CHANGE under NFC; NFKC-only compatibility forms (fullwidth,
    ligature) must NOT change — an over-eager NFKC normalizer hash-fails.
    The value hash covers md5 of the normalized text, so the exact composed
    output — not just the changed flag — is cross-checked against DuckDB's
    utf8proc. Shape at 100 TB: one Arrow-batched map-side kernel
    (TXT.nfc_normalize_udf), no shuffle. Reference analogue: none — the
    reference decodes charsets (src/locales/) but never normalizes;
    training-data pipeline extension."""
    d = spark.read.parquet(_ensure_unicode_docs())
    norm = TXT.nfc_normalize_udf()(F.col("text"))
    return d.select(
        "doc_id",
        (norm != F.col("text")).alias("nfc_changed"),
        F.length("text").alias("n_chars_raw"),
        F.length(norm).alias("n_chars_nfc"),
        F.md5(norm.cast("binary")).alias("norm_md5"),
    )


_BLOOM_LOOKUP_SQL = f"""
    WITH winners AS ({_REPLAY_SQL}),
    keys AS (SELECT url FROM winners ORDER BY md5(url), url LIMIT 5)
    SELECT w.url, w.warc_ts, w._seq, w.text, w.lang, w.http_status
    FROM winners w JOIN keys USING (url)
"""


@register("engine_bloom_lookup", _BLOOM_LOOKUP_SQL)
def engine_bloom_lookup(spark, sf_dir):
    """Point lookup served through the per-file Bloom index (lake/bloom.py):
    replay the fixture into a bloom_cols=("url",) table, time-cluster it so
    every bucket holds SEVERAL files whose url values span the whole key
    range (col_bounds provably cannot prune a url lookup on this layout —
    that is the case the bloom exists for), then serve 5 deterministic keys
    (md5-smallest winner urls, the ANN-style fixed evaluation set) via
    lookup_keys. In-flight assert: the manifest bloom actually skipped files
    (skipped_bloom > 0). The oracle recomputes those keys' winners from the
    raw log, so a bloom FALSE NEGATIVE (a wrongly skipped file) would drop a
    row and hash-fail — the no-false-negative property is value-gated, not
    just unit-tested. Shape at 100 TB: bitmap build is one column-pruned
    read per committed file (write-time index cost); the probe is
    driver-side metadata, O(files × keys), no data I/O. Iceberg/Delta
    file-level bloom-filter parity; reference analogue: checkpoint headers
    carry scn ranges only (Metadata.cpp) — the ts-bounds prune — so this
    extends that idea to hash membership."""
    from .lake.table import LakeTable
    from .operators.merge import cluster_buckets, lookup_keys

    p = _gate_pipeline(
        spark, "bloom", _ensure_replay_events(), bloom_cols=("url",)
    )
    p.run_batch_replay()
    t = LakeTable.load(spark, p.table_path)
    cluster_buckets(t, target_rows_per_file=4)
    t = LakeTable.load(spark, p.table_path)

    keys = [
        r["url"]
        for r in p.target_state()
        .orderBy(F.md5(F.col("url").cast("binary")), F.col("url"))
        .select("url")
        .limit(5)
        .collect()  # acceptable: the fixed 5-key evaluation set
    ]
    stats = t.plan_scan(eq={"url": keys})
    if stats["skipped_bloom"] <= 0:
        raise AssertionError(f"bloom index did not prune: {stats}")
    return lookup_keys(t, keys).select(
        "url", "warc_ts", "_seq", "text", "lang", "http_status"
    )


_C4_SPEC = dict(seed=11, n_docs=350)
_C4_DOCS = fixture_path(_REPLAY_BASE, "c4_docs", _C4_SPEC)


def _ensure_c4_docs() -> str:
    from .datagen import write_c4_docs

    return ensure_fixture(
        _C4_DOCS, lambda d: write_c4_docs(d, **{
            "n_docs": _C4_SPEC["n_docs"], "seed": _C4_SPEC["seed"],
        })
    )


_C4_SQL = f"""
    WITH d AS (
      SELECT doc_id, text, string_split(text, chr(10)) AS ls
      FROM read_parquet('{_C4_DOCS}/*.parquet')),
    f AS (
      SELECT doc_id,
             CAST(len(ls) AS INT) AS n_lines,
             list_filter(ls, l ->
               regexp_matches(l, '[.!?"]$')
               AND len(string_split_regex(trim(l), '\\s+')) >= 5
               AND NOT contains(lower(l), 'javascript')) AS kept,
             (contains(lower(text), 'lorem ipsum') OR contains(text, '{{'))
               AS page_poisoned
      FROM d)
    SELECT doc_id, n_lines,
           CAST(len(kept) AS INT) AS n_kept,
           (NOT page_poisoned AND len(kept) >= 3) AS keep_doc,
           md5(coalesce(array_to_string(kept, chr(10)), '')) AS cleaned_md5
    FROM f
"""
# dialect gotcha: DuckDB array_to_string([]) is NULL, Spark array_join([]) is ''


@register("docs_c4_clean", _C4_SQL)
def docs_c4_clean(spark, sf_dir):
    """C4 line-level cleaning (Raffel et al. 2020 §2.2) — the third member
    of the filter family next to the Gopher rule filter (doc-level stats)
    and the CCNet perplexity buckets (model-based): keep a line only if it
    ends in terminal punctuation, has >= 5 words, and doesn't mention
    javascript; drop the whole page on 'lorem ipsum' / '{' poisons or < 3
    surviving lines. Runs on a deterministic multi-line fixture with
    planted 4-word/5-word boundary lines, so the >=5 rule is value-checked
    at its edge; cleaned_md5 hashes the REBUILT document (exact surviving
    spans, not just counts) against DuckDB's list_filter twin. Shape at
    100 TB: pure JVM expression chain (split -> filter lambda ->
    array_join), one map-side pass, no shuffle, no Python. Reference
    analogue: none — training-data pipeline extension."""
    d = spark.read.parquet(_ensure_c4_docs())
    ls = F.split(F.col("text"), "\n")
    kept = F.filter(
        ls,
        lambda l: l.rlike('[.!?"]$')
        & (F.size(F.split(F.trim(l), r"\s+")) >= 5)
        & ~F.lower(l).contains("javascript"),
    )
    page_poisoned = (
        F.lower(F.col("text")).contains("lorem ipsum")
        | F.col("text").contains("{")
    )
    return d.select(
        "doc_id",
        F.size(ls).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        (~page_poisoned & (F.size(kept) >= 3)).alias("keep_doc"),
        F.md5(F.array_join(kept, "\n").cast("binary")).alias("cleaned_md5"),
    )


_DSIR_SAMPLE_SQL = f"""
    WITH {_DSIR_LR_CTES},
    weights AS (
      SELECT h.doc_id, CAST(sum(lr_micros) AS BIGINT) AS logw_micro_nats
      FROM hashed h JOIN lr USING (bucket)
      GROUP BY h.doc_id),
    keyed AS (
      SELECT doc_id, logw_micro_nats,
             CAST(round((logw_micro_nats / 1e6
                    - ln(-ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                                      || ':gumbel'), 1, 8)
                               AS BIGINT) + 1) / 4294967297.0))) * 1e6)
                  AS BIGINT) AS key_micro
      FROM weights)
    SELECT doc_id, logw_micro_nats, key_micro
    FROM keyed ORDER BY key_micro DESC, doc_id LIMIT 100
    """


@register("docs_dsir_sample", _DSIR_SAMPLE_SQL)
def docs_dsir_sample(spark, sf_dir):
    """DSIR importance RESAMPLING realized — Gumbel-top-k weighted sampling
    without replacement (Xie et al. 2023 resample step; Vieira 2014 /
    Kool et al. 2019 Gumbel-top-k): adding an independent Gumbel to each
    doc's log-weight and taking the k largest draws a sample ∝ exp(logw)
    WITHOUT replacement, entirely in log space (never exp(logw), which
    over/underflows for real importance weights). The Gumbel is
    deterministic — −ln(−ln u) with u from an md5 of the doc id — so both
    engines draw the SAME sample; the rank key rides as exact integer
    micro-units with a doc_id tiebreak so an FP ulp can never flip the
    top-k threshold. Shape at 100 TB: the weight pipeline is
    docs_dsir_weights' (1024-bucket fixed feature space, broadcast
    log-ratio table); the selection is one TakeOrderedAndProject — no
    global sort, no shuffle beyond the weight agg. Reference analogue:
    none — training-data pipeline extension."""
    weights = docs_dsir_weights(spark, sf_dir).select(
        "doc_id", "logw_micro_nats"
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit(":gumbel"))
                    .cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + 1
    ) / 4294967297.0
    key_micro = (
        F.round(
            (F.col("logw_micro_nats") / 1e6 - F.log(-F.log(u))) * 1e6
        ).cast("long")
    )
    return (
        weights.withColumn("key_micro", key_micro)
        .orderBy(F.desc("key_micro"), "doc_id")
        .limit(100)
    )


@register("engine_maintain_replay", _REPLAY_SQL)
def engine_maintain_replay(spark, sf_dir):
    """The one-call maintenance orchestrator through the value gate: replay
    the fixture as merge-on-read (every epoch appends deltas; no inline
    compaction), then run `operators.merge.maintain` — plan_compaction
    splits the dirty/fragmented queues from snapshot metadata alone, the
    dirty buckets LWW-fold, clean fragmented ones bin-pack, tombstones
    older than the (pre-data) watermark purge (none here — the tombstones
    must survive to keep late resurrects dead), snapshots GC. In-flight
    asserts: maintenance actually compacted (dirty set emptied) and the
    file count SHRANK; the oracle then proves user-visible state is
    bit-identical to the plain replay — maintenance is never a semantics
    change. Shape at 100 TB: every pass is bucket-pruned and
    metadata-planned; this is the cadence job a scheduler runs beside the
    ingest pipeline (reference analogue: the checkpoint GC thread,
    Metadata.cpp checkpoint retention)."""
    import datetime as _dt

    from .lake.table import LakeTable
    from .operators.merge import maintain

    ev = _ensure_replay_events()
    p = _gate_pipeline(spark, "maint", ev, merge_mode="mor", compact_every=0)
    _apply_files(p, _event_files(ev))
    t = LakeTable.load(spark, p.table_path)
    if not t.dirty_buckets():
        raise AssertionError("MoR replay left no dirty buckets to maintain")
    n_files_before = len(t.snap["files"])
    rep = maintain(
        t,
        max_files_per_bucket=1,
        tombstone_older_than=_dt.datetime(1990, 1, 1),
        keep_last_snapshots=2,
    )
    if "compact" not in rep or t.dirty_buckets():
        raise AssertionError(f"maintain did not compact: {rep}")
    if len(t.snap["files"]) >= n_files_before:
        raise AssertionError(
            f"maintenance did not shrink files: {n_files_before} -> "
            f"{len(t.snap['files'])}"
        )
    return p.target_state().select(
        "url", "warc_ts", "_seq", "text", "lang", "http_status"
    )


@register("engine_clone_continue", _REPLAY_SQL)
def engine_clone_continue(spark, sf_dir):
    """Zero-copy fork-and-continue through the value gate: replay epochs
    0-1 into a source table, SHALLOW-CLONE it (LakeTable.clone_to — O(files)
    metadata, the clone's base manifest references the source parquet by
    absolute path, nothing copied), then deliver epochs 2-3 to the CLONE
    only. The clone must equal the full four-file replay (the oracle);
    in-flight asserts pin that the clone copied zero data files at fork
    time and that the SOURCE still holds exactly the epoch-1 state — full
    divergence isolation. This is the Delta SHALLOW CLONE / dev-sandbox
    shape: fork a 100 TB target in milliseconds, test a pipeline change
    against it, throw it away; clone-side GC can only delete under the
    clone's own data root. Exactly-once also transfers: the clone inherits
    the confirmed-epoch watermark, so re-delivering epoch 1 to it would be
    suppressed while epochs 2-3 apply."""
    from .lake.table import LakeTable
    from .streaming.pipeline import CdcPipeline

    ev = _ensure_replay_events()
    files = _event_files(ev)
    p = _gate_pipeline(spark, "clone", ev)
    _apply_files(p, files[:2])
    d = os.path.dirname(p.table_path)
    src = LakeTable.load(spark, p.table_path)
    src_rows = p.target_state().count()

    clone_path = os.path.join(d, "clone")
    src.clone_to(clone_path)
    copied = [
        os.path.join(r, fn)
        for r, _dd, fs in os.walk(os.path.join(clone_path, "data"))
        for fn in fs
        if fn.endswith(".parquet")
    ]
    if copied:
        raise AssertionError(f"clone copied data files: {copied[:3]}")

    p2 = CdcPipeline(spark, ev, clone_path, os.path.join(d, "c2"))
    _apply_files(p2, files[2:], start=2)

    if p.target_state().count() != src_rows:
        raise AssertionError("source state changed under the clone's writes")
    return p2.target_state().select(
        "url", "warc_ts", "_seq", "text", "lang", "http_status"
    )


_FIRST_SEEN_SQL = f"""
    WITH ev AS (
      SELECT url, warc_ts, seq, text, filename
      FROM read_parquet('{_REPLAY_EVENTS}/*.parquet', filename=true)
      WHERE {_COMMITTED_DML}),
    w AS (
      SELECT url, warc_ts, seq AS _seq, text,
             row_number() OVER (PARTITION BY url
                                ORDER BY filename, warc_ts, seq) AS rn
      FROM ev)
    SELECT url, warc_ts, _seq, md5(coalesce(text, '')) AS text_md5
    FROM w WHERE rn = 1
"""


@register("engine_stream_first_seen", _FIRST_SEEN_SQL)
def engine_stream_first_seen(spark, sf_dir):
    """The custom STATEFUL streaming operator through the value gate:
    applyInPandasWithState first-seen ingest dedup (streaming/dedup.py)
    over the replay log streamed one archive file per micro-batch — each
    url admits exactly its FIRST arrival (arrival order across epochs,
    min (warc_ts, seq) within one; first-writer-wins, the dual of LWW)
    and every later version is suppressed by the one-boolean-per-key
    state store. ~10 versions per url in the fixture, so cross-epoch
    suppression does real work. The oracle reproduces arrival order from
    the archive filenames (lexicographic = delivery order, the S3
    ordered-archive contract), so a state-store miss — a key admitted
    twice, or the wrong in-batch winner — breaks the value hash. Shape at
    100 TB: state is one boolean per distinct key (switch the provider to
    RocksDB past memory), shuffle key is the dedup key itself. Reference
    analogue: idempotent confirm/re-delivery suppression keyed by scn
    (WriterStream confirm protocol), re-keyed by content/entity."""
    from .operators.decode import EVENTS_DDL
    from .streaming.dedup import first_seen_only

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _ensure_replay_events()
    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(ev)
    )
    dml = stream.filter(
        F.col("op").isNotNull()
        & (F.col("op") != "ddl")
        & ~F.col("rolled_back")
        & F.col("url").isNotNull()
        & F.col("warc_ts").isNotNull()
    ).select("url", "warc_ts", "seq", "text")
    admitted = first_seen_only(dml, "url", ["warc_ts", "seq"])
    with _stream_harness(spark) as d:
        out, ckpt = os.path.join(d, "out"), os.path.join(d, "ckpt")
        q = (
            admitted.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    res = spark.read.schema(
        "url string, warc_ts timestamp, seq long, text string"
    ).parquet(out)
    return res.select(
        "url",
        "warc_ts",
        F.col("seq").alias("_seq"),
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")).alias(
            "text_md5"
        ),
    )


_NGRAM_NOVELTY_SQL = """
    WITH base AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
                                 1, 8) AS BIGINT) % 10 = 0 AS is_batch
      FROM documents WHERE length(trim(text)) > 0),
    grams AS (
      SELECT doc_id, is_batch,
             unnest(list_transform(range(1, len(toks) - 3),
                    i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                             || ' ' || toks[i+3] || ' ' || toks[i+4])))
               AS gram
      FROM base WHERE len(toks) >= 5),
    corpus_grams AS (
      SELECT DISTINCT gram FROM grams WHERE NOT is_batch),
    scored AS (
      SELECT g.doc_id, count(*) AS n_grams,
             count(*) FILTER (WHERE c.gram IS NULL) AS n_novel
      FROM grams g LEFT JOIN corpus_grams c USING (gram)
      WHERE g.is_batch GROUP BY g.doc_id)
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_novel AS BIGINT) AS n_novel,
           CAST(round(n_novel * 1e6 / n_grams) AS BIGINT) AS novelty_ppm
    FROM scored
    """


@register("docs_ngram_novelty", _NGRAM_NOVELTY_SQL)
def docs_ngram_novelty(spark, sf_dir):
    """Batch-vs-corpus 5-gram novelty — the memorization / freshness monitor
    (the complement of docs_decontaminate's overlap direction): a held-out
    md5-keyed 10% batch scores, per doc, the share of its 5-grams absent
    from the other 90%'s distinct gram set. Low novelty = the 'new' data is
    already in the corpus (re-crawl, mirror, near-dup leakage into a fresh
    dump); the FineWeb-style per-dump freshness check. Shape at 100 TB:
    grams ride as md5 HASHES (fixed width, never the raw 5-token strings),
    the corpus side is a distinct partial-agg, the probe is one equi
    LEFT ANTI-shaped join on the hash — batch-sized output, and the
    novelty share rides as exact integer ppm so FP division can't flip the
    hash. Reference analogue: none — training-data pipeline extension."""
    d = T(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    is_batch = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit(":split"))
                    .cast("binary")
                ),
                1, 8,
            ),
            16, 10,
        ).cast("long") % 10 == 0
    )
    base = d.select(
        "doc_id", is_batch.alias("is_batch"), toks.alias("toks")
    ).filter(F.size("toks") >= 5)
    grams = base.select(
        "doc_id",
        "is_batch",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 4),
                lambda i: F.md5(
                    F.concat_ws(
                        " ",
                        *[F.element_at(F.col("toks"), i + k) for k in range(5)],
                    ).cast("binary")
                ),
            )
        ).alias("gram"),
    )
    corpus = grams.filter(~F.col("is_batch")).select("gram").distinct()
    probe = grams.filter(F.col("is_batch")).join(
        corpus.withColumn("_hit", F.lit(1)), "gram", "left"
    )
    return probe.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0)).alias("n_novel"),
    ).select(
        "doc_id",
        "n_grams",
        "n_novel",
        F.round(F.col("n_novel") * 1e6 / F.col("n_grams"))
        .cast("long")
        .alias("novelty_ppm"),
    )


_FEATURE_HASH_SQL = """
    WITH tok AS (
      SELECT doc_id, t AS token
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
            FROM documents)
      WHERE length(t) > 0),
    f AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % 64 AS bucket,
             CASE WHEN substr(md5(token), 9, 1)
                       IN ('1','3','5','7','9','b','d','f')
                  THEN -1 ELSE 1 END AS s
      FROM tok)
    SELECT doc_id, bucket, CAST(sum(s) AS BIGINT) AS weight
    FROM f GROUP BY doc_id, bucket
    """


@register("docs_feature_hashing", _FEATURE_HASH_SQL)
def docs_feature_hashing(spark, sf_dir):
    """Hashing-trick bag-of-words featurization (Weinberger et al. 2009 —
    the fastText / Vowpal-Wabbit input shape): token -> bucket via an
    unsigned-32-bit md5 prefix mod 64, a second md5 nibble supplies the
    +/-1 sign that makes the estimator unbiased, per-doc feature weight =
    signed occurrence sum. The whole featurizer is a fixed-width keyspace:
    no vocabulary is ever built, broadcast, or shuffled — exactly why the
    trick scales to 10^10 docs where a vocab join cannot. Shape: ONE
    groupBy(doc_id, bucket) partial agg straight off the token explode
    (sum of sign*tf == sum of per-occurrence signs, so no intermediate
    (doc, token) tf shuffle either). Signs and buckets both derive from
    the SAME md5 the oracle computes, so a hash-kernel drift between
    engines fails the value gate. Reference analogue: none — training-data
    pipeline extension."""
    d = T(spark, sf_dir, "documents")
    tok = S.tokens(d, "doc_id", "text", distinct=False)
    h = F.md5(F.col("token").cast("binary"))
    bucket = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 64).alias(
        "bucket"
    )
    sign = F.when(
        F.substring(h, 9, 1).isin("1", "3", "5", "7", "9", "b", "d", "f"), -1
    ).otherwise(1)
    return (
        tok.select("doc_id", bucket, sign.alias("s"))
        .groupBy("doc_id", "bucket")
        .agg(F.sum("s").cast("long").alias("weight"))
    )


_SOURCE_QUALITY_PRIOR_SQL = """
    WITH q AS (
      SELECT source,
             (CASE WHEN n_tokens BETWEEN 10 AND 5000 THEN 0.5 ELSE 0.0 END
              + CASE WHEN n_punct * 1.0 / greatest(n_tokens, 1) > 0.001
                      AND n_punct * 1.0 / greatest(n_tokens, 1) < 0.5
                     THEN 0.5 ELSE 0.0 END) AS quality
      FROM (
        SELECT source,
          CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE length(regexp_split_to_array(trim(text), '\\s+')) END
            AS n_tokens,
          (length(text) - length(replace(text, '.', '')))
            + (length(text) - length(replace(text, ',', '')))
            + (length(text) - length(replace(text, '!', '')))
            + (length(text) - length(replace(text, '?', ''))) AS n_punct
        FROM documents)),
    per AS (
      SELECT source, count(*) AS n_docs, sum(quality) AS sum_q
      FROM q GROUP BY source),
    g AS (SELECT round(avg(quality), 6) AS g FROM q)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           round(sum_q / n_docs, 6) AS mean_q,
           round((sum_q + 20 * g) / (n_docs + 20), 6) AS prior_q
    FROM per CROSS JOIN g
    """


@register("docs_source_quality_prior", _SOURCE_QUALITY_PRIOR_SQL)
def docs_source_quality_prior(spark, sf_dir):
    """Per-source empirical-Bayes quality prior — shrink each source's mean
    quality toward the corpus mean with pseudo-count k=20 (the
    domain/source reputation signal web curation pipelines feed back into
    crawl scheduling and source weighting; a 3-doc source can't earn a
    perfect score). Determinism across engines: quality values are exact
    binary fractions (multiples of 0.5), so their sums are
    order-independent; the corpus mean is rounded to 6 dp BEFORE it enters
    the shrinkage formula, and both outputs round post-agg. Shape at
    100 TB: one partial agg to sources-sized rows plus a one-row global
    broadcast via crossJoin (the docs_source_mix_entropy pattern).
    Reference analogue: none — training-data pipeline extension."""
    d = T(spark, sf_dir, "documents")
    q = d.select("source", TXT.quality_score(F.col("text")).alias("quality"))
    per = q.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("quality").alias("sum_q")
    )
    g = q.agg(F.round(F.avg("quality"), 6).alias("g"))
    return per.crossJoin(g).select(
        "source",
        "n_docs",
        F.round(F.col("sum_q") / F.col("n_docs"), 6).alias("mean_q"),
        F.round(
            (F.col("sum_q") + 20 * F.col("g")) / (F.col("n_docs") + 20), 6
        ).alias("prior_q"),
    )


_BOT_REGULARITY_SQL = """
    WITH g AS (
      SELECT user_id,
             (epoch_us(ts) - epoch_us(lag(ts) OVER (
                PARTITION BY user_id ORDER BY ts, event_id))) // 1000000
               AS gap_s
      FROM events),
    a AS (
      SELECT user_id, count(*) AS n_gaps,
             sum(gap_s) AS s1, sum(gap_s * gap_s) AS s2
      FROM g WHERE gap_s IS NOT NULL GROUP BY user_id),
    s AS (
      SELECT user_id, n_gaps,
             s1 * 1.0 / n_gaps AS mean_raw,
             sqrt(greatest(
               (s2 - s1 * (s1 * 1.0 / n_gaps)) / (n_gaps - 1), 0.0)) AS sd
      FROM a WHERE n_gaps >= 5)
    SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
           round(mean_raw, 6) AS mean_gap_s,
           CASE WHEN mean_raw > 0 THEN round(sd / mean_raw, 6) END AS gap_cv,
           CASE WHEN mean_raw > 0 THEN sd / mean_raw < 0.3 END AS is_regular
    FROM s
    """


@register("events_bot_regularity", _BOT_REGULARITY_SQL)
def events_bot_regularity(spark, sf_dir):
    """Bot / automation detection by inter-event-time regularity: per user,
    the coefficient of variation of consecutive-event gaps — humans are
    bursty (cv >~ 1), schedulers and scrapers are metronomic (cv < 0.3
    flags `is_regular`). The moments ride as EXACT integer sums (gap
    seconds via truncating div on integer micros — Spark `div` == DuckDB
    `//` for non-negative), so mean and variance derive from
    order-independent BIGINTs and the only FP ops (one multiply chain,
    sqrt, divide) are spelled identically on both engines;
    greatest(.., 0) absorbs catastrophic-cancellation negatives when all
    gaps are equal. Shape at 100 TB: one (user -> ts, event_id) window
    exchange (shared spelling with cdc_sessions / cdc_recrawl_interval)
    then a users-sized partial agg. Reference analogue: none —
    training-data pipeline extension (crawl-quality / traffic triage)."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts reads as TIMESTAMP_NTZ; unix_micros needs TIMESTAMP (UTC session =>
    # identity shift — the recorded dialect gotcha)
    ts_ltz = F.col("ts").cast("timestamp")
    gap_us = F.unix_micros(ts_ltz) - F.unix_micros(F.lag(ts_ltz).over(w))
    gaps = (
        ev.select("user_id", gap_us.alias("gap_us"))
        .filter(F.col("gap_us").isNotNull())
        .select("user_id", F.expr("gap_us div 1000000").alias("gap_s"))
    )
    a = (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").alias("n_gaps"),
            F.sum("gap_s").alias("s1"),
            F.sum(F.col("gap_s") * F.col("gap_s")).alias("s2"),
        )
        .filter(F.col("n_gaps") >= 5)
    )
    mean_raw = F.col("s1") / F.col("n_gaps")
    sd = F.sqrt(
        F.greatest(
            (F.col("s2") - F.col("s1") * mean_raw) / (F.col("n_gaps") - 1),
            F.lit(0.0),
        )
    )
    return a.select(
        "user_id",
        "n_gaps",
        F.round(mean_raw, 6).alias("mean_gap_s"),
        F.when(mean_raw > 0, F.round(sd / mean_raw, 6)).alias("gap_cv"),
        F.when(mean_raw > 0, (sd / mean_raw) < 0.3).alias("is_regular"),
    )


_SESSION_STATS_SQL = """
    WITH b AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id))
                  > CAST(1800000000 AS BIGINT)
                  THEN 1 ELSE 0 END AS brk
      FROM events),
    s AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS session_id
      FROM b)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           (max(epoch_us(ts)) - min(epoch_us(ts))) // 1000000 AS duration_s
    FROM s GROUP BY user_id, session_id
    """


@register("events_session_stats", _SESSION_STATS_SQL)
def events_session_stats(spark, sf_dir):
    """Per-session metrics (cdc_sessions assigns ids, this one sizes them):
    gaps-and-islands session ids via a running sum of 30-min break flags,
    then event count and wall-clock duration per (user, session). The lag
    and the running sum share ONE window exchange — identical
    partitioning and ordering, so Catalyst plans a single sort — and
    duration rides as truncating integer division on integer micros
    (Spark `div` == DuckDB `//` for non-negative spans). Shape at 100 TB:
    one (user -> ts, event_id) exchange + a sessions-sized partial agg;
    never a global sort. Reference analogue: A1 transaction assembly
    (begin..commit grouping) re-keyed by behavioral idle gap."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # break predicate in EXACT integer micros on both engines (Spark
    # unix_timestamp floors to whole seconds, DuckDB epoch() is fractional
    # — a gap straddling 1800 s by sub-second micros would diverge)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    brk = (ts_us - F.lag(ts_us).over(w) > 1_800_000_000).cast("int")
    s = ev.select(
        "user_id",
        "ts",
        F.sum(F.coalesce(brk, F.lit(0))).over(w).alias("session_id"),
    )
    return (
        s.groupBy("user_id", F.col("session_id").cast("long").alias("session_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("_mx"),
            F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("_mn"),
        )
        .select(
            "user_id",
            "session_id",
            "n_events",
            F.expr("(_mx - _mn) div 1000000").alias("duration_s"),
        )
    )


_READABILITY_SQL = """
    WITH m AS (
      SELECT doc_id,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE length(regexp_split_to_array(trim(text), '\\s+')) END
               AS n_words,
             len(regexp_extract_all(text, '[.!?]+')) AS n_sentences,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
      FROM documents)
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           round(CAST(206.835 AS DOUBLE)
                 - CAST(1.015 AS DOUBLE)
                   * (n_words * 1.0 / greatest(n_sentences, 1))
                 - CAST(84.6 AS DOUBLE)
                   * (n_syllables * 1.0 / greatest(n_words, 1)), 4)
             AS flesch
    FROM m
    """


@register("docs_readability", _READABILITY_SQL)
def docs_readability(spark, sf_dir):
    """Flesch reading-ease per document with a vowel-group syllable proxy
    (one [aeiouy]+ run ~ one syllable — the standard cheap estimator) —
    the readability axis of quality filtering that length/punctuation
    scores (docs_quality) don't see; curation pipelines band on it to
    drop word-salad and boilerplate legalese alike. Determinism: counts
    are exact integers off identical regexes (Java∩RE2 common dialect),
    the formula's constants are CAST to DOUBLE on the SQL side (bare
    numeric literals parse as DECIMAL in both dialects — recorded
    gotcha), the FP expression is spelled in the same order on both
    engines, and the score rounds to 4 dp. Shape at 100 TB: pure
    zero-shuffle expression chain over the corpus scan. Reference
    analogue: none — training-data pipeline extension."""
    d = T(spark, sf_dir, "documents")
    n_words = TXT.token_count(F.col("text"))
    n_sentences = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), F.lit(0))
    )
    n_syllables = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), F.lit(0))
    )
    m = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sentences.cast("long").alias("n_sentences"),
        n_syllables.cast("long").alias("n_syllables"),
    )
    flesch = (
        F.lit(206.835)
        - F.lit(1.015)
          * (F.col("n_words") * 1.0 / F.greatest(F.col("n_sentences"), F.lit(1)))
        - F.lit(84.6)
          * (F.col("n_syllables") * 1.0 / F.greatest(F.col("n_words"), F.lit(1)))
    )
    return m.select(
        "doc_id", "n_words", "n_sentences", "n_syllables",
        F.round(flesch, 4).alias("flesch"),
    )


@register(
    "tpch_q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 (forecasting revenue change): the pure
    scan-filter-aggregate shape — every predicate (range on a timestamp,
    BETWEEN on a double, < on a double) is parquet-pushable, so at 100 TB
    the job reads only row groups whose column stats intersect the
    filters and carries two columns past the scan. One partial+final agg,
    no shuffle wider than a single row. Discount bounds are the same
    double literals on both engines, so per-row predicate evaluation is
    bit-identical. Reference analogue: none — relational coverage
    (SURVEY §2.6) over the driver tables."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "tpch_q3_shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 (shipping priority): selective dim filter -> broadcast
    semi-reduction of the fact -> grouped revenue -> global top-k. The
    BUILDING-segment customer set is small, so it broadcasts and the
    orders/lineitem scans keep their own pushed date predicates; the
    top-10 is TakeOrderedAndProject (never a global sort). Revenue is
    rounded 2 dp BEFORE the rank with l_orderkey as tiebreak so an FP
    near-tie at the cut cannot order differently per engine. Reference
    analogue: none — relational coverage (SURVEY §2.6)."""
    c = T(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting): a quarter of orders joins the
    returned lineitems, rolls revenue up to the customer, decorates with
    the nation dim, top-20. Scale shape: the date window prunes orders at
    the scan, l_returnflag pushes into the lineitem scan, customer/nation
    broadcast, and the final cut is TakeOrderedAndProject over the
    customers-sized aggregate. Revenue rounds 2 dp before the rank
    (c_custkey tiebreak). Reference analogue: none — relational coverage
    (SURVEY §2.6)."""
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_TEXTRANK_ITERS, _TEXTRANK_TOPK = 3, 20


def _textrank_sql() -> str:
    """DuckDB twin of docs_textrank_keywords: the PageRank trajectory is
    REPLAYED as unrolled CTEs (the kmeans/pca recipe applied to a graph
    centrality), one r{i} relation per iteration, rounded 6 dp exactly
    where the Spark loop rounds."""
    occ = " UNION ALL ".join(
        f"""SELECT t[x] AS a, t[x + {d}] AS b
            FROM (SELECT t, unnest(generate_series(1, len(t) - {d})) AS x
                  FROM toks WHERE len(t) > {d})
            UNION ALL
            SELECT t[x + {d}] AS a, t[x] AS b
            FROM (SELECT t, unnest(generate_series(1, len(t) - {d})) AS x
                  FROM toks WHERE len(t) > {d})"""
        for d in (1, 2)
    )
    iters = []
    prev = "r0"
    for i in range(1, _TEXTRANK_ITERS + 1):
        iters.append(
            f"""r{i} AS (
              SELECT g.b AS tok,
                     round(CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE)
                           * sum({prev}.r * g.w / g.wtot), 6) AS r
              FROM g JOIN {prev} ON {prev}.tok = g.a GROUP BY g.b)"""
        )
        prev = f"r{i}"
    return f"""
    WITH toks AS (
      SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> length(x) > 0) AS t
      FROM documents),
    occ AS ({occ}),
    e AS (SELECT a, b, CAST(count(*) AS DOUBLE) AS w
          FROM occ WHERE a <> b GROUP BY a, b),
    wout AS (SELECT a AS src, sum(w) AS wtot FROM e GROUP BY a),
    g AS (SELECT e.a, e.b, e.w, wout.wtot
          FROM e JOIN wout ON e.a = wout.src),
    r0 AS (SELECT src AS tok, CAST(1.0 AS DOUBLE) AS r FROM wout),
    {",".join(iters)}
    SELECT tok, r AS score FROM {prev}
    ORDER BY score DESC, tok LIMIT {_TEXTRANK_TOPK}
    """


@register("docs_textrank_keywords", _textrank_sql())
def docs_textrank_keywords(spark, sf_dir):
    """TextRank keyword extraction (Mihalcea & Tarau 2004): weighted
    PageRank over the token co-occurrence graph (window ±2, symmetric,
    self-loops dropped), damping 0.85, 3 iterations, top-20 central
    tokens. Scale shape: edges are generated MAP-SIDE from the token
    array (the docs_skipgram_cooc spelling — never tokens⋈tokens on
    doc_id) and collapse into a vocab²-bounded weighted edge relation;
    each iteration is one equi-join + partial agg on that relation, so
    the corpus is scanned once and the iteration cost is independent of
    corpus size. Determinism: ranks round 6 dp after EVERY iteration on
    both engines (in-neighbor sum order cannot drift), final cut is
    TakeOrderedAndProject with the token as tiebreak. The DuckDB twin
    replays the full trajectory as unrolled CTEs. Reference analogue:
    none — training-data pipeline extension (keyword/topic signal for
    curation dashboards)."""
    d = T(spark, sf_dir, "documents")
    toks = d.select(
        F.expr(
            r"filter(split(lower(trim(text)), '\\s+'), x -> length(x) > 0)"
        ).alias("t")
    )
    parts = []
    for dist in (1, 2):
        pairs = toks.filter(F.expr(f"size(t) > {dist}")).select(
            F.explode(
                F.expr(
                    f"transform(slice(t, 1, size(t) - {dist}),"
                    f" (x, i) -> struct(x AS a, t[i + {dist}] AS b))"
                )
            ).alias("p")
        )
        parts.append(pairs.select("p.a", "p.b"))
        parts.append(
            pairs.select(
                F.col("p.b").alias("a"), F.col("p.a").alias("b")
            )
        )
    occ = parts[0]
    for p in parts[1:]:
        occ = occ.unionByName(p)
    e = (
        occ.filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("double").alias("w"))
    )
    wout = e.groupBy("a").agg(F.sum("w").alias("wtot")).withColumnRenamed(
        "a", "src"
    )
    g = e.join(wout, e.a == wout.src).select("a", "b", "w", "wtot")
    r = wout.select(F.col("src").alias("tok"), F.lit(1.0).alias("r"))
    for _ in range(_TEXTRANK_ITERS):
        r = (
            g.join(r, F.col("a") == F.col("tok"))
            .groupBy("b")
            .agg(
                F.round(
                    F.lit(0.15)
                    + F.lit(0.85)
                    * F.sum(F.col("r") * F.col("w") / F.col("wtot")),
                    6,
                ).alias("r_next")
            )
            .select(F.col("b").alias("tok"), F.col("r_next").alias("r"))
        )
    return (
        r.select("tok", F.col("r").alias("score"))
        .orderBy(F.desc("score"), "tok")
        .limit(_TEXTRANK_TOPK)
    )


_PROFILE_COLS = ("doc_id", "text", "lang", "source", "n_chars")

_COLUMN_PROFILE_SQL = " UNION ALL ".join(
    f"""SELECT '{c}' AS col,
           CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(min({c}) AS VARCHAR) AS min_val,
           CAST(max({c}) AS VARCHAR) AS max_val
    FROM documents"""
    for c in _PROFILE_COLS
)


@register("docs_column_profile", _COLUMN_PROFILE_SQL)
def docs_column_profile(spark, sf_dir):
    """ANALYZE-TABLE-style column profile (null count, exact NDV, min/max
    rendered as strings) for every documents column — the stats a query
    planner or data-quality monitor consumes, and the dictionary-health
    twin of events_props_schema_infer for columns the schema DOES govern.
    Shape at 100 TB: one aggregate pass per column (a fixed, schema-sized
    number of jobs — Spark rewrites count(DISTINCT) into a two-phase
    expand + partial agg, which is the scalable exact-NDV plan; swap in
    approx_count_distinct when an estimate suffices — no cross-engine
    oracle exists for the sketch, which is why the gate pins the exact
    form). min/max aggregate FIRST and cast to string after (casting
    before would compare "10" < "9" lexically). Reference analogue:
    dictionary/statistics bootstrap (S5) — the engine knowing its
    table's shape."""
    d = T(spark, sf_dir, "documents")
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            d.agg(
                (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
                F.countDistinct(c).alias("n_distinct"),
                F.min(F.col(c)).cast("string").alias("min_val"),
                F.max(F.col(c)).cast("string").alias("max_val"),
            ).select(
                F.lit(c).alias("col"),
                "n_nulls",
                "n_distinct",
                "min_val",
                "max_val",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _replay_stream(spark, files_per_trigger: int = 1) -> DataFrame:
    """File stream over the replay fixture for the streaming operator gates
    (schema probed from the parquet — streams need one up front; session
    UTC-pinned so the NTZ→TIMESTAMP event-time cast at each gate is an
    identity shift, the recorded gotcha)."""
    ev = _ensure_replay_events()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(ev).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(ev)
    )


@contextmanager
def _stream_harness(spark):
    """Shared harness dial for the streaming gates (round-3 verdict
    "amortize the streaming harness cost"): stateful queries commit one
    state store PER shuffle partition PER micro-batch, so the session
    default (4×cores) multiplies fixture-scale runs by ~16× of empty-store
    overhead. Yields a gate scratch dir for the checkpoint/sink and pins
    shuffle partitions to 8 for the duration; values are unaffected
    (partitioning never changes an emitted set), the session default is
    restored on exit."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    d = _gate_scratch("stream_gate")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        yield d
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        # unload state stores + stop their maintenance task NOW: a leftover
        # maintenance thread otherwise logs "SparkEnv not active" into
        # whatever runs after the session stops (round-4 bench tail) —
        # the next streaming query restarts maintenance lazily on load
        try:
            spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()  # noqa: SLF001
        except Exception:  # noqa: BLE001 — hygiene only, never fail a gate
            pass


def _run_stream_to_memory(df: DataFrame, name: str) -> DataFrame:
    """Append-mode availableNow run into a memory sink; returns the sink
    table (the final no-data batch has advanced the watermark, so append
    output is complete).

    Harness-cost control (round-3 verdict "amortize the streaming harness"):
    a stateful streaming query creates ONE state-store instance PER shuffle
    partition PER stateful operator and commits every one of them each
    micro-batch — at the session default (4×cores = 128) over a 2 000-row
    fixture with 1-file triggers that is ~640 state commits of almost-empty
    stores, which IS the 11-27 s these gates were paying. The stream runs
    at 8 shuffle partitions (result-identical — partitioning never changes
    the emitted set) with its checkpoint on /dev/shm; the session default
    is restored afterwards."""
    with _stream_harness(df.sparkSession) as d:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return df.sparkSession.table(name)


_STREAM_WINDOW_SQL = f"""
    WITH ev AS (
      SELECT warc_ts, op FROM read_parquet('{_REPLAY_EVENTS}/*.parquet')
      WHERE warc_ts IS NOT NULL AND op IS NOT NULL AND op <> 'ddl'),
    cutoff AS (SELECT date_trunc('milliseconds', max(warc_ts))
                  - INTERVAL 48 HOUR AS wm FROM ev)
    SELECT date_trunc('hour', warc_ts) AS win_start,
           date_trunc('hour', warc_ts) + INTERVAL 1 HOUR AS win_end,
           op,
           count(*) AS n_events
    FROM ev CROSS JOIN cutoff
    WHERE date_trunc('hour', warc_ts) + INTERVAL 1 HOUR <= cutoff.wm
    GROUP BY 1, 2, 3
    """


@register("engine_stream_windowed_agg", _STREAM_WINDOW_SQL)
def engine_stream_windowed_agg(spark, sf_dir):
    """Structured-Streaming tumbling-window aggregation with an event-time
    watermark (T1/T6) through the VALUE gate — append mode, so the result
    is exactly the windows the watermark has CLOSED by end-of-stream: the
    DuckDB twin recomputes the same cutoff analytically (ms-truncated max
    event time − the 48 h delay — Spark tracks event-time stats in whole
    milliseconds; a window appears iff win_end ≤ that watermark). The
    48 h delay strictly exceeds the fixture's measured max arrival
    lateness (~35.2 h — the cdc_out_of_order_profile sizing rule applied),
    so no row is ever dropped as too-late and the emitted set is a pure
    deterministic function of the data, independent of micro-batch
    boundaries (1-file triggers make the watermark actually advance
    across 4 batches). Late-data semantics, not just window arithmetic,
    are what this gates: an engine that emitted still-open windows, or
    dropped/duplicated rows at batch seams, hash-fails. Shape at 100 TB:
    windowed partial agg with watermark-bounded state — state size is
    (open windows × ops), never the stream. Reference analogue: the
    restart low-watermark bounding the transaction buffer
    (user-manual.adoc:148-162)."""
    stream = (
        _replay_stream(spark)
        .filter(
            F.col("warc_ts").isNotNull()
            & F.col("op").isNotNull()
            & (F.col("op") != "ddl")
        )
        # event-time columns must be TIMESTAMP, not NTZ (identity shift
        # under the helper's UTC pin); output casts back to NTZ to match
        # the DuckDB twin's dtype
        .withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("warc_ts", "48 hours")
        .groupBy(F.window("warc_ts", "1 hour").alias("win"), F.col("op"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("win_start"),
            F.col("win.end").cast("timestamp_ntz").alias("win_end"),
            "op",
            "n_events",
        )
    )
    return _run_stream_to_memory(agg, "stream_windowed_agg_gate")


_STREAM_IVJOIN_SQL = f"""
    WITH ev AS (
      SELECT url, warc_ts, seq, op
      FROM read_parquet('{_REPLAY_EVENTS}/*.parquet')
      WHERE op IS NOT NULL AND op <> 'ddl' AND warc_ts IS NOT NULL),
    d AS (SELECT url, warc_ts AS d_ts, seq AS d_seq FROM ev WHERE op = 'd'),
    c AS (SELECT url, warc_ts AS c_ts, seq AS c_seq
          FROM ev WHERE op IN ('c', 'u'))
    SELECT d.url, d.d_seq, c.c_seq,
           (epoch_us(d.d_ts) - epoch_us(c.c_ts)) // 1000000 AS age_s
    FROM d JOIN c ON d.url = c.url
      AND c.c_ts <= d.d_ts
      AND c.c_ts >= d.d_ts - INTERVAL 24 HOUR
    """


@register("engine_stream_interval_join", _STREAM_IVJOIN_SQL)
def engine_stream_interval_join(spark, sf_dir):
    """Stream-stream time-INTERVAL join (the remaining Structured
    Streaming join shape: two live streams, equi-key plus an event-time
    range) through the value gate: for every delete, the create/update
    events of the same url in the preceding 24 h — the "what did we just
    lose" enrichment a CDC consumer runs when tombstones arrive. Both
    sides are independent file streams over the same archive with 48 h
    watermarks; an INNER interval join over bounded input is
    deterministically COMPLETE — a kept-state row is evicted only once
    the watermark passes its join window (ts + 24 h + 48 h behind max),
    and the fixture's max arrival lateness (~35.2 h) proves every partner
    arrives long before its match's state can expire, so the streaming
    result must equal the batch interval join the DuckDB twin computes —
    state eviction is a memory bound, never a semantics change. Age rides
    as truncating integer-micros division. Shape at 100 TB: state is
    watermark-bounded per side, the join is an equi-shuffle on url with
    the range as a post-filter. Reference analogue: transaction-buffer
    pairing of undo⋈redo within a bounded window (J1) re-expressed as a
    first-class streaming operator."""
    def side(ops, ts_name, seq_name):
        return (
            _replay_stream(spark, files_per_trigger=2)
            .filter(
                F.col("op").isin(*ops)
                & F.col("warc_ts").isNotNull()
            )
            .select(
                "url",
                F.col("warc_ts").cast("timestamp").alias(ts_name),
                F.col("seq").alias(seq_name),
            )
            .withWatermark(ts_name, "48 hours")
        )

    d = side(["d"], "d_ts", "d_seq")
    c = side(["c", "u"], "c_ts", "c_seq").withColumnRenamed("url", "c_url")
    joined = d.join(
        c,
        (F.col("url") == F.col("c_url"))
        & (F.col("c_ts") <= F.col("d_ts"))
        & (F.col("c_ts") >= F.col("d_ts") - F.expr("INTERVAL 24 HOURS")),
    ).select(
        "url",
        "d_seq",
        "c_seq",
        F.expr("(unix_micros(d_ts) - unix_micros(c_ts)) div 1000000").alias(
            "age_s"
        ),
    )
    return _run_stream_to_memory(joined, "stream_interval_join_gate")


_SCRIPT_CLASSES = (
    ("n_ascii", r"[\x00-\x7F]"),
    ("n_latin_ext", r"[\x{0080}-\x{024F}]"),
    ("n_cjk", r"[\x{4E00}-\x{9FFF}]"),
    ("n_fullwidth", r"[\x{FF00}-\x{FFEF}]"),
)

_SCRIPT_PROFILE_SQL = f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           {", ".join(
               f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT)"
               f" AS {name}"
               for name, pat in _SCRIPT_CLASSES
           )},
           CAST(length(text)
                - {" - ".join(
                    f"len(regexp_extract_all(text, '{pat}'))"
                    for _, pat in _SCRIPT_CLASSES
                )} AS BIGINT) AS n_other
    FROM read_parquet('{_UNICODE_DOCS}/*.parquet')
    """


@register("docs_script_profile", _SCRIPT_PROFILE_SQL)
def docs_script_profile(spark, sf_dir):
    """Per-document Unicode script/codepoint-class histogram (ASCII,
    Latin-extended, CJK, full-width forms, other) over the
    mixed-normalization fixture — the script-mix signal that catches
    mojibake, charset mis-decodes, and wrong-script contamination BEFORE
    language-ID runs (lang-id models assume the script matched the
    language; a UTF-8 page decoded as Latin-1 shifts mass from ASCII to
    Latin-extended and this profile is where it shows). Counts are exact
    integers from the SAME codepoint-class regexes on both engines
    (\\x{{...}} escapes are the Java∩RE2 common spelling; every class is
    BMP so Spark's UTF-16 length == DuckDB's codepoint length). Shape at
    100 TB: pure zero-shuffle expression chain over the corpus scan.
    Reference analogue: charset decode validation (F2) — knowing the
    bytes decoded into the script they claim."""
    d = spark.read.parquet(_ensure_unicode_docs())
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    counts = [
        F.regexp_count(F.col("text"), F.lit(pat)).cast("long").alias(name)
        for name, pat in _SCRIPT_CLASSES
    ]
    out = d.select("doc_id", F.length("text").cast("long").alias("n_chars"), *counts)
    other = F.col("n_chars")
    for name, _ in _SCRIPT_CLASSES:
        other = other - F.col(name)
    return out.withColumn("n_other", other.cast("long"))


_STREAM_SESSION_SQL = f"""
    WITH ev AS (
      SELECT url, warc_ts FROM read_parquet('{_REPLAY_EVENTS}/*.parquet')
      WHERE op IS NOT NULL AND op <> 'ddl'
        AND url IS NOT NULL AND warc_ts IS NOT NULL),
    cutoff AS (SELECT date_trunc('milliseconds', max(warc_ts))
                  - INTERVAL 48 HOUR AS wm FROM ev),
    b AS (
      SELECT url, warc_ts,
             CASE WHEN epoch_us(warc_ts) - epoch_us(lag(warc_ts) OVER (
                    PARTITION BY url ORDER BY warc_ts)) > CAST(21600000000 AS BIGINT)
                  THEN 1 ELSE 0 END AS brk
      FROM ev),
    s AS (
      SELECT url, warc_ts,
             sum(brk) OVER (PARTITION BY url ORDER BY warc_ts) AS sid
      FROM b),
    sess AS (
      SELECT url, min(warc_ts) AS win_start,
             max(warc_ts) + INTERVAL 6 HOUR AS win_end,
             count(*) AS n_events
      FROM s GROUP BY url, sid)
    SELECT url, win_start, win_end, n_events
    FROM sess CROSS JOIN cutoff
    WHERE win_end <= cutoff.wm
    """


@register("engine_stream_session_window", _STREAM_SESSION_SQL)
def engine_stream_session_window(spark, sf_dir):
    """Structured-Streaming SESSION windows (T6's second half — dynamic
    gap-merged windows, not fixed tumbling) through the value gate:
    bursts of changes to the same url separated by >6 h idle, appended
    once the 48 h watermark closes them. The DuckDB twin recomputes the
    SAME result batch-side as gaps-and-islands (lag + running break sum
    per url; a session's window is [min_ts, max_ts + gap)) and applies
    the analytic emission cutoff (win_end ≤ ms-truncated max event time −
    48 h — Spark tracks event-time stats in whole milliseconds). The
    48 h delay exceeds the fixture's max arrival lateness (~35.2 h), so
    no row can be dropped or mis-merged late — cross-batch session
    MERGING (a later micro-batch extending an open session) must
    therefore produce exactly the batch islands, which is the semantics
    this gates. Shape at 100 TB: session state is per-open-key and
    watermark-bounded; the merge is Spark's native session_window state
    operator, never a global sort. Reference analogue: transaction
    assembly by idle gap (A1) as a first-class streaming window."""
    stream = (
        _replay_stream(spark)
        .filter(
            F.col("op").isNotNull()
            & (F.col("op") != "ddl")
            & F.col("url").isNotNull()
            & F.col("warc_ts").isNotNull()
        )
        .withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("warc_ts", "48 hours")
        .groupBy(
            F.session_window("warc_ts", "6 hours").alias("win"), F.col("url")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "url",
            F.col("win.start").cast("timestamp_ntz").alias("win_start"),
            F.col("win.end").cast("timestamp_ntz").alias("win_end"),
            "n_events",
        )
    )
    return _run_stream_to_memory(agg, "stream_session_window_gate")


_HOURLY_SEASONALITY_SQL = """
    WITH per AS (
      SELECT event_type,
             CAST(extract(hour FROM ts) AS INT) AS hour_of_day,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2),
    tot AS (
      SELECT event_type, sum(n_events) AS total
      FROM per GROUP BY event_type)
    SELECT per.event_type, hour_of_day, n_events,
           round(n_events * 1.0 / tot.total, 6) AS share
    FROM per JOIN tot ON per.event_type = tot.event_type
    """


@register("events_hourly_seasonality", _HOURLY_SEASONALITY_SQL)
def events_hourly_seasonality(spark, sf_dir):
    """Hour-of-day seasonality profile per event type (count + share of
    the type's traffic) — the baseline shape anomaly detection and crawl
    scheduling normalize against before z-scoring (events_anomaly_zscore
    flags deviations; this is the expected curve they deviate FROM).
    Share is one exact-integer division rounded 6 dp; the per-type total
    rides a second partial agg over the 24×types relation, never a
    window over the raw stream. extract(hour) on the tz-naive timestamp
    is identical on both engines under the UTC session pin. Shape at
    100 TB: one partial agg to types×24 rows, then types-sized arithmetic.
    Reference analogue: none — training-data pipeline extension."""
    ev = T(spark, sf_dir, "events")
    per = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hour_of_day")
    ).agg(F.count("*").alias("n_events"))
    tot = per.groupBy("event_type").agg(F.sum("n_events").alias("total"))
    return per.join(tot, "event_type").select(
        "event_type",
        "hour_of_day",
        "n_events",
        F.round(F.col("n_events") * 1.0 / F.col("total"), 6).alias("share"),
    )


_DEADLETTER_SPEC = dict(base=_REPLAY_SPEC, marker="deadletter_v1")
_DEADLETTER_EVENTS = fixture_path(
    _REPLAY_BASE, "replay_deadletter", _DEADLETTER_SPEC
)
_DL_MAX_HTML = 2048


def _gen_deadletter(d: str) -> None:
    """The 4 replay files plus a 5th epoch carrying every quarantine class:
    malformed DML (null url / null warc_ts / null op), oversized html, and
    healthy rows that must still land — the M6 policy fixture."""
    import shutil as _shutil
    from datetime import datetime, timedelta

    import pyarrow.parquet as _pq

    import pyarrow as pa

    from .datagen import EVENTS_SCHEMA
    from .functions.extract import extract_text

    src = _ensure_replay_events()
    for f in sorted(os.listdir(src)):
        if f.endswith(".parquet"):
            _shutil.copy(os.path.join(src, f), os.path.join(d, f))
    import pyarrow.dataset as _ds

    head = (
        _ds.dataset(src, format="parquet")
        .to_table(columns=["seq", "warc_ts"])
        .to_pandas()
    )
    max_seq = int(head["seq"].max())
    base_us = int(head["warc_ts"].max().value // 1_000) + 10_000_000

    def ts(i: int):
        return datetime(1970, 1, 1) + timedelta(
            microseconds=base_us + i * 1_000_000
        )

    def row(i: int, **kw) -> dict:
        base = {f.name: None for f in EVENTS_SCHEMA}
        base.update(seq=max_seq + 1 + i, warc_ts=ts(i), rolled_back=False,
                    schema_ver=4, **kw)
        return base

    def page(tag: str, pad: int = 0) -> tuple[bytes, str]:
        html = (
            f"<html><head><title>dl {tag}</title></head>"
            f"<body><p>dl payload {tag}{' x' * pad}</p></body></html>"
        ).encode()
        return html, extract_text(html)

    html_ok, text_ok = page("ok")
    html_big, text_big = page("big", pad=_DL_MAX_HTML)
    rows = [
        # malformed: DML with no key
        row(0, op="u", url=None, html=html_ok, text=text_ok, lang="en"),
        # malformed: DML with no LSN-equivalent
        dict(row(1, op="c", url="https://dl.example/null-ts",
                 html=html_ok, text=text_ok, lang="en"), warc_ts=None),
        # malformed: no op at all
        row(2, op=None, url="https://dl.example/null-op",
            html=html_ok, text=text_ok, lang="en"),
        # oversized payload (reference drops transaction-max-mb overflows)
        row(3, op="c", url="https://dl.example/oversized",
            html=html_big, text=text_big, lang="en"),
        # healthy rows the quarantine must NOT swallow
        row(4, op="c", url="https://dl.example/good-1",
            html=html_ok, text=text_ok, lang="en",
            extras=[("http_status", "200")]),
        row(5, op="c", url="https://dl.example/good-2",
            html=html_ok, text=text_ok, lang="en",
            extras=[("http_status", "201")]),
    ]
    _pq.write_table(
        pa.Table.from_pylist(rows, schema=EVENTS_SCHEMA),
        os.path.join(d, "events-00004.parquet"),
    )


def _ensure_deadletter_events() -> str:
    return ensure_fixture(_DEADLETTER_EVENTS, _gen_deadletter)


_ensure_deadletter_events()

_DEADLETTER_SQL = f"""
    WITH ev AS (
      SELECT *,
             CAST(regexp_extract(filename, 'events-(\\d+)\\.parquet', 1)
                  AS INTEGER) AS epoch_id
      FROM read_parquet('{_DEADLETTER_EVENTS}/*.parquet', filename=true)),
    classified AS (
      SELECT epoch_id, seq, op, url,
             CASE
               WHEN NOT coalesce(op = 'ddl', FALSE)
                    AND (url IS NULL OR warc_ts IS NULL OR op IS NULL)
                 THEN 'malformed'
               WHEN coalesce(octet_length(html) > {_DL_MAX_HTML}, FALSE)
                 THEN 'oversized'
             END AS _dl_reason
      FROM ev)
    SELECT epoch_id, seq, op, url, _dl_reason
    FROM classified WHERE _dl_reason IS NOT NULL
    """


@register("engine_dead_letter_quarantine", _DEADLETTER_SQL)
def engine_dead_letter_quarantine(spark, sf_dir):
    """The M6 malformed/oversized quarantine path through the VALUE gate:
    replay a fixture whose 5th epoch carries one row of every poison
    class (DML with null url, null warc_ts, null op; an html payload
    over the size cap) alongside healthy rows, with the dead-letter side
    table enabled — the returned quarantine table (epoch, seq, op, url,
    _dl_reason) must match a DuckDB recompute of the exact classification
    predicate, INCLUDING the three-valued-logic guards (a NULL op row
    must be dead-lettered as malformed, never silently dropped by a
    filter over NULL — the round-1 null-op lesson; the reference throws
    on malformed vectors and drops oversized transactions,
    RedoLogRecord.h:121-161, Parser.cpp:683-692, we quarantine both).
    Reason precedence (malformed > oversized) is part of the gated
    contract, as is idempotence: the side write is per-epoch
    overwrite-partitioned, so checkpoint re-delivery cannot duplicate
    quarantined rows. Shape at 100 TB: the classifier is a pure
    expression on the ingest scan; the side write shuffles nothing."""
    ev = _ensure_deadletter_events()
    dl = _gate_scratch("dead_letter")
    p = _gate_pipeline(
        spark, "deadletter", ev,
        max_html_bytes=_DL_MAX_HTML, dead_letter_path=dl,
    )
    _apply_files(p, _event_files(ev))
    return spark.read.parquet(dl).select(
        F.col("epoch_id").cast("int").alias("epoch_id"),
        "seq", "op", "url", "_dl_reason",
    )


# =========================================================================
# Host link graph over a deterministic hyperlinked fixture (the replay
# fixture's html carries no anchors) — the CommonCrawl host-graph family
# =========================================================================

_LINKED_SPEC = dict(seed=17, n_pages=400, n_hosts=24, n_peripheral=6)
_LINKED_PAGES = fixture_path(_REPLAY_BASE, "linked_pages", _LINKED_SPEC)


def _ensure_linked_pages() -> str:
    from .datagen import write_linked_pages

    return ensure_fixture(
        _LINKED_PAGES,
        lambda d: write_linked_pages(
            d,
            n_pages=_LINKED_SPEC["n_pages"],
            n_hosts=_LINKED_SPEC["n_hosts"],
            n_peripheral=_LINKED_SPEC["n_peripheral"],
            seed=_LINKED_SPEC["seed"],
        ),
    )


# the oracle SQL reads the fixed path and the driver may run it BEFORE the
# Spark side — materialize at import like the other path-embedded fixtures
_ensure_linked_pages()

# href extraction + host edge rollup, shared spelling notes: the anchor
# regex is Java∩RE2 common dialect (no backreferences, (?i) inline flag);
# the http(s) filter drops the planted relative / fragment / mailto: /
# javascript: hrefs; host lowercasing folds the planted uppercase links;
# the dst<>src predicate drops intra-host self-links AFTER extraction.
_LINK_GRAPH_SQL = f"""
    WITH pages AS (
      SELECT page_id,
             lower(regexp_extract(url, '^https?://([^/?#]+)', 1)) AS src_host,
             unnest(regexp_extract_all(html,
               '(?i)<a\\s[^>]*href="([^"]+)"', 1)) AS href
      FROM read_parquet('{_LINKED_PAGES}/*.parquet')),
    edges AS (
      SELECT src_host,
             lower(regexp_extract(href, '(?i)^https?://([^/?#]+)', 1))
               AS dst_host,
             page_id
      FROM pages WHERE regexp_matches(href, '(?i)^https?://'))
    SELECT src_host, dst_host,
           CAST(count(*) AS BIGINT) AS n_links,
           CAST(count(DISTINCT page_id) AS BIGINT) AS n_pages
    FROM edges WHERE dst_host <> src_host
    GROUP BY src_host, dst_host
    """


def _lc(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=True)`` — materialize a BOUNDED relation once
    and cut its lineage, so iterative entries (HITS / PageRank / LPA) and
    multi-use plans never re-run the corpus-sized extraction per iteration
    or per self-join arm (round-3 verdict "What's wrong #1"; the idiom is
    connected_components', similarity.py:420). Only ever applied to
    hosts²-/dim²-bounded relations or per-iteration state — never to a
    corpus-sized stream."""
    return df.localCheckpoint(eager=True)


def _link_edges(spark) -> DataFrame:
    """Shared host-edge extraction for the link-graph family (one spelling,
    both catalog entries move together — the pair-CTE reuse rule)."""
    d = spark.read.parquet(_ensure_linked_pages())
    pages = d.select(
        "page_id",
        F.lower(F.regexp_extract("url", "^https?://([^/?#]+)", 1)).alias(
            "src_host"
        ),
        F.explode(
            F.expr(
                "regexp_extract_all(html,"
                " '(?i)<a\\\\s[^>]*href=\"([^\"]+)\"', 1)"
            )
        ).alias("href"),
    )
    return (
        pages.filter(F.col("href").rlike("(?i)^https?://"))
        .select(
            "src_host",
            F.lower(
                F.regexp_extract("href", "(?i)^https?://([^/?#]+)", 1)
            ).alias("dst_host"),
            "page_id",
        )
        .filter(F.col("dst_host") != F.col("src_host"))
    )


@register("docs_link_graph", _LINK_GRAPH_SQL)
def docs_link_graph(spark, sf_dir):
    """Host-level web link graph extraction — the CommonCrawl host-graph
    product: parse every absolute <a href> out of raw html, resolve both
    endpoints to lowercase hosts, roll up to weighted host→host edges
    (n_links = anchor count, n_pages = distinct linking pages). The
    fixture plants relative / fragment-only / mailto: / javascript:
    hrefs (must be filtered, not crash), uppercase-scheme and
    uppercase-host absolute links (case folding), and intra-host
    self-links (dropped by the rollup, not the regex) — the value hash
    covers the full edge list, so any extraction divergence fails. Shape
    at 100 TB: pure map-side expression chain (regexp_extract_all +
    explode) into one hosts²-bounded partial-agg groupBy — never a join;
    the classic first step of PageRank/centrality over a crawl.
    Reference analogue: none — training-data pipeline extension."""
    return _link_edges(spark).groupBy("src_host", "dst_host").agg(
        F.count("*").alias("n_links"),
        F.countDistinct("page_id").alias("n_pages"),
    )


_HOSTRANK_ITERS = 3


def _hostrank_sql() -> str:
    """DuckDB twin of docs_host_pagerank: the damped, dangling-corrected
    PageRank trajectory replayed as unrolled CTEs (the textrank recipe on
    a DIRECTED graph — dangling hosts redistribute their mass uniformly,
    the wrinkle a symmetric co-occurrence graph never exercises)."""
    iters = []
    prev = "r0"
    for i in range(1, _HOSTRANK_ITERS + 1):
        iters.append(f"""
    dang{i} AS (
      SELECT round(coalesce(sum(r), CAST(0.0 AS DOUBLE)), 9) AS dm
      FROM {prev} LEFT JOIN wout ON {prev}.host = wout.src
      WHERE wout.src IS NULL),
    contrib{i} AS (
      SELECT g.dst_host AS host, sum({prev}.r * g.w / g.wtot) AS c
      FROM g JOIN {prev} ON {prev}.host = g.src_host
      GROUP BY g.dst_host),
    r{i} AS (
      SELECT nodes.host,
             round(CAST(0.15 AS DOUBLE) / nn.n
                   + CAST(0.85 AS DOUBLE)
                     * (coalesce(contrib{i}.c, CAST(0.0 AS DOUBLE))
                        + dang{i}.dm / nn.n), 6) AS r
      FROM nodes
      LEFT JOIN contrib{i} ON nodes.host = contrib{i}.host
      CROSS JOIN dang{i} CROSS JOIN nn)""")
        prev = f"r{i}"
    return f"""
    WITH e0 AS ({_LINK_GRAPH_SQL}),
    e AS (SELECT src_host, dst_host, CAST(n_links AS DOUBLE) AS w FROM e0),
    wout AS (SELECT src_host AS src, sum(w) AS wtot FROM e GROUP BY src_host),
    g AS (SELECT e.src_host, e.dst_host, e.w, wout.wtot
          FROM e JOIN wout ON e.src_host = wout.src),
    nodes AS (SELECT src_host AS host FROM e
              UNION SELECT dst_host FROM e),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT host, CAST(1.0 AS DOUBLE) / nn.n AS r
           FROM nodes CROSS JOIN nn),
    {",".join(iters)}
    SELECT host, r AS rank FROM {prev} ORDER BY rank DESC, host
    """


@register("docs_host_pagerank", _hostrank_sql())
def docs_host_pagerank(spark, sf_dir):
    """Host-level PageRank over the extracted link graph — the CommonCrawl
    host-rank product (damping 0.85, {n} iterations, link-count edge
    weights). Unlike the symmetric TextRank co-occurrence graph, a real
    crawl graph is DIRECTED and has dangling hosts (linked-to but never
    crawled or all-self-links): their mass redistributes uniformly each
    iteration — a one-row anti-join aggregate crossJoined back, NOT a
    dense N² correction. Determinism: ranks round 6 dp after every
    iteration, the dangling scalar 9 dp (the kmeans/textrank replay
    recipe); the DuckDB twin replays the full trajectory as unrolled
    CTEs over the SAME edge CTE the docs_link_graph gate pins. Shape at
    100 TB: the corpus is scanned once into a hosts²-bounded weighted
    edge relation; each iteration is one equi-join + partial agg on
    that relation plus two one-row scalars — iteration cost independent
    of corpus size. Reference analogue: none — training-data pipeline
    extension (source-authority prior for curation/mixing)."""
    e = _lc(_link_edges(spark).groupBy("src_host", "dst_host").agg(
        F.count("*").cast("double").alias("w")
    ))
    wout = e.groupBy("src_host").agg(F.sum("w").alias("wtot")).select(
        F.col("src_host").alias("src"), "wtot"
    )
    g = _lc(e.join(wout, e.src_host == wout.src).select(
        "src_host", "dst_host", "w", "wtot"
    ))
    nodes = _lc(
        e.select(F.col("src_host").alias("host"))
        .union(e.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    nn = nodes.agg(F.count("*").cast("double").alias("n"))
    r = nodes.crossJoin(nn).select(
        "host", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for _ in range(_HOSTRANK_ITERS):
        dang = (
            r.join(wout, r.host == wout.src, "left_anti")
            .agg(
                F.round(
                    F.coalesce(F.sum("r"), F.lit(0.0)), 9
                ).alias("dm")
            )
        )
        contrib = (
            g.join(r, g.src_host == r.host)
            .groupBy("dst_host")
            .agg(F.sum(F.col("r") * F.col("w") / F.col("wtot")).alias("c"))
        )
        r = _lc(
            nodes.join(contrib, nodes.host == contrib.dst_host, "left")
            .crossJoin(dang)
            .crossJoin(nn)
            .select(
                "host",
                F.round(
                    F.lit(0.15) / F.col("n")
                    + F.lit(0.85)
                    * (
                        F.coalesce(F.col("c"), F.lit(0.0))
                        + F.col("dm") / F.col("n")
                    ),
                    6,
                ).alias("r"),
            )
        )
    return r.select("host", F.col("r").alias("rank")).orderBy(
        F.desc("rank"), "host"
    )


docs_host_pagerank.__doc__ = docs_host_pagerank.__doc__.replace(
    "{n}", str(_HOSTRANK_ITERS)
)


@register(
    "tpch_q5_local_supplier_volume",
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def tpch_q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 (local supplier volume): the deepest relational shape in
    the catalog — a six-table join where customer and supplier must share
    a nation (the join graph has a CYCLE, so join ORDER matters: the
    c_nationkey = s_nationkey edge is applied with the supplier join,
    never as a post-filter over a wider product). Scale shape: region →
    nation prunes to one region's nations, supplier/customer/nation/
    region all broadcast (dims), the fact pipeline is
    lineitem⋈orders(date-pruned scan)⋈dims with zero fact-side shuffles
    until the final nations-sized aggregate. Revenue rounds 2 dp post-agg
    (n_name tiebreak is total since the group key is unique). Reference
    analogue: none — relational coverage (SURVEY §2.6)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@register(
    "events_position_attribution",
    """
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts
               FROM events WHERE event_type = 'purchase'),
         c AS (SELECT event_id AS click_id, user_id, ts
               FROM events WHERE event_type = 'click'),
    touched AS (
      SELECT p.purchase_id, p.user_id, c.click_id,
             row_number() OVER (PARTITION BY p.purchase_id
                                ORDER BY c.ts, c.click_id) AS pos,
             count(*) OVER (PARTITION BY p.purchase_id) AS n_touches
      FROM p JOIN c ON p.user_id = c.user_id
       AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 72 HOUR)
    SELECT purchase_id, user_id, click_id,
           CAST(pos AS INTEGER) AS pos,
           CAST(n_touches AS BIGINT) AS n_touches,
           CASE WHEN n_touches = 1 THEN CAST(1.0 AS DOUBLE)
                WHEN n_touches = 2 THEN CAST(0.5 AS DOUBLE)
                WHEN pos = 1 OR pos = n_touches THEN CAST(0.4 AS DOUBLE)
                ELSE round(CAST(0.2 AS DOUBLE) / (n_touches - 2), 6)
           END AS weight
    FROM touched
    """,
)
def events_position_attribution(spark, sf_dir):
    """U-shaped (position-based) multi-touch attribution — completes the
    attribution family next to the last-touch as-of join: every click in a
    purchase's 72 h lookback gets fractional credit (single touch 1.0, two
    touches 0.5/0.5, else 0.4 to first and last and 0.2 split across the
    middle — rounded 6 dp so both engines divide identically). Touch order
    is the deterministic (ts, click_id) total order. Shape at 100 TB: the
    candidate join is equi-keyed on user with a bounded time-range
    predicate (per-user state is lookback-bounded — the streaming interval
    join's batch twin), and both window functions share ONE purchase-keyed
    exchange over candidate-sized input. Reference analogue: none —
    training-data/events extension."""
    ev = T(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    j = p.join(
        c,
        (p.user_id == c.c_user)
        & (c.c_ts <= p.p_ts)
        & (c.c_ts > p.p_ts - F.expr("INTERVAL 72 HOURS")),
    )
    wo = Window.partitionBy("purchase_id").orderBy("c_ts", "click_id")
    wp = Window.partitionBy("purchase_id")
    n, pos = F.col("n_touches"), F.col("pos")
    return (
        j.select(
            "purchase_id",
            "user_id",
            "click_id",
            F.row_number().over(wo).alias("pos"),
            F.count("*").over(wp).alias("n_touches"),
        )
        .select(
            "purchase_id",
            "user_id",
            "click_id",
            "pos",
            "n_touches",
            F.when(n == 1, F.lit(1.0))
            .when(n == 2, F.lit(0.5))
            .when((pos == 1) | (pos == n), F.lit(0.4))
            .otherwise(F.round(F.lit(0.2) / (n - 2), 6))
            .alias("weight"),
        )
    )


# =========================================================================
# Web-graph analytics over the shared link-graph edge CTE: degree profile,
# degree-ordered triangle enumeration, HITS hubs/authorities — the rest of
# the CommonCrawl host-graph product family (pagerank is above)
# =========================================================================

_DEGREE_SQL = f"""
    WITH e0 AS ({_LINK_GRAPH_SQL}),
    e AS (SELECT DISTINCT src_host, dst_host FROM e0),
    outs AS (SELECT src_host AS host, CAST(count(*) AS BIGINT) AS out_deg
             FROM e GROUP BY src_host),
    ins AS (SELECT dst_host AS host, CAST(count(*) AS BIGINT) AS in_deg
            FROM e GROUP BY dst_host),
    recip AS (
      SELECT a.src_host AS host, CAST(count(*) AS BIGINT) AS n_reciprocal
      FROM e a JOIN e b
        ON a.src_host = b.dst_host AND a.dst_host = b.src_host
      GROUP BY a.src_host),
    hosts AS (SELECT src_host AS host FROM e UNION SELECT dst_host FROM e)
    SELECT hosts.host,
           CAST(coalesce(out_deg, 0) AS BIGINT) AS out_deg,
           CAST(coalesce(in_deg, 0) AS BIGINT) AS in_deg,
           CAST(coalesce(n_reciprocal, 0) AS BIGINT) AS n_reciprocal
    FROM hosts LEFT JOIN outs USING (host) LEFT JOIN ins USING (host)
               LEFT JOIN recip USING (host)
    """


@register("docs_host_degree_profile", _DEGREE_SQL)
def docs_host_degree_profile(spark, sf_dir):
    """Per-host degree profile of the crawl link graph: distinct out-degree,
    in-degree, and reciprocal-edge count (both directions present — the
    mutual-link signal that separates editorial links from link farms).
    Shape at 100 TB: the edge list is the hosts²-bounded distinct rollup the
    link-graph gate pins; degrees are two partial aggs on it, reciprocity is
    a self-equi-join on the (dst, src) flip — never touches page rows after
    extraction. Reference analogue: none — training-data extension (the
    degree columns feed source-quality priors and crawl frontier policy)."""
    e = _lc(_link_edges(spark).select("src_host", "dst_host").distinct())
    outs = e.groupBy(F.col("src_host").alias("host")).agg(
        F.count("*").alias("out_deg")
    )
    ins = e.groupBy(F.col("dst_host").alias("host")).agg(
        F.count("*").alias("in_deg")
    )
    rev = e.select(
        F.col("dst_host").alias("r_src"), F.col("src_host").alias("r_dst")
    )
    recip = (
        e.join(
            rev,
            (e.src_host == rev.r_src) & (e.dst_host == rev.r_dst),
            "left_semi",
        )
        .groupBy(F.col("src_host").alias("host"))
        .agg(F.count("*").alias("n_reciprocal"))
    )
    hosts = (
        e.select(F.col("src_host").alias("host"))
        .union(e.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    return (
        hosts.join(outs, "host", "left")
        .join(ins, "host", "left")
        .join(recip, "host", "left")
        .select(
            "host",
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
            F.coalesce("n_reciprocal", F.lit(0)).cast("long")
            .alias("n_reciprocal"),
        )
    )


_TRIANGLES_SQL = f"""
    WITH e0 AS ({_LINK_GRAPH_SQL}),
    und AS (SELECT DISTINCT least(src_host, dst_host) AS u,
                   greatest(src_host, dst_host) AS v
            FROM e0),
    deg AS (SELECT h AS host, CAST(count(*) AS BIGINT) AS d
            FROM (SELECT u AS h FROM und UNION ALL SELECT v AS h FROM und)
            GROUP BY h),
    o AS (SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                      THEN u ELSE v END AS lo,
                 CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                      THEN v ELSE u END AS hi
          FROM und JOIN deg du ON und.u = du.host
                   JOIN deg dv ON und.v = dv.host),
    o2 AS (SELECT o.lo, o.hi, deg.d AS dhi
           FROM o JOIN deg ON o.hi = deg.host),
    wedge AS (
      SELECT a.lo AS x,
             CASE WHEN a.dhi < b.dhi OR (a.dhi = b.dhi AND a.hi < b.hi)
                  THEN a.hi ELSE b.hi END AS y,
             CASE WHEN a.dhi < b.dhi OR (a.dhi = b.dhi AND a.hi < b.hi)
                  THEN b.hi ELSE a.hi END AS z
      FROM o2 a JOIN o2 b ON a.lo = b.lo AND a.hi < b.hi),
    tri AS (SELECT x, y, z
            FROM wedge JOIN o ON wedge.y = o.lo AND wedge.z = o.hi)
    SELECT list_sort([x, y, z])[1] AS h1,
           list_sort([x, y, z])[2] AS h2,
           list_sort([x, y, z])[3] AS h3
    FROM tri
    """


@register("docs_host_triangles", _TRIANGLES_SQL)
def docs_host_triangles(spark, sf_dir):
    """Triangle enumeration on the undirected host graph — the clustering /
    community-density primitive (triangle-dense neighborhoods = topical
    hubs; triangle-free high-degree hosts = spam/link-farm signal). The
    scalable shape is degree-ordered orientation (Cohen / Suri-Vassilvitskii):
    every undirected edge is oriented from its lower (degree, host) endpoint
    to the higher, which bounds every node's out-degree by O(√m); wedges are
    a self-equi-join of oriented edges on the shared low node, and a wedge
    closes iff its (y, z) arm — ordered by the SAME total order — is itself
    an oriented edge, so closure is ONE more equi-join, never an all-pairs
    or OR-join probe. Each triangle is emitted exactly once and the value
    hash covers the full lexicographically-sorted triple list. Reference
    analogue: none — training-data extension."""
    e = _lc(_link_edges(spark).select("src_host", "dst_host").distinct())
    und = e.select(
        F.least("src_host", "dst_host").alias("u"),
        F.greatest("src_host", "dst_host").alias("v"),
    ).distinct()
    deg = (
        und.select(F.col("u").alias("h"))
        .unionAll(und.select(F.col("v").alias("h")))
        .groupBy("h")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("h").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("h").alias("v"), F.col("d").alias("dv"))
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = (
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
        )
    )
    dh = deg.select(F.col("h").alias("hi"), F.col("d").alias("dhi"))
    o2 = o.join(dh, "hi").select("lo", "hi", "dhi")
    a = o2.select(
        F.col("lo").alias("x"),
        F.col("hi").alias("a_hi"),
        F.col("dhi").alias("a_d"),
    )
    b = o2.select(
        F.col("lo").alias("x"),
        F.col("hi").alias("b_hi"),
        F.col("dhi").alias("b_d"),
    )
    a_first = (F.col("a_d") < F.col("b_d")) | (
        (F.col("a_d") == F.col("b_d")) & (F.col("a_hi") < F.col("b_hi"))
    )
    wedge = (
        a.join(b, "x")
        .filter(F.col("a_hi") < F.col("b_hi"))
        .select(
            "x",
            F.when(a_first, F.col("a_hi")).otherwise(F.col("b_hi")).alias("y"),
            F.when(a_first, F.col("b_hi")).otherwise(F.col("a_hi")).alias("z"),
        )
    )
    tri = wedge.join(
        o, (wedge.y == o.lo) & (wedge.z == o.hi), "left_semi"
    )
    srt = F.array_sort(F.array("x", "y", "z"))
    return tri.select(
        srt[0].alias("h1"), srt[1].alias("h2"), srt[2].alias("h3")
    )


_HITS_ITERS = 3


def _hits_sql() -> str:
    """DuckDB twin of docs_host_hits: the L1-normalized HITS trajectory
    replayed as unrolled CTEs (the pagerank recipe with TWO mutually
    recursive vectors — auth from hubs over in-edges, hub from fresh auths
    over out-edges, each normalized to sum 1 and rounded per iteration)."""
    iters = []
    prev = "h0"
    for i in range(1, _HITS_ITERS + 1):
        iters.append(f"""
    acontrib{i} AS MATERIALIZED (
      SELECT e.dst_host AS host, sum({prev}.hub) AS c
      FROM e JOIN {prev} ON e.src_host = {prev}.host
      GROUP BY e.dst_host),
    araw{i} AS MATERIALIZED (
      SELECT nodes.host,
             round(coalesce(acontrib{i}.c, CAST(0.0 AS DOUBLE)), 9) AS raw
      FROM nodes LEFT JOIN acontrib{i} ON nodes.host = acontrib{i}.host),
    asum{i} AS MATERIALIZED (SELECT round(sum(raw), 9) AS s FROM araw{i}),
    a{i} AS MATERIALIZED (SELECT araw{i}.host, round(raw / asum{i}.s, 6) AS auth
             FROM araw{i} CROSS JOIN asum{i}),
    hcontrib{i} AS MATERIALIZED (
      SELECT e.src_host AS host, sum(a{i}.auth) AS c
      FROM e JOIN a{i} ON e.dst_host = a{i}.host
      GROUP BY e.src_host),
    hraw{i} AS MATERIALIZED (
      SELECT nodes.host,
             round(coalesce(hcontrib{i}.c, CAST(0.0 AS DOUBLE)), 9) AS raw
      FROM nodes LEFT JOIN hcontrib{i} ON nodes.host = hcontrib{i}.host),
    hsum{i} AS MATERIALIZED (SELECT round(sum(raw), 9) AS s FROM hraw{i}),
    h{i} AS MATERIALIZED (SELECT hraw{i}.host, round(raw / hsum{i}.s, 6) AS hub
             FROM hraw{i} CROSS JOIN hsum{i})""")
        prev = f"h{i}"
    n = _HITS_ITERS
    return f"""
    WITH e0 AS ({_LINK_GRAPH_SQL}),
    e AS MATERIALIZED (SELECT DISTINCT src_host, dst_host FROM e0),
    nodes AS MATERIALIZED (SELECT src_host AS host FROM e UNION SELECT dst_host FROM e),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    h0 AS MATERIALIZED (SELECT host, CAST(1.0 AS DOUBLE) / nn.n AS hub
           FROM nodes CROSS JOIN nn),
    {",".join(iters)}
    SELECT host, hub, auth FROM h{n} JOIN a{n} USING (host)
    """


@register("docs_host_hits", _hits_sql())
def docs_host_hits(spark, sf_dir):
    """HITS hubs & authorities over the directed host graph — the complement
    of PageRank for crawl curation: authorities are linked-to reference
    sites (quality prior), hubs are link-aggregator pages (frontier seeds).
    {n} iterations, L1 normalization (sum-to-1 — no sqrt, so the rounding
    contract is exactly the pagerank one: contributions rounded 9 dp per
    node, the normalizing scalar 9 dp, scores 6 dp per iteration; the
    DuckDB twin replays the trajectory over the SAME edge CTE). Shape at
    100 TB: per iteration two equi-join + partial-agg passes on the
    hosts²-bounded distinct edge relation and two one-row scalars —
    iteration cost independent of corpus size. Reference analogue: none —
    training-data pipeline extension."""
    e = _lc(
        _link_edges(spark)
        .select("src_host", "dst_host")
        .distinct()
    )
    nodes = _lc(
        e.select(F.col("src_host").alias("host"))
        .union(e.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    nn = nodes.agg(F.count("*").cast("double").alias("n"))
    hub = nodes.crossJoin(nn).select(
        "host", (F.lit(1.0) / F.col("n")).alias("hub")
    )
    auth = None
    for _ in range(_HITS_ITERS):
        hv = hub.select(F.col("host").alias("_h"), "hub")
        ac = (
            e.join(hv, e.src_host == hv._h)
            .groupBy("dst_host")
            .agg(F.sum("hub").alias("c"))
        )
        araw = nodes.join(ac, nodes.host == ac.dst_host, "left").select(
            "host",
            F.round(F.coalesce(F.col("c"), F.lit(0.0)), 9).alias("raw"),
        )
        asum = araw.agg(F.round(F.sum("raw"), 9).alias("s"))
        auth = _lc(araw.crossJoin(asum).select(
            "host", F.round(F.col("raw") / F.col("s"), 6).alias("auth")
        ))
        av = auth.select(F.col("host").alias("_h"), "auth")
        hc = (
            e.join(av, e.dst_host == av._h)
            .groupBy("src_host")
            .agg(F.sum("auth").alias("c"))
        )
        hraw = nodes.join(hc, nodes.host == hc.src_host, "left").select(
            "host",
            F.round(F.coalesce(F.col("c"), F.lit(0.0)), 9).alias("raw"),
        )
        hsum = hraw.agg(F.round(F.sum("raw"), 9).alias("s"))
        hub = _lc(hraw.crossJoin(hsum).select(
            "host", F.round(F.col("raw") / F.col("s"), 6).alias("hub")
        ))
    return hub.join(auth, "host").select("host", "hub", "auth")


docs_host_hits.__doc__ = docs_host_hits.__doc__.replace(
    "{n}", str(_HITS_ITERS)
)


# kNN-graph CTE prefix shared by emb_knn_graph and emb_knn_label_accuracy —
# ONE spelling of the LSH-candidate top-k so the accuracy gate moves with
# the graph (the contrastive-pairs/survivor-CTE sharing rule)
_KNN_SCORED_CTES = f"""{_LSH_SAMPLE_CAND_CTES},
    sym AS (SELECT a AS vec_id, b AS neighbor_id FROM cand
            UNION ALL SELECT b, a FROM cand),
    scored AS (
      SELECT s.vec_id, s.neighbor_id,
             round(CAST(list_cosine_similarity(
                     CAST(ea.embedding AS DOUBLE[]),
                     CAST(eb.embedding AS DOUBLE[])) AS DOUBLE), 4) AS cosine
      FROM sym s JOIN embeddings ea ON s.vec_id = ea.vec_id
                 JOIN embeddings eb ON s.neighbor_id = eb.vec_id)"""
_KNN_RANKED_CTES = f"""{_KNN_SCORED_CTES},
    ranked AS (
      SELECT vec_id, neighbor_id, cosine,
             CAST(row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cosine DESC, neighbor_id)
                  AS INTEGER) AS rank
      FROM scored)"""


def _symmetric_pairs(cand: DataFrame) -> DataFrame:
    """Both directions of each candidate pair (a, b) as (vec_id,
    neighbor_id): the oracles' ``sym`` CTE."""
    return cand.select(
        F.col("a").alias("vec_id"), F.col("b").alias("neighbor_id")
    ).unionAll(
        cand.select(
            F.col("b").alias("vec_id"), F.col("a").alias("neighbor_id")
        )
    )


def _lsh_sample_scored(spark, sf_dir) -> DataFrame:
    """The Spark side of ``_KNN_SCORED_CTES``: every LSH candidate pair of
    the 500-vector sample in both directions (vec_id, neighbor_id) with
    its 4-dp cosine."""
    from .functions.similarity import cosine

    emb, cand = _lsh_sample(spark, sf_dir)
    sym = _symmetric_pairs(cand)
    ea = emb.select(F.col("vec_id").alias("_i"), F.col("embedding").alias("ea"))
    eb = emb.select(F.col("vec_id").alias("_j"), F.col("embedding").alias("eb"))
    return (
        sym.join(ea, sym.vec_id == ea._i)
        .join(eb, sym.neighbor_id == eb._j)
        .select(
            "vec_id",
            "neighbor_id",
            F.round(cosine(F.col("ea"), F.col("eb")), 4).alias("cosine"),
        )
    )


@register(
    "emb_knn_graph",
    f"""
    WITH {_KNN_RANKED_CTES}
    SELECT vec_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
    """,
)
def emb_knn_graph(spark, sf_dir):
    """k-NN graph construction (k=3) over the LSH candidate pairs — the
    input relation for graph-based dedup/clustering (SemDeDup's cluster
    graphs, kNN-density filtering, graph-connectivity curation): every
    vector's top-k among its LSH candidates, ranked by rounded cosine with
    the neighbor id as the deterministic tiebreak. Unlike the threshold
    query (emb_near_dup_pairs) the result is per-node bounded — k rows per
    vector regardless of neighborhood density, so downstream joins can't
    skew on dup-saturated regions. Shape at 100 TB: candidates are the
    bounded-keyspace bucket equi-join (never all-pairs), symmetrization is
    a union, and the top-k is a per-key window over candidate-sized input.
    Reference analogue: none — training-data pipeline extension."""
    scored = _lsh_sample_scored(spark, sf_dir)
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), "neighbor_id")
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= 3
    )


@register(
    "docs_contrastive_pairs",
    f"""
    WITH RECURSIVE {_components_cte()},
    {_SURVIVOR_RANKED_CTES}
    SELECT a.component, a.doc_id AS anchor_doc_id,
           m.doc_id AS positive_doc_id
    FROM ranked a JOIN ranked m ON a.component = m.component
    WHERE a.rn = 1 AND m.rn > 1
    """,
)
def docs_contrastive_pairs(spark, sf_dir):
    """Contrastive training-pair extraction from the duplicate clusters:
    per SimHash component, the keep-one survivor (same quality-then-id rule
    the dedup survivor gate pins) becomes the ANCHOR and every other member
    a POSITIVE — the (anchor, positive) pairs an embedding model trains on
    (in-batch negatives come free at training time, so the engine's job
    ends at the positives). Near-dup clusters are exactly the supervision
    soft labels can't fake: same content, different boilerplate/encoding.
    Shape at 100 TB: pair graph → components is the blocked near-linear
    path; the anchor join is cluster-sized. Reference analogue: none —
    training-data pipeline extension."""
    d = T(spark, sf_dir, "documents")
    pairs = S.simhash_near_dup_pairs(d, "doc_id", "text", max_hamming=3)
    comps = S.connected_components(pairs, "a", "b")
    surv = S.dup_cluster_survivors(
        d, comps, "doc_id", TXT.quality_score(F.col("text"))
    )
    members = comps.select(F.col("id").alias("doc_id"), "component")
    return (
        members.join(
            surv.select("component", "survivor_doc_id"), "component"
        )
        .filter(F.col("doc_id") != F.col("survivor_doc_id"))
        .select(
            "component",
            F.col("survivor_doc_id").alias("anchor_doc_id"),
            F.col("doc_id").alias("positive_doc_id"),
        )
    )


@register(
    "docs_bigram_kneser_ney",
    """
    WITH base AS (
      SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    bi AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1])) AS bigram
      FROM base WHERE len(toks) >= 2),
    bc AS (
      SELECT split_part(bigram, ' ', 1) AS w1,
             split_part(bigram, ' ', 2) AS w2,
             CAST(count(*) AS BIGINT) AS c12
      FROM bi GROUP BY 1, 2),
    ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                   CAST(count(*) AS BIGINT) AS n1f
            FROM bc GROUP BY w1),
    cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p FROM bc GROUP BY w2),
    tots AS (SELECT CAST(count(*) AS BIGINT) AS npp FROM bc)
    SELECT bc.w1, bc.w2, bc.c12,
           round((bc.c12 - CAST(0.75 AS DOUBLE)) / ctx.c1
                 + CAST(0.75 AS DOUBLE) * ctx.n1f / ctx.c1
                   * (CAST(cont.n1p AS DOUBLE) / tots.npp), 6) AS p_kn
    FROM bc JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN tots
    """,
)
def docs_bigram_kneser_ney(spark, sf_dir):
    """Interpolated Kneser-Ney bigram model (fixed discount 0.75) — the
    smoothing the add-k entries (docs_unigram_logprob / docs_bigram_logprob)
    are the baseline for, and the one production LM-based quality filters
    (CCNet's KenLM) actually use: P(w2|w1) = max(c12−d,0)/c1 +
    d·N1+(w1,·)/c1 · Pcont(w2), where the continuation probability
    Pcont(w2) = N1+(·,w2)/N1+(·,·) counts the DISTINCT contexts w2 follows
    ("Francisco" is frequent but only ever follows "San" — KN's insight).
    c1 is the context total (Σ_w2 c12 — differs from the unigram count only
    at document-final tokens, stated here because both engines must use the
    same definition). Every input is an exact BIGINT count and the formula
    is spelled with identical association on both engines, so the doubles
    match bitwise before the 6 dp round. Shape at 100 TB: one corpus scan
    into bigram counts (map-side HOF pair build — never tokens⋈tokens),
    then every derived relation (context totals, continuation counts, type
    total) is vocab- or bigram-types-bounded. Reference analogue: none —
    training-data pipeline extension."""
    d = T(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    base = d.select(toks.alias("toks")).filter(F.size("toks") >= 2)
    bi = base.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("toks"), i).alias("w1"),
                    F.element_at(F.col("toks"), i + 1).alias("w2"),
                ),
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    bc = bi.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    ctx = bc.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n1f")
    )
    cont = bc.groupBy("w2").agg(F.count("*").alias("n1p"))
    tots = bc.agg(F.count("*").alias("npp"))
    return (
        bc.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tots))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                (F.col("c12") - F.lit(0.75)) / F.col("c1")
                + F.lit(0.75) * F.col("n1f") / F.col("c1")
                * (F.col("n1p").cast("double") / F.col("npp")),
                6,
            ).alias("p_kn"),
        )
    )


# theta/KMV sketch spec shared by both engines: k minimum md5 hashes per
# set; theta_X = kth_min/2^32 when the set holds >= k distinct keys else
# 1.0 (the sketch IS the set below k). Union/intersection estimates follow
# the standard theta-sketch rules over the MERGED samples below
# min(theta_a, theta_b). Every step is integer compare / one final
# division, so both engines compute identical estimates.
_THETA_K = 32
# high-value purchase vs error cohorts: genuinely different user sets with
# a partial overlap (the driver's 150 users are active in EVERY plain
# event type, which would degenerate A = B = union and let a wrong
# intersection rule pass)
_THETA_A, _THETA_B = "purchase", "error"


def _theta_sql() -> str:
    two32 = float(1 << 32)
    return f"""
    WITH d AS (
      SELECT DISTINCT event_type,
        CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
          AS h,
        user_id
      FROM events
      WHERE event_type IN ('{_THETA_A}', '{_THETA_B}') AND value > 95),
    sk AS (
      SELECT event_type, h FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM d) WHERE rn <= {_THETA_K}),
    th AS (
      SELECT event_type,
             CASE WHEN count(*) >= {_THETA_K}
                  THEN CAST(max(h) AS DOUBLE) / {two32}
                  ELSE CAST(1.0 AS DOUBLE) END AS theta,
             count(*) AS n_sk
      FROM sk GROUP BY event_type),
    tmin AS (
      SELECT least(min(theta), CAST(1.0 AS DOUBLE)) AS theta
      FROM (SELECT theta FROM th)),
    merged AS (
      SELECT h,
             max(CASE WHEN event_type = '{_THETA_A}' THEN 1 ELSE 0 END)
               AS in_a,
             max(CASE WHEN event_type = '{_THETA_B}' THEN 1 ELSE 0 END)
               AS in_b
      FROM sk GROUP BY h),
    counts AS (
      SELECT CAST(count(*) AS BIGINT) AS n_union_sample,
             CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_inter_sample
      FROM merged CROSS JOIN tmin
      WHERE CAST(h AS DOUBLE) / {two32} < tmin.theta
         OR tmin.theta = CAST(1.0 AS DOUBLE)),
    exact AS (
      SELECT
        CAST(count(DISTINCT CASE WHEN event_type = '{_THETA_A}'
                                 THEN user_id END) AS BIGINT) AS exact_a,
        CAST(count(DISTINCT CASE WHEN event_type = '{_THETA_B}'
                                 THEN user_id END) AS BIGINT) AS exact_b,
        CAST(count(DISTINCT user_id) AS BIGINT) AS exact_union
      FROM d)
    SELECT {_THETA_K} AS k, exact_a, exact_b, exact_union,
           exact_a + exact_b - exact_union AS exact_inter,
           round(n_union_sample / tmin.theta, 4) AS est_union,
           round(n_inter_sample / tmin.theta, 4) AS est_inter
    FROM counts CROSS JOIN tmin CROSS JOIN exact
    """


@register("events_theta_sketch_setops", _theta_sql())
def events_theta_sketch_setops(spark, sf_dir):
    """Theta/KMV sketch SET OPERATIONS (Dasgupta et al. 2016, the public
    DataSketches theta algebra) — distinct-user union AND intersection
    estimates between two event cohorts from k-minimum-value samples,
    next to the exact counts that price the error. HLL
    (events_hll_distinct) closed the cardinality family but cannot
    intersect; theta sketches can, and building them on md5 makes both
    engines compute IDENTICAL samples and estimates, so an approximate
    set algebra passes the full value gate. Rules: theta_X = k-th
    smallest hash / 2^32 (or 1.0 when the set is smaller than k — the
    sketch IS the set), estimates = sample counts below min(theta)
    divided by min(theta); every step is integer compare with ONE final
    division, so no rounding dial is load-bearing (4 dp is cosmetic).
    Shape at 100 TB: the k-min sample is a distributive sketch (merge =
    k smallest of the union of samples — exactly how the union sample is
    built here), so sketches build map-side per partition and merge in a
    k·P-sized reduce; the exact columns ride along only to expose the
    error. Reference analogue: none — training-data pipeline extension
    (cohort overlap / audience dedup)."""
    ev = T(spark, sf_dir, "events").filter(
        F.col("event_type").isin(_THETA_A, _THETA_B) & (F.col("value") > 95)
    )
    two32 = float(1 << 32)
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    d = ev.select("event_type", h.alias("h"), "user_id").distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    sk = (
        d.select("event_type", "h")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _THETA_K)
        .drop("rn")
    )
    th = sk.groupBy("event_type").agg(
        F.when(F.count("*") >= _THETA_K, F.max("h").cast("double") / two32)
        .otherwise(F.lit(1.0))
        .alias("theta")
    )
    tmin = th.agg(F.min("theta").alias("theta"))
    merged = sk.groupBy("h").agg(
        F.max(
            F.when(F.col("event_type") == _THETA_A, 1).otherwise(0)
        ).alias("in_a"),
        F.max(
            F.when(F.col("event_type") == _THETA_B, 1).otherwise(0)
        ).alias("in_b"),
    )
    counts = (
        merged.crossJoin(tmin)
        .filter(
            (F.col("h").cast("double") / two32 < F.col("theta"))
            | (F.col("theta") == 1.0)
        )
        .agg(
            F.count("*").alias("n_union_sample"),
            F.sum(
                F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1)
                .otherwise(0)
            ).alias("n_inter_sample"),
        )
    )
    exact = d.agg(
        F.countDistinct(
            F.when(F.col("event_type") == _THETA_A, F.col("user_id"))
        ).alias("exact_a"),
        F.countDistinct(
            F.when(F.col("event_type") == _THETA_B, F.col("user_id"))
        ).alias("exact_b"),
        F.countDistinct("user_id").alias("exact_union"),
    )
    return (
        counts.crossJoin(tmin)
        .crossJoin(exact)
        .select(
            F.lit(_THETA_K).alias("k"),
            "exact_a",
            "exact_b",
            "exact_union",
            (F.col("exact_a") + F.col("exact_b") - F.col("exact_union"))
            .alias("exact_inter"),
            F.round(F.col("n_union_sample") / F.col("theta"), 4)
            .alias("est_union"),
            F.round(F.col("n_inter_sample") / F.col("theta"), 4)
            .alias("est_inter"),
        )
    )


# anchor-text extraction: the paired (href, text) shape needs TWO capture
# groups, and regexp_extract_all returns only one — so both engines extract
# the FULL anchor tag once and re-extract each part per element (HOF
# transform / list_transform keep it map-side). [^<]* anchor bodies are the
# fixture's shape; a real crawl would strip child tags first (the
# html_text_extract kernel's job).
_ANCHOR_TAG_RE_SQL = '(?is)(<a\\s[^>]*href="[^"]+"[^>]*>[^<]*</a>)'
_ANCHOR_TEXT_SQL = f"""
    WITH tags AS (
      SELECT unnest(regexp_extract_all(html, '{_ANCHOR_TAG_RE_SQL}', 1))
               AS tag
      FROM read_parquet('{_LINKED_PAGES}/*.parquet')),
    pairs AS (
      SELECT lower(regexp_extract(regexp_extract(tag,
               '(?i)href="([^"]+)"', 1), '(?i)^https?://([^/?#]+)', 1))
               AS dst_host,
             lower(trim(regexp_extract(tag, '(?is)>([^<]*)</a>', 1)))
               AS atext
      FROM tags
      WHERE regexp_matches(regexp_extract(tag, '(?i)href="([^"]+)"', 1),
                           '(?i)^https?://')),
    counted AS (
      SELECT dst_host, atext, CAST(count(*) AS BIGINT) AS c
      FROM pairs GROUP BY dst_host, atext),
    ranked AS (
      SELECT dst_host, atext, c,
             row_number() OVER (PARTITION BY dst_host
                                ORDER BY c DESC, atext) AS rn,
             CAST(sum(c) OVER (PARTITION BY dst_host) AS BIGINT)
               AS n_anchors,
             CAST(count(*) OVER (PARTITION BY dst_host) AS BIGINT)
               AS n_texts
      FROM counted)
    SELECT dst_host, n_anchors, n_texts,
           atext AS top_text, c AS top_count
    FROM ranked WHERE rn = 1
    """


@register("docs_anchor_text_profile", _ANCHOR_TEXT_SQL)
def docs_anchor_text_profile(spark, sf_dir):
    """Anchor-text profile per destination host — the classic off-page
    quality/relevance signal (what OTHER pages call a host; anchor text
    feeds search ranking and page-quality classifiers): every absolute
    <a> tag yields a (dst_host, normalized anchor text) pair, rolled up
    to per-host totals, distinct-text counts, and the modal anchor text
    (count-desc, text-asc tiebreak so ties cannot order differently per
    engine). Extraction spelling: the paired shape re-extracts href and
    body from the ONE captured full tag — regexp_extract_all returns a
    single group, so this is the cross-engine way to get two. Shape at
    100 TB: map-side extraction into a (hosts × texts)-bounded count
    relation; the rank + totals share ONE dst_host window exchange.
    Reference analogue: none — training-data pipeline extension."""
    d = spark.read.parquet(_ensure_linked_pages())
    tags = d.select(
        F.explode(
            F.expr(
                "regexp_extract_all(html,"
                " '(?is)(<a\\\\s[^>]*href=\"[^\"]+\"[^>]*>[^<]*</a>)', 1)"
            )
        ).alias("tag")
    )
    href = F.regexp_extract("tag", '(?i)href="([^"]+)"', 1)
    pairs = tags.filter(href.rlike("(?i)^https?://")).select(
        F.lower(
            F.regexp_extract(href, "(?i)^https?://([^/?#]+)", 1)
        ).alias("dst_host"),
        F.lower(
            F.trim(F.regexp_extract("tag", "(?is)>([^<]*)</a>", 1))
        ).alias("atext"),
    )
    counted = pairs.groupBy("dst_host", "atext").agg(F.count("*").alias("c"))
    w = Window.partitionBy("dst_host")
    ranked = counted.select(
        "dst_host",
        "atext",
        "c",
        F.row_number()
        .over(w.orderBy(F.desc("c"), "atext"))
        .alias("rn"),
        F.sum("c").over(w).alias("n_anchors"),
        F.count("*").over(w).alias("n_texts"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "dst_host",
        "n_anchors",
        "n_texts",
        F.col("atext").alias("top_text"),
        F.col("c").alias("top_count"),
    )


# CUPED pre-period cut shared by the Spark impl and the SQL twin: the events
# table spans 2024-01-01 .. 2024-01-30, so day 15 splits it ~50/50 into a
# covariate window and an experiment window.
_CUPED_CUT = "2024-01-15"
# Every moment rides as an EXACT sum (x: BIGINT count; y: per-row
# DECIMAL(18,6) cast summed exactly), converted to DOUBLE once in ONE fixed
# spelling: the original avg(y)-per-arm spelling straddled a 4dp rounding
# midpoint (lift_raw −33.99875) and flipped with the session's partial-agg
# order — the cdc_value_drift lesson applied to a whole moment system.
# CUPED identities on the exact moments (yc is affine in (y, x), so
# avg/var of yc need no second pass): lift_cuped = lift_raw − θ·Δavg(x);
# var(yc) = var(y) − 2θ·cov + θ²·var(x).
_CUPED_SQL = f"""
    WITH pre AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS x
      FROM events WHERE ts < TIMESTAMP '{_CUPED_CUT}' GROUP BY user_id),
    u AS (
      SELECT event_type, user_id, user_id % 2 AS arm,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS y
      FROM events WHERE ts >= TIMESTAMP '{_CUPED_CUT}'
      GROUP BY event_type, user_id),
    ux AS (
      SELECT u.event_type, u.arm, u.y, coalesce(pre.x, 0) AS x
      FROM u LEFT JOIN pre USING (user_id)),
    sums AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n0,
             CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n1,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(x) FILTER (WHERE arm = 0) AS DOUBLE) AS sx0,
             CAST(sum(x) FILTER (WHERE arm = 1) AS DOUBLE) AS sx1,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(y) FILTER (WHERE arm = 0) AS DOUBLE) AS sy0,
             CAST(sum(y) FILTER (WHERE arm = 1) AS DOUBLE) AS sy1,
             -- width-19 casts force int128-backed decimals: DuckDB executes
             -- DECIMAL(18)*DECIMAL(18) in int64 and overflows at sf0.01
             CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,6)))
                  AS DOUBLE) AS sxy,
             CAST(sum(CAST(y AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)))
                  AS DOUBLE) AS syy
      FROM ux GROUP BY event_type),
    st AS (
      SELECT event_type, n0, n1,
             round((sxy - sx * sy / n) / (n - 1), 6) AS cxy,
             round((sxx - sx * sx / n) / (n - 1), 6) AS vx,
             round((syy - sy * sy / n) / (n - 1), 6) AS vy,
             sy1 / n1 - sy0 / n0 AS dy,
             sx1 / n1 - sx0 / n0 AS dx
      FROM sums)
    SELECT event_type, n0, n1,
           round(cxy / vx, 4) AS theta,
           round(dy, 4) AS lift_raw,
           round(dy - (cxy / vx) * dx, 4) AS lift_cuped,
           round((vy - 2 * (cxy / vx) * cxy
                  + (cxy / vx) * (cxy / vx) * vx) / vy, 4) AS var_reduction
    FROM st
    """


@register("events_ab_cuped", _CUPED_SQL)
def events_ab_cuped(spark, sf_dir):
    """CUPED variance-reduced A/B readout (Deng et al. 2013) — the adjusted
    lift every mature experimentation platform reports next to
    events_ab_lift's raw one: per metric (event_type), each user's
    experiment-period value sum is adjusted by their PRE-period activity
    count (theta = cov(X,Y)/var(X), Y' = Y − theta·(X − mean X)), shrinking
    variance by the covariate's explained share without biasing the lift
    (X predates assignment). Cross-engine determinism — stronger than the
    events_ab_lift round-post-agg contract, because the original spelling
    FAILED it: avg(y) per arm straddled a 4dp rounding midpoint
    (−33.99875) and flipped with the session's partial-agg summation
    order. Every moment now rides as an EXACT sum (x: BIGINT; y: per-row
    DECIMAL(18,6) cast, summed exactly — order-independent on both
    engines), converted to DOUBLE once in one fixed spelling; because yc
    is affine in (y, x), CUPED's adjusted lift and variance follow from
    closed identities on those moments (lift_cuped = lift_raw − θ·Δx̄;
    var(yc) = var(y) − 2θ·cov + θ²·var(x)) with cov/var rounded 6dp
    before θ. Shape at 100 TB: two per-user partial-agg groupBys joined
    on user, then ONE types-sized exact-moment agg — never a self-join,
    never a window, no second pass for the adjusted series. Reference
    analogue: none — training-data pipeline extension."""
    ev = T(spark, sf_dir, "events")
    cut = F.lit(_CUPED_CUT).cast("timestamp")
    pre = (
        ev.filter(F.col("ts") < cut)
        .groupBy("user_id")
        .agg(F.count("*").alias("x"))
    )
    u = (
        ev.filter(F.col("ts") >= cut)
        .groupBy("event_type", "user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(18,6)")
            .alias("y")
        )
        .withColumn("arm", F.col("user_id") % 2)
    )
    ux = (
        u.join(pre, "user_id", "left")
        .select(
            "event_type", "arm", "y",
            F.coalesce(F.col("x"), F.lit(0)).alias("x"),
        )
    )
    d = lambda c: c.cast("double")  # noqa: E731
    x, y = F.col("x"), F.col("y")
    a0, a1 = F.col("arm") == 0, F.col("arm") == 1
    sums = ux.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.count(F.when(a0, 1)).alias("n0"),
        F.count(F.when(a1, 1)).alias("n1"),
        d(F.sum(x)).alias("sx"),
        d(F.sum(F.when(a0, x))).alias("sx0"),
        d(F.sum(F.when(a1, x))).alias("sx1"),
        d(F.sum(x * x)).alias("sxx"),
        d(F.sum(y)).alias("sy"),
        d(F.sum(F.when(a0, y))).alias("sy0"),
        d(F.sum(F.when(a1, y))).alias("sy1"),
        d(F.sum(x * y)).alias("sxy"),
        d(F.sum(y * y)).alias("syy"),
    )
    n, n0, n1 = F.col("n"), F.col("n0"), F.col("n1")
    st = sums.select(
        "event_type", "n0", "n1",
        F.round((F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - 1), 6)
        .alias("cxy"),
        F.round((F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1), 6)
        .alias("vx"),
        F.round((F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - 1), 6)
        .alias("vy"),
        (F.col("sy1") / n1 - F.col("sy0") / n0).alias("dy"),
        (F.col("sx1") / n1 - F.col("sx0") / n0).alias("dx"),
    )
    theta = F.col("cxy") / F.col("vx")
    return st.select(
        "event_type", "n0", "n1",
        F.round(theta, 4).alias("theta"),
        F.round(F.col("dy"), 4).alias("lift_raw"),
        F.round(F.col("dy") - theta * F.col("dx"), 4).alias("lift_cuped"),
        F.round(
            (F.col("vy") - 2 * theta * F.col("cxy")
             + theta * theta * F.col("vx")) / F.col("vy"),
            4,
        ).alias("var_reduction"),
    )


_TRIGRAM_PATHS_SQL = """
    WITH seqd AS (
      SELECT concat_ws('>', event_type,
               lead(event_type, 1) OVER w, lead(event_type, 2) OVER w) AS path,
             lead(event_type, 2) OVER w AS p2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_paths
          FROM seqd WHERE p2 IS NOT NULL GROUP BY path)
    SELECT path, n_paths FROM c ORDER BY n_paths DESC, path LIMIT 20
    """


@register("events_trigram_paths", _TRIGRAM_PATHS_SQL)
def events_trigram_paths(spark, sf_dir):
    """Top-20 length-3 behavioral paths (the Sankey / user-journey query,
    one order up from events_markov_transition's first-order matrix):
    consecutive event-type triples per user, counted corpus-wide. The
    rank-20 cut is total-ordered (count DESC, path ASC) so the emitted SET
    is engine-independent. Shape at 100 TB: BOTH leads share the engine's
    ONE per-key (user_id → ts, event_id) window exchange (plan-pinned),
    the path count partial-aggregates over a types³-bounded keyspace, and
    the cut is TakeOrderedAndProject — no global sort ever materializes.
    Reference analogue: none — training-data pipeline extension."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seqd = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type", 1).over(w).alias("p1"),
        F.lead("event_type", 2).over(w).alias("p2"),
    ).filter(F.col("p2").isNotNull())
    c = (
        seqd.select(F.concat_ws(">", "src", "p1", "p2").alias("path"))
        .groupBy("path")
        .agg(F.count("*").alias("n_paths"))
    )
    return c.orderBy(F.desc("n_paths"), "path").limit(20)


_USER_GINI_SQL = """
    WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x
               FROM events GROUP BY user_id),
    r AS (SELECT x, row_number() OVER (ORDER BY x, user_id) AS i FROM c)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(x) AS BIGINT) AS total_events,
           round((2.0 * sum(i * x) - (count(*) + 1) * sum(x))
                 / (count(*) * sum(x)), 6) AS gini
    FROM r
    """


@register("events_user_gini", _USER_GINI_SQL)
def events_user_gini(spark, sf_dir):
    """Gini coefficient of per-user activity — the one-number inequality
    measure behind hot-key budgeting (a Gini near 0 means LWW/session state
    spreads evenly; near 1 means a few keys own the stream and the salted
    paths earn their keep). Computed from the exact rank identity
    G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx) over counts sorted ascending —
    every term is exact BIGINT until the one final division, and equal
    counts contribute the same Σ i·x_i under ANY tie order, so the value is
    engine-independent by construction. Shape at 100 TB (round-5 verdict
    task 3 — NO global rank window): group the keys-sized count relation by
    DISTINCT count value v (cnt_v keys share it), distributed-prefix-sum
    cnt over ascending v (functions/packing.ordered_prefix_sum — range
    repartition + per-partition scan + a partitions-sized broadcast of
    bases), and fold each value's contiguous rank block exactly:
    Σ_(i=s_v+1..s_v+cnt_v) i = cnt_v·s_v + cnt_v(cnt_v+1)/2, so
    Σ i·x_i = Σ_v v·(cnt_v·s_v + cnt_v(cnt_v+1)/2) — BIGINT throughout, no
    single-task sort at any relation size. The SQL oracle keeps the plain
    rank spelling (values identical by the tie-invariance above).
    Reference analogue: none — training-data pipeline extension."""
    from .functions.packing import ordered_prefix_sum

    ev = T(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count("*").alias("x"))
    g = c.groupBy("x").agg(F.count("*").alias("cnt"))
    ps = ordered_prefix_sum(g, "x", "cnt")  # offset = Σ cnt over smaller x
    block = ps.select(
        "x",
        "cnt",
        (
            F.col("x")
            * (F.col("cnt") * F.col("offset")
               + F.expr("cnt * (cnt + 1) div 2"))
        ).alias("term"),
    )
    n, sx = F.sum("cnt"), F.sum(F.col("x") * F.col("cnt"))
    return block.agg(
        n.cast("long").alias("n_users"),
        sx.cast("long").alias("total_events"),
        F.round(
            (2.0 * F.sum("term") - (n + 1) * sx) / (n * sx),
            6,
        ).alias("gini"),
    )


_CONTAINMENT_SQL = f"""
    WITH {_SHINGLE_CAND_CTES},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.a
      JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
      GROUP BY c.a, c.b)
    SELECT a, b, n_inter,
           round(n_inter * 1.0 / sa.n, 4) AS c_ab,
           round(n_inter * 1.0 / sb.n, 4) AS c_ba
    FROM inter
    JOIN sizes sa ON sa.doc_id = a
    JOIN sizes sb ON sb.doc_id = b
    WHERE greatest(n_inter * 1.0 / sa.n, n_inter * 1.0 / sb.n) >= 0.7
    """


def _shingle_candidates(sh: DataFrame) -> DataFrame:
    """The Spark side of ``_SHINGLE_CAND_CTES``' rare/cs/cand: doc pairs
    (a < b) sharing a 3-token shingle whose document frequency is in
    [2, 64]."""
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("_df"))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= 64))
        .select("shingle")
    )
    cs = sh.join(rare, "shingle")
    return (
        cs.select(F.col("doc_id").alias("a"), "shingle")
        .join(cs.select(F.col("doc_id").alias("b"), "shingle"), "shingle")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


@register("docs_containment_dups", _CONTAINMENT_SQL)
def docs_containment_dups(spark, sf_dir):
    """Directional CONTAINMENT near-dups (Broder 1997's resemblance twin) —
    the subset-duplication detector Jaccard structurally misses: a quote or
    syndicated fragment fully inside a longer page scores c_ab = |A∩B|/|A|
    ≈ 1 while its Jaccard ≈ |A|/|B| stays tiny, so a Jaccard-only dedup
    keeps shipping the same buried boilerplate. Candidates reuse the
    DF-capped 3-token-shingle equi-join (the [2, 64] cap is the quadratic
    hot-shingle guard shared with docs_ngram_jaccard_near_dup); both
    directions are then EXACT over candidate pairs only, emitted where
    either direction ≥ 0.7. Same bounded id-range sample as the other pair
    queries (pair output is quadratic in cluster size). Shape at 100 TB:
    one extra projection over the existing intersection partial-agg —
    containment is free once Jaccard's n_inter/|A|/|B| exist.
    Reference analogue: none — training-data pipeline extension."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    sh = S.token_ngrams(d, "doc_id", "text", n=3)
    cands = _shingle_candidates(sh)
    pairs = S.containment_pairs(sh, cands, "doc_id", "shingle")
    return pairs.filter(
        F.greatest(F.col("c_ab"), F.col("c_ba")) >= 0.7
    ).select(
        "a", "b", "n_inter",
        F.round("c_ab", 4).alias("c_ab"),
        F.round("c_ba", 4).alias("c_ba"),
    )


_EMB_DRIFT_SQL = """
    WITH tagged AS (
      SELECT label, embedding,
             CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':drift'),
                                 1, 8) AS BIGINT) % 10 = 0 AS is_holdout
      FROM embeddings),
    comp AS (
      SELECT label, is_holdout, pos, round(avg(val), 6) AS c
      FROM (SELECT label, is_holdout,
                   unnest(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                     AS val,
                   unnest(generate_series(1, len(embedding))) AS pos
            FROM tagged)
      GROUP BY label, is_holdout, pos),
    counts AS (
      SELECT label,
             CAST(count(*) FILTER (WHERE is_holdout) AS BIGINT) AS n_holdout,
             CAST(count(*) FILTER (WHERE NOT is_holdout) AS BIGINT) AS n_rest
      FROM tagged GROUP BY label),
    paired AS (
      SELECT h.label, h.c AS ch, r.c AS cr
      FROM comp h JOIN comp r ON h.label = r.label AND h.pos = r.pos
      WHERE h.is_holdout AND NOT r.is_holdout)
    SELECT p.label, n_holdout, n_rest,
           round(sum(ch * cr) / (sqrt(sum(ch * ch)) * sqrt(sum(cr * cr))), 4)
             AS centroid_cosine
    FROM paired p JOIN counts USING (label)
    GROUP BY p.label, n_holdout, n_rest
    """


@register("emb_holdout_centroid_drift", _EMB_DRIFT_SQL)
def emb_holdout_centroid_drift(spark, sf_dir):
    """Per-label centroid drift between a deterministic md5-keyed 10%
    holdout and the remaining 90% — the embedding-distribution stability
    monitor (a label whose fresh-batch centroid swings away from the
    corpus centroid means the encoder or the upstream mix changed; run it
    per ingest batch before trusting ANN buckets or SemDeDup cells built
    on the old geometry). Centroid components round 6dp on BOTH engines
    before the cosine (the emb_outliers contract) so avg summation order
    cannot flip the hash. Shape at 100 TB: two centroids per label ride
    ONE partial-agg over (label, side, pos) — labels×2×dim rows — and
    everything after runs on that tiny relation; the corpus is scanned
    once, map-side. Reference analogue: none — training-data extension."""
    emb = T(spark, sf_dir, "embeddings")
    is_holdout = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("vec_id").cast("string"), F.lit(":drift"))
                    .cast("binary")
                ),
                1, 8,
            ),
            16, 10,
        ).cast("long") % 10 == 0
    )
    tagged = emb.select("label", "embedding", is_holdout.alias("is_holdout"))
    comp = (
        tagged.select(
            "label", "is_holdout", F.posexplode("embedding").alias("pos0", "val")
        )
        .select(
            "label", "is_holdout", (F.col("pos0") + 1).alias("pos"),
            F.col("val").cast("double").alias("val"),
        )
        .groupBy("label", "is_holdout", "pos")
        .agg(F.round(F.avg("val"), 6).alias("c"))
    )
    counts = tagged.groupBy("label").agg(
        F.count(F.when(F.col("is_holdout"), 1)).alias("n_holdout"),
        F.count(F.when(~F.col("is_holdout"), 1)).alias("n_rest"),
    )
    h = comp.filter(F.col("is_holdout")).select(
        "label", "pos", F.col("c").alias("ch")
    )
    rst = comp.filter(~F.col("is_holdout")).select(
        "label", "pos", F.col("c").alias("cr")
    )
    paired = h.join(rst, ["label", "pos"])
    cosd = paired.groupBy("label").agg(
        F.round(
            F.sum(F.col("ch") * F.col("cr"))
            / (
                F.sqrt(F.sum(F.col("ch") * F.col("ch")))
                * F.sqrt(F.sum(F.col("cr") * F.col("cr")))
            ),
            4,
        ).alias("centroid_cosine")
    )
    return cosd.join(F.broadcast(counts), "label").select(
        "label", "n_holdout", "n_rest", "centroid_cosine"
    )


# Retransmitted-delivery fixture for the built-in watermarked-dedup gate:
# the replay log with at-least-once transport noise injected — recent DML
# rows re-delivered as EXACT copies, half into their own archive file
# (in-batch duplicate) and half into the NEXT file (cross-batch duplicate,
# the case that needs state). "Recent" = warc_ts within 24 h of the running
# event-time max at injection, HALF the 48 h watermark delay — so by
# construction every duplicate arrives while the original's dedup state is
# provably alive (margin 24 h), and no duplicate can be late-dropped.
_RETRANS_SPEC = dict(base=_REPLAY_SPEC, retrans="recent24h_seqmod4_v1")
_RETRANS_EVENTS = fixture_path(_REPLAY_BASE, "replay_retrans", _RETRANS_SPEC)


def _ensure_retransmit_replay_events() -> str:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = _ensure_replay_events()

    def _write(d: str) -> None:
        files = _event_files(src)
        running_max = None
        carry = None
        day_us = np.timedelta64(24 * 3600 * 1_000_000, "us")
        for k, f in enumerate(files):
            t = pq.read_table(f)
            op = t["op"].combine_chunks().to_pandas()
            url = t["url"].combine_chunks().to_pandas()
            wts = t["warc_ts"].combine_chunks().to_numpy()
            seq = t["seq"].combine_chunks().to_numpy()
            dml = (
                op.notna().to_numpy()
                & (op != "ddl").fillna(False).to_numpy()
                & url.notna().to_numpy()
                & ~np.isnat(wts)
            )
            fmax = wts[dml].max()
            running_max = fmax if running_max is None else max(running_max, fmax)
            cand = dml & (wts >= running_max - day_us)
            same_idx = np.nonzero(cand & (seq % 4 == 0))[0]
            next_idx = np.nonzero(cand & (seq % 4 == 1))[0]
            parts = [t, t.take(same_idx)]
            if carry is not None:
                parts.append(carry)
            carry = t.take(next_idx)
            if k == len(files) - 1:
                parts.append(carry)  # last file: nowhere later to go
            out = os.path.join(d, os.path.basename(f))
            pq.write_table(
                pa.concat_tables(parts), out, compression="snappy"
            )
            os.utime(out, (1_600_000_000 + k, 1_600_000_000 + k))

    return ensure_fixture(_RETRANS_EVENTS, _write)


_STREAM_DEDUP_WM_SQL = f"""
    SELECT DISTINCT url, warc_ts, seq AS _seq, op AS _op,
           md5(coalesce(text, '')) AS text_md5
    FROM read_parquet('{_RETRANS_EVENTS}/*.parquet')
    WHERE op IS NOT NULL AND op <> 'ddl'
      AND url IS NOT NULL AND warc_ts IS NOT NULL
    """


@register("engine_stream_dedup_watermark", _STREAM_DEDUP_WM_SQL)
def engine_stream_dedup_watermark(spark, sf_dir):
    """Spark's BUILT-IN watermarked streaming dedup through the value gate:
    dropDuplicatesWithinWatermark((url, seq), 48 h watermark on warc_ts)
    over the retransmitted-delivery fixture — the at-least-once transport
    layer (a Kafka producer retry, an S3 multipart re-upload, our network
    sink's re-streamed partition) re-delivers recent rows as exact copies,
    in-batch AND across micro-batches, and the operator must admit each
    (url, seq) exactly once. Complements the engine's own positional dedup
    (confirmed-epoch suppression: pipeline.py) and the custom first-seen
    operator (streaming/dedup.py): this is the bounded-state JVM shape —
    state per key EXPIRES once the watermark passes its event time, so
    state size tracks the delay window, not distinct-keys-ever (the reason
    it scales where a forever-state dedup cannot). Fixture margin makes
    correctness provable: duplicates copy only rows within 24 h of the
    running event-time max (half the 48 h delay), so no duplicate can
    outlive its original's state or arrive late. In-flight asserts pin that
    the fixture actually injected duplicates and that the operator dropped
    every one of them. Shape at 100 TB: the dedup shuffle is on the dedup
    key itself; state store swaps to RocksDB past memory. Reference
    analogue: idempotent re-delivery suppression (WriterStream confirm
    protocol, Writer.cpp confirmedScn gating), re-expressed on event time."""
    from .operators.decode import EVENTS_DDL

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _ensure_retransmit_replay_events()
    dml_filter = (
        F.col("op").isNotNull()
        & (F.col("op") != "ddl")
        & F.col("url").isNotNull()
        & F.col("warc_ts").isNotNull()
    )
    n_in = (
        spark.read.schema(EVENTS_DDL).parquet(ev).filter(dml_filter).count()
    )
    stream = (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(ev)
    )
    deduped = (
        stream.filter(dml_filter)
        .select("url", "warc_ts", "seq", "op", "text")
        .withWatermark("warc_ts", "48 hours")
        .dropDuplicatesWithinWatermark(["url", "seq"])
    )
    with _stream_harness(spark) as d:
        out, ckpt = os.path.join(d, "out"), os.path.join(d, "ckpt")
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    res = spark.read.schema(
        "url string, warc_ts timestamp, seq long, op string, text string"
    ).parquet(out)
    n_out = res.count()
    if n_out >= n_in:
        raise AssertionError(
            f"retransmit fixture injected no duplicates ({n_in} in, {n_out} out)"
        )
    n_distinct = res.select("url", "seq").distinct().count()
    if n_out != n_distinct:
        raise AssertionError(
            f"dedup admitted a duplicate: {n_out} rows, {n_distinct} keys"
        )
    return res.select(
        "url",
        "warc_ts",
        F.col("seq").alias("_seq"),
        F.col("op").alias("_op"),
        F.md5(F.coalesce(F.col("text"), F.lit("")).cast("binary")).alias(
            "text_md5"
        ),
    )


_HEAPS_SQL = """
    WITH per_doc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(DISTINCT token) AS BIGINT) AS n_types
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                     AS token
            FROM documents)
      WHERE length(token) > 0 GROUP BY doc_id)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           round(regr_slope(ln(CAST(n_types AS DOUBLE)),
                            ln(CAST(n_tokens AS DOUBLE))), 4) AS heaps_beta,
           round(exp(regr_intercept(ln(CAST(n_types AS DOUBLE)),
                                    ln(CAST(n_tokens AS DOUBLE)))), 4)
             AS heaps_k,
           round(regr_r2(ln(CAST(n_types AS DOUBLE)),
                         ln(CAST(n_tokens AS DOUBLE))), 4) AS r2
    FROM per_doc WHERE n_tokens > 0
    """


@register("docs_heaps_fit", _HEAPS_SQL)
def docs_heaps_fit(spark, sf_dir):
    """Heaps'-law fit (V = K·nᵝ) of type-token scaling across documents —
    docs_zipf_fit's companion corpus-health diagnostic: natural text sits
    near β ≈ 0.4-0.6; templated/duplicated corpora collapse toward β → 0
    (vocabulary stops growing with length), so a β drift between crawls
    flags boilerplate saturation before the dedup stages measure it the
    expensive way. OLS of ln(distinct tokens) on ln(total tokens), both
    exact BIGINTs per document, via built-in regr_* aggregates (single
    reduce, the docs_zipf_fit contract — 4dp post-rounding absorbs ln/sum
    ulp skew). Shape at 100 TB: per-doc (count, count DISTINCT) ride one
    two-phase partial agg over (doc, token); the regression is one reduce
    over docs-sized input. Reference analogue: none — training-data
    pipeline extension."""
    d = T(spark, sf_dir, "documents")
    tok = S.tokens(d, "doc_id", "text", distinct=False)
    per_doc = tok.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("token").alias("n_types"),
    ).filter(F.col("n_tokens") > 0)
    y = F.log(F.col("n_types").cast("double"))
    x = F.log(F.col("n_tokens").cast("double"))
    return per_doc.agg(
        F.count("*").alias("n_docs"),
        F.round(F.regr_slope(y, x), 4).alias("heaps_beta"),
        F.round(F.exp(F.regr_intercept(y, x)), 4).alias("heaps_k"),
        F.round(F.regr_r2(y, x), 4).alias("r2"),
    )


_TWONN_SQL = f"""
    WITH {_KNN_SCORED_CTES},
    ranked AS (
      SELECT vec_id, cosine,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored),
    top2 AS (
      SELECT vec_id,
             max(CASE WHEN rank = 1 THEN cosine END) AS c1,
             max(CASE WHEN rank = 2 THEN cosine END) AS c2
      FROM ranked WHERE rank <= 2 GROUP BY vec_id),
    mus AS (
      SELECT vec_id, (1 - c2) / (1 - c1) AS mu
      FROM top2 WHERE c2 IS NOT NULL AND (1 - c1) > 0)
    SELECT CAST(count(*) AS BIGINT) AS n_used,
           round(count(*) / sum(ln(mu)), 4) AS id_twonn,
           round(quantile_cont(mu, 0.5), 4) AS mu_median
    FROM mus
    """


@register(
    "emb_intrinsic_dim",
    _TWONN_SQL,
)
def emb_intrinsic_dim(spark, sf_dir):
    """TwoNN intrinsic-dimension estimate (Facco et al. 2017): per vector,
    the ratio mu = r2/r1 of its two nearest-neighbor distances is Pareto(d)
    -distributed, so d̂ = n / Σ ln(mu) — the one-number geometry check that
    tells you whether a 64-dim embedding column really spans 64 dims or
    lives on a ~10-dim manifold (prices PCA/matryoshka truncation and JL
    cuts before running them). Distance is rounded-cosine distance over
    the SAME LSH candidate neighborhoods the dedup/kNN pipeline uses
    (documented approximation: a true NN outside every shared bucket is
    invisible — acceptable because the estimator only needs local ratios);
    exact-dup neighbors (r1 = 0 after the 4dp round) are excluded, mu is a
    single division of rounded values, and the MLE/median round 4dp after
    the one reduce. Shape at 100 TB: candidates from the bounded-keyspace
    bucket equi-join (never all-pairs), top-2 via WindowGroupLimit
    (partial per-partition top-k before the shuffle), one scalar reduce.
    Reference analogue: none — training-data pipeline extension."""
    scored = _lsh_sample_scored(spark, sf_dir)
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), "neighbor_id")
    ranked = scored.select(
        "vec_id", "cosine", F.row_number().over(w).alias("rank")
    ).filter(F.col("rank") <= 2)
    top2 = ranked.groupBy("vec_id").agg(
        F.max(F.when(F.col("rank") == 1, F.col("cosine"))).alias("c1"),
        F.max(F.when(F.col("rank") == 2, F.col("cosine"))).alias("c2"),
    )
    mus = top2.filter(
        F.col("c2").isNotNull() & ((1 - F.col("c1")) > 0)
    ).select(((1 - F.col("c2")) / (1 - F.col("c1"))).alias("mu"))
    return mus.agg(
        F.count("*").alias("n_used"),
        F.round(F.count("*") / F.sum(F.log("mu")), 4).alias("id_twonn"),
        F.round(F.expr("percentile(mu, 0.5)"), 4).alias("mu_median"),
    )


_STALENESS_SQL = """
    WITH last_change AS (
      SELECT user_id, max(ts) AS last_ts FROM events GROUP BY user_id),
    horizon AS (SELECT max(ts) AS now_ts FROM events),
    aged AS (
      SELECT user_id,
             (epoch_us(now_ts) - epoch_us(last_ts))
               // CAST(86400000000 AS BIGINT) AS stale_days
      FROM last_change CROSS JOIN horizon)
    SELECT stale_days, CAST(count(*) AS BIGINT) AS n_keys
    FROM aged GROUP BY stale_days
    """


@register("cdc_staleness_histogram", _STALENESS_SQL)
def cdc_staleness_histogram(spark, sf_dir):
    """Key-staleness histogram: whole days since each key's LAST change,
    measured against the stream's own event-time horizon — the freshness
    profile a CDC consumer reads to size recrawl budgets and TTL policies
    (complements cdc_recrawl_interval's BETWEEN-change gaps: this is the
    open interval at the end). Day bucketing rides exact integer micros —
    Spark `div` truncates and DuckDB `//` floors, identical for the
    non-negative diffs here (ROUND3 dialect note). Shape at 100 TB: the
    per-key max is the LWW partial agg, the horizon is a one-row broadcast
    crossJoin, the histogram is a days-bounded groupBy. Reference
    analogue: the checkpoint/confirmed-scn lag metric (Writer.cpp
    confirmedScn vs current scn), re-expressed per key on event time."""
    ev = T(spark, sf_dir, "events")
    last_change = ev.groupBy("user_id").agg(F.max("ts").alias("last_ts"))
    horizon = ev.agg(F.max("ts").alias("now_ts"))
    aged = last_change.crossJoin(F.broadcast(horizon)).select(
        # unix_micros rejects TIMESTAMP_NTZ; the cast is identity under the
        # session UTC pin (ROUND3 dialect note)
        F.expr(
            "(unix_micros(CAST(now_ts AS TIMESTAMP))"
            " - unix_micros(CAST(last_ts AS TIMESTAMP))) div 86400000000"
        ).alias("stale_days")
    )
    return aged.groupBy("stale_days").agg(F.count("*").alias("n_keys"))


_CLIP_CALIB_SQL = """
    WITH vals AS (
      SELECT pos, val FROM (
        SELECT unnest(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                 AS val,
               unnest(generate_series(1, len(embedding))) AS pos
        FROM embeddings)),
    bounds AS (
      SELECT pos,
             round(quantile_cont(val, 0.01), 6) AS lo,
             round(quantile_cont(val, 0.99), 6) AS hi,
             CAST(count(*) AS BIGINT) AS n
      FROM vals GROUP BY pos),
    clipped AS (
      SELECT v.pos,
             CAST(count(*) FILTER (WHERE val < lo OR val > hi) AS BIGINT)
               AS n_clipped
      FROM vals v JOIN bounds b ON v.pos = b.pos
      GROUP BY v.pos)
    SELECT b.pos AS pos, lo, hi,
           CAST(round(n_clipped * 1e6 / n) AS BIGINT) AS clip_ppm
    FROM bounds b JOIN clipped c ON b.pos = c.pos
    """


@register("emb_clip_calibration", _CLIP_CALIB_SQL)
def emb_clip_calibration(spark, sf_dir):
    """Per-dimension [p1, p99] clip calibration — the post-training-
    quantization table an int8 encoder consumes (emb_quantize_error prices
    min/max scaling; percentile clipping is what production PTQ actually
    uses because one outlier otherwise owns the whole int8 range): exact
    interpolated 1%/99% quantiles per dimension, plus the clipped-mass ppm
    those bounds imply (counted against the ROUNDED bounds so both engines
    count the identical set; the share rides as exact integer ppm). Shape
    at 100 TB: posexplode into a (dim)-keyed percentile agg — 64 groups —
    with the bounds broadcast back for a second map-side counting pass;
    swap to approx_percentile when exactness stops paying. Reference
    analogue: none — training-data pipeline extension."""
    emb = T(spark, sf_dir, "embeddings")
    vals = emb.select(
        F.posexplode("embedding").alias("pos0", "val0")
    ).select(
        # posexplode pos is int32 vs generate_series BIGINT (emb_dim_stats
        # gotcha) — cast to long
        (F.col("pos0") + 1).cast("long").alias("pos"),
        F.col("val0").cast("double").alias("val"),
    )
    bounds = vals.groupBy("pos").agg(
        F.round(F.expr("percentile(val, 0.01)"), 6).alias("lo"),
        F.round(F.expr("percentile(val, 0.99)"), 6).alias("hi"),
        F.count("*").alias("n"),
    )
    clipped = (
        vals.join(F.broadcast(bounds), "pos")
        .groupBy("pos")
        .agg(
            F.count(
                F.when((F.col("val") < F.col("lo")) | (F.col("val") > F.col("hi")), 1)
            ).alias("n_clipped")
        )
    )
    return bounds.join(clipped, "pos").select(
        "pos", "lo", "hi",
        F.round(F.col("n_clipped") * 1e6 / F.col("n"))
        .cast("long")
        .alias("clip_ppm"),
    )


_CONV_LAG_SQL = """
    WITH signups AS (
      SELECT user_id, min(ts) AS signup_ts
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    conv AS (
      SELECT s.user_id,
             min(e.ts) AS purchase_ts
      FROM signups s
      JOIN events e ON e.user_id = s.user_id
       AND e.event_type = 'purchase' AND e.ts > s.signup_ts
      GROUP BY s.user_id),
    lags AS (
      SELECT s.user_id,
             (epoch_us(purchase_ts) - epoch_us(signup_ts)) AS lag_us
      FROM signups s LEFT JOIN conv c ON s.user_id = c.user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_signup_users,
           CAST(count(lag_us) AS BIGINT) AS n_converted,
           round(count(lag_us) * 1.0 / count(*), 4) AS conv_rate,
           round(quantile_cont(lag_us, 0.5) / 3600e6, 4) AS p50_hours,
           round(quantile_cont(lag_us, 0.9) / 3600e6, 4) AS p90_hours
    FROM lags
    """


@register("events_conversion_lag", _CONV_LAG_SQL)
def events_conversion_lag(spark, sf_dir):
    """Signup→purchase conversion lag: share of signup users who later
    purchase, and the exact p50/p90 of the first-purchase delay — the
    time-to-convert readout product/growth teams pair with events_funnel's
    strict-order counts (funnel says IF, this says HOW FAST). Lags ride as
    exact integer micros into the percentile (the cdc_recrawl_interval
    contract) and become hours only at the rounded output. Shape at
    100 TB: two per-user partial aggs joined on user (equi-key, never a
    window over raw events — the min-after-signup folds inside the join's
    aggregate); percentiles run over the users-sized lag column. Reference
    analogue: none — training-data pipeline extension."""
    ev = T(spark, sf_dir, "events")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    conv = (
        signups.join(purchases, "user_id")
        .filter(F.col("pts") > F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("pts").alias("purchase_ts"))
    )
    lags = signups.join(conv, "user_id", "left").select(
        F.expr(
            "unix_micros(CAST(purchase_ts AS TIMESTAMP))"
            " - unix_micros(CAST(signup_ts AS TIMESTAMP))"
        ).alias("lag_us")
    )
    return lags.agg(
        F.count("*").alias("n_signup_users"),
        F.count("lag_us").alias("n_converted"),
        F.round(F.count("lag_us") * 1.0 / F.count("*"), 4).alias("conv_rate"),
        F.round(F.expr("percentile(lag_us, 0.5)") / 3600e6, 4).alias(
            "p50_hours"
        ),
        F.round(F.expr("percentile(lag_us, 0.9)") / 3600e6, 4).alias(
            "p90_hours"
        ),
    )


_ANISO_SQL = f"""
    WITH {_EMB_COV_CTES},
    cov AS (
      SELECT i, j, cov FROM covu
      UNION ALL
      SELECT j AS i, i AS j, cov FROM covu WHERE i <> j),
    v0 AS (
      SELECT unnest(generate_series(1, {_EMB_DIM})) AS i,
             round(1.0 / sqrt(CAST({_EMB_DIM} AS DOUBLE)), 6) AS x),
    {_pca_iter_sql("v0", "w1", "v1")},
    {_pca_iter_sql("v1", "w2", "v2")},
    {_pca_iter_sql("v2", "w3", "v3")},
    w4 AS (
      SELECT c.i AS i, sum(c.cov * v.x) AS s
      FROM cov c JOIN v3 v ON v.i = c.j GROUP BY c.i),
    lam AS (
      SELECT round(sum(w.s * v.x) / sum(v.x * v.x), 6) AS eigval
      FROM w4 w JOIN v3 v USING (i)),
    tr AS (SELECT round(sum(cov), 6) AS trace FROM covu WHERE i = j)
    SELECT lam.eigval AS lam1, tr.trace AS trace,
           round(lam.eigval / tr.trace, 4) AS top_share
    FROM lam CROSS JOIN tr
    """


@register("emb_anisotropy", _ANISO_SQL)
def emb_anisotropy(spark, sf_dir):
    """Anisotropy readout: λ₁/trace(C), the share of total embedding
    variance the dominant direction owns — THE one-number form of the
    known contextual-embedding pathology (Ethayarajh 2019: a rogue common
    direction makes every cosine look alike, poisoning ANN and SemDeDup
    thresholds; pipelines whiten or drop that component first). λ₁ replays
    emb_pca_power's pinned 3-step power trajectory + Rayleigh; the trace
    is the rounded covariance diagonal — both from the SAME shared
    covariance CTE chain, so this entry and the PCA/covariance gates move
    in lockstep. Shape at 100 TB: identical to emb_pca_power — one
    per-partition float64 Gram is the only corpus-sized step; everything
    here runs on dim²-bounded relations and two one-row scalars.
    Reference analogue: none — training-data pipeline extension."""
    emb = T(spark, sf_dir, "embeddings")
    cov = S.covariance_upper(emb, "embedding", dim=_EMB_DIM)
    comp = S.pca_power_top(cov, dim=_EMB_DIM, iters=3, round_dp=6)
    lam = comp.agg(F.min("eigval").alias("lam1"))
    tr = cov.filter(F.col("i") == F.col("j")).agg(
        F.round(F.sum("cov"), 6).alias("trace")
    )
    return lam.crossJoin(tr).select(
        "lam1", "trace",
        F.round(F.col("lam1") / F.col("trace"), 4).alias("top_share"),
    )


@register(
    "docs_simhash_hamming_hist",
    f"""
    WITH pairs AS ({_simhash_sql(max_hamming=64)})
    SELECT hamming,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(count(*)) OVER (ORDER BY hamming) AS BIGINT) AS cum_pairs
    FROM pairs GROUP BY hamming
    """,
)
def docs_simhash_hamming_hist(spark, sf_dir):
    """Hamming-distance histogram over the SimHash blocked candidate pairs —
    the threshold picker / drift monitor for the bitwise dedup family, the
    exact twin of emb_pair_cosine_hist on the cosine side: before committing
    to `hamming <= 3` on a new corpus, read where the candidate mass sits
    (a near-dup corpus shows a low-hamming spike well separated from the
    random-pair bulk near 32). Candidates are the pigeonhole-blocked pairs
    (sharing >= 1 of 4 16-bit chunks), so the histogram prices exactly the
    verification work the dedup entry would do at any threshold; cumulative
    counts read the cost of loosening the dial. Shape at 100 TB: identical
    to docs_simhash_near_dup (blocked equi-join, never all-pairs); the
    histogram + cumulative window run on a <= 64-row relation. DuckDB twin
    shares the ONE parameterized _simhash_sql spelling (threshold 64 =
    keep every blocked candidate); window sum CAST because DuckDB sums
    BIGINT into HUGEINT. Reference analogue: none — training-data pipeline
    extension."""
    d = T(spark, sf_dir, "documents")
    pairs = S.simhash_near_dup_pairs(d, "doc_id", "text", max_hamming=64)
    hist = pairs.groupBy("hamming").agg(F.count("*").alias("n_pairs"))
    w = Window.orderBy("hamming").rowsBetween(Window.unboundedPreceding, 0)
    return hist.select(
        "hamming",
        "n_pairs",
        F.sum("n_pairs").over(w).alias("cum_pairs"),
    )


@register(
    "events_ab_power",
    """
    WITH stats AS (
      SELECT event_type,
             CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS n0,
             CAST(count(*) FILTER (WHERE user_id % 2 = 1) AS BIGINT) AS n1,
             round(avg(value) FILTER (WHERE user_id % 2 = 0), 6) AS m0,
             round(var_samp(value) FILTER (WHERE user_id % 2 = 0), 6) AS v0,
             round(var_samp(value) FILTER (WHERE user_id % 2 = 1), 6) AS v1
      FROM events GROUP BY event_type)
    SELECT event_type, n0, n1, m0,
           round(CAST(2.801585 AS DOUBLE) * sqrt(v0 / n0 + v1 / n1), 4)
             AS mde_abs,
           CAST(ceil(
             CAST(2 AS DOUBLE) * (CAST(2.801585 AS DOUBLE) * CAST(2.801585 AS DOUBLE))
             * ((v0 + v1) / 2)
             / ((CAST(0.01 AS DOUBLE) * m0) * (CAST(0.01 AS DOUBLE) * m0))
           ) AS BIGINT) AS n_per_arm_1pct
    FROM stats WHERE m0 > 0
    """,
)
def events_ab_power(spark, sf_dir):
    """Experiment power analysis — the sizing companion to events_ab_lift:
    per metric, (a) the minimum detectable absolute effect at the CURRENT
    sample (alpha 5% two-sided, 80% power: z_{a/2}+z_b = 1.959964+0.841621
    = 2.801585, folded to one literal so neither engine performs the
    addition) and (b) the per-arm sample size required to detect a 1%
    relative lift of the control mean (n = 2 z^2 vp / delta^2, pooled
    variance vp = (v0+v1)/2). The answer to "how long must this flag run"
    — asked before every readout the lift entry serves. Cross-engine
    determinism: the events_ab_lift contract — moments rounded 6dp
    post-agg, every downstream value pure arithmetic on identical doubles
    (z^2 spelled as z*z, never pow), so ceil lands on the same integer
    bitwise. Numeric literals CAST to DOUBLE (bare decimals parse as
    DECIMAL in both dialects). Shape at 100 TB: one partial-agg groupBy
    over event types; all sizing arithmetic runs on the types-sized
    relation. Reference analogue: none — training-data pipeline
    extension."""
    ev = T(spark, sf_dir, "events")
    v0 = F.col("user_id") % 2 == 0
    v1 = F.col("user_id") % 2 == 1
    z = F.lit(2.801585).cast("double")
    stats = ev.groupBy("event_type").agg(
        F.count(F.when(v0, 1)).alias("n0"),
        F.count(F.when(v1, 1)).alias("n1"),
        F.round(F.avg(F.when(v0, F.col("value"))), 6).alias("m0"),
        F.round(F.var_samp(F.when(v0, F.col("value"))), 6).alias("v0"),
        F.round(F.var_samp(F.when(v1, F.col("value"))), 6).alias("v1"),
    )
    delta = F.lit(0.01).cast("double") * F.col("m0")
    return stats.filter(F.col("m0") > 0).select(
        "event_type", "n0", "n1", "m0",
        F.round(z * F.sqrt(F.col("v0") / F.col("n0") + F.col("v1") / F.col("n1")), 4)
         .alias("mde_abs"),
        F.ceil(
            F.lit(2.0).cast("double") * (z * z)
            * ((F.col("v0") + F.col("v1")) / 2)
            / (delta * delta)
        ).cast("long").alias("n_per_arm_1pct"),
    )


# DuckDB twin of sinks.builders.build_json_messages over the replay fixture:
# the document is reassembled fragment-by-fragment (engine-native to_json on
# every string leaf so escaping parity is yyjson-vs-Jackson, not hand-rolled),
# optional fields dropped exactly where Spark's ignoreNullFields drops them.
# Literal braces stay readable because this is a plain string with one
# placeholder substituted below (not an f-string).
_JSON_MSG_SQL = """
    WITH ev AS (
      SELECT * FROM read_parquet('@EVENTS@/*.parquet')
      WHERE op IS NOT NULL AND op <> 'ddl' AND NOT rolled_back
        AND url IS NOT NULL AND warc_ts IS NOT NULL),
    frag AS (
      SELECT seq, url, op, warc_ts,
        CASE WHEN op <> 'd' THEN
          '"after":{' || array_to_string(list_filter([
              CASE WHEN url IS NOT NULL
                   THEN '"url":' || CAST(to_json(url) AS VARCHAR) END,
              CASE WHEN text IS NOT NULL
                   THEN '"text":' || CAST(to_json(text) AS VARCHAR) END,
              CASE WHEN lang IS NOT NULL
                   THEN '"lang":' || CAST(to_json(lang) AS VARCHAR) END,
              CASE WHEN extras['http_status'][1] IS NOT NULL
                   THEN '"http_status":'
                        || CAST(to_json(extras['http_status'][1]) AS VARCHAR) END,
              CASE WHEN extras['fetch_status'][1] IS NOT NULL
                   THEN '"fetch_status":'
                        || CAST(to_json(extras['fetch_status'][1]) AS VARCHAR) END
            ], x -> x IS NOT NULL), ',') || '}'
        END AS after_frag,
        CASE WHEN op IN ('u', 'd') AND before IS NOT NULL THEN
          '"before":{' || array_to_string(list_transform(map_entries(before),
              e -> CAST(to_json(e.key) AS VARCHAR) || ':'
                   || CAST(to_json(decode(e.value)) AS VARCHAR)), ',') || '}'
        END AS before_frag
      FROM ev)
    SELECT seq, url,
      '{"scn":' || epoch_us(warc_ts)
      || ',"tm":"' || strftime(warc_ts, '%Y-%m-%dT%H:%M:%S.%f') || 'Z"'
      || ',"seq":' || seq
      || ',"payload":[{'
      || array_to_string(list_filter([
           '"op":' || CAST(to_json(op) AS VARCHAR),
           '"schema":{"owner":"CC","table":"PAGES"}',
           '"rid":' || CAST(to_json(url) AS VARCHAR),
           after_frag,
           before_frag
         ], x -> x IS NOT NULL), ',')
      || '}]}' AS message
    FROM frag
    """.replace("@EVENTS@", _REPLAY_EVENTS)


@register("engine_json_messages", _JSON_MSG_SQL)
def engine_json_messages(spark, sf_dir):
    """F12 value gate: the reference's PRIMARY output format — the JSON
    change document {scn, tm, seq, payload:[{op, schema, rid, after,
    before}]} (BuilderJson.cpp:837-997) — byte-compared per event against a
    DuckDB reassembly of the identical document over the same fixed log.
    This was the one sink surface with only golden-bytes pytest coverage
    (round-4 candidate list); the exact-string value hash is the driver-side
    analogue of the reference's dump-diff test strategy (Parser.cpp:129-186:
    output must match byte-for-byte, not just semantically). Escaping parity
    comes free on both sides by routing every string leaf through the
    engine's own JSON writer (Jackson vs yyjson, both RFC 8259-minimal) —
    never a hand-rolled escaper. Shape at 100 TB: build_json_messages is one
    map-side to_json(struct(...)) — whole-stage-codegen'd, zero Python, no
    shuffle; this gate's filter is the pipeline's committed-DML predicate.
    Reference: src/builder/BuilderJson.cpp, user-manual.adoc:266-355."""
    from .sinks.builders import build_json_messages

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(_ensure_replay_events())
    committed = ev.filter(
        F.col("op").isNotNull() & (F.col("op") != "ddl")
        & ~F.col("rolled_back")
        & F.col("url").isNotNull() & F.col("warc_ts").isNotNull()
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    return build_json_messages(committed)


@register(
    "docs_topk_ngrams",
    f"""
    WITH {_FIVEGRAM_CTE},
    occ AS (SELECT gram, CAST(count(*) AS BIGINT) AS n_occurrences
            FROM g GROUP BY gram),
    dfc AS (SELECT gram, CAST(count(*) AS BIGINT) AS n_docs
            FROM (SELECT DISTINCT doc_id, gram FROM g) GROUP BY gram)
    SELECT o.gram, o.n_occurrences, d.n_docs
    FROM occ o JOIN dfc d USING (gram)
    ORDER BY o.n_occurrences DESC, o.gram LIMIT 20
    """,
)
def docs_topk_ngrams(spark, sf_dir):
    """Corpus-wide most-frequent 5-grams with document frequency — WIMBD's
    counting primitive (Elazar et al. 2024: the first question asked of any
    new pretraining corpus is "what are its most common n-grams", because
    the head is boilerplate/licence text that dedup and filters must be
    tuned against). Complements docs_dup_ngram_share (per-doc share) with
    the corpus-level head itself; the gram definition is the SAME shared
    _FIVEGRAM_CTE spelling, so the two entries can never disagree on what a
    gram is. Shape at 100 TB: gram build is a map-side HOF over the token
    array (O(tokens), never tokens-join-tokens); occurrence and document
    frequency are both two-phase partial aggs (doc frequency via
    dropDuplicates(doc, gram) THEN count — never a countDistinct); the cut
    is TakeOrderedAndProject on the total order (n DESC, gram), so only
    top-k rows per partition ever shuffle. Reference analogue: none —
    training-data pipeline extension."""
    n = 5
    d = T(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    toks = F.split(F.trim(F.lower("text")), r"\s+")
    base = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= n)
    gram_of = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(F.col("toks"), i + k) for k in range(n)]
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.transform(F.sequence(F.lit(1), F.size("toks") - (n - 1)), gram_of)
        ).alias("gram"),
    )
    occ = grams.groupBy("gram").agg(F.count("*").alias("n_occurrences"))
    dfc = (
        grams.dropDuplicates(["doc_id", "gram"])
        .groupBy("gram")
        .agg(F.count("*").alias("n_docs"))
    )
    return (
        occ.join(dfc, "gram")
        .orderBy(F.desc("n_occurrences"), "gram")
        .limit(20)
    )


@register(
    "events_did_lift",
    """
    WITH mid AS (
      SELECT CAST(min(epoch_us(ts))
             + (max(epoch_us(ts)) - min(epoch_us(ts))) // 2 AS BIGINT) AS mid_us
      FROM events),
    cells AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             round(avg(value) FILTER (WHERE user_id % 2 = 0
                                        AND epoch_us(ts) < mid_us), 6) AS m_c_pre,
             round(avg(value) FILTER (WHERE user_id % 2 = 0
                                        AND epoch_us(ts) >= mid_us), 6) AS m_c_post,
             round(avg(value) FILTER (WHERE user_id % 2 = 1
                                        AND epoch_us(ts) < mid_us), 6) AS m_t_pre,
             round(avg(value) FILTER (WHERE user_id % 2 = 1
                                        AND epoch_us(ts) >= mid_us), 6) AS m_t_post
      FROM events CROSS JOIN mid GROUP BY event_type)
    SELECT event_type, n, m_c_pre, m_c_post, m_t_pre, m_t_post,
           round((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 4) AS did_lift
    FROM cells
    """,
)
def events_did_lift(spark, sf_dir):
    """Difference-in-differences lift — the quasi-experimental estimator for
    when randomization is imperfect or the treatment landed at a point in
    time: (treated post − treated pre) − (control post − control pre)
    removes both the fixed group difference and the shared time trend that
    a raw post-period compare (events_ab_lift) confounds. Completes the
    experimentation family: raw lift → CUPED (covariate adjust) → SRM
    (validity) → power (sizing) → DiD (no-randomization fallback). The
    pre/post boundary is the stream's midpoint in EXACT integer micros
    (min + (max−min) div 2 — Spark `div` truncates, DuckDB `//` floors,
    identical for the non-negative span), computed once and broadcast via
    cross join, so both engines cut the identical event set. Means rounded
    6dp post-agg, DiD from rounded means (the events_ab_lift contract).
    Shape at 100 TB: one two-value reduce for the boundary, then ONE
    partial-agg groupBy over event types with the 2×2 cells as conditional
    aggregates — never a self-join, never a shuffle keyed finer than
    event_type. Reference analogue: none — training-data pipeline
    extension."""
    ev = T(spark, sf_dir, "events")
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    mid = ev.agg(
        (
            F.min(ts_us)
            + F.expr("(max(unix_micros(cast(ts as timestamp)))"
                     " - min(unix_micros(cast(ts as timestamp)))) div 2")
        ).cast("long").alias("mid_us")
    )
    e = ev.crossJoin(F.broadcast(mid)).withColumn("ts_us", ts_us)
    ctl, trt = F.col("user_id") % 2 == 0, F.col("user_id") % 2 == 1
    pre, post = F.col("ts_us") < F.col("mid_us"), F.col("ts_us") >= F.col("mid_us")
    m = lambda c: F.round(F.avg(F.when(c, F.col("value"))), 6)  # noqa: E731
    cells = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        m(ctl & pre).alias("m_c_pre"),
        m(ctl & post).alias("m_c_post"),
        m(trt & pre).alias("m_t_pre"),
        m(trt & post).alias("m_t_post"),
    )
    return cells.select(
        "event_type", "n", "m_c_pre", "m_c_post", "m_t_pre", "m_t_post",
        F.round(
            (F.col("m_t_post") - F.col("m_t_pre"))
            - (F.col("m_c_post") - F.col("m_c_pre")),
            4,
        ).alias("did_lift"),
    )


@register("engine_symlink_manifest", _REPLAY_SQL)
def engine_symlink_manifest(spark, sf_dir):
    """Interop export gate: LakeTable.write_symlink_manifest emits the
    Delta-style symlink_format_manifest (absolute data-file paths per
    bucket) and the state is then read back the way an EXTERNAL engine
    would — plain spark.read.parquet over the manifest's file list, no
    library read path, tombstones filtered per the exported README contract
    (_op = 'd') — and value-hashed against the full DuckDB replay. This
    proves the manifest covers exactly the live winners: a missing file, a
    leaked superseded version, or a schema-version mix would hash-fail.
    The export itself REFUSES (in code) the three cases where a raw
    external read lies: dirty MoR buckets, partial-image tables, files
    under non-current schemas. Shape at 100 TB: O(files) driver-side
    metadata walk, no data scan, atomic publish. Reference analogue:
    Delta Lake GENERATE symlink_format_manifest; the reference's
    checkpoint file-list handoff (Metadata.cpp) is the same contract —
    a consumer must be able to resume from metadata alone."""
    from .lake.table import LakeTable

    p = _gate_pipeline(spark, "symlink", _ensure_replay_events())
    p.run_batch_replay()
    t = LakeTable.load(spark, p.table_path)
    man = t.write_symlink_manifest()
    paths: list[str] = []
    for root, _dirs, fnames in os.walk(man):
        for fn in fnames:
            if fn == "manifest":
                with open(os.path.join(root, fn)) as fh:
                    paths += [ln for ln in fh.read().splitlines() if ln]
    assert paths and all(os.path.isfile(q) for q in paths), (
        "symlink manifest lists missing files"
    )
    ext = spark.read.parquet(*paths)  # external-reader path: no library read
    return ext.filter(F.col("_op") != "d").select(
        "url", "warc_ts", "_seq", "text", "lang", "http_status"
    )


@register(
    "events_stickiness",
    """
    WITH au AS (SELECT DISTINCT user_id FROM events),
    mau AS (SELECT CAST(count(*) AS BIGINT) AS mau FROM au),
    du AS (SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
    daily AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY day)
    SELECT day, dau, mau,
           round(CAST(dau AS DOUBLE) / mau, 4) AS stickiness
    FROM daily CROSS JOIN mau
    """,
)
def events_stickiness(spark, sf_dir):
    """DAU/MAU stickiness — the canonical product-engagement ratio (what
    share of the monthly audience shows up on a given day), the daily
    health series read next to events_retention's cohort view and
    events_hourly_seasonality's shape. Both distincts are two-phase
    (dropDuplicates partial-agg THEN count — never a countDistinct
    shuffle); the one-row MAU total rides a broadcast cross join (the
    docs_source_mix_entropy pattern). Day stays TIMESTAMP on both engines
    (the documented DATE-dtype trap). Shape at 100 TB: dedup shuffles are
    keyed (day, user) / (user) — partial aggs absorb the fan-in; the join
    is one-row broadcast. Reference analogue: none — training-data
    pipeline extension."""
    ev = T(spark, sf_dir, "events")
    mau = (
        ev.select("user_id").dropDuplicates()
        .agg(F.count("*").alias("mau"))
    )
    daily = (
        ev.select(F.date_trunc("day", "ts").alias("day"), "user_id")
        .dropDuplicates()
        .groupBy("day")
        .agg(F.count("*").alias("dau"))
    )
    return daily.crossJoin(F.broadcast(mau)).select(
        "day", "dau", "mau",
        F.round(F.col("dau").cast("double") / F.col("mau"), 4)
         .alias("stickiness"),
    )


@register(
    "events_k_anonymity",
    """
    WITH qi AS (
      SELECT DISTINCT event_type, date_trunc('day', ts) AS day, user_id
      FROM events),
    cell AS (
      SELECT event_type, day, CAST(count(*) AS BIGINT) AS cell_users
      FROM qi GROUP BY event_type, day),
    tot AS (
      SELECT CAST(sum(cell_users) AS BIGINT) AS total_user_cells,
             CAST(count(*) AS BIGINT) AS n_cells
      FROM cell),
    ks AS (SELECT unnest([2, 5, 10]) AS k)
    SELECT k, n_cells,
           CAST(count(*) FILTER (WHERE cell_users < k) AS BIGINT)
             AS n_violating_cells,
           CAST(coalesce(sum(cell_users) FILTER (WHERE cell_users < k), 0)
                AS BIGINT) AS users_at_risk,
           round(CAST(coalesce(sum(cell_users)
                               FILTER (WHERE cell_users < k), 0) AS DOUBLE)
                 / total_user_cells, 4) AS risk_share
    FROM cell CROSS JOIN ks CROSS JOIN tot
    GROUP BY k, n_cells, total_user_cells
    """,
)
def events_k_anonymity(spark, sf_dir):
    """k-anonymity profile over the quasi-identifier (event_type, day):
    how many QI cells hold fewer than k distinct users, and what share of
    user-cell memberships sits in those re-identifiable cells — the
    data-governance release gate that complements docs_pii_redact (PII is
    what you redact; k-anonymity is what the remaining dimensions still
    leak). Thresholds k ∈ {2,5,10} fan out as a 3-element literal explode.
    All counts exact BIGINTs to one final division. Shape at 100 TB: the
    QI dedup is one (type, day, user)-keyed partial-agg; cells are a
    types×days-bounded relation, so the threshold cross join and the
    one-row totals broadcast are metadata-sized. Reference analogue: none
    — training-data pipeline extension."""
    ev = T(spark, sf_dir, "events")
    qi = ev.select(
        "event_type", F.date_trunc("day", "ts").alias("day"), "user_id"
    ).dropDuplicates()
    cell = qi.groupBy("event_type", "day").agg(
        F.count("*").alias("cell_users")
    )
    tot = cell.agg(
        F.sum("cell_users").alias("total_user_cells"),
        F.count("*").alias("n_cells"),
    )
    ks = spark.range(1).select(
        F.explode(F.array(F.lit(2), F.lit(5), F.lit(10))).alias("k")
    )
    risky = F.when(F.col("cell_users") < F.col("k"), F.col("cell_users"))
    j = cell.crossJoin(F.broadcast(ks)).crossJoin(F.broadcast(tot))
    return (
        j.groupBy("k", "n_cells", "total_user_cells")
        .agg(
            F.count(risky).alias("n_violating_cells"),
            F.coalesce(F.sum(risky), F.lit(0)).cast("long")
            .alias("users_at_risk"),
        )
        .select(
            "k", "n_cells", "n_violating_cells", "users_at_risk",
            F.round(
                F.col("users_at_risk").cast("double")
                / F.col("total_user_cells"),
                4,
            ).alias("risk_share"),
        )
    )


# =========================================================================
# Relational breadth II: TPC-H shapes q4/q7/q8/q14/q18/q19/q22 (variants
# where the driver tables lack a column — partsupp, commit/receipt dates,
# shipmode, phone — the variant keeps the SHAPE: the operator under test
# is the semi/anti join, the disjunctive pushdown, the HAVING cut, the
# share-of-group conditional aggregate)
# =========================================================================


@register(
    "tpch_q4_order_priority",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_order_priority(spark, sf_dir):
    """TPC-H Q4 (order-priority checking), late-shipment variant: the
    driver's lineitem has no commit/receipt dates, so "late" is a lineitem
    shipped more than 60 days after the order date — the operator under
    test is unchanged: a correlated EXISTS that must plan as a LEFT SEMI
    join (each order counted once no matter how many lineitems qualify;
    an inner join + distinct would shuffle the multiplicity). Scale shape:
    the quarter filter prunes the orders scan; the semi join shuffles on
    orderkey with the non-equi ship-date predicate evaluated as the join
    residual; the priority rollup is a 5-group partial agg. Reference
    analogue: none — relational coverage (SURVEY §2.6)."""
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = T(spark, sf_dir, "lineitem")
    cond = (li["l_orderkey"] == o["o_orderkey"]) & (
        li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


def _party_regions(spark, sf_dir) -> tuple[DataFrame, DataFrame]:
    """Suppliers (s_suppkey, supp_region) and customers (c_custkey,
    cust_region): the 25-row nation→region map (the oracles' ``nr``)
    broadcast into both sides."""
    nr = (
        T(spark, sf_dir, "nation")
        .join(
            F.broadcast(T(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "r_name")
    )
    s = (
        T(spark, sf_dir, "supplier")
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("r_name").alias("supp_region"))
    )
    c = (
        T(spark, sf_dir, "customer")
        .join(F.broadcast(nr), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("r_name").alias("cust_region"))
    )
    return s, c


@register(
    "tpch_q7_volume_shipping",
    """
    WITH nr AS (
      SELECT n_nationkey, r_name
      FROM nation JOIN region ON n_regionkey = r_regionkey)
    SELECT supp_region, cust_region, l_year,
           round(sum(volume), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM (
      SELECT r1.r_name AS supp_region, r2.r_name AS cust_region,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nr r1 ON s_nationkey = r1.n_nationkey
      JOIN nr r2 ON c_nationkey = r2.n_nationkey
      WHERE ((r1.r_name = 'AFRICA' AND r2.r_name = 'AMERICA')
          OR (r1.r_name = 'AMERICA' AND r2.r_name = 'AFRICA'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00')
    GROUP BY supp_region, cust_region, l_year
    """,
)
def tpch_q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 (volume shipping), region-level variant: trade volume
    between two geographies in BOTH directions by ship year — the
    two-sided disjunctive geography predicate that must NOT collapse into
    a cross filter (AFRICA→AMERICA and AMERICA→AFRICA are distinct output
    groups). Region level because the sf0.001 driver data has ~10
    suppliers spread over 25 nations — a nation-pair variant is empty at
    the smallest SF (probed). Scale shape: nation⋈region collapses into a
    25-row nation→region map broadcast into BOTH sides of the fact; the
    date filter prunes the lineitem scan; the only wide shuffles are the
    orderkey join and the final 2×2×years rollup. Reference analogue:
    none — relational coverage (SURVEY §2.6)."""
    s, c = _party_regions(spark, sf_dir)
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = T(spark, sf_dir, "orders")
    pair = (
        ((F.col("supp_region") == "AFRICA") & (F.col("cust_region") == "AMERICA"))
        | ((F.col("supp_region") == "AMERICA") & (F.col("cust_region") == "AFRICA"))
    )
    return (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .filter(pair)
        .groupBy(
            "supp_region",
            "cust_region",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "tpch_q8_market_share",
    """
    WITH nr AS (
      SELECT n_nationkey, r_name
      FROM nation JOIN region ON n_regionkey = r_regionkey)
    SELECT o_year,
           round(sum(CASE WHEN supp_region = 'AFRICA' THEN volume
                          ELSE CAST(0 AS DOUBLE) END), 2) AS africa_revenue,
           round(sum(volume), 2) AS total_revenue,
           round(round(sum(CASE WHEN supp_region = 'AFRICA' THEN volume
                                ELSE CAST(0 AS DOUBLE) END), 2)
                 / round(sum(volume), 2), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             r1.r_name AS supp_region,
             l_extendedprice * (1 - l_discount) AS volume
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nr r1 ON s_nationkey = r1.n_nationkey
      JOIN nr r2 ON c_nationkey = r2.n_nationkey
      WHERE r2.r_name = 'ASIA' AND p_type = 'ECONOMY')
    GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark, sf_dir):
    """TPC-H Q8 (national market share), region-level variant: of all
    ECONOMY-part volume sold to ASIA customers, what share per order year
    was supplied from AFRICA — the share-of-group conditional aggregate
    over a 6-way join graph (the widest in the catalog: lineitem joins
    part, supplier, orders, customer and the nation→region map on both
    the supplier and customer sides). Supplier REGION share because the
    smallest SF has too few suppliers for a single-nation numerator
    (probed: nation-level is all-zero at sf0.001). Determinism: both
    revenue sums round 2 dp post-agg and the share divides the ROUNDED
    sums (6 dp), so FP summation order cannot flip any output. Scale
    shape: part/supplier/customer/nation/region all broadcast; the only
    wide shuffle is lineitem⋈orders on orderkey, then a years-sized
    rollup. Reference analogue: none — relational coverage (SURVEY
    §2.6)."""
    s, c = _party_regions(spark, sf_dir)
    c = c.filter(F.col("cust_region") == "ASIA")
    p = T(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    africa_vol = F.when(F.col("supp_region") == "AFRICA", vol).otherwise(
        F.lit(0.0)
    )
    agg = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(F.sum(africa_vol), 2).alias("africa_revenue"),
            F.round(F.sum(vol), 2).alias("total_revenue"),
        )
    )
    return agg.select(
        "o_year", "africa_revenue", "total_revenue",
        F.round(F.col("africa_revenue") / F.col("total_revenue"), 6)
        .alias("mkt_share"),
    )


@register(
    "tpch_q14_promo_revenue",
    """
    SELECT round(sum(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE CAST(0 AS DOUBLE) END), 2) AS promo_revenue,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue,
           round(100 * round(sum(CASE WHEN p_type = 'PROMO'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE CAST(0 AS DOUBLE) END), 2)
                 / round(sum(l_extendedprice * (1 - l_discount)), 2), 4)
             AS promo_share_pct,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def tpch_q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 (promotion effect): the promo share of one ship month's
    revenue — a conditional-aggregate ratio over a fact⋈dim join. The
    month filter prunes the lineitem scan; part broadcasts; the CASE
    rides the partial agg so the answer is one row with no second pass.
    promo_share_pct divides the two 2 dp-ROUNDED sums (4 dp) so FP
    summation order cannot flip the hash. Reference analogue: none —
    relational coverage (SURVEY §2.6)."""
    p = T(spark, sf_dir, "part")
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0))
    agg = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(F.sum(promo), 2).alias("promo_revenue"),
            F.round(F.sum(vol), 2).alias("total_revenue"),
            F.count("*").alias("n_items"),
        )
    )
    return agg.select(
        "promo_revenue", "total_revenue",
        F.round(
            100 * F.col("promo_revenue") / F.col("total_revenue"), 4
        ).alias("promo_share_pct"),
        "n_items",
    )


@register(
    "tpch_q18_large_orders",
    """
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 250)
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def tpch_q18_large_orders(spark, sf_dir):
    """TPC-H Q18 (large-volume customers): orders whose total quantity
    clears a HAVING threshold, decorated with customer and order facts,
    top-20 by price. The driver's l_quantity values are integral doubles
    (probed: zero fractional rows), so the HAVING compare on the raw sum
    is exact on both engines — no rounding dial needed. Scale shape: the
    quantity rollup is a partial+final agg on orderkey; the HAVING cut
    makes the surviving side tiny, so the joins back to orders and
    customer are effectively a point-lookup join plus a broadcast; the
    final cut is TakeOrderedAndProject with o_orderkey breaking
    o_totalprice ties. Reference analogue: none — relational coverage
    (SURVEY §2.6)."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


@register(
    "tpch_q19_disjunctive_revenue",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 15)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 25)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 35)
    """,
)
def tpch_q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 (discounted revenue), driver-column variant: three OR'd
    conjunction groups mixing dim predicates (p_brand, p_size) with fact
    predicates (l_quantity) — the disjunctive-pushdown shape. Catalyst
    must split the disjunction: the common superset predicates
    (p_brand IN (...), l_quantity BETWEEN overall bounds) are inferred
    and pushed into both scans while the full cross-side disjunction
    evaluates as the join residual — never a cartesian, never a
    filter-after-join of the whole fact. Scale shape: part broadcasts;
    one pass over the pruned lineitem scan; single-row aggregate.
    Reference analogue: none — relational coverage (SURVEY §2.6)."""
    p = T(spark, sf_dir, "part")
    li = T(spark, sf_dir, "lineitem")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 25)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 35)
        )
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "tpch_q22_dormant_customers",
    """
    WITH ab AS (
      SELECT round(avg(c_acctbal), 2) AS avg_bal
      FROM customer WHERE c_acctbal > 0)
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_custs,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    CROSS JOIN ab
    WHERE c_acctbal > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY n_name
    """,
)
def tpch_q22_dormant_customers(spark, sf_dir):
    """TPC-H Q22 (global sales opportunity), dormancy variant: customers
    with an above-average account balance and NO order since 2000 —
    the scalar-subquery threshold + NOT EXISTS anti-join pair. Dormancy
    (no RECENT order) rather than no-order-ever because every driver
    customer has orders (probed: the classic spelling returns zero rows);
    grouping is by nation because the driver customer has no phone
    column. Determinism: the threshold is the 2 dp-ROUNDED mean on both
    engines, so FP summation order in the avg cannot move the cut. Scale
    shape: the one-row average broadcasts (no driver collect); the
    anti-join shuffles on custkey against the date-pruned orders scan;
    nation broadcasts into a 25-group rollup. Reference analogue: none —
    relational coverage (SURVEY §2.6)."""
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    recent = T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    ab = c.filter(F.col("c_acctbal") > 0).agg(
        F.round(F.avg("c_acctbal"), 2).alias("avg_bal")
    )
    rich = c.crossJoin(F.broadcast(ab)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    dormant = rich.join(
        recent, rich["c_custkey"] == recent["o_custkey"], "left_anti"
    )
    return (
        dormant.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


_BM25_QUERIES = [
    ("q_merge_join", ("merge", "join")),
    ("q_scan_filter", ("scan", "filter")),
    ("q_window_sort_order", ("window", "sort", "order")),
]
_BM25_K1, _BM25_B, _BM25_TOPK = 1.2, 0.75, 5


def _bm25_sql() -> str:
    qvals = ", ".join(
        f"('{qid}', '{tok}')" for qid, toks in _BM25_QUERIES for tok in toks
    )
    return f"""
    WITH q(query_id, token) AS (VALUES {qvals}),
    toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+'))
               AS token
      FROM documents),
    tok AS (SELECT doc_id, token FROM toks WHERE token <> ''),
    dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS doc_len
      FROM tok GROUP BY doc_id),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             round(CAST(sum(doc_len) AS DOUBLE) / count(*), 6) AS avgdl
      FROM dl),
    tf AS (
      SELECT q.query_id, t.doc_id, t.token, CAST(count(*) AS BIGINT) AS tf
      FROM tok t JOIN q ON t.token = q.token
      GROUP BY q.query_id, t.doc_id, t.token),
    df AS (
      SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok WHERE token IN (SELECT token FROM q)
      GROUP BY token),
    term AS (
      SELECT tf.query_id, tf.doc_id,
             round(ln((n_docs - df + CAST(0.5 AS DOUBLE))
                      / (df + CAST(0.5 AS DOUBLE)) + CAST(1 AS DOUBLE)), 6)
               * (tf * CAST({_BM25_K1 + 1} AS DOUBLE))
               / (tf + CAST({_BM25_K1} AS DOUBLE)
                       * (CAST({1 - _BM25_B} AS DOUBLE)
                          + CAST({_BM25_B} AS DOUBLE) * doc_len / avgdl))
               AS w
      FROM tf
      JOIN df ON tf.token = df.token
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats),
    score AS (
      SELECT query_id, doc_id, round(sum(w), 6) AS score
      FROM term GROUP BY query_id, doc_id)
    SELECT query_id, doc_id, score, rank FROM (
      SELECT query_id, doc_id, score,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY score DESC, doc_id) AS INTEGER)
               AS rank
      FROM score)
    WHERE rank <= {_BM25_TOPK}
    """


@register("docs_bm25_search", _bm25_sql())
def docs_bm25_search(spark, sf_dir):
    """BM25 full-text retrieval (k1=1.2, b=0.75): top-5 documents per
    query for a fixed multi-token query set — the lexical-search
    workhorse a curation pipeline uses to pull topical slices and to
    seed decontamination sweeps (the inverted-index consumer shape next
    to engine_incremental_inverted_index, which maintains the postings
    this query would serve from). Determinism: tf/df/doc_len are exact
    BIGINTs off the shared tokenizer; avgdl is one exact int division;
    idf rounds 6 dp (ln of a rational — the KN/logprob ln contract);
    scores round 6 dp BEFORE the per-query rank with doc_id tiebreak.
    Scale shape at 100 TB: the query tokens broadcast as a literal
    relation, so tf/df aggregate only the semi-joined token subset —
    never a full-vocabulary relation; doc_len is a zero-shuffle
    expression; the rank is a WindowGroupLimit over queries×candidates.
    Reference analogue: none — training-data pipeline extension."""
    d = T(spark, sf_dir, "documents")
    qtok = spark.createDataFrame(
        [(qid, tok) for qid, toks in _BM25_QUERIES for tok in toks],
        "query_id string, token string",
    )
    tok = S.tokens(d, "doc_id", "text", distinct=False)
    dl = d.select(
        "doc_id", TXT.token_count(F.col("text")).alias("doc_len")
    )
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        F.round(
            F.sum("doc_len").cast("double") / F.count("*"), 6
        ).alias("avgdl"),
    )
    hits = tok.join(F.broadcast(qtok), "token")
    tf = hits.groupBy("query_id", "doc_id", "token").agg(
        F.count("*").alias("tf")
    )
    df = (
        hits.select("token", "doc_id")
        .dropDuplicates()
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )
    idf = F.round(
        F.log(
            (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        ),
        6,
    )
    w = idf * (F.col("tf") * F.lit(_BM25_K1 + 1)) / (
        F.col("tf")
        + F.lit(_BM25_K1)
        * (F.lit(1 - _BM25_B) + F.lit(_BM25_B) * F.col("doc_len") / F.col("avgdl"))
    )
    term = (
        tf.join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", w.alias("w"))
    )
    score = term.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("w"), 6).alias("score")
    )
    rk = Window.partitionBy("query_id").orderBy(F.desc("score"), "doc_id")
    return (
        score.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= _BM25_TOPK)
        .select("query_id", "doc_id", "score", "rank")
    )


_KM_PERIOD_US = 2_592_000_000_000      # 30-day "month"
_KM_CENSOR_US = 15_552_000_000_000     # 180-day censoring window


def _km_curve(ex: DataFrame, t: str, n: str) -> DataFrame:
    """Kaplan–Meier product-limit curve over the exit table ``ex`` (one row
    per period ``t`` with n_exits, n_deaths and the population ``n``): per
    period with deaths, the at-risk count, the hazard (6 dp) and the
    survival product, folded over a ``t``-sorted factor array seeded
    with 1.0 (6 dp)."""
    cum = Window.orderBy(t).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ar = ex.select(
        t,
        "n_deaths",
        (
            F.col(n) - (F.sum("n_exits").over(cum) - F.col("n_exits"))
        ).alias("at_risk"),
    )
    d = ar.filter(F.col("n_deaths") > 0).withColumn(
        "hazard",
        F.round(F.col("n_deaths").cast("double") / F.col("at_risk"), 6),
    )
    fs = d.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct(t, "hazard"))),
            lambda x: F.lit(1.0) - x["hazard"],
        ).alias("fctrs")
    )
    return (
        d.withColumn("i", F.row_number().over(Window.orderBy(t)))
        .crossJoin(F.broadcast(fs))
        .select(
            t, "at_risk", "n_deaths", "hazard",
            F.round(
                F.aggregate(
                    F.slice(F.col("fctrs"), F.lit(1), F.col("i")),
                    F.lit(1.0),
                    lambda acc, x: acc * x,
                ),
                6,
            ).alias("survival"),
        )
    )


@register(
    "customer_survival_km",
    f"""
    WITH pu AS (
      SELECT o_custkey,
             min(epoch_us(o_orderdate)) AS f,
             max(epoch_us(o_orderdate)) AS l
      FROM orders GROUP BY o_custkey),
    tot AS (
      SELECT max(l) AS horizon, CAST(count(*) AS BIGINT) AS n_users
      FROM pu),
    du AS (
      SELECT (l - f) // {_KM_PERIOD_US} AS month,
             l >= horizon - {_KM_CENSOR_US} AS censored
      FROM pu CROSS JOIN tot),
    ex AS (
      SELECT month, CAST(count(*) AS BIGINT) AS n_exits,
             CAST(count(*) FILTER (WHERE NOT censored) AS BIGINT) AS n_deaths
      FROM du GROUP BY month),
    ar AS (
      SELECT month, n_deaths,
             n_users - (CAST(sum(n_exits) OVER (ORDER BY month) AS BIGINT)
                        - n_exits) AS at_risk
      FROM ex CROSS JOIN tot),
    d AS (
      SELECT month, n_deaths, at_risk,
             round(CAST(n_deaths AS DOUBLE) / at_risk, 6) AS hazard
      FROM ar WHERE n_deaths > 0),
    fs AS (
      SELECT list(CAST(1 AS DOUBLE) - hazard ORDER BY month) AS fctrs
      FROM d),
    idx AS (
      SELECT *, CAST(row_number() OVER (ORDER BY month) AS INTEGER) AS i
      FROM d)
    SELECT month, at_risk, n_deaths, hazard,
           round(list_reduce(list_prepend(CAST(1 AS DOUBLE), fctrs[1:i]),
                             (a, b) -> a * b), 6) AS survival
    FROM idx CROSS JOIN fs
    """,
)
def customer_survival_km(spark, sf_dir):
    """Kaplan–Meier survival over customer order lifetimes: lifetime =
    first→last order in 30-day periods, right-censored when the last
    order falls within 180 days of the dataset horizon (the customer may
    still be alive); S(m) = Π_{{j≤m}} (1 − d_j/n_j) over death months —
    the churn/retention curve under censoring that events_retention's
    plain cohort counts misstate (they count censored users as churned).
    Built on orders because every events user is active to the horizon
    (probed: zero deaths — a degenerate curve). Determinism: lifetimes
    and the censor cut are exact integer micros; at-risk counts are a
    cumulative BIGINT window; each hazard rounds 6 dp; the survival
    product folds a month-SORTED factor array seeded with 1.0 on both
    engines (Spark aggregate vs DuckDB list_reduce over list_prepend —
    identical multiply order, and IEEE multiplication is deterministic,
    no libm in the fold), rounded 6 dp. Scale shape at 100 TB: one
    custkey partial agg, then everything runs on the months-bounded exit
    relation (~tens of rows) — the single-task window and the one-row
    factor-array broadcast are metadata-sized by construction. Reference
    analogue: none — training-data pipeline extension."""
    o = T(spark, sf_dir, "orders")
    us = F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    pu = o.groupBy("o_custkey").agg(
        F.min(us).alias("f"), F.max(us).alias("l")
    )
    tot = pu.agg(
        F.max("l").alias("horizon"), F.count("*").alias("n_users")
    )
    du = pu.crossJoin(F.broadcast(tot)).select(
        F.expr(f"(l - f) div {_KM_PERIOD_US}").alias("month"),
        (F.col("l") >= F.col("horizon") - F.lit(_KM_CENSOR_US)).alias(
            "censored"
        ),
        "n_users",
    )
    ex = du.groupBy("month", "n_users").agg(
        F.count("*").alias("n_exits"),
        F.count(F.when(~F.col("censored"), F.lit(1))).alias("n_deaths"),
    )
    return _km_curve(ex, "month", "n_users")


@register(
    "emb_knn_label_accuracy",
    f"""
    WITH {_KNN_RANKED_CTES},
    knn AS (SELECT vec_id, neighbor_id FROM ranked WHERE rank <= 3),
    votes AS (
      SELECT k.vec_id, e.label, CAST(count(*) AS BIGINT) AS n_votes
      FROM knn k JOIN embeddings e ON k.neighbor_id = e.vec_id
      GROUP BY k.vec_id, e.label),
    pred AS (
      SELECT vec_id, label AS pred_label FROM (
        SELECT vec_id, label,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY n_votes DESC, label) AS rn
        FROM votes) WHERE rn = 1)
    SELECT e.label AS true_label,
           CAST(count(*) AS BIGINT) AS n_eval,
           CAST(count(*) FILTER (WHERE p.pred_label = e.label) AS BIGINT)
             AS n_correct,
           round(CAST(count(*) FILTER (WHERE p.pred_label = e.label)
                      AS DOUBLE) / count(*), 4) AS accuracy
    FROM pred p JOIN embeddings e ON p.vec_id = e.vec_id
    GROUP BY e.label
    """,
)
def emb_knn_label_accuracy(spark, sf_dir):
    """kNN label-prediction accuracy (k=3 majority vote) per true label —
    the embedding-quality eval that prices the WHOLE retrieval stack at
    once: if the LSH candidates + cosine ranking can't recover a vector's
    own label from its neighbors, neither dedup thresholds nor ANN recall
    numbers mean much. Reuses emb_knn_graph's EXACT top-k spelling (the
    shared _KNN_RANKED_CTES — the gate moves with the graph); prediction
    tie-break is (votes DESC, label ASC), so a 1-1-1 vote deterministically
    picks the smallest label on both engines. Vectors with no LSH
    candidates are absent from the eval set by construction (documented —
    their recall is the ann_recall_eval family's business). Scale shape:
    votes aggregate the per-node-BOUNDED kNN output (≤ k rows per vector);
    the label dim broadcasts; accuracy is a labels-sized rollup. Reference
    analogue: none — training-data pipeline extension."""
    emb = T(spark, sf_dir, "embeddings")
    knn = QUERIES["emb_knn_graph"](spark, sf_dir).select(
        "vec_id", "neighbor_id"
    )
    lab = emb.select(F.col("vec_id").alias("_v"), "label")
    votes = (
        knn.join(F.broadcast(lab), knn["neighbor_id"] == lab["_v"])
        .groupBy("vec_id", "label")
        .agg(F.count("*").alias("n_votes"))
    )
    rn = Window.partitionBy("vec_id").orderBy(F.desc("n_votes"), "label")
    pred = (
        votes.withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("label").alias("pred_label"))
    )
    truth = emb.select(F.col("vec_id").alias("_t"), F.col("label").alias("true_label"))
    hit = F.when(F.col("pred_label") == F.col("true_label"), F.lit(1))
    return (
        pred.join(F.broadcast(truth), pred["vec_id"] == truth["_t"])
        .groupBy("true_label")
        .agg(
            F.count("*").alias("n_eval"),
            F.count(hit).alias("n_correct"),
        )
        .select(
            "true_label", "n_eval", "n_correct",
            F.round(
                F.col("n_correct").cast("double") / F.col("n_eval"), 4
            ).alias("accuracy"),
        )
    )


_HOLT_ALPHA, _HOLT_BETA, _HOLT_H = 0.3, 0.1, 7


@register(
    "events_holt_forecast",
    f"""
    WITH RECURSIVE daily AS (
      SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1),
    ds AS (
      SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
             CAST(n AS DOUBLE) AS y
      FROM daily),
    holt AS (
      SELECT CAST(2 AS BIGINT) AS i, d2.y AS y, d2.y AS l, d2.y - d1.y AS b
      FROM ds d1, ds d2 WHERE d1.i = 1 AND d2.i = 2
      UNION ALL
      SELECT h.i + 1, d.y,
             CAST({_HOLT_ALPHA} AS DOUBLE) * d.y
               + CAST({1 - _HOLT_ALPHA} AS DOUBLE) * (h.l + h.b) AS l,
             CAST({_HOLT_BETA} AS DOUBLE)
               * ((CAST({_HOLT_ALPHA} AS DOUBLE) * d.y
                   + CAST({1 - _HOLT_ALPHA} AS DOUBLE) * (h.l + h.b)) - h.l)
               + CAST({1 - _HOLT_BETA} AS DOUBLE) * h.b AS b
      FROM holt h JOIN ds d ON d.i = h.i + 1)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM ds) AS n_days,
           round(l, 6) AS level, round(b, 6) AS trend,
           round(l + {_HOLT_H} * b, 6) AS forecast_{_HOLT_H}d
    FROM holt WHERE i = (SELECT count(*) FROM ds)
    """,
)
def events_holt_forecast(spark, sf_dir):
    """Holt double-exponential smoothing (α=0.3, β=0.1) over the daily
    event counts, with the h=7-day forecast — the trend-aware capacity
    forecast EWMA (events_ewma_daily_rate) can't give because a single
    smoother has no slope state. A DOUBLY-recursive statistic has no
    windowed-SQL form; here both recursions ride ONE fold whose
    accumulator is a (y, l, b) STRUCT: Spark aggregate() over the
    day-sorted array seeded with its first element, the lambda
    initializing (l₂=y₂, b₂=y₂−y₁) on the first step via the NULL-level
    branch. The DuckDB twin is a RECURSIVE CTE stepping the same
    recurrence over row-numbered days — NOT list_reduce: DuckDB 1.0
    evaluates struct_pack fields sequentially against a MUTATING
    accumulator, so a field expression referencing acc.l after the l
    field sees the NEW level (verified: the b update silently used nl;
    single-value accumulators like CUSUM's are unaffected). Determinism:
    counts are exact BIGINTs, α/β spelled as CAST DOUBLE literals, both
    engines step the identical recurrence in identical order (no libm),
    so the doubles match bitwise before the 6 dp round. Scale
    shape: one day-keyed partial agg, then a days-bounded single-row
    fold. Reference analogue: none — training-data pipeline extension."""
    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("n")
    )
    mk = lambda x: F.struct(
        x["n"].cast("double").alias("y"),
        F.lit(None).cast("double").alias("l"),
        F.lit(None).cast("double").alias("b"),
    )
    ys = daily.agg(
        F.count("*").alias("n_days"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "n"))), mk
        ).alias("arr"),
    )
    a, b1 = _HOLT_ALPHA, _HOLT_BETA

    def step(acc, x):
        lvl = F.lit(a) * x["y"] + F.lit(1 - a) * (acc["l"] + acc["b"])
        init = F.struct(
            x["y"].alias("y"), x["y"].alias("l"), (x["y"] - acc["y"]).alias("b")
        )
        upd = F.struct(
            x["y"].alias("y"),
            lvl.alias("l"),
            (F.lit(b1) * (lvl - acc["l"]) + F.lit(1 - b1) * acc["b"]).alias("b"),
        )
        return F.when(acc["l"].isNull(), init).otherwise(upd)

    s = F.aggregate(
        F.slice(F.col("arr"), 2, F.size("arr") - 1),
        F.element_at(F.col("arr"), 1),
        step,
    )
    # degenerate <2-day series: the recursive-CTE twin emits no row (its
    # seed needs days 1 AND 2) — match rather than emit a null-level row
    ys = ys.filter(F.col("n_days") >= 2)
    return ys.select(
        "n_days",
        F.round(s["l"], 6).alias("level"),
        F.round(s["b"], 6).alias("trend"),
        F.round(s["l"] + F.lit(_HOLT_H) * s["b"], 6).alias(
            f"forecast_{_HOLT_H}d"
        ),
    )


@register(
    "events_cusum_changepoint",
    """
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type,
             round(CAST(sum(n) AS DOUBLE) / count(*), 6) AS mu,
             round(sqrt(CAST(sum(n * n) AS DOUBLE) / count(*)
                        - (CAST(sum(n) AS DOUBLE) / count(*))
                          * (CAST(sum(n) AS DOUBLE) / count(*))), 6) AS sd
      FROM daily GROUP BY event_type),
    dev AS (
      SELECT d.event_type, d.day,
             CAST(n AS DOUBLE) - mu - CAST(0.5 AS DOUBLE) * sd AS x,
             round(CAST(4 AS DOUBLE) * sd, 6) AS h
      FROM daily d JOIN stats s ON d.event_type = s.event_type),
    arrs AS (
      SELECT event_type, h,
             list(day ORDER BY day) AS days,
             list(x ORDER BY day) AS xs
      FROM dev GROUP BY event_type, h),
    idx AS (
      SELECT event_type, h, days, xs,
             unnest(generate_series(1, len(xs))) AS i
      FROM arrs)
    SELECT event_type, days[i] AS day,
           round(list_reduce(list_prepend(CAST(0 AS DOUBLE), xs[1:i]),
                             (acc, v) -> greatest(acc + v, CAST(0 AS DOUBLE))),
                 6) AS cusum,
           round(list_reduce(list_prepend(CAST(0 AS DOUBLE), xs[1:i]),
                             (acc, v) -> greatest(acc + v, CAST(0 AS DOUBLE))),
                 6) > h AS alarm
    FROM idx
    """,
)
def events_cusum_changepoint(spark, sf_dir):
    """One-sided CUSUM change-point trajectory per event type over daily
    counts: S_j = max(0, S_{j-1} + (y_j − μ − 0.5σ)), alarm when S_j
    clears the 4σ decision interval — the sequential drift detector that
    catches a sustained small shift events_anomaly_zscore's pointwise
    z-scores miss (z needs one big day; CUSUM accumulates many slightly-
    elevated days). The recursion is a prefix fold (the survival-curve
    recipe): each (type, day) row folds max(0, acc+x) over its day-sorted
    deviation prefix, seeded 0.0 on both engines (Spark aggregate vs
    DuckDB list_reduce over list_prepend — identical order; greatest/add
    only, no libm, so doubles match bitwise). μ/σ come from exact BIGINT
    moments rounded 6 dp (the bot_regularity contract; sqrt is IEEE
    correctly-rounded, deterministic). Scale shape: one (type, day)
    partial agg, then everything runs on the types×days-bounded relation;
    the per-type factor arrays are days-sized. Reference analogue: none —
    training-data pipeline extension."""
    ev = T(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").alias("n"))
    cnt = F.count("*")
    mu = F.round(F.sum("n").cast("double") / cnt, 6)
    sd = F.round(
        F.sqrt(
            F.sum(F.col("n") * F.col("n")).cast("double") / cnt
            - (F.sum("n").cast("double") / cnt)
              * (F.sum("n").cast("double") / cnt)
        ),
        6,
    )
    stats = daily.groupBy("event_type").agg(mu.alias("mu"), sd.alias("sd"))
    dev = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "day",
        (F.col("n").cast("double") - F.col("mu") - F.lit(0.5) * F.col("sd"))
        .alias("x"),
        F.round(F.lit(4.0) * F.col("sd"), 6).alias("h"),
    )
    arrs = dev.groupBy("event_type", "h").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("day", "x"))),
            lambda s: s["x"],
        ).alias("xs"),
        F.sort_array(F.collect_list("day")).alias("days"),
    )
    idx = arrs.select(
        "event_type", "h", "days", "xs",
        F.posexplode(F.col("days")),
    ).select(
        "event_type", "h", "xs",
        F.col("col").alias("day"),
        (F.col("pos") + 1).alias("i"),
    )
    cusum = F.round(
        F.aggregate(
            F.slice(F.col("xs"), F.lit(1), F.col("i")),
            F.lit(0.0),
            lambda acc, v: F.greatest(acc + v, F.lit(0.0)),
        ),
        6,
    )
    return idx.select(
        "event_type", "day",
        cusum.alias("cusum"),
        (cusum > F.col("h")).alias("alarm"),
    )


_PSI_BOUNDS = (1.0, 2.0, 5.0, 10.0, 20.0, 50.0, 100.0)  # 8 buckets


def _psi_bucket_sql() -> str:
    cases = " ".join(
        f"WHEN value < CAST({b} AS DOUBLE) THEN {i}"
        for i, b in enumerate(_PSI_BOUNDS)
    )
    return f"CASE {cases} ELSE {len(_PSI_BOUNDS)} END"


@register(
    "events_psi_drift",
    f"""
    WITH wk AS (
      SELECT date_trunc('week', ts) AS week,
             {_psi_bucket_sql()} AS bucket
      FROM events),
    cnt AS (
      SELECT week, bucket, CAST(count(*) AS BIGINT) AS n
      FROM wk GROUP BY week, bucket),
    grid AS (
      SELECT w.week, b.bucket, coalesce(c.n, 0) AS n
      FROM (SELECT DISTINCT week FROM wk) w
      CROSS JOIN (SELECT unnest(generate_series(0, {len(_PSI_BOUNDS)}))
                    AS bucket) b
      LEFT JOIN cnt c ON c.week = w.week AND c.bucket = b.bucket),
    tot AS (
      SELECT week, CAST(sum(n) AS BIGINT) AS wk_total FROM grid
      GROUP BY week),
    p AS (
      SELECT g.week, g.bucket, g.n, t.wk_total,
             (g.n + CAST(0.5 AS DOUBLE))
               / (t.wk_total + CAST({0.5 * (len(_PSI_BOUNDS) + 1)}
                                    AS DOUBLE)) AS p
      FROM grid g JOIN tot t ON g.week = t.week),
    lagged AS (
      SELECT week, bucket, p,
             lag(p) OVER (PARTITION BY bucket ORDER BY week) AS q
      FROM p)
    SELECT week,
           round(sum((p - q) * ln(p / q)), 6) AS psi,
           CAST(count(*) AS BIGINT) AS n_buckets
    FROM lagged WHERE q IS NOT NULL
    GROUP BY week
    """,
)
def events_psi_drift(spark, sf_dir):
    """Population Stability Index of the event-value distribution, week
    over week: PSI = Σ_buckets (p−q)·ln(p/q) on fixed value buckets with
    add-0.5 smoothing (so an empty bucket contributes a finite term) —
    the standard production drift monitor; complements cdc_value_drift
    (mean shift — blind to shape changes) and docs_source_jsd (token
    distributions). The >0.2 "investigate" convention applies to the
    output. Determinism: bucket edges are literal doubles compared
    against the raw value identically on both engines; counts are exact
    BIGINTs densified over an explicit week×bucket grid (a missing
    bucket row would silently drop its PSI term); p/q are single exact
    divisions; the 8-term sum rounds 6 dp post-agg. Scale shape: one
    (week, bucket) partial agg over the scan, then everything runs on
    the weeks×9 grid — the lag window and final rollup are
    metadata-sized. Reference analogue: none — training-data pipeline
    extension."""
    ev = T(spark, sf_dir, "events")
    bucket = F.lit(len(_PSI_BOUNDS))
    for i in range(len(_PSI_BOUNDS) - 1, -1, -1):
        bucket = F.when(
            F.col("value") < F.lit(_PSI_BOUNDS[i]), F.lit(i)
        ).otherwise(bucket)
    wk = ev.select(F.date_trunc("week", "ts").alias("week"), bucket.alias("bucket"))
    cnt = wk.groupBy("week", "bucket").agg(F.count("*").alias("n"))
    weeks = wk.select("week").distinct()
    buckets = spark.range(len(_PSI_BOUNDS) + 1).select(
        F.col("id").cast("int").alias("bucket")
    )
    grid = (
        weeks.crossJoin(F.broadcast(buckets))
        .join(cnt, ["week", "bucket"], "left")
        .select("week", "bucket", F.coalesce("n", F.lit(0)).alias("n"))
    )
    tot = grid.groupBy("week").agg(F.sum("n").alias("wk_total"))
    smooth = F.lit(0.5 * (len(_PSI_BOUNDS) + 1))
    p = grid.join(tot, "week").select(
        "week", "bucket",
        ((F.col("n") + F.lit(0.5)) / (F.col("wk_total") + smooth)).alias("p"),
    )
    lw = Window.partitionBy("bucket").orderBy("week")
    lagged = p.withColumn("q", F.lag("p").over(lw)).filter(
        F.col("q").isNotNull()
    )
    return lagged.groupBy("week").agg(
        F.round(
            F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))),
            6,
        ).alias("psi"),
        F.count("*").alias("n_buckets"),
    )


_TABLE_STATS_COLS = ("url", "warc_ts", "text", "lang", "http_status")


def _table_stats_sql() -> str:
    def one(c, kind):
        if kind == "ts":
            mn = "epoch_us(min({c}))"; mx = "epoch_us(max({c}))"
            ms = "CAST(NULL AS VARCHAR)"; xs = "CAST(NULL AS VARCHAR)"
        elif kind == "num":
            mn = "CAST(min({c}) AS BIGINT)"; mx = "CAST(max({c}) AS BIGINT)"
            ms = "CAST(NULL AS VARCHAR)"; xs = "CAST(NULL AS VARCHAR)"
        else:
            mn = "CAST(NULL AS BIGINT)"; mx = "CAST(NULL AS BIGINT)"
            ms = "min({c})"; xs = "max({c})"
        return f"""
        SELECT '{c}' AS col_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) - count({c}) AS BIGINT) AS null_count,
               CAST(count(DISTINCT {c}) AS BIGINT) AS ndv,
               {mn.format(c=c)} AS min_num, {mx.format(c=c)} AS max_num,
               {ms.format(c=c)} AS min_str, {xs.format(c=c)} AS max_str
        FROM winners""".format(c=c)

    kinds = {"url": "str", "warc_ts": "ts", "text": "str", "lang": "str",
             "http_status": "num"}
    parts = " UNION ALL ".join(one(c, kinds[c]) for c in _TABLE_STATS_COLS)
    return f"WITH winners AS ({_REPLAY_SQL}) {parts}"


@register("engine_table_stats", _table_stats_sql())
def engine_table_stats(spark, sf_dir):
    """ANALYZE TABLE through the value gate: replay the fixed log, run
    operators.merge.analyze (per-column n_rows / null_count / exact NDV /
    min-max over the LIVE state, persisted as a metadata-only snapshot
    commit), then read the stats back OFF THE CHAIN through a freshly
    loaded handle — so the gate hashes what a later reader actually
    sees, not the in-memory return value. The DuckDB twin recomputes
    every statistic from the replayed winners (http_status's null_count
    counts the pre-v2 rows — a stats pass that ran before schema
    resolution would miss them). Timestamps ride as exact epoch micros
    (computed INSIDE the aggregate, no driver datetime conversion);
    strings compare raw. Scale shape: one partial+final aggregate pass
    over the state (count-distincts share the scan via Expand; at 10^10
    rows swap exact NDV for approx_count_distinct — consumers tolerate
    it, the gate pins the exact path), then O(chain) metadata reads at
    consumption time. Reference analogue: dictionary metadata counters,
    Schema.cpp."""
    from .lake.table import LakeTable
    from .operators.merge import analyze, table_stats

    p = _gate_pipeline(spark, "stats", _ensure_replay_events())
    p.run_batch_replay()
    analyze(LakeTable.load(spark, p.table_path), columns=_TABLE_STATS_COLS)
    stats = table_stats(LakeTable.load(spark, p.table_path))
    assert stats is not None
    rows = [
        (
            c,
            s["n_rows"], s["null_count"], s["ndv"],
            s["min_num"], s["max_num"], s["min_str"], s["max_str"],
        )
        for c, s in ((c, stats[c]) for c in _TABLE_STATS_COLS)
    ]
    return spark.createDataFrame(
        rows,
        "col_name string, n_rows long, null_count long, ndv long, "
        "min_num long, max_num long, min_str string, max_str string",
    )


@register(
    "docs_lsh_band_s_curve",
    f"""
    WITH {_MINHASH_CAND_TMPL.format(id_cap=1000)},
    loose_bands AS (
      SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS band_hash FROM sig
      UNION ALL
      SELECT doc_id, 1 AS band_id, md5(h2 || h3) AS band_hash FROM sig),
    cand_loose AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM loose_bands l JOIN loose_bands r
        ON l.band_id = r.band_id AND l.band_hash = r.band_hash
       AND l.doc_id < r.doc_id),
    all_pairs AS (
      SELECT a, b FROM cand UNION SELECT a, b FROM cand_loose),
    sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT p.a, p.b, count(*) AS n_inter
      FROM all_pairs p
      JOIN tok ta ON ta.doc_id = p.a
      JOIN tok tb ON tb.doc_id = p.b AND tb.token = ta.token
      GROUP BY p.a, p.b),
    j AS (
      SELECT i.a, i.b,
             CAST(floor(CAST(n_inter AS DOUBLE)
                        / (sa.n + sb.n - n_inter) * 10) AS BIGINT)
               AS j_bucket,
             CASE WHEN cl.a IS NOT NULL THEN 1 ELSE 0 END AS det_loose,
             CASE WHEN ct.a IS NOT NULL THEN 1 ELSE 0 END AS det_tight
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.a
      JOIN sizes sb ON sb.doc_id = i.b
      LEFT JOIN cand_loose cl ON cl.a = i.a AND cl.b = i.b
      LEFT JOIN cand ct ON ct.a = i.a AND ct.b = i.b)
    SELECT j_bucket, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(det_loose) AS BIGINT) AS n_loose,
           CAST(sum(det_tight) AS BIGINT) AS n_tight,
           round(CAST(sum(det_loose) AS DOUBLE) / count(*), 4)
             AS rate_loose,
           round(CAST(sum(det_tight) AS DOUBLE) / count(*), 4)
             AS rate_tight
    FROM j GROUP BY j_bucket
    """,
)
def docs_lsh_band_s_curve(spark, sf_dir):
    """Empirical MinHash-LSH S-curve: per exact-Jaccard decile, the
    detection rate of the LOOSE band spec (4 hashes, 2 bands × 2) vs the
    TIGHT one (8 hashes, 2 bands × 4) — the evidence behind the repo's
    band-tightness dial (tight bands keep candidates near-linear on
    templated corpora but drop low-similarity pairs; this table shows
    exactly where each spec's recall cliff sits, the empirical twin of
    the analytic 1−(1−j^r)^b curve). Truth pairs are conditioned on the
    UNION of both specs' candidates (an unconditioned truth would need
    all-pairs Jaccard — the thing LSH exists to avoid; rates near the
    cliff are therefore relative to surfaced pairs, stated here).
    Determinism: both engines compute raw Jaccard as the SAME double
    division (CAST, not *1.0 — DuckDB's 1.0 is DECIMAL and decimal
    bucketing floors 0.6·10 to 6 where the double floors to 5), bucket
    by floor(j·10), and count exact ints to one rounded division. Scale
    shape: signatures are one partial agg; both band joins are
    bounded-keyspace equi-joins; exact Jaccard runs on candidates only.
    Reference analogue: none — training-data pipeline extension."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    cand_t = S.minhash_candidate_pairs(d, "doc_id", "text", n_hashes=8, band_size=4)
    cand_l = S.minhash_candidate_pairs(d, "doc_id", "text", n_hashes=4, band_size=2)
    allp = cand_t.select("a", "b").union(cand_l.select("a", "b")).distinct()
    j = S.jaccard_pairs(d, allp, "doc_id", "text")
    flagged = (
        j.join(cand_l.withColumn("_l", F.lit(1)), ["a", "b"], "left")
        .join(cand_t.withColumn("_t", F.lit(1)), ["a", "b"], "left")
        .select(
            F.floor(F.col("jaccard") * 10).cast("long").alias("j_bucket"),
            F.coalesce("_l", F.lit(0)).alias("det_loose"),
            F.coalesce("_t", F.lit(0)).alias("det_tight"),
        )
    )
    return flagged.groupBy("j_bucket").agg(
        F.count("*").alias("n_pairs"),
        F.sum("det_loose").alias("n_loose"),
        F.sum("det_tight").alias("n_tight"),
        F.round(F.sum("det_loose").cast("double") / F.count("*"), 4)
        .alias("rate_loose"),
        F.round(F.sum("det_tight").cast("double") / F.count("*"), 4)
        .alias("rate_tight"),
    )


_NPROBE_SWEEP = (1, 2, 4)


def _ivf_nprobe_sweep_sql() -> str:
    per_np = " UNION ALL ".join(
        f"""
        SELECT {np} AS nprobe,
               (SELECT CAST(count(*) AS BIGINT) FROM (
                  SELECT e.query_id
                  FROM exact e JOIN (
                    SELECT query_id, vec_id
                    FROM (SELECT vec_id AS query_id, embedding AS qvec, cid
                          FROM assign WHERE vec_id < 32 AND rn <= {np})
                         p JOIN cells USING (cid)
                    WHERE vec_id <> query_id
                    QUALIFY row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY list_cosine_similarity(
                                 CAST(qvec AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[])) DESC,
                               vec_id) <= {_RECALL_K}) a
                    ON e.query_id = a.query_id AND e.vec_id = a.vec_id))
                 AS n_hits"""
        for np in _NPROBE_SWEEP
    )
    return f"""
    WITH {_IVF_INIT_CTES},
    {_IVF_ASSIGN_CTE},
    cells AS (SELECT vec_id, embedding, cid FROM assign WHERE rn = 1),
    {_RECALL_EXACT_CTES},
    nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM q),
    sweep AS ({per_np})
    SELECT nprobe, n_queries, n_hits,
           round(CAST(n_hits AS DOUBLE) / (n_queries * {_RECALL_K}), 4)
             AS mean_recall
    FROM sweep CROSS JOIN nq
    """


@register("ann_recall_vs_nprobe", _ivf_nprobe_sweep_sql())
def ann_recall_vs_nprobe(spark, sf_dir):
    """IVF recall@10 as a FUNCTION of nprobe (1, 2, 4) — the dial CURVE
    where ann_recall_eval_ivf pins one point: probing more cells costs
    proportionally more candidate scans and buys recall at a decreasing
    rate, and this table is the evidence for choosing the production
    setting (the curve flattens where extra probes stop paying).
    Aggregate mean recall per setting = total exact-∩-approx hits over
    n_queries·k, all exact BIGINTs to one rounded division. Same
    determinism and shape contract as the recall-gate family: the
    md5-pinned coarse quantizer makes the cells SQL-derivable, the exact
    side broadcasts only the fixed 32-query eval set, and the approx
    side is the production (cid) equi-join per nprobe. Reference
    analogue: none — training-data pipeline extension."""
    from .functions.similarity import ivf_topk

    emb = T(spark, sf_dir, "embeddings")
    centroids = _pinned_centroids(emb)
    q = emb.filter(F.col("vec_id") < 32)
    nq = q.agg(F.count("*").alias("n_queries"))
    exact = S.brute_force_topk(emb, q, k=_RECALL_K).select("query_id", "vec_id")
    per_np = []
    for np in _NPROBE_SWEEP:
        approx = ivf_topk(emb, q, centroids, k=_RECALL_K, nprobe=np).select(
            "query_id", "vec_id"
        )
        per_np.append(
            exact.join(approx, ["query_id", "vec_id"])
            .agg(F.count("*").alias("n_hits"))
            .select(F.lit(np).alias("nprobe"), "n_hits")
        )
    sweep = per_np[0]
    for x in per_np[1:]:
        sweep = sweep.unionAll(x)
    return sweep.crossJoin(F.broadcast(nq)).select(
        "nprobe", "n_queries", "n_hits",
        F.round(
            F.col("n_hits").cast("double")
            / (F.col("n_queries") * F.lit(_RECALL_K)),
            4,
        ).alias("mean_recall"),
    )


_INT8_RECALL_SQL = f"""
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    q8 AS (
      SELECT vec_id, v,
             CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
                  THEN list_max(list_transform(v, x -> abs(x))) / 127.0
                  ELSE 1.0 END AS scale
      FROM base),
    dqc AS (
      SELECT vec_id,
             list_transform(v, x -> floor(x / scale) * scale) AS demb
      FROM q8),
    q AS (SELECT vec_id AS query_id, v AS qvec FROM base
          WHERE vec_id < 32),
    exact AS (
      SELECT query_id, vec_id
      FROM q, base
      WHERE vec_id <> query_id
      QUALIFY row_number() OVER (
        PARTITION BY query_id
        ORDER BY list_cosine_similarity(qvec, v) DESC, vec_id)
        <= {_RECALL_K}),
    approx AS (
      SELECT query_id, vec_id
      FROM q, dqc
      WHERE vec_id <> query_id
      QUALIFY row_number() OVER (
        PARTITION BY query_id
        ORDER BY list_cosine_similarity(qvec, demb) DESC, vec_id)
        <= {_RECALL_K}),
    {_RECALL_HITS_SQL}
    """


@register("ann_recall_eval_int8", _INT8_RECALL_SQL)
def ann_recall_eval_int8(spark, sf_dir):
    """Recall@10 of full-precision queries against the int8-QUANTIZED
    corpus vs the raw corpus — the retrieval-impact gate for the 4×
    storage cut (emb_quantize_error prices per-vector fidelity; this
    prices what actually matters: does the top-k CHANGE). Queries stay
    float (the realistic serving shape: corpus quantized at rest, query
    embedded at request time). Same determinism contract as the recall
    family: all cosines in double (the quantizer's floor-based math is
    IEEE-identical across engines), ranked with vec_id tiebreak. Scale
    shape: both sides broadcast only the fixed 32-query eval set; the
    production consumer scans the int8 form (4× fewer bytes per
    candidate) and this gate bounds the recall it gives up. Reference
    analogue: none — training-data pipeline extension."""
    emb = T(spark, sf_dir, "embeddings")
    dq = emb.select(
        "vec_id",
        S.dequantize_int8(S.quantize_int8(F.col("embedding"))).alias(
            "embedding"
        ),
    )
    q = emb.filter(F.col("vec_id") < 32)
    approx = S.brute_force_topk(dq, q, k=_RECALL_K).select("query_id", "vec_id")
    return _recall_per_query(emb, q, approx)


@register(
    "events_type_day_rollup",
    """
    SELECT event_type, day,
           CAST(GROUPING(event_type, day) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM (SELECT event_type, date_trunc('day', ts) AS day, value
          FROM events)
    GROUP BY ROLLUP(event_type, day)
    """,
)
def events_type_day_rollup(spark, sf_dir):
    """GROUP BY ROLLUP(event_type, day): per-(type, day) cells plus
    per-type subtotals plus the grand total in ONE aggregation — the
    hierarchical-summary shape (§2.6 aggregation breadth) a reporting
    consumer otherwise pays three scans for. gid (the standard
    GROUPING bitmask, type = MSB) disambiguates a rolled-up NULL from a
    data NULL. Determinism: counts exact, value sums rounded 2 dp
    post-agg. Scale shape: Spark plans rollup as ONE Expand + partial
    agg — each input row fans to its 3 grouping sets map-side and
    combines before the single shuffle; never three separate jobs.
    Reference analogue: none — relational coverage (SURVEY §2.6)."""
    ev = T(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("day", "ts").alias("day"), "value"
    )
    return ev.rollup("event_type", "day").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    ).select("event_type", "day", "gid", "n_events", "total_value")


_PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "events_daily_type_pivot",
    f"""
    SELECT date_trunc('day', ts) AS day,
           {", ".join(
             f"round(coalesce(sum(value) FILTER (WHERE event_type = '{t}'),"
             f" CAST(0 AS DOUBLE)), 2) AS {t}_value"
             for t in _PIVOT_TYPES)}
    FROM events
    GROUP BY date_trunc('day', ts)
    """,
)
def events_daily_type_pivot(spark, sf_dir):
    """PIVOT: one row per day, one value column per event type (the
    wide/long reshape every BI consumer asks for). The pivot value list
    is EXPLICIT — an inferred list costs an extra distinct scan and makes
    the output schema data-dependent, which breaks both at 100 TB and at
    the oracle gate. A type absent on a day renders 0.0 (coalesce on
    both engines), sums round 2 dp post-agg. Scale shape: Spark compiles
    an explicit-values pivot to ONE partial+final aggregate with a CASE
    per value — same plan as the hand-written conditional sums, one
    shuffle on day. Reference analogue: none — relational coverage
    (SURVEY §2.6)."""
    ev = T(spark, sf_dir, "events")
    piv = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", list(_PIVOT_TYPES))
        .agg(F.sum("value"))
    )
    return piv.select(
        "day",
        *[
            F.round(F.coalesce(F.col(t), F.lit(0.0)), 2).alias(f"{t}_value")
            for t in _PIVOT_TYPES
        ],
    )


@register(
    "events_rolling_7d_dau",
    """
    WITH ud AS (
      SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
    days AS (SELECT DISTINCT day FROM ud)
    SELECT d.day,
           CAST(count(DISTINCT u.user_id) AS BIGINT) AS rolling_7d_users
    FROM days d
    JOIN ud u ON u.day <= d.day AND u.day > d.day - INTERVAL 7 DAY
    GROUP BY d.day
    """,
)
def events_rolling_7d_dau(spark, sf_dir):
    """Rolling 7-day distinct active users per day — the windowed-DISTINCT
    shape that windowed SQL cannot express (COUNT(DISTINCT) OVER a frame
    is illegal in both engines): the scalable form dedups to the
    (day, user) relation first, then RANGE-joins the days list onto it
    and counts distinct per anchor day. Complements events_dau_wau
    (calendar buckets reset at boundaries; the rolling window doesn't).
    Scale shape: the dedup is one partial-agg shuffle to days×users
    (the bounded relation); the range join fans each user-day to ≤7
    anchor days — O(7·|ud|), never events×days; distinct-per-day is a
    two-phase count over that. Reference analogue: none —
    training-data pipeline extension."""
    ev = T(spark, sf_dir, "events")
    ud = ev.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).dropDuplicates()
    days = ud.select("day").distinct().select(F.col("day").alias("d"))
    joined = days.join(
        ud,
        (F.col("day") <= F.col("d"))
        & (F.col("day") > F.col("d") - F.expr("INTERVAL 7 DAYS")),
    )
    return (
        joined.select(F.col("d").alias("day"), "user_id")
        .dropDuplicates()
        .groupBy("day")
        .agg(F.count("*").alias("rolling_7d_users"))
    )


@register("engine_import_replay", _REPLAY_SQL)
def engine_import_replay(spark, sf_dir):
    """Zero-copy onboarding (Iceberg add_files / Delta CONVERT): replay
    the fixed log into a source table, export its RAW version rows
    (all versions, tombstones included, internal order columns riding
    along) to an EXTERNAL parquet dir, register those files into a
    brand-new table with operators.merge.import_files — no byte copied,
    absolute-path manifest entries, the single target bucket marked
    dirty — and serve read_state off the imported table. The state must
    value-hash against the full DuckDB replay: read-time LWW over the
    dirty bucket must resolve superseded versions and tombstones exactly
    as if the pipeline had written them (one bucket trivially satisfies
    the buckets-partition-keys invariant regardless of how the external
    files split rows). In-flight asserts pin the zero-copy claim: the
    new table's data/ root holds no parquet. Reference analogue:
    Metadata.cpp checkpoint adoption — resuming over files the engine
    did not write."""
    from .lake.table import LakeTable
    from .operators.merge import import_files, read_state

    p = _gate_pipeline(spark, "import", _ensure_replay_events())
    p.run_batch_replay()
    d = os.path.dirname(p.table_path)
    src = LakeTable.load(spark, p.table_path)
    ext = os.path.join(d, "external_dump")
    src.read().write.parquet(ext)
    dst_path = os.path.join(d, "imported")
    dst = LakeTable.create(
        spark,
        dst_path,
        fields=[(f["name"], f["type"]) for f in src.current_schema()],
        key_col=src.key_col,
        n_buckets=src.n_buckets,
    )
    import_files(dst, sorted(glob.glob(os.path.join(ext, "*.parquet"))))
    assert not glob.glob(
        os.path.join(dst_path, "data", "**", "*.parquet"), recursive=True
    ), "import must copy nothing"
    state = read_state(LakeTable.load(spark, dst_path))
    return state.select("url", "warc_ts", "_seq", "text", "lang", "http_status")


@register(
    "docs_simhash_bit_balance",
    f"""
    WITH {_simhash_sig_ctes()},
    bits AS (
      SELECT b.bit, (simhash >> b.bit) & 1 AS is_set
      FROM full_sig, (SELECT unnest(generate_series(0, 63)) AS bit) b)
    SELECT bit,
           CAST(sum(is_set) AS BIGINT) AS n_set,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(sum(is_set) AS DOUBLE) / count(*), 4) AS share_set,
           round(abs(CAST(sum(is_set) AS DOUBLE) / count(*)
                     - CAST(0.5 AS DOUBLE)), 4) AS skew
    FROM bits GROUP BY bit
    """,
)
def docs_simhash_bit_balance(spark, sf_dir):
    """SimHash bit-balance audit: per signature bit, the share of corpus
    documents with that bit set — a healthy hash keeps every bit near
    0.5 (maximum entropy); a skewed bit carries less information, which
    inflates chunk-block collision rates and silently weakens the
    pigeonhole guarantee the blocking relies on. This is the monitoring
    query that catches a bad hash/tokenizer interaction before the pair
    volume explodes. Shares computed from exact BIGINTs; bit 63 rides
    the same arithmetic-shift-then-mask spelling on both engines (the
    signed-BIGINT complement pack). Reuses THE signature spelling
    (_simhash_sig_ctes / similarity.with_simhash) so the audit moves
    with the hash. Scale shape: signatures are one partial agg over
    distinct tokens; the bit fan-out is docs×64 map-side into a 64-group
    rollup. Reference analogue: none — training-data pipeline
    extension."""
    d = T(spark, sf_dir, "documents")
    s = S.with_simhash(d.select("doc_id", "text"), "text")
    bits = (
        s.select(
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.lit(63).cast("long"))
            ).alias("bit"),
            "simhash",
        )
        .select(
            "bit",
            # F.shiftright demands a LITERAL shift; the SQL >> operator
            # takes a column (arithmetic shift — &1 makes bit 63 correct)
            F.expr("(simhash >> bit) & 1").alias("is_set"),
        )
    )
    share = F.sum("is_set").cast("double") / F.count("*")
    return bits.groupBy("bit").agg(
        F.sum("is_set").cast("long").alias("n_set"),
        F.count("*").alias("n_docs"),
        F.round(share, 4).alias("share_set"),
        F.round(F.abs(share - F.lit(0.5)), 4).alias("skew"),
    )


_CKA_HALF = _EMB_DIM // 2


@register(
    "emb_cka_dim_redundancy",
    f"""
    WITH {_EMB_COV_CTES},
    ss AS (
      SELECT
        sum(CASE WHEN j <= {_CKA_HALF}
                 THEN cov * cov * (CASE WHEN i < j THEN 2 ELSE 1 END)
                 ELSE CAST(0 AS DOUBLE) END) AS ss_aa,
        sum(CASE WHEN i > {_CKA_HALF}
                 THEN cov * cov * (CASE WHEN i < j THEN 2 ELSE 1 END)
                 ELSE CAST(0 AS DOUBLE) END) AS ss_bb,
        sum(CASE WHEN i <= {_CKA_HALF} AND j > {_CKA_HALF}
                 THEN cov * cov ELSE CAST(0 AS DOUBLE) END) AS ss_ab
      FROM covu)
    SELECT round(ss_aa, 6) AS ss_aa, round(ss_bb, 6) AS ss_bb,
           round(ss_ab, 6) AS ss_ab,
           round(round(ss_ab, 6)
                 / (sqrt(round(ss_aa, 6)) * sqrt(round(ss_bb, 6))), 6)
             AS cka
    FROM ss
    """,
)
def emb_cka_dim_redundancy(spark, sf_dir):
    """Linear CKA between the first and second halves of the embedding
    dimensions — ||C_AB||²_F / (||C_AA||_F · ||C_BB||_F) over the shared
    covariance sufficient statistic: near 0 the halves encode
    independent information, near 1 the representation is redundant
    across dims (the quantitative backing for matryoshka-style dim cuts
    — emb_matryoshka_error prices truncation, this says WHY truncation
    is cheap or not). Every Frobenius sum runs over the 6 dp-ROUNDED
    covariance relation (the emb_covariance contract) with the i<j
    off-diagonal doubling made explicit (covu stores the upper triangle
    once); cka divides the rounded sums (sqrt is IEEE-exact). Scale
    shape: identical to the covariance family — one Gram partial per
    partition, a dim²-keyspace shuffle, then one-row arithmetic.
    Reference analogue: none — training-data pipeline extension."""
    from .functions.similarity import covariance_upper

    emb = T(spark, sf_dir, "embeddings")
    cov = covariance_upper(emb, "embedding", dim=_EMB_DIM)
    h = F.lit(_CKA_HALF)
    dbl = F.when(F.col("i") < F.col("j"), F.lit(2.0)).otherwise(F.lit(1.0))
    sq = F.col("cov") * F.col("cov")
    ss = cov.agg(
        F.sum(F.when(F.col("j") <= h, sq * dbl).otherwise(F.lit(0.0)))
        .alias("ss_aa"),
        F.sum(F.when(F.col("i") > h, sq * dbl).otherwise(F.lit(0.0)))
        .alias("ss_bb"),
        F.sum(
            F.when((F.col("i") <= h) & (F.col("j") > h), sq).otherwise(
                F.lit(0.0)
            )
        ).alias("ss_ab"),
    )
    return ss.select(
        F.round("ss_aa", 6).alias("ss_aa"),
        F.round("ss_bb", 6).alias("ss_bb"),
        F.round("ss_ab", 6).alias("ss_ab"),
        F.round(
            F.round("ss_ab", 6)
            / (F.sqrt(F.round("ss_aa", 6)) * F.sqrt(F.round("ss_bb", 6))),
            6,
        ).alias("cka"),
    )


@register(
    "docs_dup_cluster_size_hist",
    f"""
    WITH RECURSIVE {_components_cte()},
    sizes AS (
      SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY component)
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(count(*) * cluster_size AS BIGINT) AS n_docs,
           CAST(count(*) * (cluster_size - 1) AS BIGINT) AS n_removable
    FROM sizes GROUP BY cluster_size
    """,
)
def docs_dup_cluster_size_hist(spark, sf_dir):
    """Duplicate-cluster size histogram over the SimHash connected
    components — the one-screen "how duplicated is this corpus" summary
    that sizes the dedup payoff BEFORE running it: n_removable sums to
    exactly the documents keep-one dedup would delete, and a heavy tail
    (one giant template cluster) is the signal to check boilerplate
    extraction before trusting near-dup pairs. Reuses THE component
    spelling (docs_dup_clusters' CTE / similarity.connected_components),
    so the histogram moves with the clustering. All counts exact
    BIGINTs. Scale shape: everything after the pair graph runs on the
    components-sized relation; the histogram is a two-phase count of
    counts. Reference analogue: none — training-data pipeline
    extension."""
    clusters = QUERIES["docs_dup_clusters"](spark, sf_dir)
    sizes = clusters.groupBy("component").agg(
        F.count("*").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        (F.count("*") * F.col("cluster_size")).cast("long").alias("n_docs"),
        (F.count("*") * (F.col("cluster_size") - 1)).cast("long")
        .alias("n_removable"),
    )


@register(
    "cdc_payload_size_profile",
    f"""
    WITH ev AS (
      SELECT op, octet_length(html) AS n_bytes
      FROM read_parquet('{_REPLAY_EVENTS}/*.parquet')
      WHERE {_COMMITTED_DML} AND html IS NOT NULL)
    SELECT op, CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(n_bytes) AS BIGINT) AS min_bytes,
           CAST(CAST(quantile_disc(n_bytes, 0.5) AS BIGINT) AS BIGINT)
             AS p50_bytes,
           CAST(CAST(quantile_disc(n_bytes, 0.9) AS BIGINT) AS BIGINT)
             AS p90_bytes,
           CAST(max(n_bytes) AS BIGINT) AS max_bytes,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes
    FROM ev GROUP BY op
    """,
)
def cdc_payload_size_profile(spark, sf_dir):
    """Per-op payload byte-size profile over the committed replay log
    (exact discrete percentiles of octet_length(html)) — the operational
    input for sizing the M6 oversize dead-letter threshold, epoch memory
    budgets and maxBytesPerTrigger (reference analogue: the oversized-
    transaction drop dial, OpenLogReplicator.cpp memory-max-mb). Exact
    integer byte counts end to end; percentile_approx is NOT used —
    percentile(…, exact) on Spark, quantile_disc on DuckDB, both pick an
    actual data value (p50 of an even count differs between midpoint
    interpolation and discrete selection — discrete on both engines).
    Scale shape: one partial agg per op over the pruned scan; the
    percentile state is per-op sorted counts, bounded by distinct sizes.
    Reference analogue as above."""
    from .operators.decode import EVENTS_DDL, dml_events

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _ensure_replay_events()
    raw = spark.read.schema(EVENTS_DDL).parquet(ev)
    dml = dml_events(raw).filter(F.col("html").isNotNull())
    sized = dml.select("op", F.length("html").cast("long").alias("n_bytes"))
    return sized.groupBy("op").agg(
        F.count("*").alias("n_events"),
        F.min("n_bytes").alias("min_bytes"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_bytes)")
        .cast("long").alias("p50_bytes"),
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY n_bytes)")
        .cast("long").alias("p90_bytes"),
        F.max("n_bytes").alias("max_bytes"),
        F.sum("n_bytes").alias("total_bytes"),
    )


@register(
    "parts_market_basket",
    """
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_orders AS (
      SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM items),
    part_n AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_part
      FROM items GROUP BY l_partkey),
    pair_n AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING count(*) >= 3)
    SELECT part_a, part_b, n_both, na.n_part AS n_a, nb.n_part AS n_b,
           round(CAST(n_both AS DOUBLE) * n.n
                 / (na.n_part * nb.n_part), 4) AS lift
    FROM pair_n
    JOIN part_n na ON na.l_partkey = part_a
    JOIN part_n nb ON nb.l_partkey = part_b
    CROSS JOIN n_orders n
    ORDER BY n_both DESC, lift DESC, part_a, part_b
    LIMIT 50
    """,
)
def parts_market_basket(spark, sf_dir):
    """Market-basket co-purchase analysis: part pairs bought in the same
    order, with lift = P(a,b)/(P(a)·P(b)) — the association-rule shape
    (recommendations, bundling, also the co-occurrence kernel behind
    item-item collaborative filtering). Support floor ≥3 keeps noise
    pairs out; top-50 ordered by exact support first (lift on rounded
    doubles only breaks ties, and part ids break those — a pure
    lift-ordered cut on near-equal doubles could rank differently per
    engine). Scale shape: the pair build is a SELF-join per order over
    the deduped (order, part) relation — O(Σ order_size²), never
    parts² — then parts²-bounded aggregation; part/order totals
    broadcast back; the cut is TakeOrderedAndProject. Reference
    analogue: none — relational/ML coverage (SURVEY §2.6)."""
    li = T(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").dropDuplicates()
    n_orders = items.agg(
        F.countDistinct("l_orderkey").alias("n")
    )
    part_n = items.groupBy("l_partkey").agg(F.count("*").alias("n_part"))
    a = items.select(
        F.col("l_orderkey").alias("_o"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("_o2"), F.col("l_partkey").alias("part_b")
    )
    pair_n = (
        a.join(b, (a["_o"] == b["_o2"]) & (a["part_a"] < b["part_b"]))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 3)
    )
    na = part_n.select(
        F.col("l_partkey").alias("part_a"), F.col("n_part").alias("n_a")
    )
    nb = part_n.select(
        F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b")
    )
    return (
        pair_n.join(F.broadcast(na), "part_a")
        .join(F.broadcast(nb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a", "part_b", "n_both", "n_a", "n_b",
            F.round(
                F.col("n_both").cast("double") * F.col("n")
                / (F.col("n_a") * F.col("n_b")),
                4,
            ).alias("lift"),
        )
        .orderBy(
            F.desc("n_both"), F.desc("lift"), "part_a", "part_b"
        )
        .limit(50)
    )


@register(
    "events_markov_predictability",
    f"""
    WITH tm AS ({_MARKOV_SQL}),
    ranked AS (
      SELECT src, dst, n_transitions,
             CAST(sum(n_transitions) OVER (PARTITION BY src) AS BIGINT)
               AS n_instances,
             row_number() OVER (PARTITION BY src
                                ORDER BY n_transitions DESC, dst DESC)
               AS rn
      FROM tm)
    SELECT src, n_instances, dst AS predicted_dst,
           n_transitions AS n_correct,
           round(CAST(n_transitions AS DOUBLE) / n_instances, 4)
             AS top1_accuracy
    FROM ranked WHERE rn = 1
    """,
)
def events_markov_predictability(spark, sf_dir):
    """Top-1 predictability per antecedent event type: if the next event
    is always guessed as the modal successor, how often is that right —
    the ceiling any sequence model must beat on this corpus (near-1.0
    chains are deterministic flows; near-1/k chains are noise), and the
    practical readout of the transition matrix next to its raw
    probabilities. Built ON the shared _MARKOV_SQL spelling so the eval
    moves with the matrix. The modal successor ties-break by (count
    DESC, dst DESC): Spark max_by over a (n, dst) struct == the DuckDB
    row_number window — DuckDB 1.0's max_by, like arg_max, REFUSES a
    composite key (the recorded gotcha; verified again here). Counts
    exact to one rounded division. Scale shape: runs entirely on the
    types² transition relation. Reference analogue: none —
    training-data pipeline extension."""
    tm = QUERIES["events_markov_transition"](spark, sf_dir)
    pick = F.struct("n_transitions", "dst")
    return tm.groupBy("src").agg(
        F.sum("n_transitions").cast("long").alias("n_instances"),
        F.max_by("dst", pick).alias("predicted_dst"),
        F.max_by("n_transitions", pick).cast("long").alias("n_correct"),
        F.round(
            F.max_by("n_transitions", pick).cast("double")
            / F.sum("n_transitions"),
            4,
        ).alias("top1_accuracy"),
    )


@register(
    "docs_host_cocitation",
    f"""
    WITH e0 AS ({_LINK_GRAPH_SQL}),
    e AS (SELECT DISTINCT src_host, dst_host FROM e0),
    deg AS (SELECT dst_host, CAST(count(*) AS BIGINT) AS n_in
            FROM e GROUP BY dst_host),
    pairs AS (
      SELECT a.dst_host AS host_a, b.dst_host AS host_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM e a JOIN e b
        ON a.src_host = b.src_host AND a.dst_host < b.dst_host
      GROUP BY a.dst_host, b.dst_host
      HAVING count(*) >= 2)
    SELECT host_a, host_b, n_common, da.n_in AS in_a, db.n_in AS in_b,
           round(CAST(n_common AS DOUBLE) / sqrt(da.n_in * db.n_in), 4)
             AS cocite_cosine
    FROM pairs
    JOIN deg da ON da.dst_host = host_a
    JOIN deg db ON db.dst_host = host_b
    """,
)
def docs_host_cocitation(spark, sf_dir):
    """Host co-citation similarity: two hosts are similar when the same
    source hosts link to both — n_common over the distinct in-link sets
    with cosine normalization (n_common/√(in_a·in_b)), support floor 2.
    The classic bibliometric-coupling dual of the link graph and the
    first hop of SimRank — mirror/aggregator detection by WHO cites you
    rather than what you publish (complements docs_cross_source_dups'
    content-level mirror signal). Built on the SHARED edge spelling
    (_LINK_GRAPH_SQL / _link_edges). Determinism: distinct-set counts
    are exact; sqrt is IEEE-exact; one rounded division. Scale shape:
    the pair build is a self-join per SOURCE host over the deduped edge
    relation — O(Σ out_degree²), the market-basket bound, never hosts×
    hosts — then a hosts²-bounded rollup with degree dims broadcast
    back. Reference analogue: none — training-data pipeline
    extension."""
    e = _lc(_link_edges(spark).select("src_host", "dst_host").dropDuplicates())
    deg = e.groupBy("dst_host").agg(F.count("*").alias("n_in"))
    a = e.select(F.col("src_host").alias("_s"), F.col("dst_host").alias("host_a"))
    b = e.select(F.col("src_host").alias("_s2"), F.col("dst_host").alias("host_b"))
    pairs = (
        a.join(b, (a["_s"] == b["_s2"]) & (a["host_a"] < b["host_b"]))
        .groupBy("host_a", "host_b")
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= 2)
    )
    da = deg.select(F.col("dst_host").alias("host_a"), F.col("n_in").alias("in_a"))
    db = deg.select(F.col("dst_host").alias("host_b"), F.col("n_in").alias("in_b"))
    return (
        pairs.join(F.broadcast(da), "host_a")
        .join(F.broadcast(db), "host_b")
        .select(
            "host_a", "host_b", "n_common", "in_a", "in_b",
            F.round(
                F.col("n_common").cast("double")
                / F.sqrt(F.col("in_a") * F.col("in_b")),
                4,
            ).alias("cocite_cosine"),
        )
    )


def _json_messages_of(spark, path: str) -> DataFrame:
    """The JSON change messages (the F12 builder) of one change-log file's
    committed DML — what the transport gates deliver per epoch."""
    from .sinks.builders import build_json_messages

    return build_json_messages(
        _committed_dml(spark, path)
        .withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    )


def _state_from_json_messages(spark, payloads: list[str]) -> DataFrame:
    """The live state reassembled from delivered JSON change messages:
    parse → per-event schema-field resolution → LWW → tombstone exclusion
    (the DuckDB twin is ``_REPLAY_SQL``)."""
    raw = spark.createDataFrame([(s,) for s in payloads], "message string")
    schema = (
        "scn long, seq long, payload array<struct<op string, rid string, "
        "after struct<url string, text string, lang string, "
        "http_status string, fetch_status string>>>"
    )
    p = raw.select(F.from_json("message", schema).alias("m")).select(
        F.element_at(F.col("m.payload"), 1).alias("p"),
        F.col("m.scn").alias("scn"),
        F.col("m.seq").alias("_seq"),
    )
    rows = p.select(
        F.col("p.rid").alias("url"),
        F.timestamp_micros(F.col("scn")).alias("warc_ts"),
        "_seq",
        F.col("p.op").alias("_op"),
        F.col("p.after.text").alias("text"),
        F.col("p.after.lang").alias("lang"),
        F.coalesce(
            F.col("p.after.http_status"), F.col("p.after.fetch_status")
        ).cast("long").alias("http_status"),
    )
    w = Window.partitionBy("url").orderBy(
        F.desc("warc_ts"), F.desc("_seq")
    )
    return (
        rows.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("_op") != "d"))
        .select("url", "warc_ts", "_seq", "text", "lang", "http_status")
    )


@register("engine_network_replay", _REPLAY_SQL)
def engine_network_replay(spark, sf_dir):
    """The network client-confirm transport through the VALUE gate: per
    epoch, committed DML becomes JSON change messages (the F12 builder)
    streamed per-partition over the length-prefixed confirm protocol to
    the in-process reference consumer (sinks.network.ReferenceConsumer —
    the SAME consumer spelling the transport pytest suite drives); the
    state REASSEMBLED FROM THE RECEIVED FRAMES (parse → per-event
    schema-field resolution → LWW → tombstone exclusion) must hash
    against the full DuckDB replay. This closes the last sink surface
    that had only transport-level tests: a framing bug, a dropped
    partition, a double-delivered frame, or a field lost in the JSON
    round trip all change the reassembled state. In-flight asserts pin
    idempotent re-delivery (a confirmed epoch re-sent adds no frames)
    and the per-partition delivery slots. Reference analogue:
    WriterStream.cpp:185-192 — the client's confirm drives the
    watermark; the consumer is the system of record."""
    from .sinks.network import NetworkConfirmSink, ReferenceConsumer

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    files = _event_files(_ensure_replay_events())
    srv = ReferenceConsumer()
    try:
        d = _gate_scratch("net")
        sink = NetworkConfirmSink(
            "127.0.0.1", srv.port, confirmed_path=os.path.join(d, "wm")
        )
        for i, f in enumerate(files):
            assert sink.send_epoch(_json_messages_of(spark, f), i)
        n0 = sum(len(v) for v in srv.redo[0].values())
        assert sink.send_epoch(_json_messages_of(spark, files[0]), 0)
        assert sum(len(v) for v in srv.redo[0].values()) == n0, (
            "re-delivery of a confirmed epoch must add no frames"
        )
        payloads = [
            m.decode("utf-8")
            for ep in sorted(srv.redo)
            for part in srv.redo[ep].values()
            for m in part
        ]
    finally:
        srv.close()
    return _state_from_json_messages(spark, payloads)


@register("engine_kafka_replay", _REPLAY_SQL)
def engine_kafka_replay(spark, sf_dir):
    """The Kafka delivery-confirm transport through the VALUE gate —
    mirror of engine_network_replay over the hand-built Kafka wire
    protocol (sinks/kafka_wire.py: ApiVersions/Metadata/Produce v0
    against an in-process broker peer). Per epoch, committed DML becomes
    JSON change messages produced per-Spark-partition to the topic with
    acks=1; the broker ack is the delivery report, and only a fully
    acked epoch advances the watermark (reference WriterKafka.cpp:97-125
    — dr_msg_cb success → confirmMessage, error → unconfirmed,
    re-delivered). The state REASSEMBLED FROM THE BROKER'S TOPIC LOG
    (parse → LWW → tombstone exclusion) must hash against the full
    DuckDB replay. In-flight asserts pin the two delivery-semantics
    edges: epoch 0 is first REFUSED by the broker (watermark must stay,
    log must stay empty) then re-delivered, and a re-send of a confirmed
    epoch adds no messages. LWW reassembly is duplicate-immune by
    construction, which is exactly Kafka's at-least-once contract: the
    consumer, not the producer, dedupes."""
    from .sinks.kafka_wire import KafkaBrokerStub, KafkaConfirmSink

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    files = _event_files(_ensure_replay_events())
    srv = KafkaBrokerStub({"olr-changes": 4}, refuse_produces=10_000)
    try:
        d = _gate_scratch("kafka")
        sink = KafkaConfirmSink(
            "127.0.0.1", srv.port, confirmed_path=os.path.join(d, "wm")
        )
        # delivery-failed path: refused produce ⇒ unconfirmed + no append
        assert not sink.send_epoch(_json_messages_of(spark, files[0]), 0)
        assert sink.last_confirmed_epoch() == -1
        assert srv.values("olr-changes") == []
        srv.refuse_produces = 0
        for i, f in enumerate(files):
            assert sink.send_epoch(_json_messages_of(spark, f), i)
        n0 = len(srv.values("olr-changes"))
        # idempotent re-delivery of a confirmed epoch: no new messages
        assert sink.send_epoch(_json_messages_of(spark, files[0]), 0)
        assert len(srv.values("olr-changes")) == n0
        payloads = [m.decode("utf-8") for m in srv.values("olr-changes")]
    finally:
        srv.close()
    return _state_from_json_messages(spark, payloads)


@register("engine_stream_suppressed_replay", _REPLAY_SQL)
def engine_stream_suppressed_replay(spark, sf_dir):
    """The T5 stateful stale-suppression path through the value gate:
    run_available_now(suppress_stale=True) routes every micro-batch
    through applyInPandasWithState (per-key newest-version state; stale
    intermediate versions are dropped BEFORE the merge, before-images
    riding the state as base64 JSON), and the FINAL state must still
    hash identically to the DuckDB batch replay — suppression is a
    traffic optimization, never a semantics change (a key's newest
    version must survive every suppression decision, including
    tombstones and across-batch out-of-order arrivals). Complements
    engine_replay_state_streaming (same streaming scaffold, suppression
    OFF — together they pin that the stateful operator changes row
    VOLUME only). Reference analogue: T5 in-memory transaction state,
    OpenLogReplicator.cpp:218-249."""
    p = _gate_pipeline(spark, "stream_suppressed", _ensure_replay_events())
    with _stream_harness(spark):
        p.run_available_now(max_files_per_trigger=2, suppress_stale=True)
    return p.target_state().select(
        "url", "warc_ts", "_seq", "text", "lang", "http_status"
    )


@register(
    "tpch_q13_customer_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    GROUP BY c_count
    """,
)
def tpch_q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 (customer order distribution), driver-column variant
    (the classic filters o_comment which the driver orders lack; the
    priority filter keeps the defining wrinkle): how many customers
    placed exactly k qualifying orders — INCLUDING k = 0, which is why
    the join must be LEFT OUTER with the filter INSIDE the join
    condition (a WHERE would silently turn it inner and drop the zero
    bucket; count(o_orderkey) over the null-extended rows yields the 0).
    Scale shape: outer join shuffles on custkey, then a two-phase
    count-of-counts over the customers-sized relation. Reference
    analogue: none — relational coverage (SURVEY §2.6)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "tpch_q21_waiting_orders",
    """
    WITH base AS (
      SELECT l_orderkey, l_suppkey,
             l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
    su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM base),
    lt AS (SELECT DISTINCT l_orderkey, l_suppkey FROM base WHERE late)
    SELECT s_name, CAST(numwait AS BIGINT) AS numwait
    FROM (
      SELECT lt.l_suppkey, count(*) AS numwait
      FROM lt
      WHERE EXISTS (SELECT 1 FROM su o2
                    WHERE o2.l_orderkey = lt.l_orderkey
                      AND o2.l_suppkey <> lt.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lt o3
                        WHERE o3.l_orderkey = lt.l_orderkey
                          AND o3.l_suppkey <> lt.l_suppkey)
      GROUP BY lt.l_suppkey)
    JOIN supplier ON s_suppkey = l_suppkey
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
)
def tpch_q21_waiting_orders(spark, sf_dir):
    """TPC-H Q21 (suppliers who kept orders waiting), late-shipment
    variant (late = shipped >60 days after the order date — the q4
    lateness rule, since the driver lineitem has no commit/receipt
    dates): count, per supplier, the multi-supplier orders where THEY
    were the ONLY late shipper — the hardest TPC-H shape: one correlated
    EXISTS and one correlated NOT EXISTS against the same relation with
    inequality correlation, which must plan as a semi PLUS an anti join
    on orderkey (never a per-row subquery). Scale shape: the late/any
    supplier-order relations dedup first (partial agg), both
    existence checks shuffle on orderkey with the supplier-inequality
    as join residual, the rollup is suppliers-sized, supplier broadcast
    decorates, TakeOrdered cuts (numwait DESC, name). Reference
    analogue: none — relational coverage (SURVEY §2.6)."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    s = T(spark, sf_dir, "supplier")
    base = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey", "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("late"),
    )
    su = base.select("l_orderkey", "l_suppkey").dropDuplicates()
    lt = (
        base.filter("late").select("l_orderkey", "l_suppkey").dropDuplicates()
    )
    o2 = su.select(
        F.col("l_orderkey").alias("_o"), F.col("l_suppkey").alias("_s")
    )
    o3 = lt.select(
        F.col("l_orderkey").alias("_o3"), F.col("l_suppkey").alias("_s3")
    )
    waiting = (
        lt.join(
            o2,
            (lt["l_orderkey"] == o2["_o"]) & (lt["l_suppkey"] != o2["_s"]),
            "left_semi",
        )
        .join(
            o3,
            (lt["l_orderkey"] == o3["_o3"]) & (lt["l_suppkey"] != o3["_s3"]),
            "left_anti",
        )
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
    )
    return (
        waiting.join(F.broadcast(s), waiting["l_suppkey"] == s["s_suppkey"])
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


@register("engine_branch_diff", _SNAPSHOT_DIFF_SQL)
def engine_branch_diff(spark, sf_dir):
    """Snapshot diff ACROSS refs — "what would publishing this branch
    change?": epochs 0-1 land on main, epochs 2-3 stage on a WAP branch,
    and snapshot_diff(main_head → branch_head) must equal exactly the
    CDF of the staged epochs (the _SNAPSHOT_DIFF_SQL oracle: old = files
    0-1, new = all four). Sound WITHOUT new machinery because snapshot
    version numbers are GLOBAL across refs (the WAP global-numbering
    rule) and diffing only needs the two manifests' file sets — the
    audit step a reviewer runs BEFORE publish_branch, next to
    engine_replay_state_wap which gates the publish itself. Builds its
    own table (branch creation mutates refs — the shared replay is
    read-only). Reference analogue: the confirm protocol's
    changes-since-position contract, WriterStream.cpp."""
    from .lake.table import LakeTable
    from .operators.merge import snapshot_diff
    from .streaming.pipeline import CdcPipeline

    ev = _ensure_replay_events()
    files = _event_files(ev)
    p = _gate_pipeline(
        spark, "branch_diff", ev, merge_mode="mor", compact_every=0
    )
    _apply_files(p, files[:2])
    main_head = LakeTable.current_version(p.table_path)
    LakeTable.load(spark, p.table_path).create_branch("audit")
    pb = CdcPipeline(
        spark, ev, p.table_path,
        os.path.join(os.path.dirname(p.table_path), "ckpt2"),
        merge_mode="mor", compact_every=0, branch="audit",
    )
    _apply_files(pb, files[2:], start=2)
    branch_head = LakeTable.load(spark, p.table_path, branch="audit").snap[
        "version"
    ]
    assert LakeTable.current_version(p.table_path) == main_head, (
        "staging on the branch must not move main"
    )
    return snapshot_diff(spark, p.table_path, main_head, branch_head).select(
        "_change", "url", "warc_ts", "_seq", "text", "lang", "http_status"
    )


@register(
    "events_new_vs_returning",
    """
    WITH fs AS (
      SELECT user_id, min(date_trunc('day', ts)) AS first_day
      FROM events GROUP BY user_id),
    tagged AS (
      SELECT date_trunc('day', e.ts) AS day,
             CASE WHEN date_trunc('day', e.ts) = f.first_day
                  THEN 1 ELSE 0 END AS is_new,
             e.user_id
      FROM events e JOIN fs f ON e.user_id = f.user_id),
    du AS (SELECT DISTINCT day, user_id, is_new FROM tagged)
    SELECT day,
           CAST(count(*) FILTER (WHERE is_new = 1) AS BIGINT) AS new_users,
           CAST(count(*) FILTER (WHERE is_new = 0) AS BIGINT)
             AS returning_users,
           round(CAST(count(*) FILTER (WHERE is_new = 1) AS DOUBLE)
                 / count(*), 4) AS new_share
    FROM du GROUP BY day
    """,
)
def events_new_vs_returning(spark, sf_dir):
    """Daily new-vs-returning active users — the acquisition/retention
    mix every growth dashboard leads with (a rising DAU made of new
    users and a rising DAU made of returning ones are different
    businesses). A user is "new" only on their first active day
    (min-day per user, broadcast back onto the activity relation); the
    per-day distinct dedup runs BEFORE counting so a user active twice
    in a day counts once. Exact BIGINTs to one rounded division. Scale
    shape: first-day is one user-keyed partial agg; the tag join is
    users-sized (broadcast or AQE's choice); the dedup and rollup are
    two-phase on the days×users-bounded relation — never a window over
    raw events. Reference analogue: none — training-data pipeline
    extension."""
    ev = T(spark, sf_dir, "events")
    fs = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("first_day")
    )
    tagged = ev.join(F.broadcast(fs), "user_id").select(
        F.date_trunc("day", "ts").alias("day"),
        F.when(
            F.date_trunc("day", "ts") == F.col("first_day"), F.lit(1)
        ).otherwise(F.lit(0)).alias("is_new"),
        "user_id",
    )
    du = tagged.dropDuplicates(["day", "user_id", "is_new"])
    new_c = F.count(F.when(F.col("is_new") == 1, F.lit(1)))
    ret_c = F.count(F.when(F.col("is_new") == 0, F.lit(1)))
    return du.groupBy("day").agg(
        new_c.alias("new_users"),
        ret_c.alias("returning_users"),
        F.round(new_c.cast("double") / F.count("*"), 4).alias("new_share"),
    )


@register(
    "docs_dedup_savings_bytes",
    f"""
    WITH RECURSIVE {_components_cte()},
    {_SURVIVOR_RANKED_CTES},
    removed AS (
      SELECT r.doc_id, d.n_chars
      FROM ranked r JOIN documents d USING (doc_id)
      WHERE r.rn > 1),
    tot AS (
      SELECT CAST(sum(n_chars) AS BIGINT) AS corpus_chars,
             CAST(count(*) AS BIGINT) AS corpus_docs
      FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS docs_removed,
           CAST(coalesce(sum(removed.n_chars), 0) AS BIGINT) AS chars_removed,
           corpus_docs, corpus_chars,
           round(CAST(coalesce(sum(removed.n_chars), 0) AS DOUBLE)
                 / corpus_chars, 4) AS chars_removed_share
    FROM removed CROSS JOIN tot
    GROUP BY corpus_docs, corpus_chars
    """,
)
def docs_dedup_savings_bytes(spark, sf_dir):
    """Keep-one dedup priced in BYTES, not documents: the characters the
    survivor policy would delete and their share of the corpus — the
    number a storage/compute budget meeting actually asks for (the
    cluster-size histogram counts documents; heavy clusters of LONG
    templates cost disproportionately more). Reuses the survivor-ranking
    CTEs (rn > 1 = removed members), so the report can never disagree
    with the policy that produces it. Exact BIGINT sums to one rounded
    division. Scale shape: the removed set joins doc lengths on id
    (AQE-broadcast at component scale), one-row totals cross-join in.
    Reference analogue: none — training-data pipeline extension."""
    d = T(spark, sf_dir, "documents")
    pairs = S.simhash_near_dup_pairs(d, "doc_id", "text", max_hamming=3)
    comps = S.connected_components(pairs, "a", "b")
    q = TXT.quality_score(F.col("text"))
    members = d.select("doc_id", q.cast("double").alias("_q")).join(
        comps.withColumnRenamed("id", "doc_id"), "doc_id"
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("_q"), "doc_id"
    )
    removed = (
        members.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .join(d.select("doc_id", "n_chars"), "doc_id")
    )
    tot = d.agg(
        F.sum("n_chars").cast("long").alias("corpus_chars"),
        F.count("*").alias("corpus_docs"),
    )
    return (
        removed.crossJoin(F.broadcast(tot))
        .groupBy("corpus_docs", "corpus_chars")
        .agg(
            F.count("*").alias("docs_removed"),
            F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long")
            .alias("chars_removed"),
        )
        .select(
            "docs_removed", "chars_removed", "corpus_docs", "corpus_chars",
            F.round(
                F.col("chars_removed").cast("double") / F.col("corpus_chars"),
                4,
            ).alias("chars_removed_share"),
        )
    )


@register(
    "tpch_q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             round(sum(l_extendedprice * (1 - l_discount)), 2)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM rev JOIN supplier ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def tpch_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 (top supplier): the supplier(s) whose one-quarter shipped
    revenue equals the maximum — the revenue-view + scalar-max-subquery
    shape. Determinism: per-supplier revenue rounds 2 dp POST-agg, and the
    max is taken over the rounded values, so the equality join compares
    doubles that are bit-identical on both engines; genuine ties all
    surface (set semantics, like the classic query). Scale shape: the
    month filter prunes the fact scan, the rollup is a suppliers-keyed
    partial+final agg, the max is a one-row broadcast joined back, and
    supplier is a broadcast dim. Reference analogue: none — relational
    coverage (SURVEY §2.6)."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
        .alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    s = T(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tpch_q17_small_quantity_revenue",
    """
    WITH pb AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#1'),
    pa AS (
      SELECT l_partkey AS pk, sum(l_quantity) AS qty_sum,
             CAST(count(*) AS BIGINT) AS qty_cnt
      FROM lineitem JOIN pb ON p_partkey = l_partkey
      GROUP BY l_partkey)
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem JOIN pa ON pk = l_partkey
    WHERE 5.0 * l_quantity * qty_cnt < qty_sum
    """,
)
def tpch_q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue): revenue lost to orders
    below 20% of a part's average order quantity, for one brand — the
    correlated per-group scalar aggregate rejoined to the fact. The
    threshold compare is spelled ``5·qty·cnt < sum`` so it runs entirely
    on EXACT integral doubles (quantities are integral, sums < 2^53):
    no division, no FP-order risk, no rounding dial on the predicate.
    Only the final revenue rounds (2 dp, post-sum). Scale shape: the
    brand filter shrinks the part side to a broadcast semi-join, the
    per-part average is a partial+final agg on the brand's lineitems
    only, and the rejoin broadcasts the parts-sized aggregate — the
    fact table is scanned twice but never shuffled wide. Reference
    analogue: none — relational coverage (SURVEY §2.6)."""
    pb = T(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select(
        "p_partkey"
    )
    li = T(spark, sf_dir, "lineitem")
    li_b = li.join(
        F.broadcast(pb), li["l_partkey"] == pb["p_partkey"], "left_semi"
    )
    pa = li_b.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("l_quantity").alias("qty_sum"),
        F.count("*").alias("qty_cnt"),
    )
    return (
        li.join(F.broadcast(pa), li["l_partkey"] == pa["pk"])
        .filter(
            F.lit(5.0) * F.col("l_quantity") * F.col("qty_cnt")
            < F.col("qty_sum")
        )
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "tpch_q16_supplier_variety",
    """
    SELECT p_brand, p_type, CAST(count(*) AS BIGINT) AS supplier_cnt
    FROM (
      SELECT DISTINCT p_brand, p_type, l_suppkey
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_size BETWEEN 10 AND 40
        AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 2000))
    GROUP BY p_brand, p_type
    """,
)
def tpch_q16_supplier_variety(spark, sf_dir):
    """TPC-H Q16 (part/supplier relationship): how many distinct suppliers
    ship each (brand, type) of mid-size parts, excluding suppliers on a
    blocklist — the NOT-IN anti-join + count-distinct shape. Variant:
    the supply relation is lineitem (the driver has no partsupp) and the
    blocklist is low-balance suppliers (s_acctbal < 2000 — probed to be
    non-empty at sf0.01; the complaint-LIKE analogue). Scale shape: the
    blocklist is a broadcast anti-join (keys never null, so NOT IN is a
    plain anti), part broadcasts with the size filter pushed down, and
    the distinct is two-phase — dropDuplicates on (brand, type, supplier)
    then a plain count, never a countDistinct holding per-group hash
    sets. Reference analogue: none — relational coverage (SURVEY §2.6)."""
    bad = T(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 2000).select(
        "s_suppkey"
    )
    p = T(spark, sf_dir, "part").filter(F.col("p_size").between(10, 40))
    li = T(spark, sf_dir, "lineitem")
    triples = (
        li.join(
            F.broadcast(bad), li["l_suppkey"] == bad["s_suppkey"], "left_anti"
        )
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select("p_brand", "p_type", "l_suppkey")
        .dropDuplicates()
    )
    return triples.groupBy("p_brand", "p_type").agg(
        F.count("*").alias("supplier_cnt")
    )


@register(
    "tpch_q2_min_cost_supplier",
    """
    WITH eu AS (
      SELECT s_suppkey, s_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'),
    ps AS (
      SELECT l_partkey AS partkey, s_suppkey, s_name,
             CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT)) * 20000
                   + CAST(100 * sum(l_quantity) AS BIGINT))
                  // (2 * CAST(100 * sum(l_quantity) AS BIGINT)) AS DOUBLE)
               / 10000.0 AS unit_cost
      FROM lineitem JOIN eu ON l_suppkey = s_suppkey
      GROUP BY l_partkey, s_suppkey, s_name),
    mc AS (SELECT partkey, min(unit_cost) AS min_cost
           FROM ps GROUP BY partkey)
    SELECT p_partkey, p_name, s_suppkey, s_name, unit_cost
    FROM ps
    JOIN mc ON ps.partkey = mc.partkey AND ps.unit_cost = mc.min_cost
    JOIN part ON p_partkey = ps.partkey
    WHERE p_size >= 25
    """,
)
def tpch_q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 (minimum-cost supplier): for each large part, the
    EUROPE supplier offering the lowest observed unit price — the
    correlated-min-subquery shape, spelled as the classic min-join (the
    per-part minimum rejoined on equality, so genuine ties all surface).
    Variant: the supply relation is lineitem (no partsupp in the driver
    tables); unit cost is the QUANTITY-WEIGHTED average shipped
    price-per-unit. Determinism: prices are 2-decimal valued (probed), so
    the numerator sums EXACT integer cents (per-row round·cast, identical
    on both engines; BIGINT summation is order-independent — a plain
    avg() of per-row ratios straddled a 4 dp midpoint at sf0.01), the
    denominator sums integral quantities exactly, and the HALF-UP round
    to 4 dp runs in EXACT BIGINT arithmetic ((n·2·10^4 + d) // 2d — a
    float round() straddled a true decimal midpoint at sf0.01, the
    cdc_value_drift gotcha) before ONE identical IEEE division by 10^4;
    the min and the equality join then compare bit-identical doubles.
    Scale shape: the region-filtered supplier dim broadcasts
    into the fact scan; both aggregates are partial+final on bounded
    (part×supplier / part) keyspaces; part is a broadcast dim with the
    size filter pushed down. Reference analogue: none — relational
    coverage (SURVEY §2.6)."""
    nr = (
        T(spark, sf_dir, "nation")
        .join(
            F.broadcast(T(spark, sf_dir, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .filter(F.col("r_name") == "EUROPE")
        .select("n_nationkey")
    )
    eu = (
        T(spark, sf_dir, "supplier")
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    li = T(spark, sf_dir, "lineitem")
    ps = (
        li.join(F.broadcast(eu), li["l_suppkey"] == eu["s_suppkey"])
        .groupBy(
            F.col("l_partkey").alias("partkey"), "s_suppkey", "s_name"
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100, 0).cast("long")
            ).alias("_cents"),
            F.sum("l_quantity").alias("_qty"),
        )
        .withColumn("_d", (F.col("_qty") * 100).cast("long"))
        .select(
            "partkey", "s_suppkey", "s_name",
            (
                F.expr("(_cents * 20000 + _d) div (2 * _d)").cast("double")
                / 10000.0
            ).alias("unit_cost"),
        )
    )
    mc = (
        ps.groupBy("partkey")
        .agg(F.min("unit_cost").alias("min_cost"))
        .withColumnRenamed("partkey", "mc_partkey")
    )
    p = T(spark, sf_dir, "part").filter(F.col("p_size") >= 25)
    return (
        ps.join(
            mc,
            (F.col("partkey") == F.col("mc_partkey"))
            & (F.col("unit_cost") == F.col("min_cost")),
        )
        .drop("mc_partkey")
        .join(F.broadcast(p), F.col("partkey") == p["p_partkey"])
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "unit_cost")
    )


@register(
    "events_value_ohlc",
    """
    WITH t AS (
      SELECT date_trunc('day', ts) AS day, event_type, value,
             row_number() OVER (PARTITION BY date_trunc('day', ts), event_type
                                ORDER BY ts, event_id) AS rn_open,
             row_number() OVER (PARTITION BY date_trunc('day', ts), event_type
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM events)
    SELECT day, event_type,
           max(CASE WHEN rn_open = 1 THEN value END) AS open_value,
           max(value) AS high_value,
           min(value) AS low_value,
           max(CASE WHEN rn_close = 1 THEN value END) AS close_value,
           CAST(count(*) AS BIGINT) AS n_events
    FROM t GROUP BY day, event_type
    """,
)
def events_value_ohlc(spark, sf_dir):
    """Daily OHLC candles per event type — open/high/low/close of the
    value stream, the time-series downsampling shape every metrics store
    (and every financial rollup) runs. Spark side is ONE groupBy with
    min_by/max_by over a (ts, event_id) struct — no window, single
    shuffle; the DuckDB twin spells the endpoints as row_number windows
    because arg_min/arg_max refuse composite sort keys (the
    events_markov_predictability gotcha). (ts, event_id) is a total
    order, so open/close are single exact values — no rounding dial
    anywhere (high/low/open/close are picked, never summed). Scale
    shape: partial min_by/max_by fold map-side; state per (day, type)
    group is O(1). Reference analogue: none — training-data pipeline
    extension."""
    ev = T(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        )
        .agg(
            F.min_by("value", key).alias("open_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.max_by("value", key).alias("close_value"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "docs_weighted_jaccard_dups",
    f"""
    WITH {_SHINGLE_CAND_CTES},
    tf AS (
      SELECT doc_id, t.token, CAST(count(*) AS BIGINT) AS tf
      FROM arr, unnest(a) AS t(token)
      WHERE length(t.token) > 0
      GROUP BY doc_id, t.token),
    sizes AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n
              FROM tf GROUP BY doc_id),
    inter AS (
      SELECT c.a, c.b, CAST(sum(least(ta.tf, tb.tf)) AS BIGINT) AS n_min
      FROM cand c
      JOIN tf ta ON ta.doc_id = c.a
      JOIN tf tb ON tb.doc_id = c.b AND tb.token = ta.token
      GROUP BY c.a, c.b)
    SELECT a, b, n_min,
           round(CAST(n_min AS DOUBLE) / (sa.n + sb.n - n_min), 4)
             AS weighted_jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = a
    JOIN sizes sb ON sb.doc_id = b
    WHERE CAST(n_min AS DOUBLE) / (sa.n + sb.n - n_min) >= 0.6
    """,
)
def docs_weighted_jaccard_dups(spark, sf_dir):
    """WEIGHTED (multiset / Ruzicka) Jaccard near-dups over token
    frequency vectors — Σ_t min(tf_a, tf_b) / Σ_t max(tf_a, tf_b) — the
    repetition-aware twin of set Jaccard: a page that repeats one
    boilerplate block 50× shares most of its token MASS with another copy
    even when their distinct-token sets diverge (set Jaccard under-scores
    exactly the template spam dedup most wants to kill). The denominator
    uses |A| + |B| − Σmin, so only the INNER token join is ever computed.
    Candidates reuse the DF-capped shingle equi-join spelling (ONE
    constant shared with docs_containment_dups); tf/sizes/overlap are all
    EXACT BIGINTs down to one final division — the ≥ 0.6 threshold
    compares the identical IEEE quotient on both engines (CAST ... AS
    DOUBLE on the SQL side: bare ``*1.0`` division is DECIMAL in DuckDB,
    the s-curve gotcha). Shape at 100 TB: tf is one (doc, token) partial
    agg off the shared tokenizer, the pair overlap aggregates only
    candidate×token rows, and sizes join back docs-sized. Reference
    analogue: none — training-data pipeline extension."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    tf = (
        S.tokens(d, "doc_id", "text", distinct=False)
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    sizes = tf.groupBy("doc_id").agg(F.sum("tf").alias("n"))
    sh = S.token_ngrams(d, "doc_id", "text", n=3)
    cand = _shingle_candidates(sh)
    ta = tf.select(F.col("doc_id").alias("_a"), "token",
                   F.col("tf").alias("tfa"))
    tb = tf.select(F.col("doc_id").alias("_b"),
                   F.col("token").alias("_tkb"), F.col("tf").alias("tfb"))
    inter = (
        cand.join(ta, cand["a"] == ta["_a"])
        .join(tb, (cand["b"] == tb["_b"]) & (ta["token"] == tb["_tkb"]))
        .groupBy("a", "b")
        .agg(F.sum(F.least("tfa", "tfb")).alias("n_min"))
    )
    sa = sizes.select(F.col("doc_id").alias("_sa"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("_sb"), F.col("n").alias("nb"))
    wj = F.col("n_min").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_min")
    )
    return (
        inter.join(F.broadcast(sa), F.col("a") == F.col("_sa"))
        .join(F.broadcast(sb), F.col("b") == F.col("_sb"))
        .filter(wj >= 0.6)
        .select("a", "b", "n_min", F.round(wj, 4).alias("weighted_jaccard"))
    )


@register(
    "emb_hard_negatives",
    f"""
    WITH {_KNN_RANKED_CTES},
    lab AS (
      SELECT s.vec_id, s.neighbor_id, s.cosine,
             la.label AS a_label, lb.label AS b_label
      FROM scored s
      JOIN embeddings la ON s.vec_id = la.vec_id
      JOIN embeddings lb ON s.neighbor_id = lb.vec_id),
    pos AS (
      SELECT vec_id, a_label, neighbor_id AS pos_id, cosine AS pos_cos,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM lab WHERE a_label = b_label),
    neg AS (
      SELECT vec_id, neighbor_id AS neg_id, cosine AS neg_cos,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cosine DESC, neighbor_id) AS rn
      FROM lab WHERE a_label <> b_label)
    SELECT p.vec_id AS anchor_id, p.a_label AS label, p.pos_id, p.pos_cos,
           n.neg_id, n.neg_cos,
           round(p.pos_cos - n.neg_cos, 4) AS margin
    FROM pos p JOIN neg n ON p.vec_id = n.vec_id
    WHERE p.rn = 1 AND n.rn = 1
    """,
)
def emb_hard_negatives(spark, sf_dir):
    """Triplet mining for contrastive training — per anchor, the nearest
    SAME-label candidate (positive) and the nearest DIFFERENT-label
    candidate (hard negative) among its LSH neighbors, with the margin
    between them (the quantity a triplet loss optimizes; near-zero or
    negative margins are exactly the batch-building currency of hard-
    negative mining). Complements docs_contrastive_pairs (which mines
    positives from duplicate clusters): here both sides come from the
    embedding space itself via the SAME LSH candidate generation the
    kNN/dedup family uses, so mined triplets price what retrieval
    actually confuses. Determinism: cosines round 4 dp before both ranks
    (neighbor id tiebreak); the margin subtracts two identical doubles
    then rounds. Anchors missing either a same-label or cross-label
    candidate drop (inner join) — a constraint the fixture meets for
    most anchors. Shape at 100 TB: candidate-bounded scoring, two
    per-key window ranks on the candidate-sized relation — never a
    corpus×corpus similarity. Reference analogue: none — training-data
    pipeline extension."""
    from .functions.similarity import cosine

    emb, cand = _lsh_sample(spark, sf_dir, "label")
    sym = _symmetric_pairs(cand)
    ea = emb.select(F.col("vec_id").alias("_i"),
                    F.col("embedding").alias("ea"),
                    F.col("label").alias("a_label"))
    eb = emb.select(F.col("vec_id").alias("_j"),
                    F.col("embedding").alias("eb"),
                    F.col("label").alias("b_label"))
    lab = (
        sym.join(ea, sym.vec_id == ea._i)
        .join(eb, sym.neighbor_id == eb._j)
        .select(
            "vec_id", "neighbor_id", "a_label", "b_label",
            F.round(cosine(F.col("ea"), F.col("eb")), 4).alias("cosine"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), "neighbor_id")
    pos = (
        lab.filter(F.col("a_label") == F.col("b_label"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("a_label").alias("label"),
                F.col("neighbor_id").alias("pos_id"),
                F.col("cosine").alias("pos_cos"))
    )
    neg = (
        lab.filter(F.col("a_label") != F.col("b_label"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("vec_id").alias("_v"),
                F.col("neighbor_id").alias("neg_id"),
                F.col("cosine").alias("neg_cos"))
    )
    return (
        pos.join(neg, pos["vec_id"] == neg["_v"])
        .select(
            F.col("vec_id").alias("anchor_id"), "label",
            "pos_id", "pos_cos", "neg_id", "neg_cos",
            F.round(F.col("pos_cos") - F.col("neg_cos"), 4).alias("margin"),
        )
    )


@register(
    "emb_pq_code_balance",
    f"""
    WITH {_PQ_CODE_CTES},
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
    SELECT CAST(s AS BIGINT) AS subspace, CAST(code AS BIGINT) AS code,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST((20000 * count(*) + max(n)) // (2 * max(n)) AS DOUBLE)
             / 10000.0 AS share
    FROM codes CROSS JOIN tot
    GROUP BY s, code
    """,
)
def emb_pq_code_balance(spark, sf_dir):
    """PQ codebook utilization histogram — how many corpus vectors land on
    each (subspace, code) cell. The quantizer-health audit for the PQ/ANN
    family (the docs_simhash_bit_balance analogue for product
    quantization): a dead code wastes a row of the ADC table, and a cell
    absorbing most of a subspace collapses ADC distances to a constant —
    either way recall decays silently, and THIS query is the regression
    alarm (re-train or re-pin the codebook when shares skew). Reuses the
    PQ encode CTE chain (ONE spelling shared with ann_pq_topk) so the
    audit can never disagree with the quantizer it audits; on the Spark
    side the corpus encodes through the same Arrow argmin kernel the ANN
    path scans (argmin ties fall to the smaller code id on both engines).
    Exact BIGINT counts to one rounded division; posexplode's int32
    ordinals CAST to long (the emb_dim_stats gotcha). Shape at 100 TB:
    encode is map-side, the rollup keyspace is m×n_codes = 128 cells.
    Reference analogue: none — training-data pipeline extension."""
    from .functions.similarity import pq_codebooks, pq_encode_udf

    emb = T(spark, sf_dir, "embeddings")
    enc = pq_encode_udf(pq_codebooks(emb, m=8, n_codes=16))
    codes = emb.select(
        F.posexplode(enc(F.col("embedding"))).alias("subspace", "code")
    )
    tot = emb.agg(F.count("*").alias("_n"))
    return (
        codes.groupBy(
            F.col("subspace").cast("long").alias("subspace"),
            F.col("code").cast("long").alias("code"),
        )
        .agg(F.count("*").alias("n_vectors"))
        .crossJoin(F.broadcast(tot))
        .select(
            "subspace", "code", "n_vectors",
            # exact integer half-up 4dp share: round(k/n, 4) on a DOUBLE
            # diverges between engines when 10^4·k/n sits one ulp from a
            # half boundary (hit at the sf1 sweep) — (2·10^4·k + n) div 2n
            # is the same number with no FP anywhere before one exact
            # small-decimal division
            (
                F.expr("(20000 * n_vectors + _n) div (2 * _n)")
                .cast("double") / 10000.0
            ).alias("share"),
        )
    )


# null-skip gate: replay, cluster with http_status leading so the NULL
# winners co-locate into all-null files, then serve an IS-NOT-NULL read
# through the PRUNED scan — the value hash proves the skipped files held
# nothing but NULLs for the column.
_NULL_PRUNE_SQL = f"""
    WITH base AS ({_REPLAY_SQL})
    SELECT url, warc_ts, _seq, text, lang, http_status
    FROM base WHERE http_status IS NOT NULL
    """


@register("engine_null_prune", _NULL_PRUNE_SQL)
def engine_null_prune(spark, sf_dir):
    """Null-count file skipping (manifest ``null_counts``, the Iceberg
    null_value_counts analogue — and the one stat family that prunes
    NON-string columns, where col_bounds' 64-char string rule never
    applies): after a cluster rewrite sorted (http_status, warc_ts), the
    22 NULL-status winners co-locate into leading files, and
    read(not_null=('http_status',)) skips every file that is entirely
    null — asserted in-flight via plan_scan's skipped_null counter AND
    strictly fewer opened files. The DuckDB oracle replays the log and
    keeps winners with a non-null status, so the value hash proves the
    skipped files contained nothing the filter would keep. Soundness
    (enforced in read(), pinned by tests/test_null_skip.py): dirty
    merge-on-read buckets are never pruned (a pruned winner's superseded
    version would resurrect via read-time LWW); files written BEFORE
    add_column prune on the schema-version check alone (every row
    projects NULL); stats are matched by field id across renames.
    Reference analogue: the reference skips whole redo files via
    checkpoint scn ranges (Metadata.cpp) — generalized here to
    nullability, the lakehouse scan dimension."""
    from .lake.table import LakeTable
    from .operators.merge import cluster_buckets

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _ensure_replay_events()

    def build():
        p = _gate_pipeline(spark, "nullprune", ev, n_buckets=2)
        p.run_batch_replay()
        t = LakeTable.load(spark, p.table_path)
        cluster_buckets(t, target_rows_per_file=8,
                        sort_cols=("http_status", "warc_ts"))
        return p.table_path

    t = LakeTable.load(spark, _replay_memo("nullprune", ev, build))
    st = t.plan_scan(not_null=("http_status",))
    assert st["skipped_null"] > 0, \
        "null_counts must skip all-null files after the status-led rewrite"
    pruned = t.read(not_null=("http_status",))
    assert len(pruned.inputFiles()) < len(t.read().inputFiles())
    return (
        pruned.filter((F.col("_op") != "d") & F.col("http_status").isNotNull())
        .select("url", "warc_ts", "_seq", "text", "lang", "http_status")
    )


# Position-delete gate: replay merge-on-read (every version physically
# present), position-delete exactly the final winners whose lang is 'de',
# and let read-time LWW resolve what remains — the oracle re-ranks the log
# WITHOUT those versions, so both the erasure and the version-level
# RESURRECTION semantics (an older 'en' version of a deleted 'de' winner
# wins again) are value-hashed, not just documented.
_POSDELETE_SQL = f"""
    WITH ev AS (
      SELECT * FROM read_parquet('{_REPLAY_EVENTS}/*.parquet',
                                 filename = true)
      WHERE {_COMMITTED_DML}),
    raw AS (
      SELECT url, warc_ts, seq AS _seq, op AS _op, text, lang,
             CASE WHEN schema_ver >= 4
                    THEN CAST(extras['http_status'][1] AS BIGINT)
                  WHEN schema_ver >= 2
                    THEN CAST(extras['fetch_status'][1] AS BIGINT)
                  ELSE NULL END AS http_status,
             filename AS src
      FROM ev),
    projected AS (
      -- what the engine physically STORES: each 1-file epoch appends its
      -- per-key net effect, so only per-(url, epoch) LWW winners exist on
      -- disk and only those are position-addressable / resurrectable
      SELECT url, warc_ts, _seq, _op, text, lang, http_status FROM (
        SELECT *, row_number() OVER (PARTITION BY url, src
                                     ORDER BY warc_ts DESC, _seq DESC)
                  AS ern
        FROM raw) WHERE ern = 1),
    w AS (
      SELECT url, _seq, _op, lang FROM (
        SELECT url, _seq, _op, lang,
               row_number() OVER (PARTITION BY url
                                  ORDER BY warc_ts DESC, _seq DESC) AS rn
        FROM projected) WHERE rn = 1),
    victims AS (
      SELECT url, _seq FROM w WHERE _op <> 'd' AND lang = 'de'),
    kept AS (
      SELECT p.* FROM projected p
      LEFT JOIN victims v ON p.url = v.url AND p._seq = v._seq
      WHERE v.url IS NULL),
    w2 AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY url
                                     ORDER BY warc_ts DESC, _seq DESC) AS rn
        FROM kept) WHERE rn = 1)
    SELECT url, warc_ts, _seq, text, lang, http_status
    FROM w2 WHERE _op <> 'd'
    """


@register("engine_posdelete_replay", _POSDELETE_SQL)
def engine_posdelete_replay(spark, sf_dir):
    """Iceberg-v2-style POSITION DELETES through the value gate: the
    merge-on-read replay keeps every version physically on disk; the final
    winners with lang='de' are erased by (file, position) address —
    ``operators.merge.delete_positions``, one delete-file parquet per
    bucket plus a metadata commit, ZERO data files rewritten (asserted
    in-flight) — and read-time LWW then resolves the remaining versions.
    The DuckDB twin re-ranks the raw log WITHOUT exactly those versions,
    so BOTH halves of the physical semantics are value-hashed: the 'de'
    winners are gone, and any key holding an older non-'de' version
    RESURRECTS it (version-level erasure, the documented contrast with
    delete_where's stay-dead LWW tombstones). Deletes apply at read()'s
    single scan choke point, so every downstream reader — state, diff,
    export, maintenance — observes them; the first bucket rewrite folds
    them into new files and drops the entries (tests/test_posdelete.py).
    Reference analogue: none in the log protocol — this is the
    lake-maintenance surface (Iceberg delete files / Delta deletion
    vectors) the Spark re-expression adds."""
    from .lake.table import LakeTable
    from .operators.merge import delete_positions, read_state

    p = _gate_pipeline(spark, "posdel", _ensure_replay_events(), merge_mode="mor")
    # one epoch per source file: per-epoch net-effect collapse leaves each
    # key's per-epoch winners physically on disk — the version set the
    # oracle's `projected` CTE models and resurrection draws from
    p.run_available_now(max_files_per_trigger=1)
    t = LakeTable.load(spark, p.table_path)
    raw = t.read(with_file=True, with_pos=True)
    winners = (
        raw.groupBy("url")
        .agg(
            F.max_by(
                F.struct("_op", "lang", "_file", "_pos"),
                F.struct("warc_ts", "_seq"),
            ).alias("w")
        )
        .select("w._op", "w.lang", "w._file", "w._pos")
    )
    victims = winners.filter(
        (F.col("_op") != "d") & (F.col("lang") == "de")
    ).select("_file", "_pos")
    files_before = sorted(fe["path"] for fe in t.snap["files"])
    out = delete_positions(t, victims)
    assert out["rows"] > 0, "fixture must contain lang='de' winners"
    t = LakeTable.load(spark, t.path)
    assert sorted(fe["path"] for fe in t.snap["files"]) == files_before, \
        "position deletes must not rewrite any data file"
    assert t.snap.get("delete_files"), "delete files must be committed"
    return read_state(t).select(
        "url", "warc_ts", "_seq", "text", "lang", "http_status"
    )


@register(
    "events_ab_bayes",
    """
    WITH conv AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    per_var AS (
      SELECT CAST(u.user_id % 2 AS BIGINT) AS variant,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(count(c.user_id) AS BIGINT) AS n_converted
      FROM (SELECT DISTINCT user_id FROM events) u
      LEFT JOIN conv c ON u.user_id = c.user_id
      GROUP BY u.user_id % 2)
    SELECT variant, n_users, n_converted,
           n_converted + 1 AS post_a,
           n_users - n_converted + 1 AS post_b,
           round(CAST(n_converted + 1 AS DOUBLE) / (n_users + 2), 6)
             AS post_mean,
           round(sqrt(
             CAST(n_converted + 1 AS DOUBLE) * (n_users - n_converted + 1)
             / (CAST(n_users + 2 AS DOUBLE) * (n_users + 2) * (n_users + 3))
           ), 6) AS post_sd
    FROM per_var
    """,
)
def events_ab_bayes(spark, sf_dir):
    """Bayesian A/B conversion readout — per variant, the Beta(1+c, 1+n−c)
    posterior over user-level purchase conversion (uniform prior): the
    posterior mean and sd every Bayesian experimentation dashboard plots
    next to the frequentist Welch t (events_ab_lift) — small-sample-honest
    where the t approximation is not, and the posterior parameters ARE the
    sequential-monitoring state (no fixed horizon needed). Same
    deterministic parity split as the rest of the A/B family. Determinism:
    n and c are exact BIGINTs; mean and variance are closed-form rationals
    spelled with IDENTICAL association on both engines — one division for
    the mean, one for the variance (numerator and denominator products
    each fold left-to-right in double) — and sqrt is IEEE-exact, so the
    6 dp rounds see bit-identical values. Shape at 100 TB: distinct users
    and distinct converters are two user-keyed partial aggs; everything
    after runs on a 2-row relation. Reference analogue: none —
    training-data pipeline extension."""
    ev = T(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id").distinct()
        .withColumn("_c", F.lit(1))
    )
    per_var = (
        users.join(conv, "user_id", "left")
        .groupBy((F.col("user_id") % 2).cast("long").alias("variant"))
        .agg(
            F.count("*").alias("n_users"),
            F.count("_c").alias("n_converted"),
        )
    )
    n, c = F.col("n_users"), F.col("n_converted")
    var_expr = (
        (c + 1).cast("double") * (n - c + 1)
        / ((n + 2).cast("double") * (n + 2) * (n + 3))
    )
    return per_var.select(
        "variant", "n_users", "n_converted",
        (c + 1).alias("post_a"),
        (n - c + 1).alias("post_b"),
        F.round((c + 1).cast("double") / (n + 2), 6).alias("post_mean"),
        F.round(F.sqrt(var_expr), 6).alias("post_sd"),
    )


@register(
    "events_retention_decay_fit",
    f"""
    WITH ret AS ({_RETENTION_SQL}),
    mx AS (SELECT max(cohort_week) AS maxw FROM ret),
    pts AS (
      SELECT week_offset AS w, CAST(sum(n_active_users) AS BIGINT) AS active
      FROM ret CROSS JOIN mx
      WHERE week_offset BETWEEN 1 AND 4
        AND cohort_week <= maxw - INTERVAL 28 DAY
      GROUP BY week_offset),
    base AS (
      SELECT CAST(sum(n_active_users) AS BIGINT) AS n0
      FROM ret CROSS JOIN mx
      WHERE week_offset = 0 AND cohort_week <= maxw - INTERVAL 28 DAY)
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           round(regr_slope(ln(CAST(active AS DOUBLE) / n0), w), 4)
             AS decay_slope,
           round(regr_intercept(ln(CAST(active AS DOUBLE) / n0), w), 4)
             AS ln_rate_intercept,
           round(regr_r2(ln(CAST(active AS DOUBLE) / n0), w), 4) AS r2,
           round(ln(2) / (-regr_slope(ln(CAST(active AS DOUBLE) / n0), w)), 4)
             AS half_life_weeks
    FROM pts CROSS JOIN base WHERE active > 0
    """,
)
def events_retention_decay_fit(spark, sf_dir):
    """Exponential retention-decay fit — OLS of ln(pooled retention rate)
    on week offset over offsets 1-4, restricted to cohorts old enough to
    have reached offset 4 (the right-censoring guard: younger cohorts
    would drag late offsets down mechanically, the classic retention-curve
    mistake), plus the implied half-life in weeks — the one-number
    summary growth teams track release-over-release, and the analytic
    twin of customer_survival_km's nonparametric curve. Determinism:
    active counts and the base are exact BIGINTs; each rate is ONE
    identical division, ln/regr follow the docs_heaps_fit contract (4 dp
    post-rounding absorbs ulp skew). Shape at 100 TB: everything reduces
    off the cohort×offset relation events_retention already builds; the
    regression is one reduce over ≤4 points. Reference analogue: none —
    training-data pipeline extension."""
    act = _cohort_activity(T(spark, sf_dir, "events"))
    ret = act.groupBy("cohort_week", "week_offset").agg(
        F.count("*").alias("n_active_users")
    )
    mx = ret.agg(F.max("cohort_week").alias("maxw"))
    eligible = ret.crossJoin(F.broadcast(mx)).filter(
        F.col("cohort_week") <= F.col("maxw") - F.expr("INTERVAL 28 DAYS")
    )
    pts = (
        eligible.filter(F.col("week_offset").between(1, 4))
        .groupBy(F.col("week_offset").alias("w"))
        .agg(F.sum("n_active_users").cast("long").alias("active"))
    )
    base = eligible.filter(F.col("week_offset") == 0).agg(
        F.sum("n_active_users").cast("long").alias("n0")
    )
    y = F.log(F.col("active").cast("double") / F.col("n0"))
    x = F.col("w").cast("double")
    return (
        pts.crossJoin(F.broadcast(base))
        .filter(F.col("active") > 0)
        .agg(
            F.count("*").alias("n_points"),
            F.round(F.regr_slope(y, x), 4).alias("decay_slope"),
            F.round(F.regr_intercept(y, x), 4).alias("ln_rate_intercept"),
            F.round(F.regr_r2(y, x), 4).alias("r2"),
            F.round(F.log(F.lit(2.0)) / (-F.regr_slope(y, x)), 4)
            .alias("half_life_weeks"),
        )
    )


_LPA_ITERS = 3


def _lpa_sql() -> str:
    """DuckDB twin of docs_host_communities_lpa: the synchronous label-
    propagation trajectory replayed as unrolled CTEs over the SAME edge
    extraction docs_link_graph pins (the pagerank replay recipe, with
    EXACT integer neighbor counts instead of rounded mass — no rounding
    dial is load-bearing anywhere)."""
    iters = []
    prev = "l0"
    for i in range(1, _LPA_ITERS + 1):
        iters.append(f"""
    cnt{i} AS (
      SELECT und.a AS host, l.lab, CAST(count(*) AS BIGINT) AS c
      FROM und JOIN {prev} l ON und.b = l.host
      GROUP BY und.a, l.lab),
    l{i} AS (
      SELECT host, lab FROM (
        SELECT host, lab,
               row_number() OVER (PARTITION BY host
                                  ORDER BY c DESC, lab) AS rn
        FROM cnt{i}) WHERE rn = 1)""")
        prev = f"l{i}"
    return f"""
    WITH e0 AS ({_LINK_GRAPH_SQL}),
    d AS (SELECT DISTINCT src_host, dst_host FROM e0),
    und AS (SELECT src_host AS a, dst_host AS b FROM d
            UNION SELECT dst_host, src_host FROM d),
    nodes AS (SELECT DISTINCT a AS host FROM und),
    l0 AS (SELECT host, host AS lab FROM nodes),
    {",".join(iters)}
    SELECT host, lab AS community FROM {prev}
    """


@register("docs_host_communities_lpa", _lpa_sql())
def docs_host_communities_lpa(spark, sf_dir):
    """Host-community detection by synchronous label propagation ({n}
    rounds, undirected link graph) — the near-linear community pass a
    crawl pipeline runs between per-host stats and per-edge mirrors:
    link-farm rings, mirror constellations and single-owner site families
    converge onto one label, giving dedup/mixing a SITE-FAMILY key that
    neither content similarity (docs_cross_source_dups) nor single edges
    (docs_host_cocitation) expose. Each round recounts neighbor labels
    (exact BIGINTs) and adopts the modal one, ties to the
    lexicographically smallest label — fully deterministic, so the DuckDB
    twin replays the identical trajectory as unrolled CTEs over the
    shared edge spelling; there is NO floating point anywhere. Shape at
    100 TB: per round, one equi-join of the edge relation against the
    host-sized label relation, one partial-agg count, one per-host
    window on the (host, neighbor-label)-bounded relation — iteration
    cost is O(edges), the graph never materializes beyond its edge list.
    Reference analogue: none — training-data pipeline extension."""
    e = _link_edges(spark).select("src_host", "dst_host").distinct()
    und = _lc(
        e.select(F.col("src_host").alias("a"), F.col("dst_host").alias("b"))
        .union(
            e.select(F.col("dst_host").alias("a"), F.col("src_host").alias("b"))
        )
        .distinct()
    )
    lab = (
        und.select(F.col("a").alias("host"))
        .distinct()
        .withColumn("lab", F.col("host"))
    )
    w = Window.partitionBy("host").orderBy(F.desc("c"), "lab")
    for _ in range(_LPA_ITERS):
        nbr = lab.select(F.col("host").alias("_nb"), "lab")
        cnt = (
            und.join(nbr, und.b == F.col("_nb"))
            .groupBy(F.col("a").alias("host"), "lab")
            .agg(F.count("*").alias("c"))
        )
        lab = _lc(
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("host", "lab")
        )
    return lab.select("host", F.col("lab").alias("community"))


docs_host_communities_lpa.__doc__ = docs_host_communities_lpa.__doc__.replace(
    "{n}", str(_LPA_ITERS)
)


@register(
    "events_funnel_stage_lags",
    f"""
    WITH f AS ({_FUNNEL_SQL}),
    lags AS (
      SELECT 'view_to_click' AS stage,
             epoch_us(first_click) - epoch_us(first_view) AS lag_us
      FROM f WHERE first_click IS NOT NULL
      UNION ALL
      SELECT 'click_to_purchase',
             epoch_us(first_purchase) - epoch_us(first_click)
      FROM f WHERE first_purchase IS NOT NULL)
    SELECT stage, CAST(count(*) AS BIGINT) AS n_users,
           round(CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY lag_us)
                      AS DOUBLE) / 3600000000.0, 4) AS p50_hours,
           round(CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY lag_us)
                      AS DOUBLE) / 3600000000.0, 4) AS p90_hours
    FROM lags GROUP BY stage
    """,
)
def events_funnel_stage_lags(spark, sf_dir):
    """Per-stage funnel velocity — median and p90 time spent between
    consecutive funnel stages (first view → first qualifying click →
    first qualifying purchase, the events_funnel ordering), the companion
    number to the funnel's conversion COUNTS: two funnels with identical
    drop-off can hide a 10× latency difference, and stage lag is what a
    UX/checkout change actually moves. Reuses the funnel's stacked-window
    spelling (ONE user_id exchange); lags ride as EXACT integer micros
    into percentile_disc (an actual observed value, never midpoint
    interpolation — the cdc_payload_size_profile contract) and convert
    to hours only at the rounded output. Shape at 100 TB: the funnel
    relation is users-sized; the percentile runs per 2-row group.
    Reference analogue: none — training-data pipeline extension."""
    staged = (
        _funnel_firsts(T(spark, sf_dir, "events"))
        .select("user_id", "first_view", "first_click", "first_purchase")
        .distinct()
    )
    lag1 = F.unix_micros(F.col("first_click").cast("timestamp")) - \
        F.unix_micros(F.col("first_view").cast("timestamp"))
    lag2 = F.unix_micros(F.col("first_purchase").cast("timestamp")) - \
        F.unix_micros(F.col("first_click").cast("timestamp"))
    # stack (not a union of two filters): a union re-executes the whole
    # stacked-window subtree once per branch — two scans, two exchanges
    lags = (
        staged.select(lag1.alias("_l1"), lag2.alias("_l2"))
        .select(
            F.expr(
                "stack(2, 'view_to_click', _l1, 'click_to_purchase', _l2) "
                "AS (stage, lag_us)"
            )
        )
        .filter(F.col("lag_us").isNotNull())
    )
    hours = 3600000000.0
    return lags.groupBy("stage").agg(
        F.count("*").alias("n_users"),
        F.round(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY lag_us)")
            .cast("double") / hours, 4,
        ).alias("p50_hours"),
        F.round(
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY lag_us)")
            .cast("double") / hours, 4,
        ).alias("p90_hours"),
    )


@register(
    "docs_length_outliers_mad",
    """
    WITH med AS (
      SELECT lang,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars) AS med
      FROM documents GROUP BY lang),
    dev AS (
      SELECT d.lang, d.n_chars, m.med, abs(d.n_chars - m.med) AS dev
      FROM documents d JOIN med m ON d.lang = m.lang),
    mad AS (
      SELECT lang, percentile_disc(0.5) WITHIN GROUP (ORDER BY dev) AS mad
      FROM dev GROUP BY lang)
    SELECT dev.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(dev.med) AS BIGINT) AS med_chars,
           CAST(max(mad.mad) AS BIGINT) AS mad_chars,
           CAST(count(*) FILTER (WHERE dev.dev > 5 * mad.mad) AS BIGINT)
             AS n_outliers,
           round(CAST(count(*) FILTER (WHERE dev.dev > 5 * mad.mad)
                      AS DOUBLE) / count(*), 4) AS outlier_share
    FROM dev JOIN mad ON dev.lang = mad.lang
    GROUP BY dev.lang
    """,
)
def docs_length_outliers_mad(spark, sf_dir):
    """Robust per-language length-outlier screen — median/MAD instead of
    mean/σ (a handful of giant concatenation pages inflates σ enough to
    hide ITSELF; the median absolute deviation does not move), flagging
    docs beyond 5 MAD as the truncation/concatenation-artifact candidates
    a cleaning pass reviews. Entirely INTEGER arithmetic: median and MAD
    are percentile_disc over exact BIGINT lengths (an observed value,
    never interpolated), the 5·MAD threshold compares ints, and the one
    division rounds last — no FP dial anywhere. Shape at 100 TB: two
    langs-keyed percentile aggs with the langs-sized medians broadcast
    back between them; never a window over documents. Reference
    analogue: none — training-data pipeline extension."""
    d = T(spark, sf_dir, "documents")
    med = d.groupBy("lang").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)")
        .alias("med")
    )
    dev = d.join(F.broadcast(med), "lang").select(
        "lang", "n_chars", "med",
        F.abs(F.col("n_chars") - F.col("med")).alias("dev"),
    )
    mad = dev.groupBy("lang").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dev)")
        .alias("mad")
    )
    out = F.count(F.when(F.col("dev") > 5 * F.col("mad"), 1))
    return (
        dev.join(F.broadcast(mad), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("med").cast("long").alias("med_chars"),
            F.max("mad").cast("long").alias("mad_chars"),
            out.alias("n_outliers"),
            F.round(out.cast("double") / F.count("*"), 4)
            .alias("outlier_share"),
        )
    )


@register(
    "docs_dup_rate_curve",
    """
    WITH h AS (
      SELECT md5(text) AS h,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':curve'),
                                 1, 8) AS BIGINT) % 100 AS b
      FROM documents),
    qs AS (SELECT unnest([25, 50, 75, 100]) AS q),
    member AS (
      SELECT CAST(q AS BIGINT) AS pct, h
      FROM h JOIN qs ON h.b < qs.q),
    uniq AS (SELECT DISTINCT pct, h FROM member)
    SELECT m.pct,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(u.n_unique) AS BIGINT) AS n_unique,
           round(1.0 - CAST(max(u.n_unique) AS DOUBLE) / count(*), 4)
             AS dup_rate
    FROM member m
    JOIN (SELECT pct, count(*) AS n_unique FROM uniq GROUP BY pct) u
      ON m.pct = u.pct
    GROUP BY m.pct
    """,
)
def docs_dup_rate_curve(spark, sf_dir):
    """Dedup-rate scaling curve — exact-duplicate share measured on NESTED
    deterministic 25/50/75/100% subsamples (md5-keyed, so the 25% sample
    is contained in the 50% one): duplicate rate GROWS with corpus size
    (every new shard collides with everything already crawled), and this
    curve is how a pipeline extrapolates dedup cost and post-dedup yield
    to the next 10× of crawl — the DataComp/RefinedWeb-style scaling
    diagnostic, measured the cheap way before MinHash runs. Exact BIGINT
    counts (two-phase distinct per the repo rule, never countDistinct on
    the Spark side) to one rounded division; subset membership is a
    bounded 4× fan-out join against a literal, never a resample. Shape at
    100 TB: one (pct, hash) dedup + two partial-agg counts. Reference
    analogue: none — training-data pipeline extension."""
    d = T(spark, sf_dir, "documents")
    h = d.select(
        F.md5("text").alias("h"),
        (
            F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                              F.lit(":curve"))), 1, 8), 16, 10)
            .cast("long") % 100
        ).alias("b"),
    )
    qs = spark.createDataFrame([(25,), (50,), (75,), (100,)], "q int")
    member = h.join(F.broadcast(qs), h.b < qs.q).select(
        F.col("q").cast("long").alias("pct"), "h"
    )
    uniq = member.dropDuplicates(["pct", "h"]).groupBy("pct").agg(
        F.count("*").alias("n_unique")
    )
    return (
        member.groupBy("pct")
        .agg(F.count("*").alias("n_docs"))
        .join(F.broadcast(uniq), "pct")
        .select(
            "pct", "n_docs", "n_unique",
            F.round(
                F.lit(1.0) - F.col("n_unique").cast("double") / F.col("n_docs"),
                4,
            ).alias("dup_rate"),
        )
    )


_PQ_M_SWEEP = (4, 8, 16)
_PQ_SWEEP_K = 5


def _pq_m_sweep_sql() -> str:
    """DuckDB twin of ann_recall_vs_m: the full PQ encode + ADC retrieval
    replayed per m (the _PQ_CODE_CTES chain parameterized by subspace
    count), scored against one exact squared-L2 top-k."""
    blocks, unions = [], []
    for m in _PQ_M_SWEEP:
        sub = 64 // m
        blocks.append(f"""
    cb{m} AS (
      SELECT s, j,
             list_transform(list_slice(v, s*{sub} + 1, s*{sub} + {sub}),
                            x -> CAST(x AS DOUBLE)) AS cvec
      FROM ranked CROSS JOIN (SELECT unnest(range(0, {m})) AS s) subs
      WHERE j < 16),
    dists{m} AS (
      SELECT e.vec_id, c.s, c.j,
             list_reduce([0.0::DOUBLE] || list_transform(range(1, {sub + 1}),
               i -> (CAST(e.embedding[CAST(c.s*{sub} + i AS INT)] AS DOUBLE)
                      - c.cvec[CAST(i AS INT)])
                  * (CAST(e.embedding[CAST(c.s*{sub} + i AS INT)] AS DOUBLE)
                      - c.cvec[CAST(i AS INT)])),
               (a, b) -> a + b) AS d
      FROM embeddings e CROSS JOIN cb{m} c),
    codes{m} AS (
      SELECT vec_id, s, j AS code FROM (
        SELECT vec_id, s, j,
               row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
        FROM dists{m}) WHERE rn = 1),
    terms{m} AS (
      SELECT qd.vec_id AS query_id, c.vec_id AS vec_id, qd.s, qd.d
      FROM dists{m} qd JOIN codes{m} c ON qd.s = c.s AND qd.j = c.code
      WHERE qd.vec_id < 32 AND c.vec_id <> qd.vec_id),
    approx{m} AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY a, vec_id) AS rn
        FROM (SELECT query_id, vec_id,
                     list_reduce([0.0::DOUBLE] || list(d ORDER BY s),
                                 (x, y) -> x + y) AS a
              FROM terms{m} GROUP BY query_id, vec_id))
      WHERE rn <= {_PQ_SWEEP_K})""")
        unions.append(f"""
        SELECT {m} AS m,
               (SELECT CAST(count(*) AS BIGINT)
                FROM exact e JOIN approx{m} a
                  ON e.query_id = a.query_id AND e.vec_id = a.vec_id)
                 AS n_hits""")
    return f"""
    WITH ranked AS (
      SELECT embedding AS v,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
               - 1 AS j
      FROM embeddings),
    q AS (SELECT vec_id AS query_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
          FROM embeddings WHERE vec_id < 32),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, e.vec_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 list_reduce([0.0::DOUBLE] || list_transform(range(1, 65),
                   i -> (q.qv[CAST(i AS INT)]
                          - CAST(e.embedding[CAST(i AS INT)] AS DOUBLE))
                      * (q.qv[CAST(i AS INT)]
                          - CAST(e.embedding[CAST(i AS INT)] AS DOUBLE))),
                   (x, y) -> x + y), e.vec_id) AS rn
        FROM q, embeddings e WHERE e.vec_id <> q.query_id)
      WHERE rn <= {_PQ_SWEEP_K}),
    nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM q),
    {",".join(blocks)},
    sweep AS ({" UNION ALL ".join(unions)})
    SELECT m, n_queries, n_hits,
           round(CAST(n_hits AS DOUBLE) / (n_queries * {_PQ_SWEEP_K}), 4)
             AS mean_recall
    FROM sweep CROSS JOIN nq
    """


@register("ann_recall_vs_m", _pq_m_sweep_sql())
def ann_recall_vs_m(spark, sf_dir):
    """PQ recall@{k} as a FUNCTION of the subspace count m (4, 8, 16) —
    the PQ family's dial CURVE, symmetric to ann_recall_vs_nprobe on the
    IVF side: m fixes the code size (m bytes/vector — the at-rest storage
    of a 10^10-vector index) and more subspaces buy finer quantization at
    linearly more ADC adds, so THIS table prices bytes-vs-recall for the
    production setting. Exact side is squared-L2 top-{k} (the metric ADC
    approximates — a cosine exact side would mis-score the quantizer on
    unnormalized vectors); both sides fold distances left-to-right over
    identical index order, so doubles match bitwise and ranks break ties
    on vec_id. Per m, the encode chain is the _PQ_CODE_CTES recipe
    re-derived (md5-pinned codebook, argmin ties to the smaller code);
    hits aggregate as exact BIGINTs to one rounded division. Shape at
    100 TB: encode is map-side per m; ADC joins the 32-query broadcast
    against the coded corpus — never vector×vector. Reference analogue:
    none — training-data similarity-search scale path."""
    from .functions.similarity import pq_codebooks, pq_topk

    emb = T(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 32)
    nq = q.agg(F.count("*").alias("n_queries"))
    qd = q.select(
        F.col("vec_id").alias("query_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qv"),
    )
    ev = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("evd"),
    )
    d2 = F.aggregate(
        F.zip_with("qv", "evd", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy("d2", "vec_id")
    exact = (
        ev.join(F.broadcast(qd), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _PQ_SWEEP_K)
        .select("query_id", "vec_id")
    )
    per_m = []
    for m in _PQ_M_SWEEP:
        cbs = pq_codebooks(emb, m=m, n_codes=16)
        approx = pq_topk(emb, q, cbs, k=_PQ_SWEEP_K).select(
            "query_id", "vec_id"
        )
        per_m.append(
            exact.join(approx, ["query_id", "vec_id"])
            .agg(F.count("*").alias("n_hits"))
            .select(F.lit(m).alias("m"), "n_hits")
        )
    sweep = per_m[0]
    for x in per_m[1:]:
        sweep = sweep.unionAll(x)
    return sweep.crossJoin(F.broadcast(nq)).select(
        "m", "n_queries", "n_hits",
        F.round(
            F.col("n_hits").cast("double")
            / (F.col("n_queries") * F.lit(_PQ_SWEEP_K)),
            4,
        ).alias("mean_recall"),
    )


ann_recall_vs_m.__doc__ = ann_recall_vs_m.__doc__.replace(
    "{k}", str(_PQ_SWEEP_K)
)


@register(
    "orders_pareto_share",
    """
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders GROUP BY o_custkey),
    ranked AS (
      SELECT o_custkey, rev_cents,
             row_number() OVER (ORDER BY rev_cents DESC, o_custkey) AS rn
      FROM per_cust),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(rev_cents) AS BIGINT) AS total_cents
      FROM per_cust)
    SELECT (n_customers + 4) // 5 AS top_n, n_customers,
           round(CAST(total_cents AS DOUBLE) / 100.0, 2) AS total_revenue,
           round(CAST(sum(CASE WHEN rn <= (n_customers + 4) // 5
                               THEN rev_cents ELSE 0 END) AS DOUBLE)
                 / 100.0, 2) AS top_revenue,
           round(CAST(sum(CASE WHEN rn <= (n_customers + 4) // 5
                               THEN rev_cents ELSE 0 END) AS DOUBLE)
                 / total_cents, 4) AS top_share
    FROM ranked CROSS JOIN tot
    GROUP BY n_customers, total_cents
    """,
)
def orders_pareto_share(spark, sf_dir):
    """Pareto revenue concentration — the share of total order revenue
    held by the top 20% of customers (the 80/20 health check; the orders
    twin of cdc_hot_keys' key-concentration profile and events_user_gini's
    inequality index). Determinism: revenue rides as EXACT integer cents
    (2-decimal prices probed; per-row round·cast then BIGINT sums — order
    independent), the 20% cutoff is pure integer arithmetic ((n+4)//5 —
    never ceil of a float), and division happens once at the rounded
    output. Shape at 100 TB (round-5 verdict task 3 — NO global rank
    window): group the customers-sized relation by DISTINCT rev_cents
    value (cnt customers share it), distributed-prefix-sum cnt over
    DESCENDING revenue (ordered_prefix_sum on the negated value — range
    repartition + per-partition scan, no single-task sort), so offset =
    #customers strictly richer; the value's rank block
    [offset+1, offset+cnt] contributes clamp(top_n − offset, 0, cnt)
    customers to the top-20% cut — tie-exact vs the oracle's row_number
    spelling because tied customers carry identical rev_cents. Reference
    analogue: none — relational coverage (SURVEY §2.6)."""
    from .functions.packing import ordered_prefix_sum

    o = T(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
        .alias("rev_cents")
    )
    g = per_cust.groupBy("rev_cents").agg(F.count("*").alias("cnt"))
    ps = ordered_prefix_sum(
        g.select((-F.col("rev_cents")).alias("neg_cents"), "cnt"),
        "neg_cents",
        "cnt",
    )
    tot = g.agg(
        F.sum("cnt").cast("long").alias("n_customers"),
        F.sum(F.col("rev_cents") * F.col("cnt")).cast("long")
        .alias("total_cents"),
    )
    top_n = F.expr("(n_customers + 4) div 5")
    in_top = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("cnt"), top_n - F.col("offset")),
    )
    top_cents = F.sum(in_top * (-F.col("neg_cents")))
    return (
        ps.crossJoin(F.broadcast(tot))
        .groupBy("n_customers", "total_cents")
        .agg(top_cents.alias("_top_cents"))
        .select(
            F.expr("(n_customers + 4) div 5").alias("top_n"),
            "n_customers",
            F.round(F.col("total_cents").cast("double") / 100.0, 2)
            .alias("total_revenue"),
            F.round(F.col("_top_cents").cast("double") / 100.0, 2)
            .alias("top_revenue"),
            F.round(
                F.col("_top_cents").cast("double") / F.col("total_cents"), 4
            ).alias("top_share"),
        )
    )


@register(
    "docs_filter_spearman",
    f"""
    WITH u AS ({_UNIGRAM_SQL}),
    q AS ({_NBQ_SQL}),
    j AS (
      SELECT u.doc_id, u.cross_entropy, q.score
      FROM u JOIN q ON u.doc_id = q.doc_id),
    r AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY cross_entropy, doc_id)
                  AS BIGINT) AS r_ce,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                  AS BIGINT) AS r_q
      FROM j)
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           round(1.0 - CAST(6 * sum((r_ce - r_q) * (r_ce - r_q)) AS DOUBLE)
                       / (count(*) * (CAST(count(*) AS BIGINT)
                                      * count(*) - 1)), 6) AS spearman_rho
    FROM r
    """,
)
def docs_filter_spearman(spark, sf_dir):
    """Quality-filter agreement as a Spearman rank correlation — do the
    unigram-LM perplexity proxy (low cross-entropy = good) and the
    Naive-Bayes curated-vs-crawl classifier (high log-odds = good) ORDER
    the corpus the same way? The calibration evidence for stacking or
    substituting quality filters (docs_dedup_method_agreement's
    counterpart on the quality axis): ρ near 1 means the cheap filter can
    gate for the expensive one; ρ collapsing between crawls means the
    filters disagree exactly where re-tuning is due. Determinism: both
    scores are the catalog entries' own rounded outputs; ranks are
    row_number with doc_id tiebreaks (a deterministic total order on BOTH
    engines — with ties this is the fixed-tiebreak variant of Spearman,
    identically defined on both sides); Σd² and n(n²−1) are exact BIGINTs
    to ONE rounded division. Shape at 100 TB: the per-doc score relations
    are the existing two-phase aggregations; the rank windows run on the
    docs-sized joined relation. Reference analogue: none — training-data
    pipeline extension."""
    u = QUERIES["docs_unigram_logprob"](spark, sf_dir).select(
        "doc_id", "cross_entropy"
    )
    q = QUERIES["docs_quality_classifier"](spark, sf_dir).select(
        "doc_id", "score"
    )
    j = u.join(q, "doc_id")
    r = j.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy("cross_entropy", "doc_id"))
        .cast("long")
        .alias("r_ce"),
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "doc_id"))
        .cast("long")
        .alias("r_q"),
    )
    n = F.count("*")
    d2 = F.sum((F.col("r_ce") - F.col("r_q")) * (F.col("r_ce") - F.col("r_q")))
    return r.agg(
        n.alias("n_docs"),
        F.round(
            F.lit(1.0)
            - (6 * d2).cast("double")
            / (n * (n.cast("long") * n - 1)),
            6,
        ).alias("spearman_rho"),
    )


_KEYKM_PERIOD_US = 21_600_000_000  # 6-hour periods over the ~3-day fixture


@register(
    "cdc_key_survival_km",
    f"""
    WITH ev AS (
      SELECT * FROM read_parquet('{_REPLAY_EVENTS}/*.parquet')
      WHERE {_COMMITTED_DML}),
    pk AS (
      SELECT url, min(epoch_us(warc_ts)) AS f,
             min(CASE WHEN op = 'd' THEN epoch_us(warc_ts) END) AS death
      FROM ev GROUP BY url),
    tot AS (SELECT max(epoch_us(warc_ts)) AS horizon FROM ev),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS n_keys FROM pk),
    du AS (
      SELECT (coalesce(death, horizon) - f) // {_KEYKM_PERIOD_US} AS period,
             death IS NOT NULL AS died
      FROM pk CROSS JOIN tot),
    ex AS (
      SELECT period, CAST(count(*) AS BIGINT) AS n_exits,
             CAST(count(*) FILTER (WHERE died) AS BIGINT) AS n_deaths
      FROM du GROUP BY period),
    ar AS (
      SELECT period, n_deaths,
             n_keys - (CAST(sum(n_exits) OVER (ORDER BY period) AS BIGINT)
                       - n_exits) AS at_risk
      FROM ex CROSS JOIN nt),
    d AS (
      SELECT period, n_deaths, at_risk,
             round(CAST(n_deaths AS DOUBLE) / at_risk, 6) AS hazard
      FROM ar WHERE n_deaths > 0),
    fs AS (
      SELECT list(CAST(1 AS DOUBLE) - hazard ORDER BY period) AS fctrs
      FROM d),
    idx AS (
      SELECT *, CAST(row_number() OVER (ORDER BY period) AS INTEGER) AS i
      FROM d)
    SELECT period, at_risk, n_deaths, hazard,
           round(list_reduce(list_prepend(CAST(1 AS DOUBLE), fctrs[1:i]),
                             (a, b) -> a * b), 6) AS survival
    FROM idx CROSS JOIN fs
    """,
)
def cdc_key_survival_km(spark, sf_dir):
    """Kaplan–Meier survival of CDC KEYS — time from a url's first change
    to its FIRST source delete, right-censored at the stream horizon for
    keys never deleted: the page-lifetime curve that sizes tombstone
    retention (purge_tombstones horizons), recrawl budgets and state-size
    forecasts, and the CDC twin of customer_survival_km (same estimator,
    the event is now a 'd' op in the change log). Naive "share of keys
    deleted so far" understates lifetimes exactly like the naive churn
    read — censored keys are not deaths, and KM is the correction.
    Determinism: lifetimes are exact integer micros bucketed by integer
    division into 6-hour periods; at-risk is a cumulative BIGINT window
    on the periods-bounded exit relation; hazards round 6 dp; the
    survival product folds a period-sorted factor array seeded 1.0
    identically on both engines (multiplication only — no libm in the
    fold). Shape at 100 TB: one url-keyed partial agg, then everything
    runs on ~dozens of period rows. Reference analogue: none —
    training-data pipeline extension over the committed change log."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _committed_dml(spark)
    us = F.unix_micros(F.col("warc_ts").cast("timestamp"))
    pk = ev.groupBy("url").agg(
        F.min(us).alias("f"),
        F.min(F.when(F.col("op") == "d", us)).alias("death"),
    )
    tot = ev.agg(F.max(us).alias("horizon"))
    nt = pk.agg(F.count("*").alias("n_keys"))
    du = pk.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(nt)).select(
        F.expr(
            f"(coalesce(death, horizon) - f) div {_KEYKM_PERIOD_US}"
        ).alias("period"),
        F.col("death").isNotNull().alias("died"),
        "n_keys",
    )
    ex = du.groupBy("period", "n_keys").agg(
        F.count("*").alias("n_exits"),
        F.count(F.when(F.col("died"), F.lit(1))).alias("n_deaths"),
    )
    return _km_curve(ex, "period", "n_keys")


@register(
    "events_session_gap_sweep",
    """
    WITH ts2 AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev
      FROM events),
    gaps AS (SELECT unnest([15, 30, 60]) AS gap_min),
    marks AS (
      SELECT g.gap_min, user_id,
             CASE WHEN prev IS NULL
                       OR epoch_us(ts) - epoch_us(prev)
                          > CAST(g.gap_min AS BIGINT) * 60000000
                  THEN 1 ELSE 0 END AS is_start
      FROM ts2 CROSS JOIN gaps g)
    SELECT CAST(gap_min AS BIGINT) AS gap_min,
           CAST(sum(is_start) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(count(*) AS DOUBLE) / sum(is_start), 4)
             AS events_per_session
    FROM marks GROUP BY gap_min
    """,
)
def events_session_gap_sweep(spark, sf_dir):
    """Sessionization-gap sensitivity — session counts and mean session
    size as a FUNCTION of the inactivity gap (15/30/60 min): the dial
    CURVE behind events_session_stats' single setting (the
    nprobe/band-S-curve pattern applied to sessionization). The right
    gap is where the curve stops moving — a knee at 30 min says the
    15-min cut fragments real visits, a flat 30→60 says 30 is safe —
    and this table is that evidence. ONE per-user lag window feeds all
    three gap settings (the fan-out is a 3-row literal cross join over
    the already-lagged relation — the window never re-runs per
    setting); session starts are integer-micro gap compares summed as
    exact BIGINTs to one rounded division. Shape at 100 TB: one user
    exchange + a 3×-bounded fan-out into a 3-row rollup. Reference
    analogue: none — training-data pipeline extension."""
    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts2 = ev.select(
        "user_id", "ts", "event_id", F.lag("ts").over(w).alias("prev")
    )
    gaps = spark.createDataFrame([(15,), (30,), (60,)], "gap_min int")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    marks = ts2.crossJoin(F.broadcast(gaps)).select(
        F.col("gap_min").cast("long").alias("gap_min"),
        F.when(
            F.col("prev").isNull()
            | (
                (us("ts") - us("prev"))
                > F.col("gap_min").cast("long") * 60000000
            ),
            1,
        ).otherwise(0).alias("is_start"),
    )
    return marks.groupBy("gap_min").agg(
        F.sum("is_start").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
        F.round(
            F.count("*").cast("double") / F.sum("is_start"), 4
        ).alias("events_per_session"),
    )


@register(
    "docs_edit_distance_verify",
    f"""
    WITH pairs AS ({_simhash_sql(3)})
    SELECT p.a, p.b, p.hamming,
           CAST(levenshtein(substr(da.text, 1, 400),
                            substr(db.text, 1, 400)) AS BIGINT)
             AS edit_distance,
           round(1.0 - CAST(levenshtein(substr(da.text, 1, 400),
                                        substr(db.text, 1, 400)) AS DOUBLE)
                 / greatest(length(substr(da.text, 1, 400)),
                            length(substr(db.text, 1, 400))), 4)
             AS edit_similarity
    FROM pairs p
    JOIN documents da ON p.a = da.doc_id
    JOIN documents db ON p.b = db.doc_id
    WHERE p.a < 1000 AND p.b < 1000
    """,
)
def docs_edit_distance_verify(spark, sf_dir):
    """CHARACTER-level verification of SimHash candidates — Levenshtein
    distance and normalized edit similarity over each candidate pair's
    400-char prefixes: the third verification family next to token-set
    Jaccard and token-multiset (weighted) Jaccard, and the one that
    catches what both miss — small in-word edits (OCR noise, template
    variable substitutions, typo farms) barely move token sets but show
    up directly in edit distance. Prefix-bounded because Levenshtein is
    O(len²) per pair: 400 chars caps the cell count while covering the
    head where templated pages differ; the candidate set is the blocked
    SimHash join (never all-pairs) further bounded to the id range the
    other pair queries use. Determinism: Levenshtein is an exact integer
    on both engines (same unicode-codepoint definition), lengths are
    exact ints, one division rounds last. Reference analogue: none —
    training-data pipeline extension."""
    d = T(spark, sf_dir, "documents")
    # both pair endpoints are < 1000, so restricting the corpus BEFORE
    # signature/pair generation yields the identical pair set at a
    # fraction of the blocked-join cost (the oracle filters post-join —
    # same set either way)
    d1k = d.filter(F.col("doc_id") < 1000)
    pairs = S.simhash_near_dup_pairs(d1k, "doc_id", "text", max_hamming=3)
    da = d.select(F.col("doc_id").alias("_a"),
                  F.substring("text", 1, 400).alias("ta"))
    db = d.select(F.col("doc_id").alias("_b"),
                  F.substring("text", 1, 400).alias("tb"))
    lev = F.levenshtein("ta", "tb")
    return (
        pairs.join(da, pairs.a == da._a)
        .join(db, pairs.b == db._b)
        .select(
            "a", "b", "hamming",
            lev.cast("long").alias("edit_distance"),
            F.round(
                F.lit(1.0)
                - lev.cast("double")
                / F.greatest(F.length("ta"), F.length("tb")),
                4,
            ).alias("edit_similarity"),
        )
    )


@register(
    "nation_trade_balance",
    """
    WITH exp AS (
      SELECT n_name AS nation,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS export_cents
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name),
    imp AS (
      SELECT n_name AS nation,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                           AS BIGINT)) AS BIGINT) AS import_cents
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY n_name)
    SELECT coalesce(exp.nation, imp.nation) AS nation,
           round(CAST(coalesce(export_cents, 0) AS DOUBLE) / 100.0, 2)
             AS export_revenue,
           round(CAST(coalesce(import_cents, 0) AS DOUBLE) / 100.0, 2)
             AS import_revenue,
           round(CAST(coalesce(export_cents, 0) - coalesce(import_cents, 0)
                      AS DOUBLE) / 100.0, 2) AS trade_balance
    FROM exp FULL OUTER JOIN imp ON exp.nation = imp.nation
    """,
)
def nation_trade_balance(spark, sf_dir):
    """Per-nation trade balance — discounted revenue SUPPLIED by each
    nation's suppliers (exports) vs revenue CONSUMED by its customers
    (imports), and the net: the two-role rollup that TPC-H Q7's
    nation-pair flows aggregate away (a nation can be a net producer or
    net consumer; the FULL OUTER join keeps nations playing only one
    role). Determinism: per-item revenue is cent-rounded THEN summed as
    BIGINTs (the defined metric — identical per-row IEEE product and
    round on both engines; BIGINT summation is order-independent), so
    the balance is an exact integer subtraction down to the output
    rounds. Shape at 100 TB: exports join broadcast dims only; imports
    pay the one l_orderkey shuffle; both rollups are nations-sized and
    the outer join runs on 25 rows. Reference analogue: none —
    relational coverage (SURVEY §2.6)."""
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
    ).cast("long")
    exp = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(cents).alias("export_cents"))
    )
    imp = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation_i"))
        .agg(F.sum(cents).alias("import_cents"))
    )
    j = exp.join(imp, exp["nation"] == imp["nation_i"], "full_outer")
    to_d = lambda col: F.coalesce(F.col(col), F.lit(0)).cast("double")  # noqa: E731
    return j.select(
        F.coalesce(F.col("nation"), F.col("nation_i")).alias("nation"),
        F.round(to_d("export_cents") / 100.0, 2).alias("export_revenue"),
        F.round(to_d("import_cents") / 100.0, 2).alias("import_revenue"),
        F.round(
            (
                F.coalesce(F.col("export_cents"), F.lit(0))
                - F.coalesce(F.col("import_cents"), F.lit(0))
            ).cast("double") / 100.0, 2,
        ).alias("trade_balance"),
    )


@register(
    "supplier_return_rates",
    """
    WITH per_supp AS (
      SELECT s_suppkey, s_name,
             CAST(count(*) AS BIGINT) AS n_items,
             CAST(count(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT)
               AS n_returned
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_suppkey, s_name)
    SELECT s_suppkey, s_name, n_items, n_returned,
           round(CAST(n_returned AS DOUBLE) / n_items, 4) AS return_rate,
           round((CAST(n_returned AS DOUBLE) / n_items
                  + 1.9208 / n_items
                  - 1.96 * sqrt((CAST(n_returned AS DOUBLE) / n_items)
                                * (1.0 - CAST(n_returned AS DOUBLE) / n_items)
                                / n_items
                                + 0.9604 / (CAST(n_items AS DOUBLE)
                                            * n_items)))
                 / (1.0 + 3.8416 / n_items), 4) AS wilson_lower
    FROM per_supp
    """,
)
def supplier_return_rates(spark, sf_dir):
    """Supplier quality ranked the statistically honest way — per-supplier
    return rate (l_returnflag = 'R') with the WILSON LOWER BOUND of the
    rate (z = 1.96): ranking raw rates puts a 1-of-2 supplier above a
    40-of-100 one; the Wilson interval's lower bound shrinks small
    samples toward the prior and is the standard fix (the same reason
    docs_source_quality_prior shrinks empirical-Bayes style). Counts are
    exact BIGINTs; the Wilson formula is spelled with IDENTICAL
    association on both engines over those ints (z² = 3.8416, z²/2 =
    1.9208, z⁴/4 = 0.9604 as double literals; sqrt is IEEE-exact), so
    the 4 dp rounds see bit-identical doubles. Shape at 100 TB: one
    suppliers-keyed partial agg off the fact scan with the dim broadcast;
    the formula runs on the suppliers-sized relation. Reference analogue:
    none — relational coverage (SURVEY §2.6)."""
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    per = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.count("*").alias("n_items"),
            F.count(F.when(F.col("l_returnflag") == "R", 1))
            .alias("n_returned"),
        )
    )
    n = F.col("n_items")
    p = F.col("n_returned").cast("double") / n
    wilson = (
        p + F.lit(1.9208) / n
        - F.lit(1.96) * F.sqrt(
            p * (F.lit(1.0) - p) / n
            + F.lit(0.9604) / (n.cast("double") * n)
        )
    ) / (F.lit(1.0) + F.lit(3.8416) / n)
    return per.select(
        "s_suppkey", "s_name", "n_items", "n_returned",
        F.round(p, 4).alias("return_rate"),
        F.round(wilson, 4).alias("wilson_lower"),
    )


@register(
    "events_dow_hour_heatmap",
    """
    WITH t AS (
      SELECT CAST(date_diff('day', TIMESTAMP '2020-01-06 00:00:00',
                            date_trunc('day', ts)) % 7 AS BIGINT) AS dow,
             CAST(hour(ts) AS BIGINT) AS hour
      FROM events),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t)
    SELECT dow, hour, CAST(count(*) AS BIGINT) AS n_events,
           CAST((20000 * count(*) + n) // (2 * n) AS DOUBLE)
             / 10000.0 AS share
    FROM t CROSS JOIN tot GROUP BY dow, hour, n
    """,
)
def events_dow_hour_heatmap(spark, sf_dir):
    """Weekday×hour activity heatmap — the capacity-planning / bot-window
    grid behind events_hourly_seasonality's hour-only marginal (a pure
    hour profile averages weekend and weekday shapes together; the 7×24
    grid is what staffing, maintenance windows and anomaly baselines
    actually key on). CROSS-ENGINE DOW GOTCHA handled by construction:
    DuckDB's dayofweek is 0=Sunday while Spark's is 1=Sunday — instead of
    either builtin, the weekday is integer day-arithmetic from a pinned
    Monday epoch (2020-01-06), identical on both engines (0=Monday).
    Exact BIGINT counts; the 4dp share is integer half-up arithmetic
    ((2·10^4·k + n) div 2n — round(k/n, 4) on a double diverged between
    engines one ulp from a half boundary at the sf1 sweep). Shape at
    100 TB: one partial agg over a 168-cell grid plus a one-row total.
    Reference analogue: none — training-data pipeline extension."""
    ev = T(spark, sf_dir, "events")
    t = ev.select(
        (
            F.datediff(
                F.date_trunc("day", "ts").cast("date"),
                F.lit("2020-01-06").cast("date"),
            ) % 7
        ).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hour"),
    )
    tot = t.agg(F.count("*").alias("n"))
    return (
        t.crossJoin(F.broadcast(tot))
        .groupBy("dow", "hour", "n")
        .agg(F.count("*").alias("n_events"))
        .select(
            "dow", "hour", "n_events",
            (
                F.expr("(20000 * n_events + n) div (2 * n)")
                .cast("double") / 10000.0
            ).alias("share"),
        )
    )


@register(
    "docs_vocab_coverage_curve",
    """
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
      FROM documents),
    tf AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tok
           WHERE length(token) > 0 GROUP BY token),
    tot AS (SELECT CAST(sum(freq) AS BIGINT) AS n FROM tf),
    head AS (SELECT token, freq FROM tf ORDER BY freq DESC, token LIMIT 20),
    ranked AS (
      SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rnk
      FROM head),
    ks AS (SELECT unnest([5, 10, 20]) AS k)
    SELECT CAST(k AS BIGINT) AS k,
           CAST(sum(CASE WHEN rnk <= k THEN freq ELSE 0 END) AS BIGINT)
             AS covered_tokens,
           n AS total_tokens,
           round(CAST(sum(CASE WHEN rnk <= k THEN freq ELSE 0 END)
                      AS DOUBLE) / n, 4) AS coverage
    FROM ranked CROSS JOIN ks CROSS JOIN tot
    GROUP BY k, n
    """,
)
def docs_vocab_coverage_curve(spark, sf_dir):
    """Vocabulary coverage curve — the share of total token MASS the top-k
    vocabulary head covers (k = 5/10/20 on this corpus's ~31-token
    vocabulary; thousands in production): the vocab-sizing evidence a
    tokenizer budget decision reads (docs_zipf_fit says how fast the tail
    decays; THIS says what a cutoff actually costs in unknown-token
    mass, and its drift between crawls flags vocabulary churn). Scale
    shape: the head is a TakeOrderedAndProject of k_max rows off the
    vocab-sized tf relation — the rank window then runs on ≤ k_max rows,
    NEVER a global sort of the full vocabulary (the docs_zipf_fit rule).
    Exact BIGINT masses to one rounded division per k. Reference
    analogue: none — training-data pipeline extension."""
    d = T(spark, sf_dir, "documents")
    tf = (
        S.tokens(d, None, "text", distinct=False)
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    tot = tf.agg(F.sum("freq").cast("long").alias("n"))
    head = tf.orderBy(F.desc("freq"), "token").limit(20)
    ranked = head.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("freq"), "token"))
    )
    ks = spark.createDataFrame([(5,), (10,), (20,)], "k int")
    covered = F.sum(
        F.when(F.col("rnk") <= F.col("k"), F.col("freq")).otherwise(F.lit(0))
    ).cast("long")
    return (
        ranked.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(tot))
        .groupBy(F.col("k").cast("long").alias("k"), "n")
        .agg(covered.alias("covered_tokens"))
        .select(
            "k", "covered_tokens", F.col("n").alias("total_tokens"),
            F.round(
                F.col("covered_tokens").cast("double") / F.col("n"), 4
            ).alias("coverage"),
        )
    )


@register(
    "cdc_key_reactivation",
    f"""
    WITH ev AS (
      SELECT url, op, warc_ts, seq
      FROM read_parquet('{_REPLAY_EVENTS}/*.parquet')
      WHERE {_COMMITTED_DML}),
    o AS (
      SELECT url, op, warc_ts,
             lag(op) OVER (PARTITION BY url
                           ORDER BY warc_ts, seq) AS prev_op,
             lag(warc_ts) OVER (PARTITION BY url
                                ORDER BY warc_ts, seq) AS prev_ts
      FROM ev),
    re AS (
      SELECT url, epoch_us(warc_ts) - epoch_us(prev_ts) AS gap_us
      FROM o WHERE prev_op = 'd' AND op <> 'd'),
    k AS (SELECT CAST(count(DISTINCT url) AS BIGINT) AS n_keys FROM ev),
    rk AS (
      SELECT CAST(count(DISTINCT url) AS BIGINT) AS n_keys_reactivated,
             CAST(count(*) AS BIGINT) AS n_reactivations,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_us) AS p50_gap
      FROM re)
    SELECT n_keys, n_keys_reactivated, n_reactivations,
           round(CAST(n_keys_reactivated AS DOUBLE) / n_keys, 4)
             AS reactivation_share,
           round(CAST(p50_gap AS DOUBLE) / 3600000000.0, 4) AS p50_gap_hours
    FROM k CROSS JOIN rk
    """,
)
def cdc_key_reactivation(spark, sf_dir):
    """Delete→re-create (reactivation) profile over the committed change
    log — how often a deleted key COMES BACK and how quickly: exactly the
    lifecycle transition that makes tombstone retention hard (purge too
    early and a late re-create's LWW context is gone; engine_delete_where
    and the purge-resurrection fix exist because of this case), so its
    empirical rate and median gap are the data behind the
    purge_tombstones horizon next to cdc_key_survival_km's death curve.
    Determinism: transitions are detected by ONE per-key lag window
    ((warc_ts, seq) total order); gaps ride as exact integer micros into
    percentile_disc; counts are exact BIGINTs (the Spark side counts
    distinct keys two-phase per the repo rule). Shape at 100 TB: one url
    exchange, then the reactivation relation is tiny. Reference
    analogue: delete+insert handling in the transaction buffer
    (SURVEY §2.2 P7) — this is its corpus-level statistics twin."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _committed_dml(spark).select("url", "op", "warc_ts", "seq")
    w = Window.partitionBy("url").orderBy("warc_ts", "seq")
    o = ev.select(
        "url", "op", "warc_ts",
        F.lag("op").over(w).alias("prev_op"),
        F.lag("warc_ts").over(w).alias("prev_ts"),
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    re_ = o.filter(
        (F.col("prev_op") == "d") & (F.col("op") != "d")
    ).select("url", (us("warc_ts") - us("prev_ts")).alias("gap_us"))
    k = ev.select("url").distinct().agg(F.count("*").alias("n_keys"))
    rk = re_.agg(
        F.count("*").alias("n_reactivations"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_us)")
        .alias("p50_gap"),
    )
    rku = re_.select("url").distinct().agg(
        F.count("*").alias("n_keys_reactivated")
    )
    return (
        k.crossJoin(F.broadcast(rk))
        .crossJoin(F.broadcast(rku))
        .select(
            "n_keys", "n_keys_reactivated", "n_reactivations",
            F.round(
                F.col("n_keys_reactivated").cast("double") / F.col("n_keys"),
                4,
            ).alias("reactivation_share"),
            F.round(
                F.col("p50_gap").cast("double") / 3600000000.0, 4
            ).alias("p50_gap_hours"),
        )
    )


@register(
    "docs_dedup_quality_gain",
    f"""
    WITH RECURSIVE {_components_cte()},
    {_SURVIVOR_RANKED_CTES},
    removed AS (SELECT doc_id FROM ranked WHERE rn > 1),
    b AS (
      SELECT CAST(count(*) AS BIGINT) AS n_before,
             CAST(sum(_q * 2) AS BIGINT) AS q2_before
      FROM quality),
    a AS (
      SELECT CAST(count(*) AS BIGINT) AS n_after,
             CAST(sum(_q * 2) AS BIGINT) AS q2_after
      FROM quality LEFT JOIN removed USING (doc_id)
      WHERE removed.doc_id IS NULL)
    SELECT n_before, n_after,
           round(CAST(q2_before AS DOUBLE) / (2 * n_before), 6)
             AS mean_q_before,
           round(CAST(q2_after AS DOUBLE) / (2 * n_after), 6)
             AS mean_q_after,
           round(CAST(q2_after AS DOUBLE) / (2 * n_after)
                 - CAST(q2_before AS DOUBLE) / (2 * n_before), 6)
             AS quality_gain
    FROM b CROSS JOIN a
    """,
)
def docs_dedup_quality_gain(spark, sf_dir):
    """The QUALITY payoff of keep-one dedup — corpus mean quality score
    before vs after removing non-survivor cluster members: duplicates
    are disproportionately templated/low-quality pages, so dedup should
    RAISE mean quality, and this number (next to
    docs_dedup_savings_bytes' storage payoff) is the evidence; a
    near-zero gain says the near-dup clusters are duplicating GOOD pages
    (syndication) rather than spam, which changes what keep-one should
    keep. Reuses the survivor-ranking CTEs (one spelling with the policy
    itself). Determinism: _q takes exact half-integer values, so 2·_q
    sums as exact BIGINTs and each mean is ONE division rounded 6 dp.
    Shape at 100 TB: component machinery aside, two counts over the
    docs-sized quality relation with a broadcast anti-join. Reference
    analogue: none — training-data pipeline extension."""
    d = T(spark, sf_dir, "documents")
    pairs = S.simhash_near_dup_pairs(d, "doc_id", "text", max_hamming=3)
    comps = S.connected_components(pairs, "a", "b")
    q = TXT.quality_score(F.col("text"))
    quality = d.select("doc_id", q.cast("double").alias("_q"))
    members = quality.join(
        comps.withColumnRenamed("id", "doc_id"), "doc_id"
    )
    w = Window.partitionBy("component").orderBy(F.desc("_q"), "doc_id")
    removed = (
        members.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("doc_id")
    )
    b = quality.agg(
        F.count("*").alias("n_before"),
        F.sum(F.col("_q") * 2).cast("long").alias("q2_before"),
    )
    a = (
        quality.join(F.broadcast(removed), "doc_id", "left_anti")
        .agg(
            F.count("*").alias("n_after"),
            F.sum(F.col("_q") * 2).cast("long").alias("q2_after"),
        )
    )
    mb = F.col("q2_before").cast("double") / (2 * F.col("n_before"))
    ma = F.col("q2_after").cast("double") / (2 * F.col("n_after"))
    return b.crossJoin(a).select(
        "n_before", "n_after",
        F.round(mb, 6).alias("mean_q_before"),
        F.round(ma, 6).alias("mean_q_after"),
        F.round(ma - mb, 6).alias("quality_gain"),
    )


@register(
    "events_attribution_agreement",
    """
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id, user_id, ts, event_type
          FROM events WHERE event_type <> 'purchase'),
    touched AS (
      SELECT p.purchase_id, c.event_type,
             row_number() OVER (PARTITION BY p.purchase_id
                                ORDER BY c.ts, c.event_id) AS rn_first,
             row_number() OVER (PARTITION BY p.purchase_id
                                ORDER BY c.ts DESC, c.event_id DESC)
               AS rn_last
      FROM p JOIN c ON p.user_id = c.user_id
       AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 72 HOUR),
    ft AS (SELECT purchase_id, event_type AS first_touch
           FROM touched WHERE rn_first = 1),
    lt AS (SELECT purchase_id, event_type AS last_touch
           FROM touched WHERE rn_last = 1),
    m AS (SELECT f.purchase_id, first_touch, last_touch
          FROM ft f JOIN lt l ON f.purchase_id = l.purchase_id),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM m)
    SELECT first_touch, last_touch,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(CAST(count(*) AS DOUBLE) / n, 4) AS share
    FROM m CROSS JOIN tot GROUP BY first_touch, last_touch, n
    """,
)
def events_attribution_agreement(spark, sf_dir):
    """Attribution-model migration matrix — for every purchase with a 72 h
    touch history, the (first-touch channel, last-touch channel) cell it
    lands in: the diagonal is where first- and last-touch attribution
    AGREE, and the off-diagonal mass is exactly the budget that would
    move if the business switched models (the attribution twin of
    docs_dedup_method_agreement — before arguing U-shaped vs last-touch,
    measure how often it matters). Both endpoint picks ride the SAME
    purchase-keyed exchange ((ts, event_id) total order, one window pair
    like the funnel's); counts are exact BIGINTs to one rounded share.
    Shape at 100 TB: the candidate join is the user-equi-keyed bounded
    time-range join (per-user state lookback-bounded), the matrix is
    event-types²-sized. Reference analogue: none — training-data/events
    extension."""
    ev = T(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") != "purchase").select(
        F.col("event_id").alias("c_id"), F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"), "event_type",
    )
    touched = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 72 HOURS")),
    ).select("purchase_id", "event_type", "c_ts", "c_id")
    wf = Window.partitionBy("purchase_id").orderBy("c_ts", "c_id")
    wl = Window.partitionBy("purchase_id").orderBy(
        F.desc("c_ts"), F.desc("c_id")
    )
    marked = touched.select(
        "purchase_id", "event_type",
        F.row_number().over(wf).alias("rn_first"),
        F.row_number().over(wl).alias("rn_last"),
    )
    ft = marked.filter(F.col("rn_first") == 1).select(
        "purchase_id", F.col("event_type").alias("first_touch")
    )
    lt = marked.filter(F.col("rn_last") == 1).select(
        F.col("purchase_id").alias("_p"),
        F.col("event_type").alias("last_touch"),
    )
    m = ft.join(lt, F.col("purchase_id") == F.col("_p"))
    tot = m.agg(F.count("*").alias("n"))
    return (
        m.crossJoin(F.broadcast(tot))
        .groupBy("first_touch", "last_touch", "n")
        .agg(F.count("*").alias("n_purchases"))
        .select(
            "first_touch", "last_touch", "n_purchases",
            F.round(F.col("n_purchases").cast("double") / F.col("n"), 4)
            .alias("share"),
        )
    )


@register(
    "cdc_url_depth_profile",
    f"""
    WITH ev AS (
      SELECT url, op FROM read_parquet('{_REPLAY_EVENTS}/*.parquet')
      WHERE {_COMMITTED_DML}),
    per_url AS (
      SELECT url, CAST(count(*) AS BIGINT) AS n_changes FROM ev
      GROUP BY url),
    d AS (
      SELECT CAST(length(regexp_replace(url, '^https?://[^/]*', ''))
                  - length(replace(regexp_replace(url, '^https?://[^/]*', ''),
                                   '/', '')) AS BIGINT) AS depth,
             n_changes
      FROM per_url),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_urls FROM per_url)
    SELECT depth, CAST(count(*) AS BIGINT) AS n_urls_at_depth,
           CAST(sum(n_changes) AS BIGINT) AS n_changes,
           round(CAST(count(*) AS DOUBLE) / n_urls, 4) AS url_share
    FROM d CROSS JOIN tot GROUP BY depth, n_urls
    """,
)
def cdc_url_depth_profile(spark, sf_dir):
    """URL path-depth profile of the change log — how deep in the site
    tree the churning pages live, with change volume per depth: crawl
    schedulers budget by depth (shallow pages = hubs worth frequent
    recrawl; deep pages = long tail), and a depth-mix shift between
    crawls flags a scope change before volume alarms fire. Depth is the
    '/'-count of the post-host path spelled as length minus
    slash-stripped length (identical on both engines — Spark's
    regexp_replace is global by default while DuckDB's needs a flag, so
    the counting uses plain replace instead). Exact BIGINT counts to one
    rounded share. Shape at 100 TB: one url-keyed partial agg, then a
    depths-sized rollup. Reference analogue: none — training-data
    pipeline extension over the committed change log."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _committed_dml(spark)
    per_url = ev.groupBy("url").agg(F.count("*").alias("n_changes"))
    path = F.regexp_replace("url", "^https?://[^/]*", "")
    depth = (
        F.length(path) - F.length(F.regexp_replace(path, "/", ""))
    ).cast("long")
    d = per_url.select(depth.alias("depth"), "n_changes")
    tot = per_url.agg(F.count("*").alias("n_urls"))
    return (
        d.crossJoin(F.broadcast(tot))
        .groupBy("depth", "n_urls")
        .agg(
            F.count("*").alias("n_urls_at_depth"),
            F.sum("n_changes").cast("long").alias("n_changes"),
        )
        .select(
            "depth", "n_urls_at_depth", "n_changes",
            F.round(
                F.col("n_urls_at_depth").cast("double") / F.col("n_urls"), 4
            ).alias("url_share"),
        )
    )


@register(
    "cdc_schema_adoption",
    f"""
    WITH ev AS (
      SELECT url, op, warc_ts, seq, schema_ver
      FROM read_parquet('{_REPLAY_EVENTS}/*.parquet')
      WHERE {_COMMITTED_DML}),
    w AS (
      SELECT url, schema_ver FROM (
        SELECT url, schema_ver, op,
               row_number() OVER (PARTITION BY url
                                  ORDER BY warc_ts DESC, seq DESC) AS rn
        FROM ev) WHERE rn = 1 AND op <> 'd'),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM w)
    SELECT CAST(schema_ver AS BIGINT) AS schema_ver,
           CAST(count(*) AS BIGINT) AS n_live_rows,
           round(CAST(count(*) AS DOUBLE) / n, 4) AS live_share
    FROM w CROSS JOIN tot GROUP BY schema_ver, n
    """,
)
def cdc_schema_adoption(spark, sf_dir):
    """Schema-version adoption across LIVE state — what share of current
    winners was last written under each dictionary version: the migration
    progress monitor after a DDL (cdc_ddl_timeline profiles the LOG's
    volume per era; this profiles what SURVIVES — a column added three
    versions ago that still covers only 40% of live rows tells every
    consumer how much NULL back-fill to expect, the practical question
    behind the per-version CASE in the replay projection). Winners
    resolve by the standard (warc_ts, seq) LWW rank; counts are exact
    BIGINTs to one rounded share. Shape at 100 TB: one url-keyed rank
    (the LWW exchange) into a versions-sized rollup. Reference analogue:
    schema_ver stamping per record (SystemTransaction dictionary replay,
    SURVEY §2.9) — this is its state-side statistics twin."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = _committed_dml(spark)
    w = Window.partitionBy("url").orderBy(
        F.desc("warc_ts"), F.desc("seq")
    )
    winners = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "d"))
        .select("url", "schema_ver")
    )
    tot = winners.agg(F.count("*").alias("n"))
    return (
        winners.crossJoin(F.broadcast(tot))
        .groupBy(F.col("schema_ver").cast("long").alias("schema_ver"), "n")
        .agg(F.count("*").alias("n_live_rows"))
        .select(
            "schema_ver", "n_live_rows",
            F.round(F.col("n_live_rows").cast("double") / F.col("n"), 4)
            .alias("live_share"),
        )
    )


# =========================================================================
# TPC-H shape coverage round 4: q9 / q11 / q12 / q20 as _variant entries
# (the testdata has no partsupp table and lineitem carries no
# l_shipmode/l_commitdate/l_receiptdate, so each entry keeps the QUERY
# SHAPE of its TPC-H original — the thing §2.6 coverage is about — with
# the missing columns substituted from what the tables do carry; the
# substitution is stated per entry)
# =========================================================================


@register(
    "tpch_q9_variant_profit",
    """
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)
                                - p_retailprice * 0.1 * l_quantity) * 100)
                         AS BIGINT)) AS DOUBLE) / 100.0 AS sum_profit
    FROM lineitem
    JOIN part     ON p_partkey  = l_partkey
    JOIN supplier ON s_suppkey  = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON n_nationkey = s_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, year(o_orderdate)
    """,
)
def tpch_q9_variant_profit(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit by nation and year) — the widest
    aggregate join in the suite: the lineitem fact joined to FOUR dims
    plus orders, grouped on (supplier nation, order year). Variant
    substitution: no partsupp table, so supply cost is the proxy
    ``p_retailprice * 0.1 * l_quantity`` (same arithmetic shape as
    ps_supplycost * l_quantity). Plan shape at 100 TB: the p_name filter
    prunes part FIRST, then part/supplier/nation broadcast (dims), so the
    only shuffle is lineitem⋈orders on orderkey; profit rides as per-row
    EXACT integer cents summed as BIGINT (the q11/pareto rule — a
    post-agg round(sum(double), 2) diverged between engines in the last
    rounding digit at the sf1 sweep: FP summation order), one exact
    division at output. Reference analogue: none — relational coverage
    (SURVEY §2.6)."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    s = T(spark, sf_dir, "supplier")
    o = T(spark, sf_dir, "orders")
    n = T(spark, sf_dir, "nation")
    profit_cents = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.col("p_retailprice") * F.lit(0.1) * F.col("l_quantity")
        ) * 100,
        0,
    ).cast("long")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .join(o, F.col("l_orderkey") == o["o_orderkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            (F.sum(profit_cents).cast("double") / 100.0).alias("sum_profit")
        )
    )


@register(
    "tpch_q11_variant_important_parts",
    """
    WITH val AS (
      SELECT l_partkey,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(l_quantity AS BIGINT)) AS v_cents
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON n_nationkey = s_nationkey
      WHERE n_name IN ('NATION_3', 'NATION_7')
      GROUP BY l_partkey)
    SELECT l_partkey AS partkey,
           round(v_cents / 100.0, 2) AS part_value
    FROM val, (SELECT sum(v_cents) AS total_cents FROM val) t
    WHERE v_cents * 500 > total_cents
    """,
)
def tpch_q11_variant_important_parts(spark, sf_dir):
    """TPC-H Q11 shape (important stock identification): per-group value
    compared against a FRACTION OF THE GLOBAL TOTAL — the
    group-HAVING-vs-global-scalar pattern (a correlated scalar subquery in
    the original). Variant substitution: no partsupp, so "stock value" is
    the shipped value sum(l_extendedprice·l_quantity) of parts supplied
    by two nations' suppliers; the fraction is 1/500. Determinism: value
    rides as EXACT integer cents (round(price·100) per row, then integer
    sums), so the threshold comparison cannot flip on FP summation order
    — the float division to part_value happens only at output. Shape at
    100 TB: one partial-agg groupBy, the one-row total crossJoin-broadcast
    back (the repo's one-row totals idiom), integer predicate, no second
    scan. Reference analogue: none — relational coverage (SURVEY §2.6)."""
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    cents = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * F.col("l_quantity").cast("long")
    )
    val = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("l_partkey")
        .agg(F.sum(cents).alias("v_cents"))
    )
    tot = val.agg(F.sum("v_cents").alias("total_cents"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("v_cents") * 500 > F.col("total_cents"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round(F.col("v_cents") / 100.0, 2).alias("part_value"),
        )
    )


@register(
    "tpch_q12_variant_priority_by_class",
    """
    SELECT l_returnflag AS line_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY line_class
    """,
)
def tpch_q12_variant_priority_by_class(spark, sf_dir):
    """TPC-H Q12 shape (shipping modes and order priority): per-category
    TWO-CASE conditional counts splitting order priorities into
    critical (1-URGENT/2-HIGH) vs the rest. Variant substitution: the
    testdata lineitem has no l_shipmode/l_commitdate/l_receiptdate, so
    the category is l_returnflag and the date predicate is a ship-year
    window. Plan shape: the year filter prunes the fact scan, one
    shuffle on orderkey, both CASEs ride the same partial agg — exact
    integer counts, no FP anywhere. Reference analogue: none —
    relational coverage (SURVEY §2.6)."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = T(spark, sf_dir, "orders")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.col("l_returnflag").alias("line_class"))
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~crit, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q20_variant_excess_shippers",
    """
    WITH red_parts AS (
      SELECT p_partkey FROM part WHERE p_name LIKE 'red%'),
    heavy AS (
      SELECT l_suppkey FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM red_parts)
        AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l_suppkey
      HAVING sum(l_quantity) > 300)
    SELECT s_suppkey, s_name
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
    WHERE n_name IN ('NATION_1', 'NATION_2')
      AND s_suppkey IN (SELECT l_suppkey FROM heavy)
    """,
)
def tpch_q20_variant_excess_shippers(spark, sf_dir):
    """TPC-H Q20 shape (potential part promotion): the NESTED SEMI-JOIN
    CHAIN — suppliers IN (shippers of parts IN (name-filtered parts)
    above a quantity threshold), restricted to two nations. Variant
    substitution: no partsupp, so "excess stock" is a shipped-quantity
    HAVING over the 1997 window (l_quantity is integral — the threshold
    is exact). Plan shape at 100 TB: part filter → broadcast semi-join
    into lineitem (date-pruned scan), partial-agg HAVING to a
    supplier-key set, then TWO stacked left-semi joins into the supplier
    dim — no row ever widens, each stage only shrinks. Reference
    analogue: none — relational coverage (SURVEY §2.6)."""
    p = T(spark, sf_dir, "part").filter(F.col("p_name").startswith("red"))
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    heavy = (
        li.join(
            F.broadcast(p.select(F.col("p_partkey").alias("l_partkey"))),
            "l_partkey", "left_semi",
        )
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 300)
        .select("l_suppkey")
    )
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    return (
        s.join(
            F.broadcast(n.select(F.col("n_nationkey").alias("s_nationkey"))),
            "s_nationkey", "left_semi",
        )
        .join(
            F.broadcast(heavy.select(F.col("l_suppkey").alias("s_suppkey"))),
            "s_suppkey", "left_semi",
        )
        .select("s_suppkey", "s_name")
    )


# =========================================================================
# Incarnation / source-rewind monitoring (round 4; reference
# OracleIncarnation.cpp + Parser.cpp:1239-1244 resetlogs guard)
# =========================================================================

# Rewound-log fixture: the four replay files PLUS a "restored source" file
# that re-covers the first file's seq range with DIFFERENT bindings (urls
# suffixed, timestamps shifted) — the merged-two-histories corruption the
# engine-side incarnation guard refuses at ingest and this monitor
# surfaces after the fact.
_REWOUND_SPEC = dict(base=_REPLAY_SPEC, marker="rewound_v1")
_REWOUND_EVENTS = fixture_path(_REPLAY_BASE, "replay_rewound", _REWOUND_SPEC)


def _gen_rewound(d: str) -> None:
    import shutil as _shutil

    import pyarrow as pa
    import pyarrow.compute as _pc
    import pyarrow.parquet as _pq

    src = _ensure_replay_events()
    for f in sorted(os.listdir(src)):
        if f.endswith(".parquet"):
            _shutil.copy(os.path.join(src, f), os.path.join(d, f))
    first = sorted(
        f for f in os.listdir(src) if f.endswith(".parquet")
    )[0]
    t = _pq.read_table(os.path.join(src, first))
    # same seqs, conflicting bindings: url gets a branch suffix, warc_ts
    # shifts forward one hour — a restored source re-writing history
    ui = t.schema.get_field_index("url")
    t = t.set_column(
        ui, t.schema.field(ui),
        _pc.binary_join_element_wise(t["url"].cast(pa.string()),
                                     "?branch=2", ""),
    )
    wi = t.schema.get_field_index("warc_ts")
    t = t.set_column(
        wi, t.schema.field(wi),
        _pc.add(t["warc_ts"], pa.scalar(3_600_000_000, pa.duration("us"))),
    )
    _pq.write_table(t, os.path.join(d, "events-rewind.parquet"),
                    compression="snappy")


def _ensure_rewound_events() -> str:
    return ensure_fixture(_REWOUND_EVENTS, _gen_rewound)


_ensure_rewound_events()


@register(
    "cdc_incarnation_conflicts",
    f"""
    WITH ev AS (
      SELECT seq, url, warc_ts
      FROM read_parquet('{_REWOUND_EVENTS}/*.parquet')
      WHERE {_COMMITTED_DML}),
    conf AS (
      SELECT seq,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
             CAST(count(DISTINCT warc_ts) AS BIGINT) AS n_versions
      FROM ev GROUP BY seq
      HAVING count(DISTINCT url || '|' || CAST(epoch_us(warc_ts) AS VARCHAR)) > 1)
    SELECT CAST(count(*) AS BIGINT) AS n_conflicting_seqs,
           CAST(coalesce(sum(n_rows), 0) AS BIGINT) AS n_rows_involved,
           CAST(coalesce(min(seq), -1) AS BIGINT) AS first_seq,
           CAST(coalesce(max(seq), -1) AS BIGINT) AS last_seq
    FROM conf
    """,
)
def cdc_incarnation_conflicts(spark, sf_dir):
    """Post-hoc source-rewind monitor — the audit twin of the engine's
    ingest-time incarnation guard (streaming/pipeline._incarnation_guard;
    reference resetlogs check, Parser.cpp:1239-1244): a seq value (the LSN)
    must bind to exactly ONE event; a seq carrying two different
    (url, warc_ts) bindings is two histories occupying one log position —
    the restored-source signature. Runs over the deliberately REWOUND
    fixture (replay files + a branch file re-covering file 0's seqs with
    shifted bindings) so the monitor provably fires: n_conflicting_seqs
    equals the rewound file's committed rows. Shape at 100 TB: one
    partial-agg groupBy(seq) + a HAVING on distinct binding count, then a
    4-column roll-up — the cdc_seq_gaps family shape. Reference analogue:
    OracleIncarnation.cpp incarnation scan (SURVEY §2.1 S3)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # warc_ts NOT NULL on BOTH sides: Spark's concat_ws would count a
    # null-ts binding as 'url|' while the SQL twin's || propagates
    # NULL and drops it — keep the binding universe identical
    ev = _committed_dml(spark, _ensure_rewound_events()).select(
        "seq", "url", "warc_ts"
    )
    conf = (
        ev.groupBy("seq")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("url").alias("n_urls"),
            F.countDistinct("warc_ts").alias("n_versions"),
            F.countDistinct(
                F.concat_ws(
                    "|", F.col("url"),
                    F.unix_micros(F.col("warc_ts")).cast("string"),
                )
            ).alias("_nb"),
        )
        .filter(F.col("_nb") > 1)
    )
    return conf.agg(
        F.count("*").alias("n_conflicting_seqs"),
        F.coalesce(F.sum("n_rows"), F.lit(0)).cast("long")
        .alias("n_rows_involved"),
        F.coalesce(F.min("seq"), F.lit(-1)).cast("long").alias("first_seq"),
        F.coalesce(F.max("seq"), F.lit(-1)).cast("long").alias("last_seq"),
    )


# =========================================================================
# Charset decode through the Spark data path (round 5; driver-visible
# evidence for the F2 parity tables — reference src/locales/CharacterSet*
# — which were previously pytest-only)
# =========================================================================

# (charset, hex) fixture spanning every table family the engine carries:
# 2-byte rectangular planes (SJIS/KSC/GBK/BIG5/CGB), the EUC SS2/SS3
# 1/3-byte planes, the ZHT32EUC 4-byte plane, vendor single-byte rules
# (GBK 0x80 euro, SJIS half-width katakana), generated 8-bit tables
# (ISO8859P5/PC866/PC852/TIS), documented stock-codec DIVERGENCES (WE8HP
# typographic marks; MSWIN1252 undefined→C1 passthrough), and the JVM
# builtin fast path (AL32UTF8). Expected text is hardcoded as literals in
# BOTH engines below; the byte-for-byte authority for every cell is
# tests/test_charset_parity.py's audit against the reference transcription.
_CHARSET_FIXTURE = [
    ("JA16SJIS", "82a0", "あ"),
    ("JA16SJIS", "b1", "ｱ"),           # half-width katakana single byte
    ("JA16SJIS", "8160", "〜"),     # wave dash
    ("JA16SJIS", "93fa967b8cea", "日本語"),
    ("JA16EUC", "a4a2", "あ"),
    ("JA16EUC", "8ea1", "｡"),      # SS2: half-width ideographic stop
    ("JA16EUC", "8fb0a1", "丂"),        # SS3 3-byte plane (JIS X 0212)
    ("KO16KSC5601", "b0a1", "가"),
    ("KO16MSWIN949", "b0a1", "가"),
    ("ZHS16GBK", "c4e3", "你"),
    ("ZHS16GBK", "80", "€"),            # GBK single-byte euro rule
    ("ZHS16CGB231280", "d6d0", "中"),
    ("ZHT16BIG5", "a440", "一"),
    ("ZHT16MSWIN950", "a440", "一"),
    ("ZHT32EUC", "8ea2c4ea", "犌"),     # 4-byte plane 2
    ("WE8MSWIN1252", "80", "€"),
    ("WE8MSWIN1252", "81", "\x81"),     # undefined position → C1 control
    ("WE8ISO8859P15", "a4", "€"),
    ("WE8HP", "5e", "‸"),          # Oracle WE8HP ≠ stock hp_roman8
    ("WE8HP", "60", "‘"),
    ("WE8HP", "7e", "∼"),
    ("CL8ISO8859P5", "d0", "а"),
    ("RU8PC866", "e0", "р"),
    ("EE8PC852", "9b", "Ť"),
    ("TH8TISASCII", "a1", "ก"),
    ("AL32UTF8", "e38182", "あ"),
]

_CHARSET_SQL = "SELECT charset, hex, text FROM (VALUES " + ", ".join(
    "('%s', '%s', %s)" % (
        cs, hx,
        "chr(129)" if txt == "\x81" else "'" + txt + "'",
    )
    for cs, hx, txt in _CHARSET_FIXTURE
) + ") AS t(charset, hex, text)"


@register("engine_charset_decode", _CHARSET_SQL)
def engine_charset_decode(spark, sf_dir):
    """F2 charset decode driven through the SPARK data path: every byte
    string rides a DataFrame binary column (unhex) into
    functions.decoders.charset_decode — the Arrow-batched pandas_udf
    kernel over the reference-transcribed parity tables
    (charset_tables.py / charset_tables_2b.py; reference
    src/locales/CharacterSet8bit.cpp + CharacterSet16bit.cpp +
    CharacterSetJA16EUC.cpp etc.) — and must reproduce the hardcoded
    expected literals the DuckDB twin carries. The cells deliberately
    include documented stock-codec divergences (WE8HP typographic marks,
    MSWIN1252 C1 passthrough, the GBK 0x80 euro), so a silent fallback to
    a stock Python codec FAILS this gate rather than passing quietly.
    Byte-for-byte authority across all 124 sets remains
    tests/test_charset_parity.py; this entry makes the Spark-side plumbing
    (binary column → vectorized decode → string) driver-visible. Shape at
    100 TB: one pandas_udf per charset partition-parallel over the rows —
    the identical kernel the CDC text path uses. Reference analogue:
    SURVEY §2.7 F2."""
    from .functions.decoders import charset_decode

    rows = [(cs, hx) for cs, hx, _ in _CHARSET_FIXTURE]
    # one partition: a 26-row literal fixture must not fan 16 unions across
    # default parallelism (at production scale the decode rides the CDC
    # pipeline's existing partitioning, not this harness frame)
    df = spark.createDataFrame(rows, "charset string, hex string").coalesce(1)
    parts = []
    for cs in sorted({cs for cs, _, _ in _CHARSET_FIXTURE}):
        sub = df.filter(F.col("charset") == cs)
        parts.append(
            sub.withColumn("text", charset_decode(F.unhex("hex"), cs))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("charset", "hex", "text")
