"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship query (CDC last-writer-wins snapshot) at sf0.001.
queries()      — one entry per implemented operator (SURVEY.md §2 + the
                 training-data ops), each (spark, sf_dir) -> DataFrame.
oracle_sql()   — DuckDB-runnable ANSI SQL twin per query (same column names);
                 engine-native ops without a SQL form are omitted → the
                 driver records a rows-only check for those.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from openlogreplicator_spark.queries import ORACLES, QUERIES  # noqa: E402

# Curated head (round-5 verdict task 2): the driver's correctness gate
# samples the FIRST 50 entries of queries() in dict order, so the head is
# arranged to span one flagship per family — CDC core + monitors, the
# engine replay/DDL/sink-parity family, charset decode, the streaming
# gates, every dedup family, ANN, BPE/quality/PII, and a TPC-H spread —
# instead of the round-1 registration order. The full 294-entry catalog is
# unchanged and still strict-gated locally (scripts/check_oracle.py).
_CURATED_HEAD = [
    # CDC core operators + monitors
    "cdc_lww_latest", "cdc_lww_latest_salted", "cdc_op_counts",
    "cdc_watermark", "cdc_seq_gaps", "cdc_incarnation_conflicts",
    "cdc_ddl_timeline", "cdc_changed_columns", "cdc_json_messages",
    "cdc_sessions",
    # engine replay / apply / sink-parity family
    "engine_replay_state", "engine_replay_state_asof",
    "engine_replay_state_streaming", "engine_replay_state_wap",
    "engine_posdelete_replay", "engine_bootstrap_tail",
    "engine_rollback_replay", "engine_partial_update_state",
    "engine_kafka_replay", "engine_network_replay",
    "engine_dictionary_log", "engine_commit_log", "engine_metrics_log",
    "engine_drop_readd_column", "engine_import_replay",
    "engine_charset_decode",
    # structured-streaming stateful gates
    "engine_stream_windowed_agg", "engine_stream_session_window",
    "engine_stream_interval_join", "engine_stream_first_seen",
    "engine_stream_suppressed_replay", "engine_stream_dedup_watermark",
    # dedup families
    "docs_exact_dedup", "docs_minhash_near_dup", "docs_simhash_near_dup",
    "docs_ngram_jaccard_near_dup", "docs_weighted_jaccard_dups",
    "docs_containment_dups", "docs_exact_substr_removal", "docs_semdedup",
    "docs_bloom_incremental_dedup",
    # ANN family
    "ann_cosine_topk", "ann_lsh_topk", "ann_ivf_topk", "ann_ivfpq_topk",
    # text pipeline + quality
    "docs_bpe_learn", "docs_gopher_filter", "docs_pii_redact",
    # TPC-H spread
    "tpch_q1_pricing", "tpch_q9_variant_profit",
]


def _check_curated_head(head: list[str], catalog: dict) -> None:
    """The head must be exactly 50 distinct catalog names: a renamed or
    deleted entry would otherwise drop out of the driver's sample silently."""
    missing = [n for n in head if n not in catalog]
    if len(head) != 50 or len(set(head)) != len(head) or missing:
        raise ValueError(
            f"_CURATED_HEAD must be 50 distinct catalog entries: "
            f"{len(head)} names, {len(set(head))} distinct, missing {missing}"
        )


_check_curated_head(_CURATED_HEAD, QUERIES)


def _curated(d: dict) -> dict:
    head = {n: d[n] for n in _CURATED_HEAD if n in d}
    return {**head, **{n: v for n, v in d.items() if n not in head}}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: LWW compaction (the engine's core operator) at sf0.001."""
    return QUERIES["cdc_lww_latest"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _curated(QUERIES)


def oracle_sql() -> dict[str, str]:
    return _curated(ORACLES)
