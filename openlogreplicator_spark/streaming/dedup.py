"""Streaming first-seen dedup (exact dedup on ingest, SURVEY.md §2.8 T5).

Training-data pipelines dedup at INGEST time — a document whose content hash
was already admitted must never reach the corpus again, across micro-batches
and across restarts. This is the streaming twin of the batch
``docs_exact_dedup`` / ``docs_incremental_dedup`` catalog entries: the
reference's analogue is idempotent confirm/re-delivery suppression keyed by
scn/seq (WriterStream confirm protocol; our sinks/network.py), here the key
is a content fingerprint instead of a position.

Scale stance: state per key is ONE boolean (bytes, not rows), so the state
store grows with DISTINCT content hashes only — at 10^9+ keys switch the
state store provider to RocksDB (`spark.sql.streaming.stateStore.
providerClass`) and the operator shape is unchanged. The group-by shuffle is
on the dedup key, which is a hash — uniformly distributed, skew-free by
construction (the hot-template problem dies at the md5).

Semantics: FIRST-SEEN wins. Within one micro-batch the winner is the
smallest row by ``order_cols`` (deterministic under re-delivery); a key
arriving again in any later epoch is dropped even if its order value is
lower (late data loses — ingest dedup is arrival-ordered by design; use the
batch LWW/net-effect operators when event-time order must win).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_DDL = "seen boolean"


def first_seen_only(
    stream: DataFrame, key_col: str, order_cols: list[str]
) -> DataFrame:
    """Keyed stateful dedup over a streaming DataFrame.

    Emits exactly one row per distinct ``key_col`` value — the first-seen
    one (min ``order_cols`` within the first micro-batch that carries the
    key). Output schema == input schema, so this composes anywhere in a
    streaming plan. Checkpointed: suppression survives restarts.
    """
    cols = stream.columns

    def _dedup(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            for _ in pdfs:  # drain; key already admitted in a prior epoch
                pass
            yield pd.DataFrame(columns=cols)
            return
        best: pd.DataFrame | None = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            cand = pdf.sort_values(order_cols, kind="stable").head(1)
            if best is None or tuple(cand.iloc[0][order_cols]) < tuple(
                best.iloc[0][order_cols]
            ):
                best = cand
        if best is None:
            yield pd.DataFrame(columns=cols)
            return
        state.update((True,))
        yield best[cols]

    return stream.groupBy(key_col).applyInPandasWithState(
        _dedup,
        outputStructType=stream.schema,
        stateStructType=STATE_DDL,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
