"""Streaming dimension-lookup enrichment over a CDC-maintained LakeTable.

The canonical downstream CDC consumer shape (Flink lookup join / Kafka
Streams KTable-stream join): a fact stream is enriched per micro-batch with
the CURRENT replicated state of a dimension table this engine maintains.
Reference analogue: the reference's clients consume the replicated state
through the confirm-protocol sinks (src/stream, WriterStream.cpp) and keep
their own materialized copy; here the Spark consumer joins against the lake
table directly.

Temporal semantics are read-committed per epoch: each micro-batch joins the
newest PUBLISHED snapshot at enrich time — never a torn mid-commit view
(snapshot publication is one atomic ``_current`` swap), never a silently
stale cache (the staleness bound is one tiny version-file read per epoch).

Scale shape: the dimension state is resolved once per SNAPSHOT VERSION, not
per epoch — unchanged epochs reuse the cached, already-LWW-resolved
DataFrame (read-time compaction of dirty buckets happens once per reload,
amortized across every epoch until the next commit). Small dimensions are
broadcast into the fact join; the bound comes FREE from manifest row counts
(``LakeTable.rows_in_buckets`` — no count job), and above the budget the
join falls back to a shuffle hash join on the key. Fact volume never feeds
the decision and never moves for the dimension's sake.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..lake.table import LakeTable
from ..operators.merge import read_state

# Broadcasting a dimension costs ~(row width)·rows on every executor; the
# budget keeps well under typical auto-broadcast limits for the replay
# schema. At 10^9-key dimensions the shuffle join engages instead. Read at
# refresh time, so tests can monkeypatch it.
DEFAULT_BROADCAST_ROWS = 2_000_000


class DimensionLookup:
    """Per-epoch lookup join against the current state of a lake table.

    ``dim_cols`` maps output column name → table column (a plain list means
    identity mapping); the key column always rides along. Use inside
    ``foreachBatch`` (or any per-epoch loop): call :meth:`enrich` per batch —
    it refreshes the cached state iff the table's published snapshot version
    advanced since the last epoch.
    """

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        dim_cols: dict[str, str] | list[str] | None = None,
        stamp_version: bool = False,
        pin_version: int | None = None,
    ) -> None:
        self.spark = spark
        self.table_path = table_path
        self.pin_version = pin_version
        if dim_cols is None:
            self.dim_cols: dict[str, str] | None = None
        elif isinstance(dim_cols, dict):
            self.dim_cols = dict(dim_cols)
        else:
            self.dim_cols = {c: c for c in dim_cols}
        self.stamp_version = stamp_version
        self._version: int | None = None
        self._state: DataFrame | None = None
        self._key_col: str | None = None
        self._broadcastable = False

    # ------------------------------------------------------------- refresh
    def version(self) -> int | None:
        """Snapshot version currently served (None before first refresh)."""
        return self._version

    def refresh(self) -> int:
        """Load the newest published snapshot if it advanced; returns the
        served version. One version-file read when nothing changed.
        ``pin_version`` freezes the lookup at one snapshot — reproducible
        enrichment (time travel / WAP-audit runs) instead of read-committed
        tracking."""
        current = (
            self.pin_version
            if self.pin_version is not None
            else LakeTable.current_version(self.table_path)
        )
        if current == self._version and self._state is not None:
            return current
        table = LakeTable.load(self.spark, self.table_path, version=current)
        self._key_col = table.key_col
        state = read_state(table)
        if self.dim_cols is not None:
            state = state.select(
                table.key_col,
                *[
                    F.col(src).alias(out)
                    for out, src in self.dim_cols.items()
                    if out != table.key_col
                ],
            )
        else:
            # user-facing payload: drop the engine's internal columns
            state = state.drop("_op", "_seq")
        new_state = state.persist()
        new_state.count()  # materialize before dropping the old cache
        if self._state is not None:
            self._state.unpersist()
        self._state = new_state
        self._version = current
        self._broadcastable = (
            table.rows_in_buckets() <= DEFAULT_BROADCAST_ROWS
        )
        return current

    # -------------------------------------------------------------- enrich
    def enrich(
        self,
        facts: DataFrame,
        fact_key: str | None = None,
        how: str = "left",
    ) -> DataFrame:
        """Join ``facts`` against the current dimension state.

        ``fact_key`` names the fact-side key column when it differs from the
        table's key column. Left join by default: facts without a live
        dimension row survive with nulls (the dimension may legitimately
        lag — its own CDC feed commits independently)."""
        self.refresh()
        assert self._state is not None and self._key_col is not None
        dim = self._state
        if self.stamp_version:
            dim = dim.withColumn("_dim_version", F.lit(self._version))
        if self._broadcastable:
            dim = F.broadcast(dim)
        if fact_key is not None and fact_key != self._key_col:
            dim = dim.withColumnRenamed(self._key_col, fact_key)
            return facts.join(dim, on=fact_key, how=how)
        return facts.join(dim, on=self._key_col, how=how)

    def close(self) -> None:
        if self._state is not None:
            self._state.unpersist()
            self._state = None
            self._version = None
