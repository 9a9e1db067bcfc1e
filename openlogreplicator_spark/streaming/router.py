"""Multi-table fan-out: one decoded change stream routed into N target
tables by row predicate — the reference's many-tables replication model
(one reader thread serves every configured schema.table filter,
SURVEY §2.2 P10; reference: OpenLogReplicator.cpp table-element config +
Schema.cpp per-table dictionaries), re-expressed for Spark with each
target keeping its OWN exactly-once confirmed epoch.

Scale shape: the source scan, dictionary (DDL) replay, decode and LWW
compaction run ONCE per epoch — the data-sized work; each route then
filters the persisted winner set (a map-side predicate) and MERGEs into
its own bucketed table. N merges over disjoint subsets shuffle what one
merge over the union would — no re-decode, no re-scan per table.

Routing semantics: predicates must key on IMMUTABLE row attributes (the
url / its host — the analogue of the reference's schema.table name, which
never changes over a row's lifetime). Routing post-LWW winners is then
identical to pre-filtering the log per route (pinned by test), because
every version of a key routes identically. Tombstone winners carry NULL
payload columns, so predicates should touch key columns only. Overlapping
predicates are allowed (a row lands in every matching table — reference
regex filters overlap the same way); rows matching no route are dropped,
exactly like a table absent from the reference's filter list.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lake.table import LakeTable
from ..operators.decode import EVENTS_DDL, dml_events, project_dml
from ..operators.lww import lww_compact_auto
from ..operators.merge import merge_append, merge_into, read_state
from .pipeline import TARGET_BASE_FIELDS, replay_ddl


class TableRouter:
    def __init__(
        self,
        spark: SparkSession,
        events_path: str,
        base_path: str,
        checkpoint_path: str,
        routes: dict[str, str],
        n_buckets: int = 16,
        merge_mode: str = "mor",
    ):
        if not routes:
            raise ValueError("routes must map at least one table name to a predicate")
        self.spark = spark
        self.events_path = events_path
        self.base_path = base_path
        self.checkpoint_path = checkpoint_path
        self.routes = dict(routes)
        self.n_buckets = n_buckets
        self.merge_mode = merge_mode

    # ------------------------------------------------------------ lifecycle
    def table_path(self, name: str) -> str:
        return os.path.join(self.base_path, name)

    def ensure_tables(self) -> dict[str, LakeTable]:
        out: dict[str, LakeTable] = {}
        for name in self.routes:
            p = self.table_path(name)
            if LakeTable.exists(p):
                out[name] = LakeTable.load(self.spark, p)
            else:
                out[name] = LakeTable.create(
                    self.spark, p, TARGET_BASE_FIELDS, key_col="url",
                    n_buckets=self.n_buckets, schema_ver=1,
                    reserved_cols=["warc_ts", "_seq", "_op"],
                )
        return out

    def target_state(self, name: str) -> DataFrame:
        return read_state(LakeTable.load(self.spark, self.table_path(name)))

    # ------------------------------------------------------------ the epoch
    def apply_epoch(self, batch_df: DataFrame, epoch_id: int) -> None:
        tables = self.ensure_tables()
        # T2 per TABLE: a crash between two routes' merges re-delivers the
        # epoch; already-confirmed tables skip, the rest apply — the same
        # idempotence contract the single-table pipeline keeps, held
        # independently per target (each has its own confirmed_epoch).
        pending: dict[str, LakeTable] = {}
        for name, t in tables.items():
            last, finalized = t.last_epoch()
            if int(epoch_id) < last or (int(epoch_id) == last and finalized):
                continue
            pending[name] = t
        if not pending:
            return

        committed = batch_df.filter(
            F.col("op").eqNullSafe("ddl")
            | (
                F.col("url").isNotNull()
                & F.col("warc_ts").isNotNull()
                & F.col("op").isNotNull()
            )
        )
        # dictionary replay per pending table (few rows; confirmed tables
        # already hold these versions, late tables catch up here)
        replay_ddl(committed, pending.values())

        # decode + LWW once — all pending tables now share the same current
        # schema, so one projection serves every route
        any_table = next(iter(pending.values()))
        dml = project_dml(dml_events(committed), any_table)
        compacted = lww_compact_auto(dml, "url").persist()
        try:
            for name, t in pending.items():
                sub = compacted.filter(F.expr(self.routes[name]))
                kwargs = dict(
                    epoch_id=int(epoch_id),
                    final=True,
                    extra_summary={"route": name},
                )
                if self.merge_mode == "mor":
                    merge_append(t, sub, **kwargs)
                else:
                    merge_into(t, sub, **kwargs)
        finally:
            compacted.unpersist()

    # ------------------------------------------------------------- drivers
    def run_available_now(self, max_files_per_trigger: int = 1) -> None:
        """Checkpointed streaming replay fanning each epoch out to every route.
        (The single-table pipeline's batch re-read AQE recovery applies here
        unchanged if needed; the router keeps the plain foreachBatch form —
        the fan-out itself adds no streaming-derived jobs beyond it.)"""
        stream = (
            self.spark.readStream.schema(EVENTS_DDL)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(self.events_path)
        )
        q = (
            stream.writeStream.foreachBatch(self.apply_epoch)
            .option("checkpointLocation", self.checkpoint_path)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def run_batch_replay(self) -> None:
        df = self.spark.read.schema(EVENTS_DDL).parquet(self.events_path)
        self.apply_epoch(df, epoch_id=0)
