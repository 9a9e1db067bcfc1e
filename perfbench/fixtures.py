"""Seeded change-log files for the workloads. The same seed writes the same
files; the engine only ever receives these parquet files.

* ``replay_log``: the engine's own bench generator (Zipf(0.8) keys, ~50
  events per url, a 5% hot url, 2% rollbacks, 3 mid-log DDLs).
* ``ChangeLog.base`` + ``ChangeLog.changes``: a pre-built state of K live
  keys (the 3 DDLs first, so rows land at schema version 4 with
  ``http_status``), then low-duplication change files: ~1-2 events per key,
  no hot url, 70% updates of existing keys, 20% new keys, 10% deletes, 2%
  rollbacks.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from openlogreplicator_spark import datagen

SCHEMA = datagen.EVENTS_SCHEMA
_WORDS = ("change data capture log replay merge bucket snapshot epoch commit "
          "winner key value row page crawl index anchor title body café "
          "über straße 東京 naïve").split()
_T0 = int(datagen.BASE_TS_US)


def write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path, compression="snappy")
    return path


def split(t: pa.Table, out_dir: str, n_files: int) -> list[str]:
    """Write ``t`` as ``n_files`` consecutive seq slices."""
    os.makedirs(out_dir, exist_ok=True)
    per = (t.num_rows + n_files - 1) // n_files
    return [
        write(t.slice(i * per, per), os.path.join(out_dir, f"events-{i:05d}.parquet"))
        for i in range(n_files) if i * per < t.num_rows
    ]


def replay_log(out_dir: str, seed: int, n_events: int, n_files: int) -> list[str]:
    t = datagen.generate_events_fast(
        seed=seed, n_events=n_events, n_urls=max(10, n_events // 50),
        n_pool=2000, hot_share=0.05, rollback_share=0.02, with_ddl=True,
    )
    return split(t, out_dir, n_files)


class ChangeLog:
    """Stateful low-duplication change generator: each call continues the
    same seq / warc_ts clock and key space, so files concatenate into one
    valid log."""

    def __init__(self, seed: int, pool: int = 1000):
        self.rng = np.random.default_rng(seed)
        n_words = self.rng.integers(8, 60, size=pool)
        texts = [" ".join(self.rng.choice(_WORDS, size=int(k))) for k in n_words]
        self.text = pa.array(texts, type=pa.string())
        self.html = pa.array(
            [f"<html><body><p>{t}</p></body></html>".encode() for t in texts],
            type=pa.binary(),
        )
        self.seq = 0
        self.next_key = 0

    def _ddl(self) -> pa.Table:
        rows = datagen.DDL_SCENARIO
        n = len(rows)
        seq = np.arange(self.seq, self.seq + n, dtype=np.int64)
        self.seq += n
        return pa.table({
            "seq": seq,
            "warc_ts": pa.array(_T0 + seq, type=pa.timestamp("us")),
            "op": ["ddl"] * n,
            "url": pa.nulls(n, pa.string()),
            "html": pa.nulls(n, pa.binary()),
            "text": pa.nulls(n, pa.string()),
            "lang": pa.nulls(n, pa.string()),
            "before": pa.nulls(n, SCHEMA.field("before").type),
            "extras": pa.nulls(n, SCHEMA.field("extras").type),
            "schema_ver": pa.array([r[5] for r in rows], type=pa.int32()),
            "rolled_back": [False] * n,
            "action": [r[1] for r in rows],
            "col_name": [r[2] for r in rows],
            "new_name": pa.array([r[3] for r in rows], type=pa.string()),
            "new_type": pa.array([r[4] for r in rows], type=pa.string()),
        }).cast(SCHEMA)

    def _dml(self, keys: np.ndarray, ops: np.ndarray) -> pa.Table:
        rng, n = self.rng, len(keys)
        seq = np.arange(self.seq, self.seq + n, dtype=np.int64)
        self.seq += n
        # warc_ts follows seq with jitter, so (warc_ts, seq) order differs
        # from emission order for some events
        warc = _T0 + seq * 1000 + rng.integers(-1500, 1500, size=n)
        is_del = ops == "d"
        pick = pa.array(rng.integers(0, len(self.text), size=n), mask=is_del)
        status = np.array(["200", "200", "200", "301", "404", "500"], dtype=object)[
            rng.integers(0, 6, size=n)]
        offsets = np.zeros(n + 1, dtype=np.int32)
        np.cumsum((~is_del).astype(np.int32), out=offsets[1:])
        extras = pa.MapArray.from_arrays(
            pa.array(offsets),
            pa.array(["http_status"] * int((~is_del).sum()), type=pa.string()),
            pa.array(status[~is_del], type=pa.string()),
        )
        return pa.table({
            "seq": seq,
            "warc_ts": pa.array(warc, type=pa.timestamp("us")),
            "op": pa.array(ops, type=pa.string()),
            "url": pa.array([f"https://site{k % 50}.example/p/{k}" for k in keys],
                            type=pa.string()),
            "html": self.html.take(pick),
            "text": self.text.take(pick),
            "lang": pa.array(np.array(datagen.LANGS, dtype=object)[keys % 6],
                             type=pa.string()),
            "before": pa.nulls(n, SCHEMA.field("before").type),
            "extras": extras,
            "schema_ver": pa.array(np.full(n, 4, dtype=np.int32)),
            "rolled_back": pa.array(rng.random(n) < 0.02),
            "action": pa.nulls(n, pa.string()),
            "col_name": pa.nulls(n, pa.string()),
            "new_name": pa.nulls(n, pa.string()),
            "new_type": pa.nulls(n, pa.string()),
        }).cast(SCHEMA)

    def base(self, n_keys: int) -> pa.Table:
        """The 3 DDLs, then one create per key."""
        keys = np.arange(self.next_key, self.next_key + n_keys, dtype=np.int64)
        self.next_key += n_keys
        return pa.concat_tables(
            [self._ddl(), self._dml(keys, np.full(n_keys, "c", dtype=object))]
        )

    def changes(self, n: int) -> pa.Table:
        r = self.rng.random(n)
        ops = np.where(r < 0.70, "u", np.where(r < 0.90, "c", "d")).astype(object)
        keys = self.rng.integers(0, max(1, self.next_key), size=n)
        new = ops == "c"
        keys[new] = np.arange(self.next_key, self.next_key + int(new.sum()))
        self.next_key += int(new.sum())
        return self._dml(keys, ops)
