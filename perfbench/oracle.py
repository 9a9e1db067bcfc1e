"""Correctness gate: the engine's final live state against an independent
DuckDB last-writer-wins replay of the same change-log files.

Rows compare as exact sets of ``(url, _seq, md5(text), http_status)``, so a
single changed byte of ``text``, a stale version or a resurrected delete all
fail the gate.
"""

from __future__ import annotations

import duckdb

ORACLE_SQL = """
WITH dml AS (
    SELECT url, seq, warc_ts, op, text, schema_ver, extras
    FROM read_parquet({files})
    WHERE op IS NOT NULL AND op <> 'ddl' AND NOT rolled_back
      AND url IS NOT NULL AND warc_ts IS NOT NULL
), winners AS (
    SELECT * FROM dml
    QUALIFY row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC, seq DESC) = 1
)
SELECT url, seq, md5(text),
       CAST(CASE WHEN schema_ver >= 4 THEN element_at(extras, 'http_status')[1]
                 WHEN schema_ver >= 2 THEN element_at(extras, 'fetch_status')[1]
            END AS BIGINT)
FROM winners WHERE op <> 'd'
"""


def oracle_rows(files: list[str]) -> set[tuple]:
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        listing = "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "]"
        return {tuple(r) for r in con.execute(ORACLE_SQL.format(files=listing)).fetchall()}
    finally:
        con.close()


def engine_rows(state_df) -> set[tuple]:
    from pyspark.sql import functions as F

    return {
        tuple(r)
        for r in state_df.select(
            "url", "_seq", F.md5(F.col("text")), F.col("http_status").cast("long")
        ).collect()
    }


def compare(engine: set[tuple], expected: set[tuple]) -> dict:
    """Gate verdict with a small sample of each side's extra rows."""
    missing, extra = expected - engine, engine - expected
    return {
        "ok": not missing and not extra,
        "rows": len(expected),
        "missing": len(missing),
        "extra": len(extra),
        "sample_missing": sorted(map(str, missing))[:3],
        "sample_extra": sorted(map(str, extra))[:3],
    }
