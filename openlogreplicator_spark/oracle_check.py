"""Differential-oracle comparison used by scripts/check_oracle.py and the
pytest suite: run a catalog query on Spark and its SQL twin on DuckDB over
the same parquet, compare row count + column names + order-insensitive
values. Mirrors the driver's CORRECTNESS gate and the reference's
dump-diffing strategy (SURVEY.md §5). Also the scale-gate plumbing the
sf1 runs share (bench.py's sf1 spot, scripts/sf1_sweep.py): the Spark-side
watchdog and the sf-table-backed entry filter."""

from __future__ import annotations

import inspect
import math
import os
import threading

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by value — NOTHING else.

    Deliberately dtype-strict (round-2 verdict task 2): the previous version
    tz-stripped datetimes and coerced ints to Int64, which masked exactly the
    schema divergence the driver's gate caught (a tz-aware oracle column vs a
    naive Spark one). The only permitted normalization is datetime RESOLUTION
    (ns vs us is a pandas-conversion artifact, not an engine schema fact);
    tz-awareness is preserved so a divergence fails locally first.
    """
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if isinstance(pdf[c].dtype, pd.DatetimeTZDtype):
            pdf[c] = pdf[c].dt.tz_convert("UTC").astype("datetime64[us, UTC]")
        elif pd.api.types.is_datetime64_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
    return pdf.sort_values(list(pdf.columns), kind="stable").reset_index(drop=True)


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    if list(a.columns) != list(b.columns):
        return False, f"columns differ: {list(a.columns)} vs {list(b.columns)}"
    dt_a = [str(t) for t in a.dtypes]
    dt_b = [str(t) for t in b.dtypes]
    if dt_a != dt_b:
        diff = [
            (c, x, y) for c, x, y in zip(a.columns, dt_a, dt_b) if x != y
        ]
        return False, f"dtypes differ: {diff}"
    if len(a) != len(b):
        return False, f"row count differs: {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            ok = all(
                (pd.isna(x) and pd.isna(y))
                or (
                    not pd.isna(x)
                    and not pd.isna(y)
                    and math.isclose(float(x), float(y), rel_tol=0, abs_tol=1e-9)
                )
                for x, y in zip(av, bv)
            )
        else:
            ok = av.equals(bv)
        if not ok:
            diff = [
                (i, av[i], bv[i]) for i in range(len(av)) if str(av[i]) != str(bv[i])
            ][:5]
            return False, f"values differ in '{c}': {diff}"
    return True, "ok"


def check_query(spark, con, name: str, sf_dir: str) -> tuple[bool, str]:
    """Run one catalog query on both engines; (passed, message)."""
    from .queries import ORACLES, QUERIES

    got = normalize(QUERIES[name](spark, sf_dir).toPandas())
    if name not in ORACLES:
        return True, f"rows-only: {len(got)} rows, cols={list(got.columns)}"
    want = normalize(con.execute(ORACLES[name]).df())
    ok, msg = frames_equal(got, want)
    return ok, f"{len(got)} rows vs {len(want)} — {msg}"


def sf_backed_entries() -> list[str]:
    """Catalog entries that read the sf tables, in registration order.
    Fixture-backed engine_*/replay entries are sf-independent, so a
    scale run skips them."""
    from .queries import QUERIES

    return [
        n for n in QUERIES if "T(spark, sf_dir" in inspect.getsource(QUERIES[n])
    ]


def run_bounded(spark, fn, secs: float):
    """Run fn() with a watchdog that cancels all Spark jobs at ``secs``;
    raises TimeoutError if the watchdog fired."""
    fired = threading.Event()
    done = threading.Event()

    def watchdog():
        if not done.wait(secs):
            fired.set()
            try:
                spark.sparkContext.cancelAllJobs()
            except Exception:  # noqa: BLE001
                pass

    threading.Thread(target=watchdog, daemon=True).start()
    try:
        result = fn()
    except Exception:
        if fired.is_set():
            raise TimeoutError(f"spark side exceeded {secs}s") from None
        raise
    finally:
        done.set()
    if fired.is_set():
        raise TimeoutError(f"spark side exceeded {secs}s")
    return result
