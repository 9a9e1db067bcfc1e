"""Last-writer-wins compaction per key (SURVEY.md §2.4 A3 / §2.5 W2).

Reference semantics: within a transaction later pieces override earlier ones
(/root/reference/src/parser/Transaction.cpp:416-429), and transactions emit in
commit-SCN order exactly once (user-manual.adoc:116-131). At the table level
this collapses to: the winning event per key is the max over the total order
``(warc_ts, seq)`` — ``warc_ts`` is the SCN analogue, ``seq`` breaks ties the
way (scn, subScn) sorting does (Parser.cpp:1352-1358).

The rule is fixed; only its plan varies. ``lww_compact_auto`` is the one
entry point the engine calls, and it picks the plan from the winner-set
size:

* ``lww_compact_semijoin`` (up to ``BROADCAST_BUDGET_KEYS`` keys) — winners
  are found on the narrow ``(key, order)`` columns, broadcast as 8-byte
  hashes and semi-joined back to the payload, so wide rows never shuffle.
* ``lww_compact_salted`` (above it) — explicit two-phase max per
  ``(key, salt)`` then per key, with ``N_SALTS`` salts; no broadcast.
* ``lww_compact`` — one ``max_by`` aggregate; the exact post-compaction of
  the semijoin and the building block of both phases of the salted form.

Plan shape: ``max_by(struct)`` and ``max(struct)`` buffers are not
hash-aggregable, so every aggregate here plans as ``Sort → SortAggregate``
— partial (map-side, before the shuffle) then final. Hot keys therefore
still cost O(#input partitions) post-shuffle rows, not O(#events).

All forms are value-equivalent (tests/test_lww.py, which also holds the
row_number and applyInPandas oracles they are checked against).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_ORDER = ("warc_ts", "_seq")

# Winner-set size (distinct keys) above which the semijoin's broadcast of one
# 8-byte hash per winner, and the driver-side hash build behind it, is
# replaced by the salted two-phase form. Read at call time.
BROADCAST_BUDGET_KEYS = 20_000_000
# Salt count of the two-phase form. Read at call time.
N_SALTS = 8


def _order_struct(order: Sequence[str]):
    return F.struct(*[F.col(c) for c in order])


def lww_compact(
    df: DataFrame, key: str = "url", order: Sequence[str] = DEFAULT_ORDER
) -> DataFrame:
    """One row per key: the event with the greatest (order...) tuple."""
    payload = F.struct(*[F.col(c) for c in df.columns])
    return (
        df.groupBy(key)
        .agg(F.max_by(payload, _order_struct(order)).alias("_w"))
        .select("_w.*")
    )


def lww_compact_salted(
    df: DataFrame,
    key: str = "url",
    order: Sequence[str] = DEFAULT_ORDER,
    salt_source: str = "_seq",
) -> DataFrame:
    """Explicit two-phase salted LWW (north_rule: 'salted repartition +
    two-phase merge-apply'): phase-1 max per (key, salt) with
    ``salt = pmod(xxhash64(salt_source), N_SALTS)``, phase-2 max per key.
    Equivalent to ``lww_compact`` because max over a total order is
    associative and commutative; salting only changes the reduction tree.
    Deterministic: the salt is a pure function of the event (never rand()),
    so replays partition identically."""
    payload = F.struct(*[F.col(c) for c in df.columns])
    salt = F.pmod(F.xxhash64(F.col(salt_source)), F.lit(N_SALTS)).cast("int")
    # phase 1's groupBy plans its own Exchange on (key, salt) — that IS the
    # salted repartition (an explicit .repartition() first would only add a
    # second, redundant shuffle of the full input).
    phase1 = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(
            F.max_by(payload, _order_struct(order)).alias("_w"),
            F.max(_order_struct(order)).alias("_ord"),
        )
    )
    return (
        phase1.groupBy(key)
        .agg(F.max_by(F.col("_w"), F.col("_ord")).alias("_w"))
        .select("_w.*")
    )


def lww_compact_semijoin(
    df: DataFrame,
    key: str = "url",
    order: Sequence[str] = DEFAULT_ORDER,
) -> DataFrame:
    """Wide-payload LWW: find each key's winning order tuple on NARROW columns
    only (key + order — a few bytes/row), then semi-join the winners back to
    the payload. The payload is never shuffled — for web-page rows (html ≈
    KBs) this removes the dominant shuffle of the max_by/window forms.

    Only ``xxhash64(key, order)`` of each winner is broadcast — 8 bytes per
    winner, so tens of millions of per-epoch winners broadcast in ~100 MB and
    the driver-side hash-table build stays cheap. A 64-bit collision could
    let a LOSER row through the semi-join, so an exact ``max_by`` compaction
    runs on the (winner-sized) survivor set — the true winner always survives
    the semi-join, so the result is exact regardless of collisions."""
    ord_col = _order_struct(order)
    winners = df.groupBy(key).agg(F.max(ord_col).alias("_lww_ord"))
    win_h = F.broadcast(
        winners.select(F.xxhash64(F.col(key), F.col("_lww_ord")).alias("_lww_h"))
    )
    probe_h = F.xxhash64(F.col(key), ord_col)
    candidates = df.join(win_h, probe_h == F.col("_lww_h"), "leftsemi")
    return lww_compact(candidates, key=key, order=order)


def choose_lww_strategy(
    df: DataFrame, key: str = "url", approx_rows: int | None = None
) -> str:
    """'semijoin' while the winner set fits ``BROADCAST_BUDGET_KEYS``, else
    'salted'. ``approx_rows`` (rows feeding the fold — a free upper bound on
    distinct keys, from file footers or the manifest) short-circuits when
    already under budget; otherwise one approx_count_distinct job over the
    narrow key column (2% rsd) decides."""
    budget = BROADCAST_BUDGET_KEYS
    if approx_rows is not None and approx_rows <= budget:
        return "semijoin"
    est = df.agg(
        F.approx_count_distinct(key, rsd=0.02).alias("n")
    ).collect()[0]["n"]
    return "semijoin" if est <= budget else "salted"


def lww_compact_auto(
    df: DataFrame,
    key: str = "url",
    order: Sequence[str] = DEFAULT_ORDER,
    approx_rows: int | None = None,
) -> DataFrame:
    """The engine's LWW entry point: the plan ``choose_lww_strategy`` picks,
    same rows either way."""
    if choose_lww_strategy(df, key, approx_rows) == "semijoin":
        return lww_compact_semijoin(df, key=key, order=order)
    return lww_compact_salted(df, key=key, order=order)
