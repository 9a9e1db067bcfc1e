"""Local replica of the driver's correctness gate — thin CLI over
openlogreplicator_spark.oracle_check.

Usage: python scripts/check_oracle.py [sf_dir] [query-or-prefix ...]

Each selector is a catalog entry name or, when it names no entry, a name
prefix: `python scripts/check_oracle.py <sf_dir> engine_ ann_`
re-verifies the engine and ANN families only. No selector runs every entry.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def select_entries(names: list[str], selectors: list[str]) -> list[str]:
    """The entries ``selectors`` pick, in registration order: an exact name
    picks that entry, any other selector every entry it prefixes. A
    selector that picks nothing is an error."""
    if not selectors:
        return list(names)
    exact = set(names)
    picks = [
        (sel, {sel} if sel in exact else {n for n in names if n.startswith(sel)})
        for sel in selectors
    ]
    unknown = [sel for sel, got in picks if not got]
    if unknown:
        raise SystemExit(f"no catalog entry matches: {' '.join(unknown)}")
    chosen = set().union(*(got for _, got in picks))
    return [n for n in names if n in chosen]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    selectors = sys.argv[2:]

    from openlogreplicator_spark.oracle_check import check_query, duckdb_connection
    from openlogreplicator_spark.queries import QUERIES
    from openlogreplicator_spark.session import build_session

    picked = select_entries(list(QUERIES), selectors)
    spark = build_session(app_name="check-oracle", cores=8, shuffle_partitions=16)
    con = duckdb_connection(sf_dir)

    failures = []
    for name in picked:
        try:
            ok, msg = check_query(spark, con, name, sf_dir)
        except Exception as e:
            ok, msg = False, f"error: {e}"
        if not ok:
            failures.append(name)
        print(f"{'PASS' if ok else 'FAIL'} {name}: {msg}")

    spark.stop()
    print(f"\n{len(picked) - len(failures)}/{len(picked)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
