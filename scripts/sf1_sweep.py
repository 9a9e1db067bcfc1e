"""Full-catalog 10x-scale differential sweep (SURVEY §6 scale rung;
round-5 verdict residual "full-catalog sf1 sweep").

Runs EVERY sf-table-backed catalog entry at 10x the given scale
(sf_scale.ensure_scaled_dir — id-shifted copies, token-sharded documents,
dim-rotated embeddings; never plain replication) through the SAME
dtype-strict DuckDB value gate the driver uses, with per-entry bounds:
the Spark side under a cancelAllJobs watchdog, the DuckDB side under a
con.interrupt() watchdog. Writes one JSON artifact with per-entry Spark
seconds, gate seconds, and verdicts; prints a one-line summary.

Usage: python scripts/sf1_sweep.py [src_sf_dir] [out_json]
Env:   SF1_SWEEP_SPARK_TIMEOUT (default 300), SF1_SWEEP_GATE_TIMEOUT
       (default 150), SF1_SWEEP_ONLY (comma-separated entry filter).
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def oracle_bounded(con, sql: str, secs: float):
    done = threading.Event()

    def killer():
        if not done.wait(secs):
            con.interrupt()

    threading.Thread(target=killer, daemon=True).start()
    try:
        return con.execute(sql).df()
    finally:
        done.set()


def main() -> int:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        REPO, "SF1_SWEEP_local.json"
    )
    spark_to = float(os.environ.get("SF1_SWEEP_SPARK_TIMEOUT", "300"))
    gate_to = float(os.environ.get("SF1_SWEEP_GATE_TIMEOUT", "150"))
    only = {
        s for s in os.environ.get("SF1_SWEEP_ONLY", "").split(",") if s
    }

    from openlogreplicator_spark.oracle_check import (
        duckdb_connection,
        frames_equal,
        normalize,
        run_bounded,
        sf_backed_entries,
    )
    from openlogreplicator_spark.queries import ORACLES, QUERIES
    from openlogreplicator_spark.session import build_session
    from openlogreplicator_spark.sf_scale import ensure_scaled_dir

    sf_backed = [n for n in sf_backed_entries() if not only or n in only]
    t0 = time.time()
    scaled = ensure_scaled_dir(src, 10)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = build_session(
        app_name="olr-sf1-sweep", cores=cpus, shuffle_partitions=4 * cpus
    )
    con = duckdb_connection(scaled)
    entries: dict[str, dict] = {}
    n_pass = n_fail = n_to = n_rowsonly = 0
    for i, name in enumerate(sf_backed):
        t1 = time.time()
        try:
            got = run_bounded(
                spark, lambda n=name: QUERIES[n](spark, scaled).toPandas(),
                spark_to,
            )
            spark_secs = round(time.time() - t1, 2)
        except TimeoutError:
            entries[name] = {"ok": None, "err": "spark timeout",
                             "secs": round(time.time() - t1, 2)}
            n_to += 1
            print(f"TIMEOUT(spark) {name}", flush=True)
            continue
        except Exception as e:  # noqa: BLE001
            entries[name] = {"ok": False, "err": str(e)[:200],
                             "secs": round(time.time() - t1, 2)}
            n_fail += 1
            print(f"FAIL(run) {name}: {str(e)[:120]}", flush=True)
            continue
        rec: dict = {"secs": spark_secs, "rows": int(len(got))}
        if name not in ORACLES:
            rec["ok"] = None
            rec["rows_only"] = True
            n_rowsonly += 1
        else:
            t2 = time.time()
            try:
                want = oracle_bounded(con, ORACLES[name], gate_to)
                ok, msg = frames_equal(normalize(got), normalize(want))
                rec["ok"] = bool(ok)
                if not ok:
                    rec["err"] = msg[:200]
                    n_fail += 1
                else:
                    n_pass += 1
            except Exception as e:  # noqa: BLE001
                interrupted = "INTERRUPT" in str(e).upper()
                rec["ok"] = None if interrupted else False
                rec["err"] = ("oracle timeout" if interrupted
                              else str(e)[:200])
                if interrupted:
                    n_to += 1
                else:
                    n_fail += 1
            rec["gate_secs"] = round(time.time() - t2, 2)
        entries[name] = rec
        status = {True: "PASS", False: "FAIL", None: "----"}[rec.get("ok")]
        print(f"{status} [{i + 1}/{len(sf_backed)}] {name} "
              f"spark={rec['secs']}s gate={rec.get('gate_secs', '-')}s",
              flush=True)
    try:
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()  # noqa: SLF001
    except Exception:  # noqa: BLE001
        pass
    spark.stop()
    con.close()
    out = {
        "factor": 10,
        "src": src,
        "n_entries": len(sf_backed),
        "n_pass": n_pass,
        "n_fail": n_fail,
        "n_timeout": n_to,
        "n_rows_only": n_rowsonly,
        "total_secs": round(time.time() - t0, 1),
        "entries": entries,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "entries"}))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
