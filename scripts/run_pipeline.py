"""spark-submit entry point for the CDC apply job (north_rule deployment
shape: `spark-submit --py-files olr_spark.zip scripts/run_pipeline.py ...`).

Build the zip with:  python scripts/run_pipeline.py --make-pyfiles olr_spark.zip
Run locally (the driver/cluster master comes from spark-submit):

    spark-submit --master local[8] \
      --py-files olr_spark.zip scripts/run_pipeline.py \
      --events /path/events --table /path/target --checkpoint /path/ckpt \
      [--streaming] [--metrics /path/metrics] [--filters /path/filters.json]
"""

from __future__ import annotations

import argparse
import os
import sys
import zipfile


def make_pyfiles(out: str) -> None:
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(pkg_root, "openlogreplicator_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            for fn in files:
                if fn.endswith(".py"):
                    ap = os.path.join(root, fn)
                    z.write(ap, os.path.relpath(ap, pkg_root))
    print(f"wrote {out}")


def main() -> None:
    ap = argparse.ArgumentParser(
        description="CDC apply job: log tail -> decode -> LWW -> bucketed "
                    "MERGE. The LWW plan is chosen per epoch from its row "
                    "count; there is no strategy option.")
    ap.add_argument("--make-pyfiles", metavar="ZIP")
    ap.add_argument("--events")
    ap.add_argument("--table")
    ap.add_argument("--checkpoint")
    ap.add_argument("--metrics")
    ap.add_argument("--filters")
    ap.add_argument("--streaming", action="store_true")
    ap.add_argument("--format", choices=["parquet", "jsonl"],
                    default="parquet",
                    help="change-log layout: parquet (default) or the "
                         "JSON-lines interchange (base64 binaries, "
                         "epoch-micro times)")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--max-files-per-trigger", type=int, default=32)
    ap.add_argument("--merge-mode", choices=["auto", "cow", "mor"], default="auto")
    ap.add_argument("--compact-every", type=int, default=8)
    ap.add_argument("--partial-updates", action="store_true",
                    help="change events carry only changed columns (NULL = "
                         "unchanged); forces merge-on-read appends and the "
                         "read-time column fold")
    ap.add_argument("--suppress-stale", action="store_true",
                    help="stateful per-key high-watermark pre-filter")
    ap.add_argument("--dead-letter",
                    help="side table for malformed/oversized/constraint-"
                         "violating events (parquet dir)")
    ap.add_argument("--constraint", action="append", default=[],
                    metavar="NAME=SQL",
                    help="CHECK constraint on c/u events (repeatable): rows "
                         "where the SQL predicate IS FALSE are dead-lettered "
                         "and excluded from the merge")
    ap.add_argument("--analyze", action="store_true",
                    help="after the run, ANALYZE the table (per-column "
                         "stats persisted as a metadata-only commit)")
    ap.add_argument("--branch",
                    help="stage commits on this branch ref (write-audit-"
                         "publish); main is untouched until --publish")
    ap.add_argument("--publish", action="store_true",
                    help="with --branch: after the run, fast-forward main "
                         "to the branch head (the audited publish step)")
    args = ap.parse_args()

    if args.make_pyfiles:
        make_pyfiles(args.make_pyfiles)
        return
    if not (args.events and args.table and args.checkpoint):
        ap.error("--events, --table and --checkpoint are required")

    # Under spark-submit the session already exists; standalone runs build one.
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("olr-cdc-apply").getOrCreate()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from openlogreplicator_spark.streaming.pipeline import CdcPipeline

    constraints = {}
    for spec in args.constraint:
        name, sep, pred = spec.partition("=")
        if not sep or not name or not pred:
            ap.error(f"--constraint must be NAME=SQL, got {spec!r}")
        constraints[name] = pred

    p = CdcPipeline(
        spark,
        args.events,
        args.table,
        args.checkpoint,
        metrics_path=args.metrics,
        dead_letter_path=args.dead_letter,
        constraints=constraints,
        n_buckets=args.n_buckets,
        filter_config_path=args.filters,
        merge_mode=args.merge_mode,
        compact_every=0 if args.partial_updates else args.compact_every,
        branch=args.branch,
        source_format=args.format,
        partial_updates=args.partial_updates,
    )
    if args.streaming:
        p.run_available_now(
            max_files_per_trigger=args.max_files_per_trigger,
            suppress_stale=args.suppress_stale,
        )
    else:
        p.run_batch_replay()
    n = p.target_state().count()
    if args.analyze:
        from openlogreplicator_spark.lake.table import LakeTable
        from openlogreplicator_spark.operators.merge import analyze

        stats = analyze(LakeTable.load(spark, args.table))
        print(f"analyzed {len(stats)} columns")
    if args.branch and args.publish:
        from openlogreplicator_spark.lake.table import LakeTable

        v = LakeTable.load(spark, args.table).publish_branch(args.branch)
        print(f"published branch {args.branch!r} as v{v}")
    print(f"final state rows: {n}")


if __name__ == "__main__":
    main()
