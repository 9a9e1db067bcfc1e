"""Thin helpers around the engine under test: session start, one batch
replay, the consumer read, and the durable records (checkpoint offset log,
table snapshots) that lag is measured from."""

from __future__ import annotations

import glob
import json
import os
import shutil
import tempfile
import time

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def import_engine():
    """Import the engine from the checkout this benchmark sits in. Raises
    ImportError when the checkout holds only the benchmark."""
    import sys

    if not os.path.isfile(os.path.join(CHECKOUT, "openlogreplicator_spark", "__init__.py")):
        raise ImportError("openlogreplicator_spark is not part of this checkout")
    if CHECKOUT not in sys.path:
        sys.path.insert(0, CHECKOUT)
    from openlogreplicator_spark.streaming import pipeline  # noqa: F401


def start_session(cores: int, scratch: str, driver_mem: str):
    """A SparkSession built by the engine's own ``build_session`` at
    ``local[cores]``, with every scratch path inside ``scratch``."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    from openlogreplicator_spark.session import build_session

    spark = build_session(
        app_name=f"perfbench-local{cores}",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # a pinned, pre-touched heap: peak RSS then moves with non-heap
            # and Python-driver memory, not with when the GC grew the heap.
            # Compiler threads that never exit, so host.tree_cpu_s can take
            # JIT time out of the CPU metrics
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{driver_mem} -XX:+AlwaysPreTouch "
                "-XX:-UseDynamicNumberOfCompilerThreads",
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(timeout: float = 30.0) -> None:
    """End the JVM PySpark launched and wait for it: its gateway exits when
    its stdin closes. Without this the JVM outlives the run by a moment."""
    import subprocess

    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    try:
        proc.stdin.close()
        proc.wait(timeout)
    except (OSError, subprocess.TimeoutExpired):
        pass  # stop_descendants in run.py ends it


def fresh(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


def replay(spark, log_dir: str, work: str) -> tuple[float, str]:
    """One ``run_batch_replay`` of ``log_dir`` into an empty table; returns
    (seconds, table path)."""
    from openlogreplicator_spark.streaming.pipeline import CdcPipeline

    table, ckpt = os.path.join(work, "table"), os.path.join(work, "ckpt")
    fresh(table, ckpt)
    p = CdcPipeline(spark, log_dir, table, ckpt)
    t = time.perf_counter()
    p.run_batch_replay()
    return time.perf_counter() - t, table


def consume(pipeline) -> float:
    """The consumer read: every column of the live state through Spark's
    no-op sink. Returns seconds."""
    t = time.perf_counter()
    pipeline.target_state().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def epoch_files(ckpt: str) -> dict[int, list[str]]:
    """epoch -> source file basenames, from the checkpoint's
    FileStreamSource log: ``sources/0/<batchId>`` plus the ``<n>.compact``
    files Spark folds every tenth batch into (each entry keeps its batchId)."""
    out: dict[int, set[str]] = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        name = os.path.basename(p)
        if not (name.isdigit() or name.endswith(".compact")):
            continue
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out.setdefault(int(e["batchId"]), set()).add(
                        os.path.basename(e["path"]))
    return {k: sorted(v) for k, v in out.items()}


def epoch_commits(table: str) -> dict[int, float]:
    """epoch -> wall-clock time of the snapshot commit that finalized it
    (the snapshot file's mtime)."""
    out: dict[int, float] = {}
    for p in glob.glob(os.path.join(table, "_snapshots", "v*.json")):
        with open(p) as f:
            summ = json.load(f).get("summary", {})
        if "epoch_id" in summ and summ.get("final", True):
            out[int(summ["epoch_id"])] = os.stat(p).st_mtime
    return out


def file_lags(ckpt: str, table: str, due: dict[str, float]) -> list[float]:
    """Seconds from each file's due time to the commit of the epoch that
    consumed it, for the files named in ``due``."""
    commits = epoch_commits(table)
    lags = []
    for epoch, files in epoch_files(ckpt).items():
        for f in files:
            if f in due and epoch in commits:
                lags.append(commits[epoch] - due[f])
    return lags
