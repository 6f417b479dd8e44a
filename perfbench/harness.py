"""Session lifecycle, the timed builds, and output checks.

A *build* is what a user of the batch job runs: the pages table on disk in,
the graph tables on disk out. Two user paths are measured:

- ``graph_build``: ``run_pipeline`` -> ``write_graph_tables``;
- ``checkpointed_build``: ``run_pipeline_checkpointed`` into a workdir, whose
  ``edges``/``nodes`` stage tables are the graph tables.

Each build returns its wall time; the check reads the written tables back
afterwards, outside the timed section, and compares their digests with the
oracle's.
"""

from __future__ import annotations

import hashlib
import os
import time

from pyspark import SparkContext
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from perfbench.workloads import edge_digest, node_digest
from text_to_graph_spark.pipeline import (
    PipelineConfig,
    run_pipeline,
    run_pipeline_checkpointed,
)
from text_to_graph_spark.session import get_spark
from text_to_graph_spark.sinks.graph_tables import (
    read_edges,
    read_nodes,
    write_graph_tables,
)

CONFIG = PipelineConfig()


def start_session(nproc: int) -> tuple[SparkSession, float]:
    """``get_spark`` with ``local[nproc]``; returns the session and its wall
    time. Refuses to measure on any other core count."""
    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{nproc}]")
    elapsed = time.perf_counter() - t0
    master = spark.sparkContext.master
    parallelism = spark.sparkContext.defaultParallelism
    if master != f"local[{nproc}]" or parallelism != nproc:
        stop_session(spark)
        raise SystemExit(
            f"session runs {master} with parallelism {parallelism}, "
            f"but this host has nproc={nproc}"
        )
    return spark, elapsed


def jvm_pid() -> int:
    return SparkContext._gateway.proc.pid


def jvm_peak_rss_mb() -> float:
    """High-water resident set of the session's JVM so far (``VmHWM``)."""
    with open(f"/proc/{jvm_pid()}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_session(spark: SparkSession, timeout_s: float = 60.0) -> None:
    """Stop Spark and its JVM, and wait until the JVM and the Python workers
    it forked have exited, so the next ``get_spark`` starts a fresh JVM."""
    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway server exits when its stdin closes
    proc.wait(timeout=timeout_s)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while any(os.path.exists(f"/proc/{p}") for p in workers):
        if time.monotonic() > deadline:
            raise RuntimeError(f"Python workers {workers} outlived their JVM")
        time.sleep(0.05)


def graph_build(spark: SparkSession, pages_dir: str, out_dir: str) -> float:
    t0 = time.perf_counter()
    stages = run_pipeline(spark, spark.read.parquet(pages_dir), CONFIG)
    write_graph_tables(stages["nodes"], stages["edges"], out_dir)
    return time.perf_counter() - t0


def checkpointed_build(spark: SparkSession, pages_dir: str, workdir: str):
    """Returns (wall seconds, stage dict); edges and nodes are written inside
    ``run_pipeline_checkpointed`` and come back as re-reads of those files."""
    t0 = time.perf_counter()
    stages = run_pipeline_checkpointed(
        spark, spark.read.parquet(pages_dir), workdir, CONFIG
    )
    return time.perf_counter() - t0, stages


def oracle_digests(nodes, edges) -> dict[str, str]:
    e = edges.select("subj_key", "pred_key", "obj_key", "n_docs", "n_occurrences")
    return {
        "edge_digest": edge_digest(e.toPandas()),
        "node_digest": node_digest(nodes.select("key", "n_docs").toPandas()),
    }


def full_digest(df) -> str:
    """Order-free digest over every column of a table (rows are hashed in
    the JVM, so array columns are not shipped to Python)."""
    cols = sorted(c for c in df.columns if c != "bucket")
    hashes = sorted(r[0] for r in df.select(F.xxhash64(*cols)).collect())
    return hashlib.sha256(repr(hashes).encode()).hexdigest()


def check_graph_tables(spark, out_dir: str, expected: dict) -> bool:
    got = oracle_digests(read_nodes(spark, out_dir), read_edges(spark, out_dir))
    return all(got[k] == expected[k] for k in got)
