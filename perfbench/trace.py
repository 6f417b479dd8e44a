"""Traced run: per-layer metrics, spans and the tracing overhead.

Layers are the program's modules. Each metric below names the end-to-end
metric it should move and on which workload:

- ``session``: ``session.get_spark_s``, ``session.warmup_s`` -> ``setup_s``;
  ``session.peak_rss_mb`` is the Spark JVM's ``VmHWM`` at the end of the
  traced run (too dependent on GC timing to carry an end-to-end bound).
- ``sources.pages`` (``scan.*``): the control; a small share everywhere.
- ``operators.extraction`` (``extraction.*``): ``build_s``/``triples_per_s``
  on ``short_pages`` (per-page and worker-init share).
- ``operators.chunking`` (``chunking.*``): per-byte work; one chunk per page
  on the short-page workloads, so it should barely move them.
- ``operators.canonicalize`` (``canonicalize.*``): ``build_s`` and
  ``session.peak_rss_mb`` on ``short_pages`` (thousands of urls per key).
- ``sources.checkpoint`` (``checkpoint.*``): ``build_s`` and ``rerun_s`` on
  ``checkpoint_rerun``.
- ``sinks.graph_tables`` (``graph_tables.*``): ``build_s`` on ``short_pages``.

How each figure is obtained:

1. One set-up, with spans around ``get_spark`` and the warm-up build.
2. The workload's timed step (a graph build, or a fresh checkpointed build
   plus its rerun) runs three times: a first, cold build, then traced, then
   untraced. The traced one runs under job groups; afterwards the
   final-plan SQL metrics of every execution it caused are read back. That
   is the plan users pay for, so ``extraction.mapinpandas_execs`` counts
   re-executed extraction too. The checkpoint figures come from the same
   executions, told apart by the table each writes, and from the inputs the
   rerun hands to each resumable stage (``checkpoint.recomputed_urls.*``).
   ``tracing.overhead_s`` is the traced wall minus the untraced wall.
3. A staged run forces each layer's public function on the materialized
   output of the previous one, each under its own span and job group, which
   gives each layer's self time (including writing its output) and its
   job, task, CPU, GC and skew figures from the status store.

Metrics of a layer that a workload does not exercise read 0.
"""

from __future__ import annotations

import contextlib
import json
import os
import time

from pyspark.sql import functions as F

from perfbench import harness
from perfbench.sparkstats import StatusReader
from text_to_graph_spark import pipeline
from text_to_graph_spark.operators.canonicalize import (
    triples_to_canonical_edges,
    triples_to_canonical_nodes,
)
from text_to_graph_spark.operators.chunking import chunk_pages
from text_to_graph_spark.operators.extraction import extract_text, extract_triples
from text_to_graph_spark.pipeline import vocab_category_table
from text_to_graph_spark.sinks.graph_tables import write_graph_tables

MB = float(1 << 20)
WRITE = "Execute InsertIntoHadoopFsRelationCommand"
JOB_STATS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "task_skew")
LAYERS = ("scan", "extraction", "chunking", "canonicalize", "checkpoint", "graph_tables")
# the first build on the workload's data runs cold (JIT, file caches), so it
# only warms up; the traced and untraced builds that follow are compared
STEP_ORDER = ("first", "traced", "untraced")
RESUMED_STAGES = {"extract_text": "extracted", "chunk_pages": "chunks",
                  "extract_triples": "triples"}

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "scan.rows": "rows",
    "scan.file_mb": "MB",
    "scan.s": "s",
    "extraction.mapinpandas_execs": "count",
    "extraction.python_start_s": "s",
    "extraction.python_init_s": "s",
    "extraction.python_run_s": "s",
    "extraction.arrow_sent_mb": "MB",
    "extraction.arrow_returned_mb": "MB",
    "extraction.rows_out": "rows",
    "extraction.self_s": "s",
    "chunking.self_s": "s",
    "chunking.chunks_out": "rows",
    "chunking.chunks_per_page": "ratio",
    "chunking.python_run_s": "s",
    "canonicalize.edges_self_s": "s",
    "canonicalize.nodes_self_s": "s",
    "canonicalize.agg_build_s": "s",
    "canonicalize.sort_fallback_tasks": "count",
    "canonicalize.spill_mb": "MB",
    "canonicalize.shuffle_write_mb": "MB",
    "canonicalize.max_doc_ids": "urls",
    "canonicalize.edges_out": "rows",
    "canonicalize.nodes_out": "rows",
    "checkpoint.write_s": "s",
    "checkpoint.write_mb": "MB",
    "checkpoint.probe_s": "s",
    "checkpoint.metrics_jobs": "count",
    "checkpoint.recomputed_urls": "urls",
    **{f"checkpoint.recomputed_urls.{s}": "urls" for s in RESUMED_STAGES.values()},
    "graph_tables.write_s": "s",
    "graph_tables.files": "count",
    "graph_tables.mb": "MB",
    **{f"{layer}.{stat}": ("count" if stat in ("jobs", "tasks") else
                           "ratio" if stat == "task_skew" else "s")
       for layer in LAYERS for stat in JOB_STATS},
    "tracing.untraced_build_s": "s",
    "tracing.traced_build_s": "s",
    "tracing.overhead_s": "s",
}


class Spans:
    """In-memory spans (name, start, end, parent, run id), written once."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.records: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {"run_id": self.run_id, "id": len(self.records), "name": name,
               "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter(), "end": None}
        self.records.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def self_s(self, name: str) -> float:
        """Summed self time of the spans called ``name``: duration minus the
        part covered by child spans."""
        total = 0.0
        for rec in self.records:
            if rec["name"] != name:
                continue
            covered = sum(c["end"] - c["start"] for c in self.records
                          if c["parent"] == rec["id"])
            total += rec["end"] - rec["start"] - covered
        return total

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.records:
                f.write(json.dumps(rec) + "\n")


class TracedRun:
    def __init__(self, workload: str, meta: dict, nproc: int, run_dir: str,
                 spans: Spans):
        self.workload = workload
        self.meta = meta
        self.nproc = nproc
        self.run_dir = run_dir
        self.spans = spans
        self.metrics = {name: 0.0 for name in PER_LAYER}
        self.attempted = 0
        self.failed = 0
        self.spark = None

    @contextlib.contextmanager
    def layer(self, group: str, span_name: str | None = None):
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            with self.spans.span(span_name or group):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def count(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def run(self, warmup_pages: str) -> dict[str, float]:
        m = self.metrics
        with self.spans.span("run"):
            with self.spans.span("setup"):
                with self.spans.span("session.get_spark"):
                    self.spark, _ = harness.start_session(self.nproc)
            try:
                with self.spans.span("session.warmup"):
                    harness.graph_build(self.spark, warmup_pages,
                                        os.path.join(self.run_dir, "warmup"))
                m["session.get_spark_s"] = self.spans.self_s("session.get_spark")
                m["session.warmup_s"] = self.spans.self_s("session.warmup")
                reader = StatusReader(self.spark)
                if self.workload == "checkpoint_rerun":
                    self._checkpoint_step(reader)
                else:
                    self._graph_step(reader)
                self._staged(reader)
                m["session.peak_rss_mb"] = harness.jvm_peak_rss_mb()
            finally:
                harness.stop_session(self.spark)
        return m

    # -- step 2: the workload's own timed step: first, traced, untraced
    def _graph_step(self, reader: StatusReader) -> None:
        pages = self.meta["pages_dir"]
        out = os.path.join(self.run_dir, "graph")
        walls = {}
        for label in STEP_ORDER:
            if label == "traced":
                with self.layer("build"):
                    walls[label] = harness.graph_build(self.spark, pages, out)
            else:
                walls[label] = harness.graph_build(self.spark, pages, out)
            self.count(harness.check_graph_tables(self.spark, out,
                                                  self.meta["expected"]))
        self._overhead(walls)
        execs = [e for e in reader.executions() if e.description == "build"]
        self._plan_counters(execs)

    def _checkpoint_step(self, reader: StatusReader) -> None:
        pages = self.meta["pages_dir"]
        walls = {}
        for label in STEP_ORDER:
            workdir = os.path.join(self.run_dir, f"ck-{label}")
            if label == "traced":
                with self.layer("checkpoint.fresh"):
                    walls[label], st = harness.checkpointed_build(
                        self.spark, pages, workdir)
            else:
                walls[label], st = harness.checkpointed_build(self.spark, pages, workdir)
            ok = harness.oracle_digests(st["nodes"], st["edges"]) == {
                k: self.meta["expected"][k] for k in ("edge_digest", "node_digest")}
            fresh = (harness.full_digest(st["nodes"]), harness.full_digest(st["edges"]))
            self.count(ok)
            if label == "traced":
                with self.layer("checkpoint.rerun"), record_stage_inputs() as seen:
                    _, st = harness.checkpointed_build(self.spark, pages, workdir)
                for fn, stage in RESUMED_STAGES.items():
                    n = sum(df.select("url").distinct().count() for df in seen[fn])
                    self.metrics[f"checkpoint.recomputed_urls.{stage}"] = float(n)
                    self.metrics["checkpoint.recomputed_urls"] += n
            else:
                _, st = harness.checkpointed_build(self.spark, pages, workdir)
            rerun = (harness.full_digest(st["nodes"]), harness.full_digest(st["edges"]))
            self.count(ok and rerun == fresh)
        self._overhead(walls)

        execs = reader.executions()
        fresh_execs = [e for e in execs if e.description == "checkpoint.fresh"]
        rerun_execs = [e for e in execs if e.description == "checkpoint.rerun"]
        m = self.metrics
        # executions are told apart by the table they write: a stage table
        # (``<stage>/config_id=...``), the ``_metrics`` lineage table, or none
        # (the rerun's anti-join ``limit(1).count()`` probes)
        lineage = [e for e in fresh_execs + rerun_execs
                   if (e.output_path() or "").endswith("_metrics")]
        m["checkpoint.metrics_jobs"] = float(sum(len(e.job_ids) for e in lineage))
        for e in fresh_execs:
            if "config_id=" in (e.output_path() or ""):
                m["checkpoint.write_s"] += e.wall_s
                m["checkpoint.write_mb"] += e.total(WRITE, "written output") / MB
        m["checkpoint.probe_s"] = sum(
            e.wall_s for e in rerun_execs if e.output_path() is None)
        self._plan_counters([e for e in fresh_execs if e not in lineage])
        self._job_stats(reader, "checkpoint", ("checkpoint.fresh", "checkpoint.rerun"))

    def _overhead(self, walls: dict[str, float]) -> None:
        self.metrics["tracing.untraced_build_s"] = walls["untraced"]
        self.metrics["tracing.traced_build_s"] = walls["traced"]
        self.metrics["tracing.overhead_s"] = walls["traced"] - walls["untraced"]

    def _plan_counters(self, execs) -> None:
        """Final-plan SQL metrics of one whole build, as users run it."""
        m = self.metrics
        for e in execs:
            for n in e.nodes:
                if n.name == "MapInPandas":
                    m["extraction.mapinpandas_execs"] += 1
                    if "token_start" in n.desc:  # the chunk packer's output
                        m["chunking.python_run_s"] += n.metrics.get(
                            "time to run Python workers", 0.0)
                        continue
                    for key, metric, scale in (
                        ("python_start_s", "time to start Python workers", 1.0),
                        ("python_init_s", "time to initialize Python workers", 1.0),
                        ("python_run_s", "time to run Python workers", 1.0),
                        ("arrow_sent_mb", "data sent to Python workers", MB),
                        ("arrow_returned_mb", "data returned from Python workers", MB),
                        ("rows_out", "number of output rows", 1.0),
                    ):
                        m[f"extraction.{key}"] += n.metrics.get(metric, 0.0) / scale
                elif "Aggregate" in n.name:
                    m["canonicalize.agg_build_s"] += n.metrics.get(
                        "time in aggregation build", 0.0)
                    m["canonicalize.sort_fallback_tasks"] += n.metrics.get(
                        "number of sort fallback tasks", 0.0)
                if n.name == "Exchange":
                    m["canonicalize.shuffle_write_mb"] += n.metrics.get(
                        "shuffle bytes written", 0.0) / MB
                m["canonicalize.spill_mb"] += n.metrics.get("spill size", 0.0) / MB

    def _job_stats(self, reader: StatusReader, layer: str, groups) -> None:
        per_group = [reader.job_group_stats(g) for g in groups]
        for stat in JOB_STATS:
            values = [g[stat] for g in per_group]
            self.metrics[f"{layer}.{stat}"] = (
                max(values) if stat == "task_skew" else sum(values))

    # -- step 3: each layer forced on the materialized output of the last
    def _staged(self, reader: StatusReader) -> None:
        spark, m = self.spark, self.metrics
        cfg = harness.CONFIG
        d = os.path.join(self.run_dir, "staged")

        def path(stage):
            return os.path.join(d, stage)

        pages = spark.read.parquet(self.meta["pages_dir"])
        with self.spans.span("staged"):
            with self.layer("scan"):
                pages.write.format("noop").mode("overwrite").save()
            with self.layer("extraction", "extraction.text"):
                extract_text(pages).write.parquet(path("extracted"))
            with self.layer("chunking"):
                chunk_pages(spark.read.parquet(path("extracted")),
                            chunk_size=cfg.chunk_size,
                            token_counter=cfg.token_counter,
                            ).write.parquet(path("chunks"))
            chunks = spark.read.parquet(path("chunks"))
            with self.layer("extraction", "extraction.triples"):
                extract_triples(chunks.select("url", "chunk_index", "text"),
                                cfg.model, impl=cfg.impl,
                                ).write.parquet(path("triples"))
            triples = spark.read.parquet(path("triples"))
            with self.layer("canonicalize", "canonicalize.edges"):
                triples_to_canonical_edges(triples).write.parquet(path("edges"))
            with self.layer("canonicalize", "canonicalize.nodes"):
                triples_to_canonical_nodes(
                    triples, category_of=vocab_category_table(spark),
                ).write.parquet(path("nodes"))
            nodes = spark.read.parquet(path("nodes"))
            edges = spark.read.parquet(path("edges"))
            with self.layer("graph_tables"):
                write_graph_tables(nodes, edges, path("graph"))
        self.count(harness.check_graph_tables(spark, path("graph"),
                                              self.meta["expected"]))

        m["scan.s"] = self.spans.self_s("scan")
        m["extraction.self_s"] = (self.spans.self_s("extraction.text")
                                  + self.spans.self_s("extraction.triples"))
        m["chunking.self_s"] = self.spans.self_s("chunking")
        m["canonicalize.edges_self_s"] = self.spans.self_s("canonicalize.edges")
        m["canonicalize.nodes_self_s"] = self.spans.self_s("canonicalize.nodes")
        m["graph_tables.write_s"] = self.spans.self_s("graph_tables")

        execs = reader.executions()
        for e in execs:
            if e.description == "scan":
                m["scan.rows"] += e.total("Scan parquet", "number of output rows")
                m["scan.file_mb"] += e.total("Scan parquet", "size of files read") / MB
            elif e.description == "graph_tables":
                m["graph_tables.files"] += e.total(WRITE, "number of written files")
                m["graph_tables.mb"] += e.total(WRITE, "written output") / MB
        m["chunking.chunks_out"] = float(chunks.count())
        m["chunking.chunks_per_page"] = m["chunking.chunks_out"] / self.meta[
            "properties"]["pages"]
        m["canonicalize.edges_out"] = float(edges.count())
        m["canonicalize.nodes_out"] = float(nodes.count())
        m["canonicalize.max_doc_ids"] = float(max(
            t.select(F.max(F.size("doc_ids"))).first()[0] for t in (edges, nodes)))
        for layer in ("scan", "extraction", "chunking", "canonicalize", "graph_tables"):
            self._job_stats(reader, layer, (layer,))


@contextlib.contextmanager
def record_stage_inputs():
    """Record the DataFrames the checkpointed pipeline hands to each
    resumable stage's operator, i.e. the keys it recomputes."""
    seen = {name: [] for name in RESUMED_STAGES}
    originals = {name: getattr(pipeline, name) for name in RESUMED_STAGES}

    def wrap(name, fn):
        def recorded(df, *args, **kwargs):
            seen[name].append(df)
            return fn(df, *args, **kwargs)
        return recorded

    for name, fn in originals.items():
        setattr(pipeline, name, wrap(name, fn))
    try:
        yield seen
    finally:
        for name, fn in originals.items():
            setattr(pipeline, name, fn)
