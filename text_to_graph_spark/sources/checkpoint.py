"""Checkpoint-resumable stage tables + lineage metrics.

The reference makes every stage content-addressed and resumable through a
SQLite response cache keyed ``(document_id, chunk_index, config_id)``
(``graph_extractor/src/sqlite_support.py:275-330``; skip-if-cached at
``graph_generator.py:183,227,260``). The distributed equivalent:

- each stage writes a parquet (Iceberg in production) table under
  ``<workdir>/<stage>/config_id=<id>/`` — partitioned by config so reruns
  with different configs never collide;
- resume = ``left_anti`` join of the incoming keys against the already-
  checkpointed keys (J4 in SURVEY.md §2.6) — only misses are recomputed and
  appended. A stage that writes one row per processed key (the pipeline's
  per-page results table) therefore recomputes nothing on an unchanged
  rerun, including keys that produced no triples;
- a derived table (``write(..., source=stage)``) remembers which version of
  its source stage it was built from and is reused while that version is
  current, so an unchanged rerun rewrites nothing — and, given a builder
  instead of a DataFrame, plans nothing;
- every materialization appends per-partition lineage rows
  ``(stage, config_id, partition_id, rows_out, wall_ms, recorded_at)`` to
  ``<workdir>/_metrics`` (the build contract's lineage requirement). One
  table can report several logical stages — the per-page results table
  reports ``extracted`` (pages), ``chunks`` and ``triples`` — from one
  aggregation job.
"""

from __future__ import annotations

import hashlib
import os
import time
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_SOURCE_MARKER = "_SOURCE_VERSION"


class StageCheckpoint:
    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)

    def _path(self, stage: str, config_id: str) -> str:
        return os.path.join(self.workdir, stage, f"config_id={config_id}")

    def exists(self, stage: str, config_id: str) -> bool:
        p = self._path(stage, config_id)
        return os.path.exists(os.path.join(p, "_SUCCESS"))

    def read(self, stage: str, config_id: str) -> DataFrame:
        return self.spark.read.parquet(self._path(stage, config_id))

    def _version(self, stage: str, config_id: str) -> str:
        """Digest of the stage's data file names. Every overwrite or append
        writes files under a fresh job id, so any commit changes it."""
        names = sorted(
            n for n in os.listdir(self._path(stage, config_id))
            if not n.startswith(("_", "."))
        )
        return hashlib.sha256("\n".join(names).encode()).hexdigest()

    def write(
        self,
        df: DataFrame | Callable[[], DataFrame],
        stage: str,
        config_id: str,
        source: str | None = None,
    ) -> DataFrame:
        """Materialize a full stage table (overwrite) + metrics; returns the
        re-read DataFrame so downstream reads the files, cutting lineage.

        ``source`` names the stage ``df`` is derived from: when this table
        was already built from the current version of ``source``, it is
        returned as is. ``df`` may be a zero-argument builder, called only
        when the table is (re)written."""
        path = self._path(stage, config_id)
        marker = os.path.join(path, _SOURCE_MARKER)
        if source is not None:
            current = self._version(source, config_id)
            if self.exists(stage, config_id) and os.path.exists(marker):
                with open(marker) as f:
                    if f.read() == current:
                        return self.read(stage, config_id)
        if callable(df):
            df = df()
        out = self._commit(df, stage, config_id, "overwrite")
        if source is not None:
            with open(marker, "w") as f:
                f.write(current)
        return out

    def resume(
        self,
        incoming_keys: DataFrame,
        stage: str,
        config_id: str,
        key_cols: list[str],
        compute,
        lineage: dict[str, Column] | None = None,
    ) -> DataFrame:
        """Process only keys without a checkpointed result.

        ``compute(missing_keys_df) -> DataFrame`` produces rows for the
        missing keys; they are appended to the stage table. Returns the
        complete stage table. Mirrors ``optimization_on`` semantics
        (``graph_generator.py:183``). ``lineage`` maps each stage name to
        report in ``_metrics`` to its per-row count (default: one row
        counts once, under ``stage``).
        """
        if self.exists(stage, config_id):
            cached = self.read(stage, config_id)
            missing = incoming_keys.join(
                cached.select(*key_cols).distinct(), key_cols, "left_anti"
            )
            if missing.limit(1).count() == 0:
                return cached
            return self._commit(compute(missing), stage, config_id, "append", lineage)
        return self._commit(
            compute(incoming_keys), stage, config_id, "overwrite", lineage
        )

    def _commit(
        self,
        df: DataFrame,
        stage: str,
        config_id: str,
        mode: str,
        lineage: dict[str, Column] | None = None,
    ) -> DataFrame:
        t0 = time.monotonic()
        df.write.mode(mode).parquet(self._path(stage, config_id))
        out = self.read(stage, config_id)
        self._record_metrics(
            out, lineage or {stage: F.lit(1)}, config_id, time.monotonic() - t0
        )
        return out

    def _record_metrics(
        self,
        df: DataFrame,
        lineage: dict[str, Column],
        config_id: str,
        wall_s: float,
    ) -> None:
        """Per-partition lineage rows, one per reported stage: the sum of
        that stage's per-row count over each file partition."""
        sums = [F.sum(c).cast("long").alias(f"_{i}") for i, c in enumerate(lineage.values())]
        rows = F.array(*[
            F.struct(F.lit(s).alias("stage"), F.col(f"_{i}").alias("rows_out"))
            for i, s in enumerate(lineage)
        ])
        metrics = (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(*sums)
            .select("partition_id", F.inline(rows))
            .select(
                "stage",
                F.lit(config_id).alias("config_id"),
                "partition_id",
                "rows_out",
                F.lit(round(wall_s * 1000)).alias("wall_ms"),
                F.current_timestamp().alias("recorded_at"),
            )
        )
        metrics.write.mode("append").parquet(os.path.join(self.workdir, "_metrics"))

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.workdir, "_metrics"))
