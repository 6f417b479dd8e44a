"""End-to-end KG construction pipeline: pages -> canonical nodes/edges.

The stage DAG (SURVEY.md §7.1):

    pages (url, warc_ts, html, text, lang)
      -> extracted (url, text)            html -> text, byte-identical
      -> chunks (url, chunk_index, ...)   greedy token-budget packer
      -> triples (url, chunk_index, pos, subj, pred, obj)   batched model
      -> canonical edges + nodes          groupBy/min_by/collect_set

Both runners extract every config with one fused Python pass,
``extract_page_results`` (html -> text -> chunks -> neighbor-context
padding when ``overlap > 0`` -> triples in one ``mapInPandas``, one row per
page: ``url, n_chunks, triples``), flattened to triple rows with one
``inline`` projection (``page_triples``). Both build edges and nodes as two
projections of one edge-grain pre-aggregate of the triples
(``triples_to_canonical_graph``), materialized once per build, so a build
runs the Python pass and the occurrence aggregate once.

- ``run_pipeline`` local-checkpoints that pre-aggregate.
- ``run_pipeline_checkpointed`` checkpoints the per-page results as its one
  resumable stage table, keyed by processed url, and writes lineage rows
  for the ``extracted``, ``chunks`` and ``triples`` stages from it (local
  runs use parquet — see ``sources/checkpoint.py``). It builds the
  pre-aggregate only when edges or nodes must be rewritten.
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from text_to_graph_spark.kit.extract import ENTITY_CATEGORIES
from text_to_graph_spark.operators.canonicalize import triples_to_canonical_graph
# unused here; perfbench/trace.py wraps chunk_pages/extract_text/extract_triples by name
from text_to_graph_spark.operators.chunking import chunk_pages  # noqa: F401
from text_to_graph_spark.operators.extraction import (  # noqa: F401
    extract_page_results,
    extract_text,
    extract_triples,
    page_triples,
)


@dataclass(frozen=True)
class PipelineConfig:
    """Identity of a run — hashed into every checkpoint key (the reference's
    Configurations row, ``sqlite_support.py:50-60``)."""

    model: str = "vocab"
    chunk_size: int = 1000
    overlap: int = 0
    # triple extraction: "pandas" (the batched model inside the one fused
    # mapInPandas) is the only accepted value; the field stays so that
    # config ids are unchanged
    impl: str = "pandas"
    lang_filter: str | None = None
    # content-hash pre-dedup (the reference never re-extracts identical
    # bytes, graph_generator.py:341-358): keep one page per sha256(html),
    # min(url) wins deterministically. Essential at CC scale.
    dedup_pages: bool = False
    # C5 token counter: "whitespace" (reference fallback, gpt.py:32-34),
    # "pretoken" (BPE pre-tokenizer regex pieces), or "bpe" (trained
    # merges; pass merges to chunk_pages directly for that path)
    token_counter: str = "whitespace"

    def __post_init__(self) -> None:
        if self.impl != "pandas":
            raise ValueError(f"impl must be pandas, got {self.impl!r}")

    def config_id(self) -> str:
        import hashlib
        import json

        blob = json.dumps(self.__dict__, sort_keys=True)
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


def vocab_category_table(spark: SparkSession) -> DataFrame:
    """The vocab model's ``(key, type)`` categories as a local relation
    (``VALUES``): broadcasting it plans a ``LocalTableScan`` and runs no
    job, where a ``createDataFrame(list)`` RDD scan runs one per build."""
    rows = ", ".join(f"('{k}', '{v}')" for k, v in sorted(ENTITY_CATEGORIES.items()))
    return spark.sql(f"SELECT * FROM VALUES {rows} AS t(key, type)")


def _page_results(pages: DataFrame, cfg: PipelineConfig) -> DataFrame:
    return extract_page_results(
        pages, cfg.model, cfg.chunk_size, cfg.token_counter, cfg.overlap
    )


def _canonical_graph(
    spark: SparkSession, triples: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame, DataFrame]:
    cats = vocab_category_table(spark) if cfg.model == "vocab" else None
    return triples_to_canonical_graph(triples, category_of=cats)


def run_pipeline_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    workdir: str,
    cfg: PipelineConfig = PipelineConfig(),
) -> dict[str, DataFrame]:
    """The stage DAG materialized through ``StageCheckpoint`` — the
    production shape. One resumable stage, ``triples``, holds the fused
    extraction's per-page results (``extract_page_results``: one row per
    processed url, its chunk count and its triple list), so a killed run
    resumes where it stopped and a rerun extracts only urls it has never
    seen — urls with zero triples included (reference ``optimization_on``
    semantics, ``graph_generator.py:183``). Canonical edges and nodes are
    rebuilt only when that table changed, from one local-checkpointed
    edge-grain pre-aggregate that is constructed only then: an unchanged
    rerun plans no canonical DataFrame. Every materialization appends
    per-partition lineage rows; the results table reports ``extracted``,
    ``chunks`` and ``triples`` from one job.
    """
    from text_to_graph_spark.sources.checkpoint import StageCheckpoint

    ck = StageCheckpoint(spark, workdir)
    cid = cfg.config_id()
    if cfg.lang_filter:
        pages = pages.where(F.col("lang") == cfg.lang_filter)
    if cfg.dedup_pages:
        pages = dedup_pages_by_content(pages)

    results = ck.resume(
        pages, "triples", cid, ["url"],
        lambda missing: _page_results(missing, cfg),
        lineage={
            "extracted": F.lit(1),
            "chunks": F.col("n_chunks"),
            "triples": F.size("triples"),
        },
    )
    triples = page_triples(results)
    # canonicalization is a global aggregate: rewritten wholesale whenever
    # the triples table changed (keyed resume does not apply to a
    # whole-corpus groupBy), reused as is otherwise; both tables share one
    # pre-aggregate, built on first use
    graph = functools.cache(lambda: _canonical_graph(spark, triples, cfg))
    edges = ck.write(lambda: graph()[0], "edges", cid, source="triples")
    nodes = ck.write(lambda: graph()[1], "nodes", cid, source="triples")
    return {
        "pages": pages,
        "triples": triples,
        "edges": edges,
        "nodes": nodes,
        "checkpoint": ck,  # type: ignore[dict-item]
    }


def dedup_pages_by_content(pages: DataFrame) -> DataFrame:
    """One page per distinct html content: ``sha2(html, 256)`` group, the
    lexicographically smallest url is the deterministic representative (the
    reference's never-re-extract-same-bytes cache, generalized — Common
    Crawl is massively duplicated, so this typically drops most of the
    corpus before the expensive extraction stage)."""
    h = pages.withColumn("_h", F.sha2("html", 256))
    reps = h.groupBy("_h").agg(F.min("url").alias("url"))
    return h.join(reps, ["_h", "url"], "left_semi").drop("_h")


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig = PipelineConfig(),
) -> dict[str, DataFrame]:
    """Run pages -> graph; returns ``pages``, ``triples``, ``edges`` and
    ``nodes``.

    ``edges`` and ``nodes`` read one edge-grain pre-aggregate held with
    ``localCheckpoint(eager=False)``, so writing both runs the extraction
    once. Under AQE, creating that checkpoint already runs the
    pre-aggregate's shuffle-map stage — the extraction — in this call (2
    jobs); the first action over either table then computes and keeps the
    final stage. Its blocks are freed when the returned DataFrames are
    garbage-collected, and its lineage is cut: losing an executor fails the
    build instead of recomputing it. ``triples`` stays lazy and re-runs the
    extraction if acted on."""
    if cfg.lang_filter:
        pages = pages.where(F.col("lang") == cfg.lang_filter)
    if cfg.dedup_pages:
        pages = dedup_pages_by_content(pages)
    triples = page_triples(_page_results(pages, cfg))
    edges, nodes = _canonical_graph(spark, triples, cfg)
    return {"pages": pages, "triples": triples, "edges": edges, "nodes": nodes}
