"""End-to-end KG construction pipeline: pages -> canonical nodes/edges.

The stage DAG (SURVEY.md §7.1):

    pages (url, warc_ts, html, text, lang)
      -> extracted (url, text)            html -> text, byte-identical
      -> chunks (url, chunk_index, ...)   greedy token-budget packer
      -> triples (url, chunk_index, pos, subj, pred, obj)   batched model
      -> canonical edges + nodes          groupBy/min_by/collect_set

Both runners extract with one fused Python pass,
``extract_page_results`` (html -> text -> chunks -> triples in one
``mapInPandas``, one row per page: ``url, n_chunks, triples``), flattened
to triple rows with one ``inline`` projection (``page_triples``).

- ``run_pipeline`` plans that pass once per graph table; its
  ``extracted``/``chunks``/``mentions`` are lazy staged DataFrames that run
  only if acted on. The staged chain (``extract_text`` -> ``chunk_pages``
  -> ``extract_triples``) builds the triples only where chunk rows are
  needed: ``overlap > 0`` (the neighbor-context window) and ``impl="sql"``.
- ``run_pipeline_checkpointed`` checkpoints the per-page results as its one
  resumable stage table, keyed by processed url, and writes lineage rows
  for the ``extracted``, ``chunks`` and ``triples`` stages from it (local
  runs use parquet — see ``sources/checkpoint.py``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from text_to_graph_spark.kit.extract import ENTITY_CATEGORIES
from text_to_graph_spark.operators.canonicalize import (
    triples_to_canonical_edges,
    triples_to_canonical_nodes,
)
from text_to_graph_spark.operators.chunking import chunk_pages
from text_to_graph_spark.operators.extraction import (
    extract_mentions,
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
    # triple extraction: "pandas" (batched model in mapInPandas; fused with
    # html -> text -> chunks unless overlap > 0) | "sql" (vocab model as
    # pure Catalyst over staged chunk text; run_pipeline only)
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
        if self.impl not in ("pandas", "sql"):
            raise ValueError(f"impl must be pandas|sql, got {self.impl!r}")

    def config_id(self) -> str:
        import hashlib
        import json

        blob = json.dumps(self.__dict__, sort_keys=True)
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


def vocab_category_table(spark: SparkSession) -> DataFrame:
    rows = [(k, v) for k, v in sorted(ENTITY_CATEGORIES.items())]
    return spark.createDataFrame(rows, "key string, type string")


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
    rebuilt only when that table changed. Every materialization appends
    per-partition lineage rows; the results table reports ``extracted``,
    ``chunks`` and ``triples`` from one job.

    The neighbor-context window (``overlap > 0``) and the Catalyst
    extractor (``impl="sql"``) need staged chunk rows; use ``run_pipeline``
    for them.
    """
    from text_to_graph_spark.sources.checkpoint import StageCheckpoint

    if cfg.overlap > 0:
        raise ValueError("run_pipeline_checkpointed does not support overlap > 0")
    if cfg.impl != "pandas":
        raise ValueError(
            f"run_pipeline_checkpointed supports impl='pandas' only, got {cfg.impl!r}"
        )
    ck = StageCheckpoint(spark, workdir)
    cid = cfg.config_id()
    if cfg.lang_filter:
        pages = pages.where(F.col("lang") == cfg.lang_filter)
    if cfg.dedup_pages:
        pages = dedup_pages_by_content(pages)

    results = ck.resume(
        pages, "triples", cid, ["url"],
        lambda missing: extract_page_results(
            missing, cfg.model, cfg.chunk_size, cfg.token_counter
        ),
        lineage={
            "extracted": F.lit(1),
            "chunks": F.col("n_chunks"),
            "triples": F.size("triples"),
        },
    )
    triples = page_triples(results)
    # canonicalization is a global aggregate: rewritten wholesale whenever
    # the triples table changed (keyed resume does not apply to a
    # whole-corpus groupBy), reused as is otherwise
    edges = ck.write(
        triples_to_canonical_edges(triples), "edges", cid, source="triples"
    )
    cats = vocab_category_table(spark) if cfg.model == "vocab" else None
    nodes = ck.write(
        triples_to_canonical_nodes(triples, category_of=cats), "nodes", cid,
        source="triples",
    )
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
    """Run pages -> graph; returns every stage for checkpointing/inspection."""
    if cfg.lang_filter:
        pages = pages.where(F.col("lang") == cfg.lang_filter)
    if cfg.dedup_pages:
        pages = dedup_pages_by_content(pages)
    extracted = extract_text(pages)
    chunks = chunk_pages(
        extracted, chunk_size=cfg.chunk_size, token_counter=cfg.token_counter
    )
    if cfg.overlap > 0:
        from text_to_graph_spark.operators.chunking import with_neighbor_context

        ctx = with_neighbor_context(chunks, cfg.chunk_size, cfg.overlap)
        chunk_input = ctx.select(
            "url", "chunk_index", F.col("context_text").alias("text")
        )
    else:
        chunk_input = chunks.select("url", "chunk_index", "text")
    if cfg.overlap > 0 or cfg.impl == "sql":
        triples = extract_triples(chunk_input, cfg.model, impl=cfg.impl)
    else:
        triples = page_triples(
            extract_page_results(pages, cfg.model, cfg.chunk_size, cfg.token_counter)
        )
    mentions = extract_mentions(chunk_input, cfg.model)
    edges = triples_to_canonical_edges(triples)
    cats = vocab_category_table(spark) if cfg.model == "vocab" else None
    nodes = triples_to_canonical_nodes(triples, category_of=cats)
    return {
        "pages": pages,
        "extracted": extracted,
        "chunks": chunks,
        "mentions": mentions,
        "triples": triples,
        "edges": edges,
        "nodes": nodes,
    }
