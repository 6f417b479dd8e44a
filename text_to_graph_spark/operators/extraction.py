"""Text -> text / chunk -> mentions / chunk -> triples stages.

``extract_page_results`` is the pipeline's one extraction body (html ->
text -> chunks -> optional neighbor-context padding -> triples in ONE
``mapInPandas``, one row per page); both runners in ``pipeline.py`` call it
for every config. The staged operators below run the same steps one
``mapInPandas`` each; they stay public, oracle-checked functions for the
registry, ``bench.py`` and the benchmark's per-layer trace.

Stage 1 — ``extract_text``: html:binary -> text, byte-identical per url to
the synthesized ``text`` (the per-row invariant). Analog of the reference's
extractor stage (``graph_extractor/src/pdf_extractor.py:6-27``), which the
reference caches by content hash (``graph_generator.py:341-358``); our
resume primitive is an anti-join against the stage checkpoint (see
``sources/checkpoint.py``).

Stage 3/4 — ``extract_mentions`` / ``extract_triples``: the deterministic
batched model (see ``kit/extract.py``) inside ``mapInPandas``. One model
invocation per Arrow batch; the model body is vectorized pandas (explode +
group-shift), not per-row Python. Mirrors the reference's L1 mention pass
(``graph_generator.py:215-243``) and L0/L2 triple pass
(``graph_generator.py:160-212,247-288``) with the LLM replaced per contract.

``extract_triples(..., impl="sql")`` is a pure-Catalyst twin of the vocab
model (the trigram scan as ``transform(sequence(...))`` over the token
array, whole-stage codegen, no Python). It needs staged chunk rows, so no
pipeline runner uses it; the registry and ``bench.py`` do, and tests
assert it agrees with the model.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from text_to_graph_spark.kit.chunker import neighbor_context, pack_units
from text_to_graph_spark.kit.extract import get_model
from text_to_graph_spark.kit.htmlcodec import extract_text_from_html
from text_to_graph_spark.operators.chunking import resolve_token_counter

_TEXT_SCHEMA = "url string, text string"


def extract_text(pages: DataFrame) -> DataFrame:
    """html:binary -> (url, text), byte-identical per url."""
    cols = pages.select("url", "html")

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {"url": pdf["url"], "text": pdf["html"].map(extract_text_from_html)}
            )

    return cols.mapInPandas(_batches, schema=_TEXT_SCHEMA)


_MENTION_SCHEMA = "url string, chunk_index int, pos int, mention string"
_TRIPLE_SCHEMA = (
    "url string, chunk_index int, pos int, subj string, pred string, obj string"
)


def extract_mentions(chunks: DataFrame, model_name: str = "vocab") -> DataFrame:
    """Chunk text -> positional mention rows (url, chunk_index, pos, mention).

    Deterministic batched model inference inside mapInPandas (reference L1,
    ``prompts.py:3-11``).
    """
    cols = chunks.select("url", "chunk_index", "text")

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = get_model(model_name)
        for pdf in it:
            m = model.mentions(pdf["text"])
            if m.empty:
                yield pd.DataFrame(
                    columns=["url", "chunk_index", "pos", "mention"]
                ).astype({"chunk_index": "int32", "pos": "int32"})
                continue
            m = m.join(pdf[["url", "chunk_index"]], on="row")
            yield m[["url", "chunk_index", "pos", "mention"]]

    return cols.mapInPandas(_batches, schema=_MENTION_SCHEMA)


def extract_triples(
    chunks: DataFrame, model_name: str = "vocab", impl: str = "pandas"
) -> DataFrame:
    """Chunk text -> positional triple rows (url, chunk_index, pos, subj,
    pred, obj).

    ``impl="pandas"``: the contract path — batched model in mapInPandas.
    ``impl="sql"``:    vocab model as pure Catalyst expressions (JVM-side,
                       whole-stage codegen); only valid for the vocab model.
    """
    if impl == "sql":
        if model_name != "vocab":
            raise ValueError("sql impl only supports the vocab model")
        return _vocab_triples_sql(chunks)

    cols = chunks.select("url", "chunk_index", "text")

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = get_model(model_name)
        for pdf in it:
            t = model.triples(pdf["text"])
            if t.empty:
                yield pd.DataFrame(
                    columns=["url", "chunk_index", "pos", "subj", "pred", "obj"]
                ).astype({"chunk_index": "int32", "pos": "int32"})
                continue
            t = t.join(pdf[["url", "chunk_index"]], on="row")
            yield t[["url", "chunk_index", "pos", "subj", "pred", "obj"]]

    return cols.mapInPandas(_batches, schema=_TRIPLE_SCHEMA)


def chunk_mention_lists(mentions: DataFrame) -> DataFrame:
    """A5 — the L1 -> L2 bridge (``graph_generator.py:29-47``): one row per
    chunk with the sorted-distinct mention list (the reference extends lists
    on collision; a set union is its order-free equivalent)."""
    return mentions.groupBy("url", "chunk_index").agg(
        F.array_sort(F.collect_set("mention")).alias("mentions")
    )


def restrict_triples_to_mentions(
    triples: DataFrame, mention_lists: DataFrame
) -> DataFrame:
    """L2 semantics: triples whose subject AND object appear in the chunk's
    L1 mention list (the prompt hands the list to the second pass,
    ``prompts.py:14-47``). An inner join on the chunk key — chunks with no
    L1 result drop, mirroring ``graph_generator.py:187-189``."""
    j = triples.join(mention_lists, ["url", "chunk_index"], "inner")
    return j.where(
        F.array_contains("mentions", F.col("subj"))
        & F.array_contains("mentions", F.col("obj"))
    ).drop("mentions")


_PAGE_RESULT_SCHEMA = (
    "url string, n_chunks int, triples array<struct<chunk_index: int,"
    " pos: int, subj: string, pred: string, obj: string>>"
)


def extract_page_results(
    pages: DataFrame,
    model_name: str = "vocab",
    chunk_size: int = 1000,
    token_counter: str = "whitespace",
    overlap: int = 0,
) -> DataFrame:
    """Fused html -> text -> chunks -> triples in ONE ``mapInPandas``, one
    output row per input page: ``(url, n_chunks, triples)``.

    ``overlap > 0`` pads each page's chunk texts with their neighbours'
    text before the model runs (``kit.chunker.neighbor_context``, the
    reference's L0 overlap window); at ``overlap == 0`` no context is built.

    A page with no triples (or null/undecodable html, which has no chunks)
    is still a row with an empty ``triples`` list, so the set of urls in the
    output is the set of urls processed — the key set a resumable stage
    table needs. ``page_triples`` flattens it to the staged chain's triple
    rows: ``page_triples(extract_page_results(pages))`` equals
    ``extract_triples(chunk_pages(extract_text(pages)))``, and with
    ``overlap`` the same chain over ``with_neighbor_context``'s
    ``context_text`` (tests assert both), but crosses the JVM<->Python
    Arrow boundary once instead of three times.
    Each batch's ``triples`` column is one Arrow ``ListArray``: the batch's
    triple columns cut by per-page offsets.
    """
    counter = resolve_token_counter(token_counter)
    cols = pages.select("url", "html")

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = get_model(model_name)
        for pdf in it:
            n_chunks = np.zeros(len(pdf), dtype=np.int32)
            owner: list = []
            cidx: list = []
            ctexts: list = []
            for i, html in enumerate(pdf["html"]):
                rows = pack_units(extract_text_from_html(html), chunk_size, counter)
                texts = [row["text"] for row in rows]
                if overlap > 0:
                    texts = neighbor_context(texts, chunk_size, overlap)
                n_chunks[i] = len(texts)
                owner.extend([i] * len(texts))
                cidx.extend(range(len(texts)))
                ctexts.extend(texts)
            t = model.triples(pd.Series(ctexts, dtype=object))
            chunk = t["row"].to_numpy(dtype=np.int64)
            pos = t["pos"].to_numpy(dtype=np.int32)
            # chunk rows are page-major, so (chunk row, pos) order groups
            # each page's triples contiguously
            order = np.lexsort((pos, chunk))
            chunk = chunk[order]
            page = np.asarray(owner, dtype=np.int64)[chunk]
            offsets = np.zeros(len(pdf) + 1, dtype=np.int32)
            np.cumsum(np.bincount(page, minlength=len(pdf)), out=offsets[1:])
            fields = [
                pa.array(np.asarray(cidx, dtype=np.int32)[chunk]),
                pa.array(pos[order]),
                *(
                    pa.array(t[c].to_numpy(dtype=object)[order], pa.string())
                    for c in ("subj", "pred", "obj")
                ),
            ]
            triples = pa.ListArray.from_arrays(
                pa.array(offsets),
                pa.StructArray.from_arrays(
                    fields, names=["chunk_index", "pos", "subj", "pred", "obj"]
                ),
            )
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "n_chunks": n_chunks,
                    "triples": pd.arrays.ArrowExtensionArray(triples),
                }
            )

    return cols.mapInPandas(_batches, schema=_PAGE_RESULT_SCHEMA)


def page_triples(results: DataFrame) -> DataFrame:
    """Per-page results -> triple rows (url, chunk_index, pos, subj, pred,
    obj): one ``inline`` projection, no shuffle."""
    return results.select("url", F.inline("triples"))


def extract_triples_from_pages(
    pages: DataFrame,
    model_name: str = "vocab",
    chunk_size: int = 1000,
    token_counter: str = "whitespace",
) -> DataFrame:
    """Fused html -> text -> chunks -> triple rows: ``page_triples`` over
    ``extract_page_results`` (one ``mapInPandas``)."""
    return page_triples(
        extract_page_results(pages, model_name, chunk_size, token_counter)
    )


def _vocab_triples_sql(chunks: DataFrame) -> DataFrame:
    """Vocab trigram extraction as built-in expressions only.

    tokens = split(text,' '); for i in 0..n-3 emit (t[i],t[i+1],t[i+2]) when
    the vocab predicate holds. filter+transform stay inside codegen; one
    explode produces the triple rows.

    Order matters for throughput: positions are *filtered first* (cheapest,
    most-selective test first — the 6-way predicate IN before the 19-way
    entity INs, short-circuited), and the output structs are built only for
    survivors. Building structs for every position and filtering afterwards
    measured ~2x slower end-to-end at sf0.1.
    """
    from text_to_graph_spark.kit.extract import ENTITY_CATEGORIES, PREDICATES

    ents = ", ".join(f"'{e}'" for e in sorted(ENTITY_CATEGORIES))
    preds = ", ".join(f"'{p}'" for p in PREDICATES)
    return (
        chunks.select("url", "chunk_index", F.split("text", " ").alias("w"))
        .select(
            "url",
            "chunk_index",
            F.expr(
                f"""
                transform(
                  filter(
                    CASE WHEN size(w) >= 3 THEN sequence(0, size(w) - 3)
                         ELSE cast(array() as array<int>) END,
                    i -> w[i+1] IN ({preds}) AND w[i] IN ({ents})
                         AND w[i+2] IN ({ents})),
                  i -> struct(i as pos, w[i] as subj,
                              w[i+1] as pred, w[i+2] as obj)
                )
                """
            ).alias("ts"),
        )
        .select(
            "url",
            "chunk_index",
            F.explode("ts").alias("t"),
        )
        .select(
            "url",
            "chunk_index",
            F.col("t.pos").alias("pos"),
            F.col("t.subj").alias("subj"),
            F.col("t.pred").alias("pred"),
            F.col("t.obj").alias("obj"),
        )
    )


def entity_salience(extracted: DataFrame) -> DataFrame:
    """Per-document entity salience from doc-global mention positions.

    For every (url, mention) pair: mention count, first/last token
    position, and exact-integer salience components over the document's
    token count — the per-doc entity ranking a KG-construction pipeline
    uses to pick which entities a page is *about* (vs merely names), the
    signal the reference's viewer exposes only as raw counts
    (``graph_extractor/src/graph_utils.py:62-76``).

        freq_ppm      = floor(1e6 * n_mentions / n_tokens)
        earliness_ppm = floor(1e6 * (n_tokens - first_pos) / n_tokens)
        salience_ppm  = floor((freq_ppm + earliness_ppm) / 2)

    Scale shape (100 TB): the positional scan is pure Catalyst — a
    filter+transform over the token array inside whole-stage codegen (same
    pattern as ``_vocab_triples_sql``), so no Python and no shuffle until
    the one partial-agg'd groupBy on (url, mention). Output cardinality is
    bounded by docs x vocab. All math is exact integer (engine-portable).
    """
    from text_to_graph_spark.kit.extract import ENTITY_CATEGORIES

    ents = ", ".join(f"'{e}'" for e in sorted(ENTITY_CATEGORIES))
    hits = (
        extracted.select("url", F.split("text", " ").alias("w"))
        .select(
            "url",
            F.size("w").alias("n_tokens"),
            F.expr(
                f"""
                transform(
                  filter(sequence(0, size(w) - 1), i -> w[i] IN ({ents})),
                  i -> struct(i as pos, w[i] as mention)
                )
                """
            ).alias("ms"),
        )
        .select("url", "n_tokens", F.explode("ms").alias("m"))
        .select("url", "n_tokens", F.col("m.pos").alias("pos"), F.col("m.mention").alias("mention"))
    )
    agg = hits.groupBy("url", "mention").agg(
        F.count(F.lit(1)).cast("long").alias("n_mentions"),
        F.min("pos").cast("long").alias("first_pos"),
        (F.max("pos") - F.min("pos")).cast("long").alias("spread"),
        F.min("n_tokens").cast("long").alias("n_tokens"),
    )
    return agg.select(
        "url",
        "mention",
        "n_mentions",
        "first_pos",
        "spread",
        F.expr("n_mentions * 1000000L DIV n_tokens").alias("freq_ppm"),
        F.expr("(n_tokens - first_pos) * 1000000L DIV n_tokens").alias(
            "earliness_ppm"
        ),
        F.expr(
            "(n_mentions * 1000000L DIV n_tokens"
            " + (n_tokens - first_pos) * 1000000L DIV n_tokens) DIV 2"
        ).alias("salience_ppm"),
    )
