"""Chunking stage — greedy token-budget packing + neighbor-context windows.

``chunk_pages``: the reference's sequential packer (``kit/chunker.py``,
mirroring ``graph_extractor/src/chunk_utils.py:56-135``) runs per document.
Packing is order-dependent *within* a document and embarrassingly parallel
*across* documents — and since the pages table holds exactly one row per
document, the operator is a pure row-wise flatMap: ``mapInPandas``, ZERO
shuffle (an earlier ``groupBy(url).applyInPandas`` shape paid a full
exchange of the corpus for nothing — at 100 TB that shuffle would dominate
the whole pipeline). Giant documents remain the skew risk within a task:
nothing caps document length yet, so one giant page is packed whole by a
single task and no truncation is recorded.

``with_neighbor_context``: the reference's L0 overlap / L2 padding assembly
(``graph_generator.py:250-275`` and ``:194-199``) as a ``lag``/``lead``
window over ``(url, chunk_index)`` — prepend the trailing
``overlap/chunk_size`` fraction of the previous chunk's text and append the
leading fraction of the next (fraction slicing by whitespace tokens, matching
``text.split()[-n:]`` semantics via JVM built-ins ``slice``/``split``). The
pipeline runners pad inside their one fused pass instead
(``kit.chunker.neighbor_context``, same semantics, tested against this);
the window serves staged chunk rows.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from text_to_graph_spark.kit.chunker import pack_units
from text_to_graph_spark.kit.tokenize import count_tokens

# Deliberate divergence from the reference chunk schema
# (``chunk_utils.py:127-133``): ``doc_page`` is omitted. It is the PDF page
# number a chunk starts on, threaded through only so the desktop viewer can
# show "page N"; HTML pages have no page axis, so the column would be a
# constant 0 here. ``document_id`` is likewise ``url`` (the corpus identity).
# Token-count semantics (C5) pin the whitespace fallback of ``gpt.py:27-34``,
# not tiktoken — documented in kit/tokenize.py.
CHUNK_SCHEMA = (
    "url string, chunk_index int, chunk_size int, "
    "token_start int, token_end int, text string"
)


_CHUNK_COLS = ["url", "chunk_index", "chunk_size", "token_start", "token_end", "text"]


def resolve_token_counter(
    token_counter: str,
    bpe_merges: list[tuple[bytes, bytes]] | None = None,
) -> Callable[[str], int]:
    """The C5 token counter named by ``token_counter`` — the one resolver
    behind both packing paths (:func:`chunk_pages` and the fused
    ``extraction.extract_page_results``)."""
    if token_counter == "whitespace":
        return count_tokens
    if token_counter == "pretoken":
        from text_to_graph_spark.kit.bpe import count_pretokens

        return count_pretokens
    if token_counter == "bpe":
        from text_to_graph_spark.kit.bpe import BPE

        if bpe_merges is None:
            raise ValueError("token_counter='bpe' requires bpe_merges")
        return BPE(bpe_merges).count
    raise ValueError(f"unknown token_counter: {token_counter!r}")


def chunk_pages(
    extracted: DataFrame,
    chunk_size: int = 1000,
    token_counter: str = "whitespace",
    bpe_merges: list[tuple[bytes, bytes]] | None = None,
) -> DataFrame:
    """(url, text) -> one row per chunk, reference packing semantics.

    One document per input row, so packing needs no co-grouping: a
    shuffle-free ``mapInPandas`` flatMap (chunk_index restarts at 0 per
    document, exactly as the per-group shape did).

    ``token_counter`` selects C5's counter (see kit/bpe.py):
    - ``"whitespace"``: the reference's deterministic fallback (default)
    - ``"pretoken"``: BPE pre-tokenizer piece count (regex; DuckDB-oracle
      expressible, so the chunk contract stays fully value-checked)
    - ``"bpe"``: trained byte-pair merges applied within pieces;
      ``bpe_merges`` (from ``kit.bpe.train_bpe``) ships to executors in
      the task closure — the merge table is the model artifact, trained
      once on a sample and broadcast, never per-task.
    """
    cols = extracted.select("url", "text")
    counter = resolve_token_counter(token_counter, bpe_merges)

    def _pack_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: list[dict] = []
            for url, text in zip(pdf["url"], pdf["text"]):
                for row in pack_units(text, chunk_size, counter):
                    row["url"] = url
                    out.append(row)
            yield pd.DataFrame(out, columns=_CHUNK_COLS)

    return cols.mapInPandas(_pack_batches, schema=CHUNK_SCHEMA)


def with_neighbor_context(
    chunks: DataFrame, chunk_size: int = 1000, overlap: int = 100
) -> DataFrame:
    """Add ``context_text``: prev-tail + chunk + next-head (reference L0
    overlap, ``graph_generator.py:250-275``).

    frac = overlap / chunk_size of the neighbor's *whitespace tokens*, at
    most all of them. Pure built-ins: split + slice + concat_ws, window
    lag/lead — no UDF.
    """
    w = Window.partitionBy("url").orderBy("chunk_index")
    prev_toks = F.split(F.lag("text").over(w), " ")
    next_toks = F.split(F.lead("text").over(w), " ")
    n_prev = F.least(
        F.floor(F.size(prev_toks) * F.lit(overlap) / F.lit(chunk_size)).cast("int"),
        F.size(prev_toks),
    )
    n_next = F.floor(F.size(next_toks) * F.lit(overlap) / F.lit(chunk_size)).cast(
        "int"
    )
    prev_tail = F.when(
        n_prev > 0,
        F.concat_ws(" ", F.slice(prev_toks, F.size(prev_toks) - n_prev + 1, n_prev)),
    )
    next_head = F.when(n_next > 0, F.concat_ws(" ", F.slice(next_toks, F.lit(1), n_next)))
    return chunks.withColumn(
        "context_text", F.concat_ws(" ", prev_tail, F.col("text"), next_head)
    )


def with_full_padding(chunks: DataFrame) -> DataFrame:
    """L2 big-context assembly: full prev + cur + next chunk texts
    (``graph_generator.py:194-199``)."""
    w = Window.partitionBy("url").orderBy("chunk_index")
    return chunks.withColumn(
        "context_text",
        F.concat_ws(
            " ", F.lag("text").over(w), F.col("text"), F.lead("text").over(w)
        ),
    )
