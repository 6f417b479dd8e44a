"""Greedy token-budget chunk packing.

Reproduces the reference's packing semantics exactly
(``graph_extractor/src/chunk_utils.py:13-135``), as a pure function so the
same body runs inside the ``mapInPandas`` extraction passes on Spark and
inside the pandas oracle:

- target ``chunk_size`` tokens; hard max ``int(1.1 * target)``; min
  ``int(0.5 * target)`` (``chunk_utils.py:68-69``)
- sequentially accumulate units; if the next unit would overflow the max:
  finalize the current chunk when it already holds >= min tokens, else pack
  the oversize unit in anyway and finalize (``chunk_utils.py:102-112``)
- token_start bookkeeping advances by chunk token count + 1
  (``chunk_utils.py:50``)
- a trailing chunk smaller than min is merged into its predecessor with a
  single-space join; predecessor token_end += trailing size and chunk_size is
  recounted (``chunk_utils.py:117-125``)

Packing is inherently sequential *within* a document; documents are the unit
of parallelism (one pages row per url, so a row-wise ``mapInPandas``).

:func:`neighbor_context` pads one document's chunk texts with their
neighbours' text (the reference's L0 overlap, ``graph_generator.py:250-275``)
in the same Python pass, with the semantics of the Spark window
``operators.chunking.with_neighbor_context``.
"""

from __future__ import annotations

from typing import Callable

from text_to_graph_spark.kit.tokenize import count_tokens, text_units


def pack_units(
    text: str | None,
    target_chunk_size: int,
    counter: Callable[[str], int] = count_tokens,
) -> list[dict]:
    """Return chunk rows ``{chunk_index, chunk_size, token_start, token_end,
    text}`` for one document.

    ``counter`` selects the token counter (C5): the default whitespace
    fallback (``gpt.py:32-34``), or a subword counter from ``kit.bpe``
    (``count_pretokens`` / ``BPE(...).count``) — the packing algorithm is
    counter-agnostic, exactly as the reference's is tokenizer-agnostic.
    """
    if text is None:
        return []

    max_token_size = int(target_chunk_size * 1.1)
    min_token_size = int(target_chunk_size * 0.5)
    units = text_units(text)

    chunks: list[dict] = []
    current_parts: list[str] = []
    current_tokens = 0
    start_token = 0

    def finalize() -> None:
        nonlocal current_parts, current_tokens, start_token
        end_token = start_token + current_tokens
        chunks.append(
            {
                "chunk_index": len(chunks),
                "chunk_size": current_tokens,
                "token_start": start_token,
                "token_end": end_token,
                "text": " ".join(current_parts).strip(),
            }
        )
        start_token = end_token + 1
        current_parts = []
        current_tokens = 0

    i = 0
    n = len(units)
    while i < n:
        token_count = counter(units[i])
        if current_tokens + token_count <= max_token_size:
            current_parts.append(units[i])
            current_tokens += token_count
            i += 1
        else:
            if current_tokens >= min_token_size:
                finalize()
            else:
                current_parts.append(units[i])
                current_tokens += token_count
                i += 1
                finalize()

    if current_parts:
        finalize()

    if len(chunks) > 1:
        last = chunks[-1]
        last_size = counter(last["text"])
        if last_size < min_token_size:
            prev = chunks[-2]
            prev["text"] = prev["text"] + " " + last["text"]
            prev["token_end"] += last_size
            prev["chunk_size"] = counter(prev["text"])
            chunks.pop()

    return chunks


def neighbor_context(texts: list[str], chunk_size: int, overlap: int) -> list[str]:
    """Each chunk text padded with ``floor(len(tokens) * overlap /
    chunk_size)`` space-split tokens (at most all of them) from the previous
    chunk's tail and the next chunk's head, joined with ``" "``; a side with
    no neighbour or no tokens to take is skipped. ``texts`` is one
    document's chunks in ``chunk_index`` order."""
    toks = [t.split(" ") for t in texts]
    out = []
    for i, text in enumerate(texts):
        parts = [text]
        if i > 0 and (n := len(toks[i - 1]) * overlap // chunk_size) > 0:
            parts.insert(0, " ".join(toks[i - 1][-n:]))
        if i + 1 < len(texts) and (n := len(toks[i + 1]) * overlap // chunk_size) > 0:
            parts.append(" ".join(toks[i + 1][:n]))
        out.append(" ".join(parts))
    return out
