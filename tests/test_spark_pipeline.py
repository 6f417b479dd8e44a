"""Spark pipeline vs the single-process pandas oracle (BASELINE.md targets).

- byte-identical extracted text per url (the input_hint per-row invariant)
- chunk parity with the reference packer
- triple set P/R >= 0.95 (exact-label mode: exact equality, so P = R = 1.0)
- canonical nodes/edges parity (first-occurrence labels, doc counts)
- the pure-Catalyst (impl="sql") extraction path agrees with the mapInPandas
  contract path
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests import oracle as O
from tests.conftest import SF_SMOKE
from text_to_graph_spark.operators.chunking import chunk_pages, with_neighbor_context
from text_to_graph_spark.operators.extraction import (
    extract_mentions,
    extract_text,
    extract_triples,
)
from text_to_graph_spark.pipeline import PipelineConfig, run_pipeline


def test_extract_text_byte_identical(spark, pages_smoke):
    extracted = extract_text(pages_smoke)
    joined = extracted.alias("e").join(
        pages_smoke.select("url", F.col("text").alias("expected")), "url"
    )
    n_pages = pages_smoke.count()
    n_match = joined.where(F.col("text") == F.col("expected")).count()
    assert n_pages > 0
    assert n_match == n_pages  # byte-identical per url, no loss


def test_chunks_match_reference_packer(spark, pages_smoke):
    got = (
        chunk_pages(extract_text(pages_smoke))
        .toPandas()
        .sort_values(["url", "chunk_index"], ignore_index=True)
    )
    exp = O.oracle_chunks(
        pages_smoke.select("url", "text").toPandas()
    ).sort_values(["url", "chunk_index"], ignore_index=True)
    pd.testing.assert_frame_equal(
        got.astype({"chunk_index": "int64", "chunk_size": "int64",
                    "token_start": "int64", "token_end": "int64"}),
        exp.astype({"chunk_index": "int64", "chunk_size": "int64",
                    "token_start": "int64", "token_end": "int64"})[got.columns],
    )


def test_chunks_with_trained_bpe_counter_match_local_packer(spark, pages_smoke):
    """C5 primary-path shape end to end: the merge table trains once
    driver-side, ships in the task closure, and the distributed packer
    reproduces the local one exactly under the trained-BPE counter."""
    from text_to_graph_spark.kit.bpe import BPE, train_bpe
    from text_to_graph_spark.kit.chunker import pack_units

    pdf = pages_smoke.select("url", "text").toPandas()
    merges = train_bpe(list(pdf["text"].head(50)), 64)
    enc = BPE(merges)

    got = (
        chunk_pages(extract_text(pages_smoke), chunk_size=200,
                    token_counter="bpe", bpe_merges=merges)
        .toPandas()
        .sort_values(["url", "chunk_index"], ignore_index=True)
    )
    exp_rows = []
    for url, text in zip(pdf["url"], pdf["text"]):
        for row in pack_units(text, 200, counter=enc.count):
            row["url"] = url
            exp_rows.append(row)
    exp = pd.DataFrame(exp_rows)[got.columns].sort_values(
        ["url", "chunk_index"], ignore_index=True
    )
    ints = {c: "int64" for c in
            ("chunk_index", "chunk_size", "token_start", "token_end")}
    pd.testing.assert_frame_equal(got.astype(ints), exp.astype(ints))
    # the subword counter genuinely differs from the whitespace fallback
    ws = chunk_pages(extract_text(pages_smoke), chunk_size=200).toPandas()
    assert not got["chunk_size"].equals(
        ws.sort_values(["url", "chunk_index"], ignore_index=True)["chunk_size"]
    )


def _triple_set(df: pd.DataFrame) -> set:
    return set(zip(df["url"], df["chunk_index"], df["pos"],
                   df["subj"], df["pred"], df["obj"]))


def test_triples_pr_vs_oracle(spark, pages_smoke):
    stages = run_pipeline(spark, pages_smoke, PipelineConfig())
    got = _triple_set(stages["triples"].toPandas())
    exp_chunks = O.oracle_chunks(pages_smoke.select("url", "text").toPandas())
    exp = _triple_set(O.oracle_triples(exp_chunks))
    assert exp, "oracle produced no triples — fixture corpus broken"
    tp = len(got & exp)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(exp)
    # exact-label mode reproduces the oracle exactly; the contract floor is 0.95
    assert precision == 1.0 and recall == 1.0, (precision, recall)


def test_sql_impl_agrees_with_pandas_impl(spark, pages_smoke):
    chunks = chunk_pages(extract_text(pages_smoke))
    a = extract_triples(chunks, "vocab", impl="pandas")
    b = extract_triples(chunks, "vocab", impl="sql")
    cols = ["url", "chunk_index", "pos", "subj", "pred", "obj"]
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def test_canonical_edges_match_oracle(spark, pages_smoke):
    stages = run_pipeline(spark, pages_smoke, PipelineConfig())
    got = stages["edges"].toPandas().sort_values(
        ["subj_key", "pred_key", "obj_key"], ignore_index=True
    )
    exp_chunks = O.oracle_chunks(pages_smoke.select("url", "text").toPandas())
    exp = O.oracle_canonical_edges(O.oracle_triples(exp_chunks)).sort_values(
        ["subj_key", "pred_key", "obj_key"], ignore_index=True
    )
    cols = ["subj_key", "pred_key", "obj_key",
            "subj_label", "pred_label", "obj_label"]
    pd.testing.assert_frame_equal(got[cols], exp[cols])
    assert list(got["n_docs"]) == list(exp["n_docs"])
    assert list(got["n_occurrences"]) == list(exp["n_occurrences"])


def test_canonical_nodes_match_oracle(spark, pages_smoke):
    stages = run_pipeline(spark, pages_smoke, PipelineConfig())
    got = stages["nodes"].toPandas().sort_values("key", ignore_index=True)
    exp_chunks = O.oracle_chunks(pages_smoke.select("url", "text").toPandas())
    exp = O.oracle_canonical_nodes(O.oracle_triples(exp_chunks)).sort_values(
        "key", ignore_index=True
    )
    pd.testing.assert_frame_equal(got[["key", "label"]], exp[["key", "label"]])
    assert list(got["n_docs"]) == list(exp["n_docs"])


def test_mentions_match_model_on_driver(spark, pages_smoke):
    chunks = chunk_pages(extract_text(pages_smoke))
    got = extract_mentions(chunks, "vocab").toPandas()
    exp_chunks = O.oracle_chunks(pages_smoke.select("url", "text").toPandas())
    from text_to_graph_spark.kit.extract import get_model

    m = get_model("vocab").mentions(exp_chunks["text"].reset_index(drop=True))
    exp = m.join(exp_chunks[["url", "chunk_index"]].reset_index(drop=True), on="row")
    key = lambda df: set(zip(df["url"], df["chunk_index"], df["pos"], df["mention"]))
    assert key(got) == key(exp)


def test_neighbor_context_window(spark):
    # 3 chunks of one doc; overlap 2 of chunk_size 4 -> half the neighbor's tokens
    rows = [("u", 0, "a b c d"), ("u", 1, "e f g h"), ("u", 2, "i j k l")]
    chunks = spark.createDataFrame(rows, "url string, chunk_index int, text string")
    got = {
        r["chunk_index"]: r["context_text"]
        for r in with_neighbor_context(chunks, chunk_size=4, overlap=2).collect()
    }
    # frac = 2/4 -> 2 trailing tokens of prev, 2 leading of next
    assert got[0] == "a b c d e f"
    assert got[1] == "c d e f g h i j"
    assert got[2] == "g h i j k l"


def test_lang_filter(spark, pages_smoke):
    langs = {r["lang"] for r in pages_smoke.select("lang").distinct().collect()}
    assert len(langs) >= 1
    some = sorted(langs)[0]
    stages = run_pipeline(spark, pages_smoke, PipelineConfig(lang_filter=some))
    got = {r["lang"] for r in stages["pages"].select("lang").distinct().collect()}
    assert got == {some}


def test_fused_path_agrees_with_staged_path(spark, pages_smoke):
    # extract_triples_from_pages (one mapInPandas) == extract -> chunk ->
    # triples (three stages), row for row
    from text_to_graph_spark.operators.extraction import extract_triples_from_pages

    staged = extract_triples(
        chunk_pages(extract_text(pages_smoke)), "vocab", impl="pandas"
    ).toPandas()
    fused = extract_triples_from_pages(pages_smoke).toPandas()
    assert _triple_set(fused) == _triple_set(staged)
    assert len(fused) == len(staged)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_fused_path_agrees_with_staged_path_pretoken_counter(spark, pages_smoke):
    # multi-paragraph pages with punctuation: the pretoken counter packs
    # them into other chunks than the whitespace counter does, so equality
    # with the staged chain shows the fused path honours the counter
    from text_to_graph_spark.kit.htmlcodec import wrap_text_as_html
    from text_to_graph_spark.operators.extraction import extract_triples_from_pages

    texts = [r["text"] for r in pages_smoke.orderBy("url").limit(100).collect()]
    pages = spark.createDataFrame(
        [
            (
                f"https://example.test/multi/{i}",
                wrap_text_as_html(
                    "\n\n".join(t + " (e.g., ibid.)" for t in texts[i : i + 5])
                ),
            )
            for i in range(0, len(texts), 5)
        ],
        "url string, html binary",
    )
    def fused(counter):
        return _rows(
            extract_triples_from_pages(pages, "vocab", 100, token_counter=counter)
        )

    staged = extract_triples(
        chunk_pages(extract_text(pages), 100, token_counter="pretoken"), "vocab"
    )
    assert fused("pretoken") == _rows(staged)
    assert fused("pretoken") != fused("whitespace")


def test_pipeline_fused_impl_and_dedup(spark, pages_smoke):
    from text_to_graph_spark.operators.canonicalize import (
        triples_to_canonical_edges,
        triples_to_canonical_nodes,
    )
    from text_to_graph_spark.pipeline import (
        dedup_pages_by_content,
        vocab_category_table,
    )

    # the default (fused) graph tables == the same tables built from the
    # staged operator chain, every column
    fused = run_pipeline(spark, pages_smoke, PipelineConfig())
    staged = extract_triples(chunk_pages(extract_text(pages_smoke)), "vocab")
    assert _rows(fused["edges"]) == _rows(triples_to_canonical_edges(staged))
    assert _rows(fused["nodes"]) == _rows(
        triples_to_canonical_nodes(staged, category_of=vocab_category_table(spark))
    )
    with pytest.raises(ValueError):
        PipelineConfig(impl="fused")

    # content dedup: duplicate html collapses to the min-url representative
    dup = pages_smoke.limit(3)
    doubled = pages_smoke.limit(3).withColumn(
        "url", F.concat(F.col("url"), F.lit("/copy"))
    )
    deduped = dedup_pages_by_content(dup.unionByName(doubled))
    urls = {r["url"] for r in deduped.select("url").collect()}
    assert len(urls) == 3
    assert all(not u.endswith("/copy") for u in urls)  # min(url) wins


def test_pipeline_survives_poisoned_pages(spark, pages_smoke):
    """A crawl partition with mojibake/truncated/null html must flow through
    extract -> chunk -> triples, dropping only the poisoned rows."""
    from pyspark.sql.types import (
        BinaryType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )
    import datetime

    poisoned = spark.createDataFrame(
        [
            ("bad://utf8", datetime.datetime(2025, 1, 1), b"\xff\xfe<html><body>", None, "en"),
            ("bad://trunc", datetime.datetime(2025, 1, 1), b"<html><body><p>x", None, "en"),
            ("bad://null", datetime.datetime(2025, 1, 1), None, None, "en"),
        ],
        StructType(
            [
                StructField("url", StringType()),
                StructField("warc_ts", TimestampType()),
                StructField("html", BinaryType()),
                StructField("text", StringType()),
                StructField("lang", StringType()),
            ]
        ),
    )
    pages = pages_smoke.select("url", "warc_ts", "html", "text", "lang").unionByName(
        poisoned
    )
    extracted = extract_text(pages)
    bad = extracted.where(F.col("url").startswith("bad://"))
    assert bad.count() == 3
    assert bad.where(F.col("text").isNull()).count() == 3  # null, not a crash
    triples = extract_triples(chunk_pages(extracted), "vocab")
    # poisoned rows contribute nothing; the good corpus is unaffected
    assert triples.where(F.col("url").startswith("bad://")).count() == 0
    good = extract_triples(chunk_pages(extract_text(pages_smoke)), "vocab")
    assert triples.count() == good.count()
