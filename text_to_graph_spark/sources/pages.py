"""Pages source — the Common-Crawl-style input table.

Input contract (build spec ``input_hint``): Iceberg table with columns
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.
In production this is ``spark.read.format("iceberg").load("pages")``
partitioned by ``bucket(N, url)``; in this sandbox we synthesize the table
deterministically from the driver-provided ``documents`` parquet
(seed-free: every column is a pure expression of ``doc_id``/``text``), so
tests and the DuckDB oracle can reproduce it exactly.

All synthesis columns are JVM-side built-ins (no UDF): url/warc_ts are
formatted from ``doc_id``; ``html`` is the fixed wrap of ``text`` (matching
``kit.htmlcodec``) via ``concat``/``replace``/``encode``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

WARC_EPOCH = 1735689600  # 2025-01-01T00:00:00Z — fixed synthesis epoch


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _escaped_text(col):
    """HTML-entity escape matching ``kit.htmlcodec._escape`` (order matters:
    '&' first)."""
    c = F.replace(col, F.lit("&"), F.lit("&amp;"))
    c = F.replace(c, F.lit("<"), F.lit("&lt;"))
    c = F.replace(c, F.lit(">"), F.lit("&gt;"))
    return c


def synthesize_pages(
    spark: SparkSession, sf_dir: str, replicate: int = 1
) -> DataFrame:
    """Build the pages table from ``documents.parquet``.

    ``replicate`` > 1 deterministically tiles the corpus (for throughput
    benchmarks at fixed small SF): copy k of doc d gets url suffix ``/k`` but
    identical html/text — exercising the dedup path realistically, since
    Common Crawl is heavily duplicated.
    """
    from text_to_graph_spark.session import ensure_min_partitions

    docs = ensure_min_partitions(load_table(spark, sf_dir, "documents"))
    if replicate > 1:
        docs = docs.crossJoin(
            spark.range(replicate).withColumnRenamed("id", "copy_id")
        )
    else:
        docs = docs.withColumn("copy_id", F.lit(0).cast("long"))

    paragraphs = F.concat(
        F.lit("<p>"),
        F.replace(_escaped_text(F.col("text")), F.lit("\n\n"), F.lit("</p><p>")),
        F.lit("</p>"),
    )
    return docs.select(
        F.concat(
            F.lit("https://example.test/"),
            F.col("source"),
            F.lit("/page/"),
            F.col("doc_id").cast("string"),
            F.lit("/"),
            F.col("copy_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(WARC_EPOCH) + F.col("doc_id")).alias("warc_ts"),
        F.encode(
            F.concat(F.lit("<html><body>"), paragraphs, F.lit("</body></html>")),
            "utf-8",
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
    )


JSONL_PAGES_SCHEMA = (
    "url string, warc_epoch long, html_b64 string, text string, lang string"
)


def write_pages_jsonl(pages: DataFrame, path: str) -> None:
    """Serialize a pages table to JSON-lines (the common landing format for
    web-scale crawls): binary ``html`` as base64, ``warc_ts`` as tz-free
    epoch seconds — both lossless and engine-portable."""
    pages.select(
        "url",
        F.col("warc_ts").cast("long").alias("warc_epoch"),
        F.base64("html").alias("html_b64"),
        "text",
        "lang",
    ).write.mode("overwrite").json(path)


def pages_from_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Read a JSONL pages landing dir back into the input-contract shape.

    Schema is DECLARED, never inferred (inference would scan the data twice
    and silently widen types); base64/epoch are decoded JVM-side."""
    raw = spark.read.schema(JSONL_PAGES_SCHEMA).json(path)
    return raw.select(
        "url",
        F.timestamp_seconds(F.col("warc_epoch")).alias("warc_ts"),
        F.unbase64("html_b64").alias("html"),
        "text",
        "lang",
    )


def synthesize_skewed_triples(
    spark: SparkSession,
    n_rows: int,
    hot_pct: int = 30,
    n_keys: int = 50_000,
) -> DataFrame:
    """Deterministic Zipf-head skew fixture for the salted-join drill
    (``canonicalize.skew_salted_join``): ``hot_pct`` percent of all
    occurrence rows carry ONE edge key (the boilerplate-predicate shape —
    think "page | has_footer | © 2025" across a third of the crawl), the
    rest spread uniformly over ``n_keys`` keys. Every row gets its own url,
    so an unsalted shuffle join sends the hot key's rows to one reducer.
    Pure ``spark.range`` arithmetic: no rand(), bit-identical across
    runs and partitionings. Returns the triples input-contract shape
    (url, chunk_index, pos, subj, pred, obj).
    """
    r = spark.range(n_rows).repartition(max(spark.sparkContext.defaultParallelism, 8))
    hot = F.pmod(F.col("id"), F.lit(100)) < hot_pct
    return r.select(
        F.concat(F.lit("https://skew.test/u"), F.col("id")).alias("url"),
        F.lit(0).cast("int").alias("chunk_index"),
        F.col("id").cast("int").alias("pos"),
        F.when(hot, F.lit("alpha"))
        .otherwise(F.concat(F.lit("s"), F.pmod(F.col("id"), F.lit(n_keys))))
        .alias("subj"),
        F.when(hot, F.lit("dominates"))
        .otherwise(F.concat(F.lit("p"), F.pmod(F.col("id"), F.lit(7))))
        .alias("pred"),
        F.when(hot, F.lit("beta"))
        .otherwise(
            F.concat(F.lit("o"), F.pmod(F.col("id") * 31, F.lit(n_keys)))
        )
        .alias("obj"),
    )


# DuckDB-SQL mirror of synthesize_pages (replicate=1) — shared CTE prefix for
# every oracle query. Kept here so Spark + SQL definitions live side by side.
PAGES_ORACLE_CTE = """
pages AS (
  SELECT
    'https://example.test/' || source || '/page/' || doc_id || '/0' AS url,
    TIMESTAMP '2025-01-01 00:00:00' + doc_id * INTERVAL 1 SECOND    AS warc_ts,
    encode('<html><body><p>' ||
           replace(replace(replace(replace(text,
             '&','&amp;'), '<','&lt;'), '>','&gt;'), chr(10)||chr(10), '</p><p>')
           || '</p></body></html>')                                 AS html,
    text,
    lang
  FROM documents
)
"""
