"""Seeded pages-table generator and oracle expectations for each workload.

Every workload is built from the fixture ``fixture/documents.parquet`` (5,000
short documents over a small vocabulary) and written as a parquet pages table
``(url, warc_ts, html, text, lang)`` split into at least ``nproc`` files, so
the scan is parallel without ``ensure_min_partitions``. The same seed gives
the same table, byte for byte.

The expected output comes from the single-process pandas oracle in
``tests/oracle.py``: canonical edge ``(subj_key, pred_key, obj_key, n_docs,
n_occurrences)`` and node ``(key, n_docs)`` digests, the expected triple
count, and the input properties later changes target (tokens and chunks per
page, share of zero-triple pages, largest number of urls behind one key).
Pages and expectations are cached per workload and seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from text_to_graph_spark.kit.htmlcodec import wrap_text_as_html

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
WARC_EPOCH = 1735689600  # 2025-01-01T00:00:00Z

# name -> copies of the 5,000 fixture documents, one page per copy
TILES = {"short_pages": 6, "checkpoint_rerun": 2}

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def _documents(name: str) -> pd.DataFrame:
    return pd.read_parquet(os.path.join(FIXTURE_DIR, name), columns=["text", "lang"])


def make_pages(docs: pd.DataFrame, tiles: int, seed: int) -> pd.DataFrame:
    """One page per document copy, ``tiles`` copies, in a seeded order.
    Urls are a seeded permutation, so url order (the first-occurrence label
    order) changes with the seed while the text volume does not."""
    rng = np.random.default_rng(seed)
    order = rng.permutation(len(docs) * tiles) % len(docs)
    texts = docs["text"].to_numpy()[order]
    ids = rng.permutation(len(order))
    return pd.DataFrame(
        {
            "url": [f"https://s{seed}.example.test/page/{i}" for i in ids],
            "warc_ts": pd.to_datetime(WARC_EPOCH + ids, unit="s"),
            "html": [wrap_text_as_html(t) for t in texts],
            "text": texts,
            "lang": docs["lang"].to_numpy()[order],
        }
    )


def write_pages(pages: pd.DataFrame, path: str, n_files: int) -> None:
    """Write ``n_files`` parquet files into ``path``, atomically: a run
    killed half-way leaves no partial table behind."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for i, part in enumerate(np.array_split(np.arange(len(pages)), n_files)):
        table = pa.Table.from_pandas(
            pages.iloc[part].reset_index(drop=True), schema=PAGES_SCHEMA,
            preserve_index=False,
        )
        pq.write_table(table, os.path.join(tmp, f"part-{i:05d}.parquet"))
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


def edge_digest(edges: pd.DataFrame) -> str:
    cols = ["subj_key", "pred_key", "obj_key", "n_docs", "n_occurrences"]
    return _digest(edges[cols])


def node_digest(nodes: pd.DataFrame) -> str:
    return _digest(nodes[["key", "n_docs"]])


def _digest(df: pd.DataFrame) -> str:
    """Order-free digest of a table's rows (values rendered with ``str``)."""
    lines = sorted("\x1f".join(map(str, row)) for row in df.itertuples(index=False))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def expectations(pages: pd.DataFrame) -> dict:
    """Oracle digests, triple count and input properties of a pages table.

    The oracle runs once per distinct html and its per-page triples are then
    fanned out to every url carrying that html, which is what the oracle
    would compute page by page."""
    from tests.oracle import (
        oracle_canonical_edges,
        oracle_canonical_nodes,
        oracle_chunks,
        oracle_extract,
        oracle_triples,
    )

    distinct = pages[["html"]].drop_duplicates().reset_index(drop=True)
    distinct["url"] = distinct.index.astype(str)
    chunks = oracle_chunks(oracle_extract(distinct))
    triples = oracle_triples(chunks)
    url_of = pages[["url", "html"]].merge(distinct, on="html", suffixes=("", "_d"))
    url_of = url_of[["url", "url_d"]]
    triples = triples.rename(columns={"url": "url_d"}).merge(url_of, on="url_d")
    edges = oracle_canonical_edges(triples)
    nodes = oracle_canonical_nodes(triples)

    chunks_per_html = chunks.groupby("url").size()
    tokens_per_html = chunks.groupby("url")["chunk_size"].sum()
    with_triples = set(triples["url"])
    return {
        "expected": {
            "triples": int(len(triples)),
            "edges": int(len(edges)),
            "nodes": int(len(nodes)),
            "edge_digest": edge_digest(edges),
            "node_digest": node_digest(nodes),
        },
        "properties": {
            "pages": int(len(pages)),
            "distinct_html": int(len(distinct)),
            "tokens_per_page": round(
                float(tokens_per_html.reindex(url_of["url_d"]).mean()), 2
            ),
            "chunks_per_page": round(
                float(chunks_per_html.reindex(url_of["url_d"]).mean()), 3
            ),
            "zero_triple_page_share": round(
                1.0 - len(with_triples) / len(pages), 4
            ),
            "max_urls_per_key": int(nodes["n_docs"].max()),
        },
    }


def prepare(workload: str, seed: int, root: str, n_files: int) -> dict:
    """Write (or reuse) the workload's pages table for ``seed``; return its
    paths, expectations and properties."""
    base = os.path.join(root, "inputs", f"{workload}-seed{seed}")
    pages_dir = os.path.join(base, "pages")
    meta_path = os.path.join(base, "expected.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta["files"] >= n_files:
            return meta
    pages = make_pages(_documents("documents.parquet"), TILES[workload], seed)
    write_pages(pages, pages_dir, n_files)
    meta = {"pages_dir": pages_dir, "files": n_files, **expectations(pages)}
    with open(meta_path, "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


def prepare_warmup(root: str, n_files: int) -> str:
    """Pages of the small warm-up fixture (500 documents, no seed)."""
    pages_dir = os.path.join(root, "inputs", "warmup", "pages")
    if not os.path.exists(pages_dir):
        pages = make_pages(_documents("warmup_documents.parquet"), 1, 0)
        write_pages(pages, pages_dir, n_files)
    return pages_dir
