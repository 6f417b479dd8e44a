"""Canonicalization semantics on crafted inputs — the reference's merge
contract (graph_utils.py:22-88,144-251) under explicit total orders."""

from __future__ import annotations

from pyspark.sql import functions as F

from text_to_graph_spark.operators.canonicalize import (
    render_type_set,
    sanitize_col,
    triples_to_canonical_edges,
    triples_to_canonical_nodes,
    with_dense_export_ids,
    with_internal_ids,
)

TRIPLE_SCHEMA = (
    "url string, chunk_index int, pos int, subj string, pred string, obj string"
)


def _triples(spark, rows):
    return spark.createDataFrame(rows, TRIPLE_SCHEMA)


def _url_ord(url: str) -> int:
    # the documented canonical order leads with the 60-bit md5 prefix of
    # the url (canonicalize.first_occurrence_ord)
    import hashlib

    return int(hashlib.md5(url.encode()).hexdigest()[:15], 16)


def test_first_occurrence_wins_label(spark):
    # the occurrence in the url that sorts first under the documented
    # total order contributes the display label (graph_utils.py:34-45);
    # md5("a") < md5("b") on the 60-bit prefix, so url "a" wins here
    assert _url_ord("a") < _url_ord("b")
    t = _triples(
        spark,
        [
            ("a", 0, 0, "ACME", "join", "Widget"),
            ("b", 0, 0, "acme", "join", "widget"),
        ],
    )
    nodes = {r["key"]: r["label"] for r in triples_to_canonical_nodes(t).collect()}
    assert nodes == {"acme": "ACME", "widget": "Widget"}
    edges = triples_to_canonical_edges(t).collect()
    assert len(edges) == 1  # same canonical (subj,pred,obj) key
    assert edges[0]["subj_label"] == "ACME"
    assert edges[0]["n_docs"] == 2
    assert edges[0]["n_occurrences"] == 2


def test_label_order_is_url_hash_not_lexicographic(spark):
    # urls "x" < "y" lexicographically but md5("y") < md5("x") — the hash
    # order is the contract (it is what keeps the argmin in fixed-width
    # HashAggregate state at corpus scale), so "y"'s casing must win; both
    # provenance modes must agree on the same winner
    assert _url_ord("y") < _url_ord("x") and "x" < "y"
    t = _triples(
        spark,
        [
            ("x", 0, 0, "Acme", "join", "Widget"),
            ("y", 0, 0, "ACME", "join", "WIDGET"),
        ],
    )
    for prov in ("doc_ids", "counts"):
        nodes = {
            r["key"]: r["label"]
            for r in triples_to_canonical_nodes(t, provenance=prov).collect()
        }
        assert nodes == {"acme": "ACME", "widget": "WIDGET"}, prov
        edges = triples_to_canonical_edges(t, provenance=prov).collect()
        assert len(edges) == 1
        assert (edges[0]["subj_label"], edges[0]["obj_label"]) == (
            "ACME",
            "WIDGET",
        ), prov


def test_pipe_sanitized_and_empty_keys_dropped(spark):
    t = _triples(
        spark,
        [
            ("a", 0, 0, " A|B ", "r|s", "C"),
            ("a", 0, 1, "", "join", "C"),  # empty subj key -> dropped
            ("a", 0, 2, " | ", "join", "C"),  # sanitizes to "_" -> kept
        ],
    )
    edges = triples_to_canonical_edges(t).collect()
    keys = {(e["subj_key"], e["pred_key"], e["obj_key"]) for e in edges}
    assert keys == {("a_b", "r_s", "c"), ("_", "join", "c")}


def test_half_empty_triple_nodes_match_oracle(spark, pages_smoke, tmp_path, monkeypatch):
    # "zed" occurs only in triples whose other side sanitizes to "": no
    # edge carries it, but it is a node; "acme" has one half-empty and one
    # full occurrence, and the half-empty one comes first
    import pandas as pd

    from tests import oracle as O
    from text_to_graph_spark import pipeline
    from text_to_graph_spark.operators.canonicalize import triples_to_canonical_graph

    assert _url_ord("a") < _url_ord("b")  # hash order == the oracle's url order
    rows = [
        ("a", 0, 0, "  ", "owns", "Zed"),
        ("a", 0, 1, "ACME", "owns", ""),
        ("b", 0, 0, "Acme", "owns", "Beta"),
        ("b", 0, 1, "zed", "likes", "   "),
        ("b", 0, 2, "Beta", "owns", " \t "),
    ]
    t = _triples(spark, rows)
    exp = O.oracle_canonical_nodes(
        pd.DataFrame(rows, columns=["url", "chunk_index", "pos", "subj", "pred", "obj"])
    )
    exp = {r.key: (r.label, r.n_docs) for r in exp.itertuples()}
    assert exp == {"zed": ("Zed", 2), "acme": ("ACME", 2), "beta": ("Beta", 1)}

    def got(nodes):
        return {r["key"]: (r["label"], r["n_docs"]) for r in nodes.collect()}

    edges, nodes = triples_to_canonical_graph(t)
    assert got(nodes) == exp
    assert got(triples_to_canonical_nodes(t)) == exp
    assert [(e["subj_key"], e["obj_key"]) for e in edges.collect()] == [("acme", "beta")]
    # both runners, with these triples in place of the extracted ones
    monkeypatch.setattr(pipeline, "page_triples", lambda results: t)
    cfg = pipeline.PipelineConfig()
    assert got(pipeline.run_pipeline(spark, pages_smoke, cfg)["nodes"]) == exp
    ck = pipeline.run_pipeline_checkpointed(spark, pages_smoke, str(tmp_path), cfg)
    assert got(ck["nodes"]) == exp


def test_subject_before_object_order(spark):
    # same key as subj(role 0) and obj(role 1) at the same (url,chunk,pos):
    # the subject occurrence wins the label
    t = _triples(spark, [("a", 0, 0, "Foo", "join", "FOO")])
    nodes = {r["key"]: r["label"] for r in triples_to_canonical_nodes(t).collect()}
    assert nodes["foo"] == "Foo"


def test_render_type_set(spark):
    df = spark.createDataFrame(
        [(["b", "", "a"],)], "types array<string>"
    ).select(render_type_set(F.col("types")).alias("r"))
    assert df.collect()[0]["r"] == "a|b"


def test_internal_and_dense_ids(spark):
    t = _triples(
        spark,
        [
            ("a", 0, 0, "X", "join", "Y"),
            ("a", 0, 1, "Y", "join", "Z"),
        ],
    )
    nodes = triples_to_canonical_nodes(t)
    internal = with_internal_ids(nodes)
    assert internal.select("node_id").distinct().count() == 3  # stable, unique
    dense = with_dense_export_ids(nodes)
    assert sorted(r["id"] for r in dense.collect()) == [0, 1, 2]


def test_sanitize_col(spark):
    # Python's str.strip() strips every str.isspace() character, not only
    # spaces; the Spark expression must agree on all of them
    from text_to_graph_spark.kit.sanitize import sanitize

    ws = "".join(chr(c) for c in range(0x110000) if chr(c).isspace())
    xs = ["  a|b  ", " \t ", "\ta|b\n", "\xa0x\u3000", "\x1cz\x1f", ws + "y" + ws]
    df = spark.createDataFrame([(x,) for x in xs], "x string").select(
        sanitize_col(F.col("x")).alias("s")
    )
    assert [r["s"] for r in df.collect()] == [sanitize(x) for x in xs]
    assert sanitize("  a|b  ") == "a_b" and sanitize(" \t ") == ""


def test_merge_canonical_edges_equals_batch(spark, pages_smoke):
    """Incremental maintenance must be EXACTLY the batch result — labels,
    doc_id sets, and counts included — when slices partition by url."""
    from text_to_graph_spark.operators.canonicalize import merge_canonical_edges
    from text_to_graph_spark.operators.extraction import extract_triples_from_pages

    t = extract_triples_from_pages(pages_smoke).localCheckpoint(eager=True)
    cond = F.substring(F.md5("url"), 1, 1).isin(*list("01234567"))
    merged = merge_canonical_edges(
        triples_to_canonical_edges(t.where(cond)),
        triples_to_canonical_edges(t.where(~cond)),
    )
    full = triples_to_canonical_edges(t)

    def _rows(df):
        return sorted(
            (
                r.subj_key, r.pred_key, r.obj_key,
                r.subj_label, r.pred_label, r.obj_label,
                tuple(r.doc_ids), r.n_docs, r.n_occurrences,
            )
            for r in df.collect()
        )

    assert _rows(merged) == _rows(full)


def test_merge_canonical_edges_one_sided_keys(spark):
    """Keys present in only one slice pass through untouched."""
    from text_to_graph_spark.operators.canonicalize import merge_canonical_edges

    schema = (
        "subj_key string, pred_key string, obj_key string, "
        "subj_label string, pred_label string, obj_label string, "
        "doc_ids array<string>, n_docs long, n_occurrences long"
    )
    a = spark.createDataFrame(
        [("s", "p", "o", "S", "P", "O", ["u1"], 1, 3)], schema
    )
    b = spark.createDataFrame(
        [("x", "p", "o", "X", "P", "O", ["u2"], 1, 2)], schema
    )
    got = {r.subj_key: r for r in merge_canonical_edges(a, b).collect()}
    assert got["s"].n_occurrences == 3 and got["s"].subj_label == "S"
    assert got["x"].n_occurrences == 2 and got["x"].doc_ids == ["u2"]


def test_diff_canonical_edges_statuses_and_merge_inverse(spark):
    """All three statuses, exact deltas, unchanged rows suppressed; and
    diff(a, merge(a, b)) never reports 'removed' (the merge only grows)."""
    from text_to_graph_spark.operators.canonicalize import (
        diff_canonical_edges,
        merge_canonical_edges,
    )

    schema = (
        "subj_key string, pred_key string, obj_key string, "
        "subj_label string, pred_label string, obj_label string, "
        "doc_ids array<string>, n_docs long, n_occurrences long"
    )
    old = spark.createDataFrame(
        [
            ("s", "p", "o", "S", "P", "O", ["u1"], 1, 3),   # will change
            ("g", "p", "o", "G", "P", "O", ["u1"], 1, 1),   # removed
            ("k", "p", "o", "K", "P", "O", ["u3"], 1, 2),   # unchanged
        ],
        schema,
    )
    new = spark.createDataFrame(
        [
            ("s", "p", "o", "S", "P", "O", ["u1", "u2"], 2, 5),
            ("x", "p", "o", "X", "P", "O", ["u2"], 1, 2),   # added
            ("k", "p", "o", "K", "P", "O", ["u3"], 1, 2),
        ],
        schema,
    )
    got = {r.subj_key: r for r in diff_canonical_edges(old, new).collect()}
    assert set(got) == {"s", "g", "x"}  # 'k' (unchanged) suppressed
    assert got["s"].status == "changed"
    assert (got["s"].n_docs_delta, got["s"].n_occurrences_delta) == (1, 2)
    assert got["g"].status == "removed"
    assert (got["g"].n_docs_delta, got["g"].n_occurrences_delta) == (-1, -1)
    assert got["x"].status == "added"
    assert (got["x"].n_docs_delta, got["x"].n_occurrences_delta) == (1, 2)

    # merge only ever grows counts: diff vs the merged table has no removals
    delta_only = spark.createDataFrame(
        [("x", "p", "o", "X", "P", "O", ["u2"], 1, 2)], schema
    )
    merged = merge_canonical_edges(old, delta_only)
    d2 = diff_canonical_edges(old, merged).collect()
    assert {r.status for r in d2} == {"added"}


def test_merge_canonical_nodes_equals_batch(spark, pages_smoke):
    from text_to_graph_spark.operators.canonicalize import merge_canonical_nodes
    from text_to_graph_spark.operators.extraction import extract_triples_from_pages

    t = extract_triples_from_pages(pages_smoke).localCheckpoint(eager=True)
    cond = F.substring(F.md5("url"), 1, 1).isin(*list("01234567"))
    merged = merge_canonical_nodes(
        triples_to_canonical_nodes(t.where(cond)),
        triples_to_canonical_nodes(t.where(~cond)),
    )
    full = triples_to_canonical_nodes(t)

    def _rows(df):
        return sorted(
            (r.key, r.label, tuple(r.types), tuple(r.doc_ids), r.n_docs)
            for r in df.collect()
        )

    assert _rows(merged) == _rows(full)


def test_counts_provenance_equals_docids_minus_arrays(spark, pages_smoke):
    """provenance="counts" is the web-scale mode: identical keys, labels,
    n_docs, n_occurrences — only the inline doc_ids array is dropped
    (empty-array placeholder keeps the schema union-compatible)."""
    import pytest as _pytest

    from text_to_graph_spark.operators.extraction import extract_triples_from_pages

    t = extract_triples_from_pages(pages_smoke).localCheckpoint(eager=True)

    full_e = triples_to_canonical_edges(t)
    cnt_e = triples_to_canonical_edges(t, provenance="counts")
    assert cnt_e.schema == full_e.schema

    def _e(df):
        return sorted(
            (r.subj_key, r.pred_key, r.obj_key, r.subj_label, r.pred_label,
             r.obj_label, r.n_docs, r.n_occurrences)
            for r in df.collect()
        )

    assert _e(cnt_e) == _e(full_e)
    assert all(r.doc_ids == [] for r in cnt_e.collect())

    full_n = triples_to_canonical_nodes(t)
    cnt_n = triples_to_canonical_nodes(t, provenance="counts")
    assert cnt_n.schema == full_n.schema

    def _n(df):
        return sorted(
            (r.key, r.label, tuple(r.types), r.n_docs) for r in df.collect()
        )

    assert _n(cnt_n) == _n(full_n)

    with _pytest.raises(ValueError):
        triples_to_canonical_edges(t, provenance="nope")
    with _pytest.raises(ValueError):
        triples_to_canonical_nodes(t, provenance="nope")
