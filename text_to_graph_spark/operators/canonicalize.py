"""Canonicalization — the reference's label-keyed entity/edge merges.

Reproduces the semantics of ``merge_graphs_unique``
(``graph_extractor/src/graph_utils.py:22-88``) and
``merge_all_document_graphs`` (``graph_utils.py:144-251``) as Spark
aggregations:

- entity key   = ``lower(sanitize(label))`` (``graph_utils.py:29-30``)
- base label   = *first occurrence wins* (``graph_utils.py:34-45``). The
  reference's iteration order is document order then row order; distributed
  execution has no implicit order, so we make the order explicit and total:
  the argmin row under ``(md5_60(url), chunk_index, pos, role)`` packed
  into one ``decimal(38,0)`` (:func:`first_occurrence_ord`) — deterministic
  under retries, shuffles, and partitionings (no ``first()`` without
  ordering anywhere). The order leads with a *hash* of the url rather than
  the url itself deliberately: any total order reproduces the reference's
  semantics class (one stable display label per key — its own pick is
  iteration-order luck), and a fixed-width ordinal is the only form Spark
  can argmin inside HashAggregate. A string/struct ordering key forces
  SortAggregate — the partial agg then SORTS every occurrence row per map
  task, which measured 16.7 s vs 4.4 s on a 4.9M-row tile and erased
  core-scaling entirely (25 s flat from 4 to 16 cores).
- type set     = union of sanitized types per key (``graph_utils.py:36``),
  rendered as ``'|'``-joined sorted distinct only at export
  (``graph_utils.py:68``) — internally a genuine array column.
- doc set      = ``collect_set(url)`` per key (``graph_utils.py:177,181``).
- edge dedup key = ``(src_key, dst_key, lower(sanitize(pred)))``
  (``graph_utils.py:61-64,203``).
- internal ids = ``xxhash64(key)`` (stable, shuffle-free); dense 0..N-1 ids
  are materialized only at export via ``row_number()`` (the reference's
  global counter, ``graph_utils.py:38-39``, is inherently sequential).

Like the reference's one merge over a document's rows, the default
(``doc_ids``) mode aggregates the occurrence rows once, at edge grain
(:func:`edge_grain_aggregate`); edges and nodes are two projections of that
distinct-edge-sized table (:func:`triples_to_canonical_graph`).

Skew: a hot surface form ("the company") would overload one reducer. The
aggregations here are all algebraic/set-union shaped (``min``, ``min_by``,
``collect_set``), so Spark's partial aggregation (map-side combine) already
absorbs it. Hot JOIN keys are what partial aggregation cannot absorb:
:func:`join_skew_profile` finds them and :func:`skew_salted_join` spreads
them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# sanitize() as a built-in expression — mirrors kit/sanitize.py
# (graph_utils.py:9-10): replace '|' with '_', strip whitespace. Spark's
# one-argument trim strips spaces only; _WS is every character for which
# Python's str.isspace() holds, so the trim equals str.strip().
_WS = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680\u2000\u2001\u2002\u2003"
    "\u2004\u2005\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
)


def sanitize_col(c):
    return F.trim(F.regexp_replace(c, r"\|", "_"), F.lit(_WS))


def _key(c):
    return F.lower(sanitize_col(c))


def first_occurrence_ord(role: str | None = None):
    """The canonical total order ``(md5_60(url), chunk_index, pos[, role])``
    packed into a single ``decimal(38,0)`` ordinal (see module docstring for
    why a fixed-width scalar and not a struct).

    Layout (126-bit decimal budget): 60-bit md5 prefix of the url ``<< 65``,
    chunk_index ``<< 33``, pos ``<< 1``, role bit — chunk_index and pos are
    32-bit ints so the fields can never overlap; the packed value is unique
    per occurrence row up to a 60-bit md5-prefix collision between two
    different urls that also share (chunk, pos, role). Such a tie only
    affects WHICH casing variant becomes the display label, never keys or
    counts, and is broken deterministically by the label bytes themselves
    at the argmin step."""
    h = F.conv(F.substring(F.md5("url"), 1, 15), 16, 10).cast("decimal(38,0)")
    o = (
        h * F.lit(str(1 << 65)).cast("decimal(38,0)")
        + F.col("chunk_index").cast("decimal(38,0)")
        * F.lit(str(1 << 33)).cast("decimal(38,0)")
        + F.col("pos").cast("decimal(38,0)") * F.lit(2).cast("decimal(38,0)")
    )
    if role is not None:
        o = o + F.col(role).cast("decimal(38,0)")
    return o


_SPO = ("subj", "pred", "obj")
_EDGE_KEYS = [f"{c}_key" for c in _SPO]


def _has_endpoints():
    return (F.col("subj_key") != "") & (F.col("obj_key") != "")


def edge_grain_aggregate(triples: DataFrame) -> DataFrame:
    """The default-mode aggregate both graph tables project: one row per
    ``(subj_key, pred_key, obj_key)`` over ALL triples, empty-key groups
    included, with ``_ord`` (the group's minimum
    :func:`first_occurrence_ord`, role-free, so bit 0 is 0), ``_labels``
    (the sanitized ``(subj, pred, obj)`` at that ordinal), ``_urls`` (the
    url set) and ``n_occurrences``. Only the edge projection drops the
    empty-key groups: a node whose only occurrence is in a half-empty
    triple is still a node."""
    occ = triples.select(
        "url",
        first_occurrence_ord().alias("_o"),
        F.struct(*(sanitize_col(c).alias(c) for c in _SPO)).alias("_labels"),
    )
    return occ.groupBy(
        *(F.lower(f"_labels.{c}").alias(f"{c}_key") for c in _SPO)
    ).agg(
        F.min("_o").alias("_ord"),
        F.min_by("_labels", "_o").alias("_labels"),
        F.collect_set("url").alias("_urls"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )


def _canonical_edges_of(pre: DataFrame) -> DataFrame:
    """Canonical edges: the :func:`edge_grain_aggregate` groups with
    non-empty subject and object keys."""
    return pre.where(_has_endpoints()).select(
        *_EDGE_KEYS,
        *(F.col(f"_labels.{c}").alias(f"{c}_label") for c in _SPO),
        F.array_sort("_urls").alias("doc_ids"),
        F.size("_urls").cast("long").alias("n_docs"),
        "n_occurrences",
    )


def _canonical_nodes_of(
    pre: DataFrame, category_of: DataFrame | None = None
) -> DataFrame:
    """Canonical nodes, aggregated over the :func:`edge_grain_aggregate`
    rows instead of the occurrence rows. Each group contributes its subject
    at ``_ord + 0`` and its object at ``_ord + 1`` — exactly the minimum of
    the role-ordered ordinal over the group's subject (object) occurrences,
    with the label at it — so the argmin over these endpoints is the
    node's first occurrence, and the union of their url sets its
    ``doc_ids``."""
    ends = pre.select("_urls", F.inline(F.array(*(
        F.struct(
            F.col(f"{c}_key").alias("key"),
            F.col(f"_labels.{c}").alias("label"),
            (F.col("_ord") + role).alias("_ord"),
        )
        for role, c in ((0, "subj"), (1, "obj"))
    )))).where(F.col("key") != "")
    nodes = ends.groupBy("key").agg(
        F.min_by("label", "_ord").alias("label"),
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("_urls")))
        ).alias("doc_ids"),
    ).withColumn("n_docs", F.size("doc_ids"))
    return _attach_types(nodes, category_of)


def triples_to_canonical_graph(
    triples: DataFrame, category_of: DataFrame | None = None
) -> tuple[DataFrame, DataFrame]:
    """``(edges, nodes)`` over ONE :func:`edge_grain_aggregate`, held with
    ``localCheckpoint(eager=False)`` so writing both tables runs the
    triples' lineage (the Python extraction, unless materialized) and the
    occurrence aggregate once. Under AQE this call already runs the
    aggregate's shuffle-map stage; the blocks live until the returned
    DataFrames are garbage-collected, and the cut lineage means a lost
    executor fails the build rather than recomputing it. (``persist()``
    without a release would let a later build over the same input be served
    this, possibly stale, result.)"""
    pre = edge_grain_aggregate(triples).localCheckpoint(eager=False)
    return _canonical_edges_of(pre), _canonical_nodes_of(pre, category_of)


def triples_to_canonical_edges(
    triples: DataFrame, provenance: str = "doc_ids"
) -> DataFrame:
    """(url, chunk_index, pos, subj, pred, obj) -> canonical directed edges.

    Output: (subj_key, pred_key, obj_key, subj_label, pred_label, obj_label,
    doc_ids, n_docs, n_occurrences) — labels are first-occurrence originals,
    keys are the lower(sanitize()) canonical forms. The default mode is a
    projection of :func:`edge_grain_aggregate`.

    ``provenance="counts"`` drops the inline ``doc_ids`` array and computes
    ``n_docs`` as an exact ``countDistinct(url)`` instead — the web-scale
    mode. The reference inlines full doc lists per edge (desktop corpora,
    `graph_utils.py:13-251` merges `docs` lists), and so does the default
    here; but a boilerplate edge present in half a 10^12-page crawl makes
    that array the aggregation state itself (measured: the duplicate-heavy
    512x bench tile INVERTS core-scaling — 4 cores beat 16 — purely on
    collect_set GC pressure). At that scale provenance lives in the
    occurrence table, not inline; counts stay exact and every aggregate is
    partial-aggregable with bounded per-task state.
    """
    if provenance not in ("doc_ids", "counts"):
        raise ValueError(f"provenance must be doc_ids|counts, got {provenance!r}")
    if provenance == "counts":
        return _canonical_edges_counts(triples)
    return _canonical_edges_of(edge_grain_aggregate(triples))


def _canonical_edges_counts(triples: DataFrame) -> DataFrame:
    """Counts-only canonical edges: same keys/labels/n_occurrences as the
    default mode, ``n_docs`` exact via countDistinct, NO doc_ids array.

    Two independent aggregations instead of one fused agg: a fused
    (argmin x3 + countDistinct) plans a distinct-expand that DUPLICATES the
    label/order columns through a double-width shuffle (measured: that
    single stage ran slower on 16 cores than 4 at 512x tiling — the one
    box's shuffle bandwidth was the limiter, and the expand doubled the
    bytes). Splitting lets each shuffle carry only what its aggregate
    needs: the label agg partial-aggregates to at most distinct-edge rows
    per map task (a ~KB shuffle), the counts agg shuffles slim
    (keys, url) rows only; the final join of two distinct-edge-sized
    tables is broadcast/AQE territory. Schema keeps a ``doc_ids`` column
    as an empty array so both modes are union-compatible.

    The label argmin itself is TWO HashAggregates, never a min_by: pass 1
    reduces occurrences to distinct (edge key, label variant) rows with
    ``min(packed ordinal)`` — a fixed-width decimal buffer, so the partial
    agg stays in codegen'd HashAggregate and map-side combine bounds the
    shuffle by distinct variants, not occurrences; pass 2 picks the
    winning variant with one ``min(struct(ord, labels...))`` over the
    already-tiny variant table (the packed ordinal leads the struct and is
    unique per occurrence row, so lexicographic struct-min == argmin; the
    label bytes after it break the 2^-60 hash-tie deterministically).
    ``min_by(label, ord)`` would put a var-length string in the aggregation
    buffer and force SortAggregate over every occurrence row — measured
    16.7 s vs 4.4 s on a 4.9M-row tile, flat from 4 to 16 cores.
    """
    t = triples.select(
        "url",
        "chunk_index",
        "pos",
        *(_key(c).alias(f"{c}_key") for c in _SPO),
        *(sanitize_col(c).alias(f"{c}_s") for c in _SPO),
    ).where(_has_endpoints())
    keys = _EDGE_KEYS
    lbls = [f"{c}_s" for c in _SPO]
    variants = (
        t.select(*keys, *lbls, first_occurrence_ord().alias("_ord"))
        .groupBy(*keys, *lbls)
        .agg(F.min("_ord").alias("_ord"))
    )
    win = F.min(
        F.struct(F.col("_ord"), *(F.col(c) for c in lbls))
    ).alias("_w")
    labels = (
        variants.groupBy(*keys)
        .agg(win)
        .select(*keys, *(F.col(f"_w.{c}_s").alias(f"{c}_label") for c in _SPO))
    )
    counts = (
        t.select(*keys, "url")
        .groupBy(*keys)
        .agg(
            F.countDistinct("url").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
    )
    return labels.join(counts, keys).select(
        "subj_key", "pred_key", "obj_key", "subj_label", "pred_label",
        "obj_label", F.slice(F.array(F.lit("")), 1, 0).alias("doc_ids"),
        "n_docs", "n_occurrences",
    )


def triples_to_canonical_nodes(
    triples: DataFrame,
    category_of: DataFrame | None = None,
    provenance: str = "doc_ids",
) -> DataFrame:
    """Canonical node table straight from the triple stream, preserving the
    reference's first-occurrence-wins base label with the explicit total
    order ``(md5_60(url), chunk_index, pos, role)`` — role: subject=0
    before object=1 within the same triple; see
    :func:`first_occurrence_ord` for why the order leads with a url hash.

    Only triple participants become nodes (orphan-prune semantics,
    ``response_parser.py:178-207``). Output: (key, label, types, doc_ids,
    n_docs). The default mode aggregates :func:`edge_grain_aggregate`'s
    distinct-edge rows. ``provenance="counts"`` drops the inline
    doc_ids array (empty array placeholder, exact countDistinct n_docs) —
    nodes are the worst hub case for inline provenance: a vocab of tens of
    entities over a 10^12-page crawl puts MILLIONS of urls in every node's
    array (see :func:`triples_to_canonical_edges`).
    """
    if provenance not in ("doc_ids", "counts"):
        raise ValueError(f"provenance must be doc_ids|counts, got {provenance!r}")
    if provenance == "doc_ids":
        return _canonical_nodes_of(edge_grain_aggregate(triples), category_of)
    # one occurrence row per (triple, role) from ONE read of the triples; a
    # subj/obj union re-plans the triples lineage (the Python extraction,
    # when not materialized) once per branch
    occ = triples.select("url", "chunk_index", "pos", F.inline(F.array(*(
        F.struct(F.lit(role).alias("role"), sanitize_col(c).alias("label_s"))
        for role, c in ((0, "subj"), (1, "obj"))
    ))))
    occ = occ.withColumn("key", F.lower("label_s")).where(F.col("key") != "")
    ordv = first_occurrence_ord(role="role")
    # Same split + two-pass HashAggregate argmin as _canonical_edges_counts:
    # a fused (argmin + countDistinct) plans a distinct-expand double-width
    # shuffle, and a min_by(label, ord) puts a string in the agg buffer and
    # forces SortAggregate over every occurrence row. Pass 1 reduces to
    # distinct (key, variant) with min(decimal ordinal) — codegen
    # HashAggregate, shuffle bounded by variants; pass 2 struct-mins the
    # tiny variant table.
    variants = (
        occ.select("key", "label_s", ordv.alias("_ord"))
        .groupBy("key", "label_s")
        .agg(F.min("_ord").alias("_ord"))
    )
    labels = (
        variants.groupBy("key")
        .agg(F.min(F.struct(F.col("_ord"), F.col("label_s"))).alias("_w"))
        .select("key", F.col("_w.label_s").alias("label"))
    )
    counts = occ.select("key", "url").groupBy("key").agg(
        F.countDistinct("url").cast("int").alias("n_docs")
    )
    nodes = labels.join(counts, "key").select(
        "key", "label", F.slice(F.array(F.lit("")), 1, 0).alias("doc_ids"),
        "n_docs",
    )
    return _attach_types(nodes, category_of)


def _attach_types(nodes: DataFrame, category_of: DataFrame | None) -> DataFrame:
    if category_of is not None:
        nodes = (
            nodes.join(F.broadcast(category_of), "key", "left")
            .withColumn(
                "types", F.array(F.coalesce(F.col("type"), F.lit("entity")))
            )
            .drop("type")
        )
    else:
        nodes = nodes.withColumn("types", F.array(F.lit("entity")))
    return nodes.select("key", "label", "types", "doc_ids", "n_docs")


def remove_orphans(
    nodes: DataFrame,
    edges: DataFrame,
    node_id: str = "key",
    src: str = "subj_key",
    dst: str = "obj_key",
) -> DataFrame:
    """P7 distributed: keep only nodes referenced by some edge endpoint
    (``response_parser.py:178-207``). The endpoint set is a union+distinct;
    the prune is a ``left_semi`` join — no node data moves for non-matches.
    Dense 0..N-1 reindex stays export-only (``with_dense_export_ids``)."""
    endpoints = (
        edges.select(F.col(src).alias(node_id))
        .unionByName(edges.select(F.col(dst).alias(node_id)))
        .distinct()
    )
    return nodes.join(endpoints, node_id, "left_semi")


def render_type_set(types_col):
    """Export rendering: '|'-joined sorted non-empty types
    (``graph_utils.py:68``)."""
    return F.concat_ws(
        "|", F.array_sort(F.filter(types_col, lambda t: t != F.lit("")))
    )


def with_internal_ids(nodes: DataFrame) -> DataFrame:
    """Stable shuffle-free internal ids: xxhash64 of the canonical key."""
    return nodes.withColumn("node_id", F.xxhash64("key"))


def with_dense_export_ids(nodes: DataFrame, order_col: str = "key") -> DataFrame:
    """Dense 0..N-1 ids for the viewer export ONLY (single global window —
    never used in the distributed pipeline; reference counter semantics,
    ``graph_utils.py:38-39``)."""
    from pyspark.sql import Window

    w = Window.orderBy(order_col)
    return nodes.withColumn("id", F.row_number().over(w) - 1)


def skew_salted_join(
    probe: DataFrame,
    dim: DataFrame,
    on: str,
    salt_from: str,
    buckets: int = 32,
    how: str = "inner",
) -> DataFrame:
    """Skew-salted equi-join of a hot-keyed probe stream against a
    unique-key dimension too large to broadcast — the J1/J2 id-remap shape
    in the 100 TB no-broadcast regime.

    An unsalted shuffle join sends every probe row of a hot key (one
    boilerplate predicate carrying 30% of the corpus) to ONE reducer: a
    straggler task doing 30% of the work while the rest of the cluster
    idles. Salting spreads it: the probe side gets
    ``salt = pmod(xxhash64(salt_from), buckets)`` — derived from input
    data (``salt_from`` should be a high-cardinality probe column, e.g.
    url), never ``rand()``, so retries and reruns are deterministic — and
    the dimension side replicates ×``buckets`` via an exploded sequence,
    so the join on (key, salt) lands each hot key on ``buckets`` reducers.
    Cost: the dimension shuffles ×buckets (cheap — it is the small side by
    construction); results are row-identical to the unsalted join because
    every (key, salt) probe row finds exactly its one replicated match.

    AQE's skew-join split is the first lever for this (enabled in
    session.py) — it needs no code change but only triggers past its
    partition-size thresholds and only for sort-merge joins; the explicit
    salt is the deterministic fallback that works at any size and plans
    identically every run. Requires ``dim`` unique on ``on`` (replication
    would otherwise duplicate output rows).
    """
    p = probe.withColumn(
        "_salt", F.pmod(F.xxhash64(salt_from), F.lit(buckets)).cast("int")
    )
    d = (
        dim.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
        )
        .withColumn("_salt", F.col("_salt").cast("int"))
    )
    return p.join(d, [on, "_salt"], how).drop("_salt")


def _min_url_hash(doc_ids_col):
    """Minimum 60-bit url-hash ordinal over a ``doc_ids`` array — the same
    md5-prefix the canonical label order leads with, so incremental merges
    can locate the slice holding the globally-first occurrence without
    re-reading any occurrence rows."""
    return F.array_min(
        F.transform(
            doc_ids_col,
            lambda d: F.conv(F.substring(F.md5(d), 1, 15), 16, 10).cast(
                "decimal(38,0)"
            ),
        )
    )


def merge_canonical_edges(a: DataFrame, b: DataFrame) -> DataFrame:
    """Incremental KG maintenance: merge two canonical edge tables built
    from url-disjoint corpus slices into exactly the table
    :func:`triples_to_canonical_edges` would produce over the union.

    The production shape for daily crawl deltas at 100 TB: aggregate only
    the NEW slice (its own extraction + one agg), then ONE key-level
    full-outer join of two already-aggregated tables — no re-extraction and
    no re-shuffle of the historical corpus's occurrence rows.

    Exactness argument: counts add; doc-id sets union; and labels are
    first-occurrence-wins under the total order ``(md5_60(url),
    chunk_index, pos)`` (:func:`first_occurrence_ord`) — since the slices
    partition BY URL and the order leads with a per-url hash, the slice
    holding the globally first occurrence of an edge key is precisely the
    one whose minimum occurrence url-hash (over its ``doc_ids`` set) is
    smaller, so taking that side's labels reproduces the batch argmin
    exactly, up to a 60-bit md5-prefix collision across slices (in which
    case the left slice wins — the only effect is which casing variant
    displays). Requires url-disjoint inputs (a url split across slices
    would leave within-url order unknown).
    """
    keys = ["subj_key", "pred_key", "obj_key"]
    j = a.alias("a").join(b.alias("b"), keys, "full_outer")
    a_first = F.col("b.doc_ids").isNull() | (
        F.col("a.doc_ids").isNotNull()
        & (_min_url_hash(F.col("a.doc_ids")) <= _min_url_hash(F.col("b.doc_ids")))
    )

    def _pick(c: str):
        return F.when(a_first, F.col(f"a.{c}")).otherwise(F.col(f"b.{c}")).alias(c)

    empty = F.array().cast("array<string>")
    doc_ids = F.array_sort(
        F.array_union(
            F.coalesce(F.col("a.doc_ids"), empty),
            F.coalesce(F.col("b.doc_ids"), empty),
        )
    )
    return j.select(
        *keys,
        _pick("subj_label"),
        _pick("pred_label"),
        _pick("obj_label"),
        doc_ids.alias("doc_ids"),
        F.size(doc_ids).cast("long").alias("n_docs"),
        (
            F.coalesce(F.col("a.n_occurrences"), F.lit(0))
            + F.coalesce(F.col("b.n_occurrences"), F.lit(0))
        ).cast("long").alias("n_occurrences"),
    )


def diff_canonical_edges(old: DataFrame, new: DataFrame) -> DataFrame:
    """Snapshot diff — the inverse of :func:`merge_canonical_edges`: what
    changed between two canonical edge tables (two crawl snapshots, or two
    time-travel reads of the versioned streaming table).

    Returns only the rows that differ — (subj_key, pred_key, obj_key,
    status, n_docs_delta, n_occurrences_delta) with status
    'added' | 'removed' | 'changed'; unchanged edges (the overwhelming
    majority between adjacent snapshots) are filtered before anything
    moves downstream. One key-level full-outer join of two
    already-aggregated tables — the same cost shape as the merge, and the
    audit/alerting counterpart to it at 100 TB (what did today's crawl do
    to the graph?).
    """
    keys = ["subj_key", "pred_key", "obj_key"]
    j = old.alias("o").join(new.alias("n"), keys, "full_outer")
    status = (
        F.when(F.col("o.n_occurrences").isNull(), F.lit("added"))
        .when(F.col("n.n_occurrences").isNull(), F.lit("removed"))
        .when(
            (F.col("o.n_docs") != F.col("n.n_docs"))
            | (F.col("o.n_occurrences") != F.col("n.n_occurrences")),
            F.lit("changed"),
        )
    )
    return (
        j.select(
            *keys,
            status.alias("status"),
            (
                F.coalesce(F.col("n.n_docs"), F.lit(0))
                - F.coalesce(F.col("o.n_docs"), F.lit(0))
            ).cast("long").alias("n_docs_delta"),
            (
                F.coalesce(F.col("n.n_occurrences"), F.lit(0))
                - F.coalesce(F.col("o.n_occurrences"), F.lit(0))
            ).cast("long").alias("n_occurrences_delta"),
        )
        .where(F.col("status").isNotNull())
    )


def merge_canonical_nodes(a: DataFrame, b: DataFrame) -> DataFrame:
    """Node-table twin of :func:`merge_canonical_edges`: merge canonical
    node tables from url-disjoint corpus slices into exactly the batch
    result. Labels resolve first-occurrence-wins via the side with the
    smaller minimum occurrence url-HASH (the node total order also starts
    with the 60-bit md5 url prefix — chunk/pos/role only break ties
    *within* one url); ``types`` is a pure function of the key (identical
    on both sides)."""
    j = a.alias("a").join(b.alias("b"), ["key"], "full_outer")
    a_first = F.col("b.doc_ids").isNull() | (
        F.col("a.doc_ids").isNotNull()
        & (_min_url_hash(F.col("a.doc_ids")) <= _min_url_hash(F.col("b.doc_ids")))
    )
    empty = F.array().cast("array<string>")
    doc_ids = F.array_sort(
        F.array_union(
            F.coalesce(F.col("a.doc_ids"), empty),
            F.coalesce(F.col("b.doc_ids"), empty),
        )
    )
    return j.select(
        "key",
        F.when(a_first, F.col("a.label")).otherwise(F.col("b.label")).alias("label"),
        F.coalesce(F.col("a.types"), F.col("b.types")).alias("types"),
        doc_ids.alias("doc_ids"),
        F.size(doc_ids).cast("int").alias("n_docs"),
    )


def join_skew_profile(df: DataFrame, key_col: str, top_k: int = 20) -> DataFrame:
    """Pre-flight skew profiler for a join/aggregation key — the diagnostic
    that decides whether :func:`skew_salted_join` (or AQE's skew split) is
    worth wiring in for this key, BEFORE the job straggles.

    Top-``top_k`` hottest keys with ``n_rows``, exact-ppm corpus share,
    ``mean_x100`` (how many times the average key's row count this key
    carries, ×100), and ``salt_buckets`` — the bucket count a salted join
    would need to level this key down to the mean (floor of the mean
    multiple, capped at 1024, min 1). The LSH analog is
    ``dedup.band_load_stats``; this is the plain-join twin.

    Scale: one partial-agg'd groupBy on the key; total/row-count and key
    cardinality are two scalar aggregates (driver holds two longs); the
    ranking is a TakeOrdered top-k, never a global sort. Products go
    through decimal(38,0) — n_rows × n_keys × 1e6 overflows int64 at
    corpus scale.
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    tot_row = counts.agg(
        F.sum("n_rows").alias("t"), F.count(F.lit(1)).alias("k")
    ).collect()[0]
    total, n_keys = int(tot_row["t"] or 0), int(tot_row["k"] or 1)
    mean_mult = F.expr(
        f"CAST(n_rows AS decimal(38,0)) * {n_keys} * 100 DIV {max(total, 1)}"
    ).cast("bigint")
    return (
        counts.orderBy(F.desc("n_rows"), F.asc("key"))
        .limit(top_k)
        .select(
            "key",
            "n_rows",
            F.expr(
                f"CAST(n_rows AS decimal(38,0)) * 1000000 DIV {max(total, 1)}"
            )
            .cast("bigint")
            .alias("share_e6"),
            mean_mult.alias("mean_x100"),
            F.least(
                F.lit(1024),
                F.greatest(F.lit(1), (mean_mult / 100).cast("bigint")),
            )
            .cast("int")
            .alias("salt_buckets"),
        )
    )
