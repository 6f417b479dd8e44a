"""Physical-plan shape assertions — scale properties as tests.

A regression that re-introduces a shuffle, drops a broadcast, or un-pushes a
filter is invisible at fixture scale but catastrophic at 100 TB; these tests
pin the plan shapes the design depends on."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from text_to_graph_spark.operators.extraction import extract_triples_from_pages
from text_to_graph_spark.plans.introspect import (
    count_exchanges,
    has_broadcast_join,
    plan_str,
    pushed_filters,
    python_eval_count,
    read_schema,
)


def test_fused_extraction_is_one_python_stage_no_shuffle(spark, pages_smoke):
    t = extract_triples_from_pages(pages_smoke)
    # exactly one Python boundary...
    assert python_eval_count(t) == 1
    # ...and no shuffle beyond the sandbox-only input repartition
    assert count_exchanges(t) <= 1


def test_staged_extraction_has_no_shuffle_between_python_stages(spark, pages_smoke):
    from text_to_graph_spark.operators.chunking import chunk_pages
    from text_to_graph_spark.operators.extraction import extract_text, extract_triples

    t = extract_triples(chunk_pages(extract_text(pages_smoke)), "vocab")
    # three chained mapInPandas stages, still at most the input repartition:
    # chunking must NOT reintroduce a groupBy exchange
    assert python_eval_count(t) == 3
    assert count_exchanges(t) <= 1


def _sql_store(spark):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return spark._jsparkSession.sharedState().statusStore()


def _execution_ids(store) -> list[int]:
    """Ids of the executions the SQL status store retains (only the last
    ``spark.sql.ui.retainedExecutions``, so a count is no marker)."""
    execs = store.executionsList()
    return [execs.apply(i).executionId() for i in range(execs.size())]


def test_run_pipeline_builds_each_graph_table_in_one_python_pass(
    spark, pages_smoke, tmp_path
):
    from text_to_graph_spark.pipeline import PipelineConfig, run_pipeline
    from text_to_graph_spark.sinks.graph_tables import write_graph_tables

    # the whole build (both graph tables written) extracts once: nodes and
    # edges project one materialized edge-grain pre-aggregate; the
    # neighbor-context window pads inside that same pass
    for i, cfg in enumerate((PipelineConfig(), PipelineConfig(overlap=100))):
        last = max(_execution_ids(_sql_store(spark)), default=-1)
        stages = run_pipeline(spark, pages_smoke, cfg)
        write_graph_tables(stages["nodes"], stages["edges"], str(tmp_path / f"g{i}"))
        store = _sql_store(spark)
        evals = 0
        for eid in _execution_ids(store):
            if eid > last:
                nodes = store.planGraph(eid).allNodes()
                evals += sum(
                    nodes.apply(j).name() == "MapInPandas"
                    for j in range(nodes.size())
                )
        assert evals == 1, cfg


def test_checkpointed_build_writes_one_python_pass(
    spark, pages_smoke, tmp_path, monkeypatch
):
    from pyspark.sql.readwriter import DataFrameWriter

    from text_to_graph_spark.pipeline import PipelineConfig, run_pipeline_checkpointed

    wd = str(tmp_path / "stages")
    writes = {}
    parquet = DataFrameWriter.parquet

    def recorded(self, path, *args, **kwargs):
        stage = os.path.relpath(path, wd).split(os.sep)[0]
        if stage != "_metrics":
            writes[stage] = python_eval_count(self._df)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recorded)
    run_pipeline_checkpointed(spark, pages_smoke, wd, PipelineConfig())
    # a fresh checkpointed build extracts in one Python pass, written once
    # to the per-page results stage; edges and nodes read that table back
    assert writes == {"triples": 1, "edges": 0, "nodes": 0}


def test_canonical_nodes_scan_the_triples_once(spark, tmp_path):
    from text_to_graph_spark.operators.canonicalize import (
        triples_to_canonical_nodes,
    )

    path = str(tmp_path / "triples")
    spark.createDataFrame(
        [("u", 0, 0, "Acme", "owns", "Beta")],
        "url string, chunk_index int, pos int, subj string, pred string,"
        " obj string",
    ).write.parquet(path)
    nodes = triples_to_canonical_nodes(spark.read.parquet(path))
    plan = plan_str(nodes, "simple")
    assert plan.count("FileScan") == 1
    assert "Union" not in plan


def test_filter_pushdown_and_column_pruning(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    q = docs.where(F.col("lang") == "en").select("doc_id", "lang")
    assert "lang" in pushed_filters(q)  # predicate reached the parquet scan
    rs = read_schema(q)
    assert "doc_id" in rs and "text" not in rs  # pruned to the 2 used columns


def test_alias_linking_broadcasts_the_small_side(spark, pages_smoke):
    from text_to_graph_spark.operators import linking as L

    mentions = spark.createDataFrame(
        [("u", "row")], "url string, mention string"
    )
    out = L.link_mentions(mentions, L.alias_table(spark))
    assert has_broadcast_join(out)
    assert "SortMergeJoin" not in plan_str(out, "simple")


def test_canonical_edges_single_aggregation_exchange(spark, pages_smoke):
    from text_to_graph_spark.operators.canonicalize import triples_to_canonical_edges

    t = extract_triples_from_pages(pages_smoke)
    e = triples_to_canonical_edges(t)
    # one hash-partitioning exchange for the groupBy — partial aggregation
    # (map-side combine) must appear so skewed keys are pre-reduced
    s = plan_str(e, "simple")
    assert count_exchanges(e) <= 2  # input repartition + the groupBy
    assert "HashAggregate" in s or "ObjectHashAggregate" in s or "SortAggregate" in s


def test_embedding_neardup_lsh_has_no_cartesian_product(spark):
    """The contract embedding-dedup query must compile to a bucket equi-join,
    never an n² cartesian product (the brute-force twin is fixture-only)."""
    from text_to_graph_spark.operators.dedup import embedding_neardup_pairs_lsh

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    out = embedding_neardup_pairs_lsh(emb, threshold=0.3)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_stratified_sample_is_shuffle_free(spark):
    """Deterministic hash sampling must stay a narrow filter — a sample that
    shuffles (or calls rand(), which breaks retry determinism) is wrong."""
    from text_to_graph_spark.operators.curation import stratified_sample

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = stratified_sample(docs, {"en": 500000, "de": 250000})
    s = plan_str(out, "simple")
    assert count_exchanges(out) == 0
    assert "rand" not in s.lower()


def test_balanced_mixture_no_cartesian_blowup(spark):
    """The waterline cross-join is a single broadcast row; the only real
    shuffles are the stratum count agg and the per-stratum rank window."""
    from text_to_graph_spark.operators.curation import balanced_mixture

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = balanced_mixture(docs, {"en": 500000, "de": 500000})
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s


def test_olap_filters_reach_scans_and_dims_broadcast(spark):
    from text_to_graph_spark.operators import olap as OL

    lineitem = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    q1 = OL.pricing_summary(lineitem)
    assert "l_shipdate" in pushed_filters(q1)  # date filter at the scan
    assert "l_partkey" not in read_schema(q1)  # unused columns pruned

    q3 = OL.ship_priority(
        spark.read.parquet(f"{SF_SMOKE}/customer.parquet"),
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet"),
        lineitem,
    )
    s = plan_str(q3, "simple")
    assert has_broadcast_join(q3)  # segment dim is broadcast
    assert "TakeOrderedAndProject" in s  # top-k, not a global sort
    assert "CartesianProduct" not in s


def test_bucketed_graph_tables_prune_partitions(spark, pages_smoke, tmp_path):
    from text_to_graph_spark.operators.canonicalize import (
        triples_to_canonical_edges,
        triples_to_canonical_nodes,
    )
    from text_to_graph_spark.sinks.graph_tables import (
        edges_of_subject,
        read_edges,
        write_graph_tables,
    )

    t = extract_triples_from_pages(pages_smoke)
    nodes = triples_to_canonical_nodes(t)
    edges = triples_to_canonical_edges(t)
    path = str(tmp_path / "graph")
    write_graph_tables(nodes, edges, path, n_buckets=8)

    # full read sees every edge; point lookup returns only the subject's
    all_edges = read_edges(spark, path)
    lookup = edges_of_subject(spark, path, "customer", n_buckets=8)
    assert lookup.count() == all_edges.where("subj_key = 'customer'").count()
    assert lookup.count() > 0

    # and the plan prunes to one partition directory
    p = plan_str(lookup, "formatted")
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m and "bucket" in m.group(1)


def test_kmeans_assignment_is_zero_shuffle_projection(spark):
    from text_to_graph_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    mic = emb.select(
        F.col("vec_id").alias("id"), SIM.micro_vec_expr("embedding").alias("mic")
    )
    assigned = SIM._assign_micro(mic, [(0, [0] * 64), (1, [1_000_000] * 64)])
    # centroids are inlined literals: no join, no exchange, no Python stage
    assert count_exchanges(assigned) == 0
    assert python_eval_count(assigned) == 0
    p = plan_str(assigned, "simple")
    assert "Join" not in p and "CartesianProduct" not in p


def test_kmeans_update_shuffle_has_partial_aggregation(spark):
    from text_to_graph_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    mic = emb.select(
        F.col("vec_id").alias("id"), SIM.micro_vec_expr("embedding").alias("mic")
    )
    stats = (
        SIM._assign_micro(mic, [(0, [0] * 64), (1, [1_000_000] * 64)])
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.element_at("mic", d + 1)).alias(f"s{d}") for d in range(64)],
        )
    )
    # the update pass combines map-side: partial_sum before the exchange, so
    # the shuffle carries K x (D+1) longs per partition, not the corpus
    f = plan_str(stats, "formatted")
    assert "partial_sum" in f or "partial_count" in f


def test_link_prediction_is_equi_join_no_cartesian(spark, pages_smoke):
    """The common-neighbor wedge join must compile to a shuffled equi-join
    on the shared-neighbor key — never a cartesian/nested-loop product —
    and the degree-cap filter must sit under the join, not above it."""
    from text_to_graph_spark.operators.canonicalize import (
        triples_to_canonical_edges,
    )
    from text_to_graph_spark.operators.graphalgo import common_neighbors

    e = triples_to_canonical_edges(
        extract_triples_from_pages(pages_smoke)
    ).select(
        F.col("subj_key").alias("subj"),
        F.col("pred_key").alias("pred"),
        F.col("obj_key").alias("obj"),
    )
    out = common_neighbors(e, min_common=2, max_neighbor_degree=32)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_inverted_index_aggs_are_partial_and_udf_free(spark):
    """The posting-list build must stay JVM-side (no Python boundary) with
    map-side partial phases ahead of both exchanges (the distinct and the
    per-term groupBy)."""
    from text_to_graph_spark.operators.textstats import inverted_index

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = inverted_index(docs, min_df=2)
    s = plan_str(out, "simple")
    assert python_eval_count(out) == 0
    assert count_exchanges(out) <= 2  # distinct + groupBy(term), nothing else
    assert "Aggregate" in s


def test_ngram_and_site_stats_are_udf_free_single_agg(spark, pages_smoke):
    """N-gram expansion is a pure array transform and the site rollup a
    split projection — both fully codegen'd, one aggregation exchange each
    (plus the sandbox input repartition for the pages table)."""
    from text_to_graph_spark.operators.curation import site_stats
    from text_to_graph_spark.operators.textstats import ngram_counts

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    ng = ngram_counts(docs, n=2, min_count=3)
    assert python_eval_count(ng) == 0
    assert count_exchanges(ng) <= 2  # countDistinct doc_id adds one level

    ss = site_stats(pages_smoke)
    assert python_eval_count(ss) == 0
    assert count_exchanges(ss) <= 3  # input repartition + distinct-lang 2-level agg


def test_match_2hop_filters_before_equi_join_no_cartesian(spark):
    """BGP 2-hop: each hop's predicate filter must precede the join (so
    selectivity bounds the exchange) and the join must be an equi-join."""
    from text_to_graph_spark.operators import graphq as G

    edges = spark.createDataFrame(
        [("a", "p", "b")], "subj_key string, pred_key string, obj_key string"
    )
    out = G.match_2hop(edges, "p", "q")
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert python_eval_count(out) == 0


def test_validate_edge_types_broadcasts_both_dims(spark):
    """SHACL-lite: category and ontology dims are schema-sized — every join
    must broadcast; the only exchange is the profile rollup."""
    from text_to_graph_spark.operators import graphq as G

    edges = spark.createDataFrame(
        [("a", "p", "b")], "subj_key string, pred_key string, obj_key string"
    )
    cats = spark.createDataFrame([("a", "A")], "key string, type string")
    allowed = spark.createDataFrame(
        [("p", "A", "A")], "pred string, subj_type string, obj_type string"
    )
    out = G.validate_edge_types(edges, cats, allowed)
    s = plan_str(out, "simple")
    assert "SortMergeJoin" not in s and "CartesianProduct" not in s
    assert count_exchanges(out) <= 1  # the profile rollup only


def test_quantized_codes_pass_is_zero_shuffle_projection(spark):
    """Int8 quantization params are inlined literals — the code pass must be
    a pure projection with no exchange and no Python boundary."""
    from text_to_graph_spark.operators.similarity import quantized_vectors

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    out = quantized_vectors(emb)
    assert count_exchanges(out) == 0
    assert python_eval_count(out) == 0


def test_covisitation_has_no_cartesian_and_broadcasts_marginals(spark):
    from text_to_graph_spark.operators.events import covisitation

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    out = covisitation(ev)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s  # session-key equi-join only
    assert has_broadcast_join(out)  # per-item marginals broadcast


def test_edge_confidence_broadcasts_node_df_table(spark, pages_smoke):
    from text_to_graph_spark.operators.extraction import extract_triples_from_pages
    from text_to_graph_spark.operators.graphq import edge_confidence

    t = extract_triples_from_pages(pages_smoke).select(
        "url", "subj", "pred", "obj"
    )
    out = edge_confidence(t)
    assert has_broadcast_join(out)
    assert "CartesianProduct" not in plan_str(out, "simple")


def test_zorder_key_pass_is_zero_shuffle(spark):
    """Morton keys with inlined time-scale params: pure projection until the
    final n_files-group rollup (exactly one exchange)."""
    import datetime as dt

    from text_to_graph_spark.operators.layout import zorder_file_stats

    pages = spark.createDataFrame(
        [
            (f"https://h.test/{i}", dt.datetime(2025, 1, 1, 0, 0, i))
            for i in range(60)
        ],
        "url string, warc_ts timestamp_ntz",
    )
    out = zorder_file_stats(pages, n_files=4)
    # two exchanges, both partial-aggregated: Spark expands the exact
    # count_distinct(url) into a (file_id, url) pre-agg + the final rollup;
    # the key computation itself must add none
    assert count_exchanges(out) <= 2
    assert python_eval_count(out) == 0


def test_dense_ids_uses_bucketed_windows_not_global_sort(spark):
    """dense_ids must partition its row_number window by bucket; a global
    single-partition window would show an Exchange SinglePartition feeding
    the big side."""
    from text_to_graph_spark.operators.graphalgo import dense_ids

    df = spark.range(0, 1000).select(
        F.concat(F.lit("n"), F.col("id")).alias("node")
    )
    out = dense_ids(df, "node")
    s = plan_str(out, "formatted")
    # the only SinglePartition exchange allowed is the tiny 64-row offsets
    # branch (which then broadcasts); the keyed branch hashes on (b)
    assert "hashpartitioning(b" in s
    assert has_broadcast_join(out)


def test_pca_projection_pass_is_zero_shuffle(spark):
    """After the Gram aggregation (eager, driver-held), the returned
    projection plan must be shuffle-free and JVM-only."""
    from text_to_graph_spark.operators.similarity import pca_first_component

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    out = pca_first_component(emb)
    assert count_exchanges(out) == 0
    assert python_eval_count(out) == 0


def test_csr_layout_windows_are_bucketed_and_offsets_broadcast(spark):
    from text_to_graph_spark.operators.graphalgo import csr_layout

    df = spark.createDataFrame(
        [(f"n{i}", f"n{(i + 1) % 40}") for i in range(40)],
        "subj string, obj string",
    )
    out = csr_layout(df)
    s = plan_str(out, "formatted")
    assert "hashpartitioning(rng" in s  # per-range windows, not global
    assert has_broadcast_join(out)      # range offsets broadcast back


def test_event_transitions_no_cartesian(spark):
    from text_to_graph_spark.operators.events import event_transitions

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    out = event_transitions(ev)
    assert "CartesianProduct" not in plan_str(out, "simple")


def test_personalized_pagerank_broadcasts_seed_flag(spark):
    from text_to_graph_spark.operators.graphalgo import personalized_pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "subj string, obj string"
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    out = personalized_pagerank(edges, seeds, iterations=1)
    # the per-round plans are checkpointed; the final plan still carries
    # the flagged-nodes join — assert it never degrades to a cartesian
    assert "CartesianProduct" not in plan_str(out, "simple")


def test_skew_salted_join_spreads_hot_key_no_single_reducer(spark):
    """The skew drill's scale property: the salted remap join shuffles on
    (key, _salt) — the hot key lands on `buckets` reducers, never one —
    and no stage in the plan collapses to a single partition."""
    from text_to_graph_spark.operators.canonicalize import skew_salted_join
    from text_to_graph_spark.sources.pages import synthesize_skewed_triples

    t = synthesize_skewed_triples(spark, 2000, n_keys=50)
    dim = (
        t.select(F.col("subj").alias("k")).distinct()
        .withColumn("vid", F.pmod(F.xxhash64("k"), F.lit(10**6)))
        .withColumnRenamed("k", "subj")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = skew_salted_join(t, dim, on="subj", salt_from="url", buckets=8)
        s = plan_str(out, "formatted")
        assert "_salt" in s                      # salt is a join/shuffle key
        assert "SinglePartition" not in s        # no single-reducer stage
        assert "CartesianProduct" not in s
        # result parity: row-identical to the unsalted join
        unsalted = t.join(dim, "subj")
        cols = ["url", "pos", "subj", "vid"]
        a = sorted(map(tuple, out.select(*cols).collect()))
        b = sorted(map(tuple, unsalted.select(*cols).collect()))
        assert a == b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_diff_and_synonyms_no_cartesian_no_single_reducer(spark):
    from text_to_graph_spark.operators.canonicalize import diff_canonical_edges
    from text_to_graph_spark.operators.graphq import predicate_synonyms

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
    d = diff_canonical_edges(a, b)
    s = plan_str(d, "simple")
    assert "CartesianProduct" not in s

    e = spark.createDataFrame(
        [("a", "p", "b"), ("a", "q", "b")], "subj string, pred string, obj string"
    )
    syn = predicate_synonyms(e, src="subj", dst="obj", label="pred")
    s2 = plan_str(syn, "simple")
    assert "CartesianProduct" not in s2  # pair-key equi-join, never all-pairs
    assert has_broadcast_join(syn)       # schema-sized totals broadcast


def test_fusion_revote_broadcasts_reliability_no_cartesian(spark):
    """The weighted re-vote's reliability side is |sources| rows — it must
    arrive as a broadcast, and nothing in the fusion chain may plan a
    cartesian or nested-loop join."""
    from text_to_graph_spark.operators.fusion import (
        fused_facts,
        source_claims,
        source_reliability,
        vote_facts,
    )

    t = spark.createDataFrame(
        [("https://example.test/s1/page/1/0", "a", "p", "x")],
        "url string, subj string, pred string, obj string",
    )
    claims = source_claims(t)
    out = fused_facts(claims, source_reliability(claims, vote_facts(claims)))
    s = plan_str(out, "simple")
    assert has_broadcast_join(out)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_functional_conflicts_broadcasts_pred_stats(spark):
    from text_to_graph_spark.operators.fusion import functional_conflicts

    facts = spark.createDataFrame(
        [("a", "p", "x"), ("a", "p", "y")],
        "subj string, pred string, obj string",
    )
    out = functional_conflicts(facts)
    s = plan_str(out, "simple")
    assert has_broadcast_join(out)
    assert "CartesianProduct" not in s


def test_landmark_bfs_hop_is_equi_join_no_cartesian(spark):
    """Each landmark-BFS hop must be a hash equi-join frontier⋈adjacency
    plus a two-column anti-join — never a nested loop."""
    from text_to_graph_spark.operators.components import landmark_distances

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    lm = spark.createDataFrame([("a",)], "node string")
    out = landmark_distances(e, lm, max_hops=2)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_rule_mining_body_join_is_equi_join_with_broadcast_head_counts(spark):
    """The AMIE body join must be a hash equi-join on the shared variable y
    (never a nested loop), and the per-head-relation count table (|preds|
    rows) must arrive as a broadcast."""
    from text_to_graph_spark.operators.rules import mine_path_rules

    facts = spark.createDataFrame(
        [("a", "r", "m"), ("m", "s", "b"), ("a", "t", "b")],
        "subj string, pred string, obj string",
    )
    out = mine_path_rules(facts, max_mid_degree=64)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert has_broadcast_join(out)


def test_rule_application_broadcasts_accepted_rules(spark):
    """Densification grounds bodies against the tiny accepted-rule table —
    that side must broadcast; the novelty check is a left_anti equi-join."""
    from text_to_graph_spark.operators.rules import apply_rules, mine_path_rules

    facts = spark.createDataFrame(
        [("a", "r", "m"), ("m", "s", "b"), ("a", "t", "b"),
         ("c", "r", "m"), ("m", "s", "d")],
        "subj string, pred string, obj string",
    )
    out = apply_rules(facts, mine_path_rules(facts), min_confidence_ppm=400_000)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert has_broadcast_join(out)


def test_entity_salience_is_pure_catalyst_no_python(spark):
    """The positional mention scan must stay inside codegen (zero Python
    boundaries) and shuffle only for the (url, mention) partial agg."""
    from text_to_graph_spark.operators.extraction import entity_salience

    ext = spark.createDataFrame(
        [("u", "customer likes spark")], "url string, text string"
    )
    out = entity_salience(ext)
    assert python_eval_count(out) == 0
    assert count_exchanges(out) <= 1


def test_entity_pair_lift_expands_pairs_without_self_join(spark):
    """Pair expansion is a nested transform over the per-doc mention array —
    the plan must contain no cartesian/nested-loop join, and the per-entity
    df table must broadcast."""
    from text_to_graph_spark.operators.graphq import entity_pair_lift

    m = spark.createDataFrame(
        [("d1", "customer"), ("d1", "spark"), ("d2", "customer"),
         ("d2", "spark")],
        "url string, mention string",
    )
    out = entity_pair_lift(m, min_pair_docs=1)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert has_broadcast_join(out)


def test_ranking_eval_window_partitions_by_query_node(spark):
    """The rank window must partition by the query node (no single-reducer
    global window) and the rollup is one partial-agg'd global aggregate."""
    from text_to_graph_spark.operators.graphalgo import ranking_eval

    preds = spark.createDataFrame(
        [("g1", "b1", 900, True)],
        "node_a string, node_b string, jaccard_ppm long, is_linked boolean",
    )
    out = ranking_eval(preds)
    s = plan_str(out, "simple")
    # a partitionBy window plans hashpartitioning on the group key; a global
    # window would plan SinglePartition before the Window node
    assert "Window" in s
    assert "SinglePartition, Window" not in s.replace("\n", " ")
    assert "CartesianProduct" not in s


def test_containment_pairs_is_blocked_equi_join(spark):
    """The containment verify step joins shingles on (grp, shingle) — an
    exact hash equi-join, never a nested loop over doc pairs."""
    from text_to_graph_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [(1, "g", "a b c d e"), (2, "g", "a b c d f")],
        "doc_id long, source string, text string",
    )
    out = containment_pairs(docs, group_col="source", threshold=0.1)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_minhash_signature_agg_is_hash_aggregate(spark):
    """The signature reduction (32 per-permutation mins over the exploded
    shingle table — the dedup family's single biggest intermediate) must
    aggregate fixed-width bigints in codegen'd HashAggregate with map-side
    partial aggregation. A min over md5 hex strings puts a var-length
    buffer in the agg and Spark falls back to SortAggregate, sorting every
    shingle row per map task. (The zero-shuffle array_min(transform(...))
    formulation is NOT the fix: HOF lambdas evaluate interpreted and
    measured 2x slower than this codegen'd aggregation.)"""
    from text_to_graph_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g")], "doc_id long, text string"
    )
    s = plan_str(minhash_signatures(docs), "simple")
    assert "HashAggregate" in s
    assert "SortAggregate" not in s
    assert python_eval_count(minhash_signatures(docs)) == 0


def test_keep_best_argmax_is_hash_aggregate(spark):
    """The survivor argmax is a packed decimal(38,0) min in a codegen'd
    HashAggregate — map-side partial agg reduces each map task to one row
    per cluster, so the shuffle carries ~|clusters| rows. No Window (the
    old formulation shuffled and sorted every member row per cluster) and
    no SortAggregate (fixed-width agg buffer keeps hash aggregation)."""
    from text_to_graph_spark.operators.dedup import neardup_keep_best

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g")], "doc_id long, text string"
    )
    out = neardup_keep_best(docs)
    s = plan_str(out, "simple")
    assert "Window" not in s
    assert "HashAggregate" in s
    assert "CartesianProduct" not in s
    assert python_eval_count(out) == 0
    # the argmax agg itself (min over _ord) must not fall back to sort-based
    # aggregation; CC's iterative internals aside, the final stage is hash
    final_stage = s.split("HashAggregate")[0]
    assert "SortAggregate" not in final_stage


def test_entity_cards_windows_partition_by_label_no_cartesian(spark):
    """Both argmax windows partition by the node label and every join is a
    label equi-join — no nested loop, no global window."""
    from text_to_graph_spark.operators.graphq import entity_cards

    nodes = spark.createDataFrame(
        [("a", "t", 1)], "label string, node_type string, n_docs long"
    )
    edges = spark.createDataFrame(
        [("a", "p", "b", 1, 1)],
        "subj string, pred string, obj string, n_docs long, n_occurrences long",
    )
    out = entity_cards(nodes, edges)
    s = plan_str(out, "simple")
    assert "Window" in s
    assert "SinglePartition, Window" not in s.replace("\n", " ")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert python_eval_count(out) == 0


def test_skew_profile_topk_is_takeordered_not_global_sort(spark):
    """The hottest-keys ranking must compile to TakeOrderedAndProject (a
    bounded per-partition heap + driver merge), never a full Sort."""
    from text_to_graph_spark.operators.canonicalize import join_skew_profile

    df = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")
    out = join_skew_profile(df, "k", top_k=5)
    s = plan_str(out, "simple")
    assert "TakeOrderedAndProject" in s
    assert python_eval_count(out) == 0


def test_node2vec_steps_are_equi_joins_pure_expression(spark):
    """Each step probes the adjacency twice (cur + prev) as hash equi-joins;
    the weighted-wheel fold is a pure array expression — no Python, no
    nested loop, no per-step window/explode shuffle."""
    from text_to_graph_spark.operators.graphalgo import node2vec_walks

    df = spark.createDataFrame([("a", "b"), ("b", "a")], "subj string, obj string")
    out = node2vec_walks(df, n_walks=1, walk_len=2)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert python_eval_count(out) == 0
    assert "Window" not in s


def test_resource_allocation_degree_rides_wedge_no_cartesian(spark):
    """The center's degree is a column on the wedge rows, so the scoring
    needs no join after the pair groupBy; candidate generation is the wedge
    hash equi-join, never an all-pairs product; pure expression arithmetic."""
    from text_to_graph_spark.operators.graphalgo import resource_allocation

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "subj string, obj string"
    )
    out = resource_allocation(df, max_neighbor_degree=32)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert python_eval_count(out) == 0


def test_edge_triangle_support_is_equi_join_plus_semi(spark):
    """Support counting = wedge hash equi-join + left_semi closure test;
    no all-pairs product, no Python, no window."""
    from text_to_graph_spark.operators.graphalgo import edge_triangle_support

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "subj string, obj string"
    )
    out = edge_triangle_support(df)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert python_eval_count(out) == 0
    assert "Window" not in s


def test_bounded_closure_hops_are_equi_joins(spark):
    """Each hop is a frontier hash equi-join + left_anti dedup against the
    closure so far — no all-pairs product, no Python."""
    from text_to_graph_spark.operators.graphalgo import bounded_closure

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "subj string, obj string"
    )
    out = bounded_closure(df, max_hops=3)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert python_eval_count(out) == 0


def test_fact_intervals_single_window_partitioned_by_fact(spark):
    """Gaps-and-islands = ONE window pass partitioned by the fact key
    (lag + running sum share the partitioning), no Python, no cartesian."""
    from pyspark.sql import functions as F

    from text_to_graph_spark.operators.temporal import fact_validity_intervals

    pages = spark.createDataFrame(
        [("u", 1)], "url string, sec long"
    ).select("url", F.timestamp_seconds("sec").alias("warc_ts"))
    triples = spark.createDataFrame(
        [("u", "s", "p", "o")], "url string, subj string, pred string, obj string"
    )
    out = fact_validity_intervals(triples, pages)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert python_eval_count(out) == 0
    # lag + running sum keep separate Window nodes (different frames) but
    # share ONE fact-key partitioning: no Exchange may sit between them
    assert s.count("Window") == 2
    between = s.split("Window")[1]
    assert "Exchange" not in between


def test_property_table_is_one_groupby_no_pivot_job(spark):
    """Static-schema pivot: every property folds into ONE partial-agg'd
    groupBy — exactly one exchange, no pivot value-inference, no Python."""
    from text_to_graph_spark.operators.graphq import property_table

    df = spark.createDataFrame(
        [("a", "join", "x")], "subj string, pred string, obj string"
    )
    out = property_table(df, ("join", "scan", "merge"))
    s = plan_str(out, "simple")
    assert python_eval_count(out) == 0
    assert count_exchanges(out) == 1
    assert "partial_" in plan_str(out, "formatted")


def test_neighbor_sample_windows_partition_by_parent(spark):
    """Fan-out caps = row_number windows partitioned by the parent key;
    joins are node-key equi-joins — no cartesian, no Python."""
    from text_to_graph_spark.operators.graphalgo import sampled_neighborhood

    df = spark.createDataFrame([("a", "b")], "subj string, obj string")
    out = sampled_neighborhood(df)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert python_eval_count(out) == 0


def test_triad_motifs_equi_joins_only(spark):
    """Census = wedge equi-join + closure left_semi probes; counts
    partial-aggregate; no all-pairs product, no Python."""
    from text_to_graph_spark.operators.graphalgo import triad_motifs

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "subj string, obj string"
    )
    out = triad_motifs(df)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert python_eval_count(out) == 0


def test_resolve_redirects_doubling_rounds_are_equi_joins(spark):
    """Pointer doubling: every round is a left hash equi-join on the
    endpoint key — no cartesian, no Python, no window."""
    from text_to_graph_spark.operators.weblinks import resolve_redirects

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src_url string, dst_url string"
    )
    out = resolve_redirects(df, lineage_cuts=False)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert python_eval_count(out) == 0
    assert "Window" not in s


def test_mis_rounds_are_equi_joins_no_cartesian(spark):
    """Every MIS round = two node-key equi-joins + a partial-agg'd min +
    anti-join removal; no all-pairs product, no Python."""
    from text_to_graph_spark.operators.graphalgo import maximal_independent_set

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "subj string, obj string"
    )
    out = maximal_independent_set(df, max_rounds=2)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert python_eval_count(out) == 0


def test_forecast_revenue_pushes_whole_predicate_no_groupby(spark):
    """Q6: date/discount/quantity predicate reaches the parquet scan;
    4 of 11 columns read; global agg only (no hash-partitioning for keys)."""
    from text_to_graph_spark.operators import olap as OL

    q = OL.forecast_revenue(spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet"))
    pf = pushed_filters(q)
    assert "l_shipdate" in pf and "l_discount" in pf and "l_quantity" in pf
    rs = read_schema(q)
    assert "l_extendedprice" in rs and "l_partkey" not in rs and "l_tax" not in rs


def test_promo_revenue_broadcasts_part_dim(spark):
    """Q14: the part dim probes as a broadcast hash join — the filtered
    fact side never shuffles for it."""
    from text_to_graph_spark.operators import olap as OL

    q = OL.promo_revenue(
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet"),
        spark.read.parquet(f"{SF_SMOKE}/part.parquet"),
    )
    assert has_broadcast_join(q)
    s = plan_str(q, "simple")
    assert "SortMergeJoin" not in s and "CartesianProduct" not in s
    assert "l_shipdate" in pushed_filters(q)


def test_rake_keyphrases_udf_free_equi_joined(spark):
    """RAKE: phrase build is one doc_id-partitioned window shuffle; the
    word-score join is an equi-join on (doc_id, term) — no UDF, no
    cartesian, and the top-k is a per-doc window (never a global sort)."""
    from text_to_graph_spark.operators.textstats import rake_keyphrases

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = rake_keyphrases(docs)
    s = plan_str(out, "simple")
    assert python_eval_count(out) == 0
    assert "CartesianProduct" not in s
    assert "SortMergeJoin" in s or "BroadcastHashJoin" in s or "ShuffledHashJoin" in s


def test_match_star_single_key_equi_joins_no_cartesian(spark):
    """Star BGP: every branch filters its predicate before the join and all
    branches join on the SAME center key — equi-joins only."""
    from text_to_graph_spark.operators import graphq as G

    edges = spark.createDataFrame(
        [("a", "p", "b")], "subj_key string, pred_key string, obj_key string"
    )
    out = G.match_star(edges, ("p", "q", "r"))
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert python_eval_count(out) == 0


def test_degree_assortativity_scalar_agg_no_cartesian(spark):
    """Assortativity: two node-keyed equi-joins + one scalar aggregate —
    no UDF, no cartesian, exact decimal arithmetic."""
    from text_to_graph_spark.operators import graphq as G

    edges = spark.createDataFrame(
        [("a", "p", "b")], "subj_key string, pred_key string, obj_key string"
    )
    out = G.degree_assortativity(edges)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert python_eval_count(out) == 0


def test_predicate_reciprocity_semi_join_no_cartesian(spark):
    """Reciprocity: the reversed-triple probe must be a LeftSemi equi-join
    (output never widens) — no UDF, no cartesian."""
    from text_to_graph_spark.operators import graphq as G

    edges = spark.createDataFrame(
        [("a", "p", "b")], "subj_key string, pred_key string, obj_key string"
    )
    out = G.predicate_reciprocity(edges)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "LeftSemi" in s
    assert python_eval_count(out) == 0


def test_wl_refinement_round_no_cartesian_udf_free(spark):
    """Each WL round = one neighbor-key equi-join + one partial-agg'd
    sort-collect shuffle; no all-pairs product, no Python."""
    from text_to_graph_spark.operators.graphalgo import wl_refinement

    df = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "subj string, obj string"
    )
    out = wl_refinement(df, rounds=2)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert python_eval_count(out) == 0


def test_bipartite_double_cover_no_cartesian_udf_free(spark):
    """Bipartiteness rides the CC fixpoint on the double cover: node-key
    equi-joins only, no Python, no all-pairs product."""
    from text_to_graph_spark.operators.components import bipartite_components

    df = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    out = bipartite_components(df)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert python_eval_count(out) == 0


def test_topk_bucketed_broadcasts_queries_no_cartesian(spark):
    """The ANN scale path must stay a broadcast equi-join on (tbl, bucket):
    corpus rows never shuffle at fan-out width, and no plan change may
    reintroduce an all-pairs join."""
    from text_to_graph_spark.operators.similarity import topk_bucketed

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    out = topk_bucketed(emb, emb.where("vec_id < 10"), k=5)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert has_broadcast_join(out)


def test_bottomk_sample_compiles_to_partial_topk(spark):
    """Global bottom-k must be TakeOrderedAndProject (per-task partial
    top-k), never a full global sort materialization."""
    from text_to_graph_spark.operators.curation import bottomk_sample

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    s = plan_str(bottomk_sample(docs, k=10), "simple")
    assert "TakeOrderedAndProject" in s


def test_manifest_compaction_single_spec_shuffle(spark):
    """Metadata-plane bin packing: one exchange keyed by spec feeds both
    the prefix-sum window and the rollup (partitioning reused)."""
    from text_to_graph_spark.operators.layout import manifest_compaction_plan

    m = spark.createDataFrame(
        [("a", "m1", 10), ("b", "m2", 20)],
        "spec string, manifest string, n_entries long",
    )
    out = manifest_compaction_plan(m)
    assert count_exchanges(out) <= 2  # spec window + final agg (same key)
    assert "CartesianProduct" not in plan_str(out, "simple")


def test_bloom_registers_single_partial_agg_exchange(spark):
    from text_to_graph_spark.operators.events import bloom_registers

    ev = spark.createDataFrame(
        [(i, i * 7 % 50, "g%d" % (i % 3)) for i in range(100)],
        "event_id long, user_id long, event_type string",
    )
    regs = bloom_registers(ev)
    # one bit_or aggregation keyed (group, bucket): exactly one exchange,
    # partial-agg'd map-side so the shuffle carries at most
    # groups x n_buckets rows per map partition
    assert count_exchanges(regs) == 1
    p = plan_str(regs)
    assert "partial_bit_or" in p or "partial_" in p.lower()
    assert python_eval_count(regs) == 0


def test_bloom_probe_broadcasts_registers_and_members(spark):
    from text_to_graph_spark.operators.events import bloom_membership

    ev = spark.createDataFrame(
        [(i, i * 7 % 50) for i in range(100)], "event_id long, user_id long"
    )
    out = bloom_membership(ev, member_pred="user_id % 5 = 0")
    # both the register table (<= n_buckets rows) and the member list are
    # broadcast: the probe side never shuffles for the joins
    assert has_broadcast_join(out)
    assert "CartesianProduct" not in plan_str(out)
    assert python_eval_count(out) == 0


def test_resize_thumbs_is_single_python_stage_no_shuffle(spark):
    from text_to_graph_spark.operators.multimodal import (
        attach_png_payload,
        resize_gray8_thumbs,
    )

    docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    t = resize_gray8_thumbs(attach_png_payload(docs))
    # encode + decode + resample + re-encode fuse into TWO chained
    # mapInPandas stages (attach, resize) with zero shuffle between them
    assert python_eval_count(t) == 2
    assert count_exchanges(t) == 0


def test_boilerplate_strip_broadcast_totals_no_cartesian(spark):
    """Host totals broadcast into the mining rollup; removal is a
    left_anti equi-join on (host, line-key); no nested loop anywhere and
    the whole transform stays JVM-side."""
    from text_to_graph_spark.operators.curation import (
        strip_host_boilerplate_lines,
    )

    docs = spark.createDataFrame(
        [("a", 1, "nav\nx"), ("a", 2, "nav\ny")],
        "host string, doc_id long, text string",
    )
    out = strip_host_boilerplate_lines(docs)
    s = plan_str(out, "simple")
    assert has_broadcast_join(out)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert python_eval_count(out) == 0


def test_classifier_trainer_round_scoring_is_literal_map_projection(spark):
    """One perceptron round's scoring plan: the weights are a driver
    literal map, so the feature side never joins a weight table — the only
    aggregations are the hashed-feature rollup and the per-doc sum, all
    HashAggregate, no Python."""
    from pyspark.sql import functions as F
    from text_to_graph_spark.operators.curation import train_linear_classifier

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e")], "doc_id long, text string"
    )
    labels = spark.createDataFrame([(1, 1), (2, -1)], "doc_id long, y int")
    # the trainer collects per round; pin the TRAJECTORY result shape and
    # that the training loop left no Python eval or cartesian in the final
    # model table (driver-built literal)
    traj = train_linear_classifier(docs, labels, rounds=1)
    assert traj.count() == 64
    s = plan_str(traj, "simple")
    assert "CartesianProduct" not in s


def test_semdedup_cluster_equijoin_no_cartesian_udf_free(spark):
    """SemDeDup's pairwise pass must be an equi-join on the cluster id —
    never a cartesian/nested-loop — and the whole operator stays JVM-side
    (the cosine is a codegen'd/HOF fold, not a UDF)."""
    from text_to_graph_spark.operators.similarity import semdedup

    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5)]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    out = semdedup(emb, k=2)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert python_eval_count(out) == 0


def test_knn_classify_blocked_join_and_single_vote_rollup(spark):
    """kNN probe: cluster-blocked candidate join (no cartesian), the rank
    window and both vote aggregations JVM-side, no Python eval."""
    from text_to_graph_spark.operators.similarity import knn_classify

    emb = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5)], i % 2) for i in range(12)],
        "vec_id long, embedding array<float>, label int",
    )
    out = knn_classify(emb, k=2, n_centroids=2)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert python_eval_count(out) == 0


def test_span_trim_window_exchange_reused_by_rollup(spark):
    """span_trim's doc_id exchange feeds both the coverage window and the
    reconstruction rollup: the plan must not re-shuffle between Window and
    the final aggregate (Sort/Window then ObjectHashAggregate on the same
    partitioning), and the shingle side joins as an equi-join."""
    from text_to_graph_spark.operators.dedup import span_trim

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(12))),
         (2, " ".join(f"w{i}" for i in range(12)))],
        "doc_id long, text string",
    )
    out = span_trim(docs)
    s = plan_str(out, "formatted")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert python_eval_count(out) == 0
    # no Exchange between the coverage Window and the final aggregate: the
    # rollup reuses the window's doc_id partitioning. The plan prints
    # top-down (sinks first), so everything ABOVE the Window in the text
    # is downstream of it — and must contain no Exchange.
    import re

    downstream_of_window = s.split("Window", 1)[0]
    assert not re.search(r"\bExchange\b", downstream_of_window), (
        "rollup re-shuffled after the coverage window"
    )


def test_ccnet_buckets_single_language_window_no_python(spark):
    """CCNet terciles: familiarity's aggregations plus ONE lang-partitioned
    window sort; no cartesian, no Python eval."""
    from text_to_graph_spark.operators.textstats import ccnet_buckets

    docs = spark.createDataFrame(
        [(1, "a b c", "en"), (2, "a b d", "en"), (3, "x y", "fr")],
        "doc_id long, text string, lang string",
    )
    out = ccnet_buckets(docs)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert python_eval_count(out) == 0
    assert "Window" in plan_str(out, "formatted")


def test_wordpiece_counts_udf_free_no_cartesian(spark):
    """WordPiece trainer + greedy apply: entirely JVM (the chain walk is a
    fold, not a UDF), vocab join is an equi-join on the piece."""
    from text_to_graph_spark.operators.tokenizer import wordpiece_counts

    docs = spark.createDataFrame(
        [(1, "ab ab ab abc"), (2, "b c")], "doc_id long, text string"
    )
    out = wordpiece_counts(docs)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert python_eval_count(out) == 0


def test_sitemap_round_trip_udf_free(spark):
    """Sitemap build + parse stays JVM-side end to end: one window rank +
    one (host, part) aggregation building, regex projection parsing."""
    from text_to_graph_spark.sources.pages import synthesize_pages
    from text_to_graph_spark.sources.sitemap import (
        build_sitemaps,
        parse_sitemaps,
    )

    out = parse_sitemaps(
        build_sitemaps(synthesize_pages(spark, SF_SMOKE))
    )
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert python_eval_count(out) == 0


def test_kmv_intersection_data_plane_equijoins_only(spark):
    """KMV pair estimates: the pair dim is a driver-built literal over the
    collected group LABELS (model-scale metadata), so every join in the
    plan is a plain equi-join — no cartesian, no nested loop, no UDF."""
    from text_to_graph_spark.operators.events import kmv_intersection

    ev = spark.createDataFrame(
        [(u % 50, f"t{u % 3}") for u in range(300)],
        "user_id long, event_type string",
    )
    out = kmv_intersection(ev)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert python_eval_count(out) == 0


def test_native_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """The co-located join the 100 TB design leans on: two tables written
    ``bucketBy`` the join key join with ZERO shuffle exchanges — the
    SortMergeJoin reads pre-bucketed, pre-sorted files directly (the
    native-catalog twin of sinks/graph_tables' manual url-hash
    bucketing). Broadcast is disabled so the plan can't cheat."""
    import re

    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(1000).select(
            (F.col("id") % 100).alias("k"), F.col("id").alias("va")
        )
        b = spark.range(1000).select(
            (F.col("id") % 100).alias("k"), F.col("id").alias("vb")
        )
        spark.sql("DROP TABLE IF EXISTS t2g_bkt_a")
        spark.sql("DROP TABLE IF EXISTS t2g_bkt_b")
        a.write.bucketBy(8, "k").sortBy("k").option(
            "path", str(tmp_path / "a")
        ).mode("overwrite").saveAsTable("t2g_bkt_a")
        b.write.bucketBy(8, "k").sortBy("k").option(
            "path", str(tmp_path / "b")
        ).mode("overwrite").saveAsTable("t2g_bkt_b")
        j = spark.table("t2g_bkt_a").join(spark.table("t2g_bkt_b"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"Exchange hashpartitioning", plan), (
            "bucketed join re-shuffled"
        )
        assert "SortMergeJoin" in plan
        assert j.count() == 10 * 10 * 100  # 10 rows per key per side
    finally:
        spark.sql("DROP TABLE IF EXISTS t2g_bkt_a")
        spark.sql("DROP TABLE IF EXISTS t2g_bkt_b")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    import os

    assert not os.path.exists("spark-warehouse"), "warehouse leaked to cwd"


def test_span_trim_maximal_no_cartesian_and_partial_agg(spark):
    """The maximal-run excision must stay equi-join + window shaped: no
    cartesian anywhere, hash-partial aggregation on the shingle-key rollup
    (the shuffle rows carry md5 prefixes, and the sub-threshold island
    filter runs before any per-word join)."""
    from text_to_graph_spark.operators.dedup import span_trim_maximal

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = span_trim_maximal(docs, min_run=20)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert "HashAggregate" in s or "ObjectHashAggregate" in s


def test_transe_training_join_has_no_cartesian(spark):
    """The TransE epoch's (pairs x dim) scoring is four equi-joins against
    the parameter tables — a cartesian or nested-loop join here would be
    the n_entities x n_triples scale-killer. (The EVAL's query x entity
    candidate cross join is deliberate and documented; training is not
    allowed one.)"""
    from text_to_graph_spark.operators.graphalgo import transe_epoch

    edges = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c"), ("c", "q", "a")],
        "subj string, pred string, obj string",
    )
    out = transe_epoch(edges, dim=4, epochs=1)
    s = plan_str(out, "simple")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_gopher_rules_single_stage_projection(spark):
    """The whole rule battery must compile to one shuffle-free projection
    over the scan — per-rule metrics, flags, and composed gates included."""
    from text_to_graph_spark.operators.textstats import gopher_rules

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = gopher_rules(docs)
    assert count_exchanges(out) == 0
