"""Benchmark harness — one JSON line on stdout.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default ``SF_DIR``
below) on ``local[$SPARK_GRAFT_CPUS]`` (default: the host's core count, as
``get_spark``) and prints

    {"metric": "e2e_bench_wall", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ..., "triples_per_sec": ...,
     "cpus": ...}

Each query is forced end-to-end with a noop-format write (full computation,
no driver collect). The flagship ``kg_pipeline`` is the complete
pages -> extract -> chunk -> triples -> canonical nodes+edges DAG; its
triples/sec is the BASELINE.json headline metric. ``tools/scaling.py`` runs
this same file at two parallelism levels for the N-vs-4N scaling evidence.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
ONLY = {q for q in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if q}
# best-of-N per query: the sandbox VM has noisy-neighbor interference with
# 3-10x swings on identical runs (observed: the same kg_pipeline 39.6s and
# 3.3s minutes apart at identical load); min-of-3 is the mitigation
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
# deterministic corpus tiling for the flagship pipeline (tools/scaling.py
# raises this so each core has real work at the fixture SF)
REPLICATE = int(os.environ.get("SPARK_GRAFT_REPLICATE", "1"))


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    from pyspark.sql import functions as F

    from text_to_graph_spark.operators import curation as CUR
    from text_to_graph_spark.operators import multimodal as MM
    from text_to_graph_spark.operators import dedup as D
    from text_to_graph_spark.operators import events as EV
    from text_to_graph_spark.operators import olap as OL
    from text_to_graph_spark.operators import similarity as SIM
    from text_to_graph_spark.operators import textstats as TS
    from text_to_graph_spark.operators.canonicalize import (
        triples_to_canonical_edges,
        triples_to_canonical_nodes,
    )
    from text_to_graph_spark.operators.chunking import chunk_pages
    from text_to_graph_spark.operators.components import connected_components
    from text_to_graph_spark.operators.extraction import (
        extract_text,
        extract_triples,
        extract_triples_from_pages,
    )
    from text_to_graph_spark.pipeline import vocab_category_table
    from text_to_graph_spark.session import get_spark
    from text_to_graph_spark.sources.pages import synthesize_pages

    from text_to_graph_spark.session import ensure_min_partitions

    spark = get_spark(app_name="t2g-bench", master=f"local[{CPUS}]")
    # sandbox fixture tables are single small files -> 1 scan partition; at
    # production scale the scan is already parallel and this is a no-op
    docs = ensure_min_partitions(spark.read.parquet(f"{SF_DIR}/documents.parquet"))
    emb = ensure_min_partitions(spark.read.parquet(f"{SF_DIR}/embeddings.parquet"))
    events = ensure_min_partitions(spark.read.parquet(f"{SF_DIR}/events.parquet"))

    # untimed warm-up: exercises codegen, the Python worker pool, and the
    # collation init once at tiny scale so the timed section measures engine
    # throughput, not first-use JVM costs (which amortize to zero at real
    # corpus scale). Uses the small fixture when present, else the bench dir.
    warm_dir = (
        "/root/testdata/sf0.001"
        if os.path.isdir("/root/testdata/sf0.001")
        else SF_DIR
    )
    warm_pages = synthesize_pages(spark, warm_dir)
    _force(
        triples_to_canonical_edges(extract_triples_from_pages(warm_pages))
    )
    _force(extract_triples(chunk_pages(extract_text(warm_pages)), "vocab", impl="sql"))

    n_triples = 0

    def q_kg_pipeline():
        nonlocal n_triples
        pages = synthesize_pages(spark, SF_DIR, replicate=REPLICATE)
        triples = extract_triples_from_pages(pages)  # fused single-UDF path
        triples = triples.localCheckpoint(eager=True)  # reuse for edges+nodes
        n_triples = triples.count()
        # heavy tiles put every page behind every key: inline doc_ids
        # arrays become the aggregation state itself and collect_set GC
        # inverts core-scaling (measured: 4 cores beat 16 at 512x). The
        # web-scale provenance mode keeps counts exact and state bounded;
        # both modes are value-checked equal by contract queries + pytest.
        prov = "counts" if REPLICATE >= 64 else "doc_ids"
        _force(triples_to_canonical_edges(triples, provenance=prov))
        _force(
            triples_to_canonical_nodes(
                triples, vocab_category_table(spark), provenance=prov
            )
        )

    def q_kg_pipeline_staged():
        # same computation through the three checkpointable stage operators
        pages = synthesize_pages(spark, SF_DIR)
        chunks = chunk_pages(extract_text(pages))
        triples = extract_triples(chunks, "vocab", impl="pandas")
        triples = triples.localCheckpoint(eager=True)
        triples.count()
        _force(triples_to_canonical_edges(triples))
        _force(triples_to_canonical_nodes(triples, vocab_category_table(spark)))

    def q_kg_triples_sql():
        pages = synthesize_pages(spark, SF_DIR)
        chunks = chunk_pages(extract_text(pages))
        _force(extract_triples(chunks, "vocab", impl="sql"))

    def q_kg_highres():
        # the composed high-resolution DAG (chunk -> L1 -> padded L2 ->
        # canonical edges); exercises the window + mention-gate joins
        from __spark_entry__ import _q_kg_pipeline_highres

        _force(_q_kg_pipeline_highres(spark, SF_DIR))

    def q_kg_components():
        pages = synthesize_pages(spark, SF_DIR)
        chunks = chunk_pages(extract_text(pages))
        t = extract_triples(chunks, "vocab", impl="sql")
        e = triples_to_canonical_edges(t)
        _force(connected_components(e, "subj_key", "obj_key"))

    def q_graph_stress():
        # adversarial fixpoint stress: CC + PageRank + SCC on a synthesized
        # Zipf-skewed multigraph (hub node holds ~5% of endpoints). Edge
        # count via SPARK_GRAFT_GRAPH_EDGES (default 1M per-round; the 10M
        # no-cliff evidence run is recorded in BASELINE.md). The generator
        # is a zero-shuffle projection over spark.range, so the timing is
        # the algorithms, not the fixture. No oracle by design: floor(exp)
        # node draws are libm-dependent in the last ulp across engines.
        from text_to_graph_spark.operators.components import (
            strongly_connected_components,
        )
        from text_to_graph_spark.operators.graphalgo import pagerank
        from text_to_graph_spark.sources.synthetic import (
            synthesize_powerlaw_edges,
        )

        n_edges = int(os.environ.get("SPARK_GRAFT_GRAPH_EDGES", "1000000"))
        e = synthesize_powerlaw_edges(spark, n_edges).localCheckpoint(eager=True)
        _force(connected_components(e, "src", "dst"))
        _force(pagerank(e, "src", "dst", iterations=5))
        _force(strongly_connected_components(e, "src", "dst"))

    def q_transe_stress():
        # trainer under volume: ONE exact-integer TransE epoch on a
        # Zipf-skewed synthetic graph (same generator as graph_stress,
        # predicates = hash of the endpoints). The training join is
        # (pairs x dim) rows through four equi-joins + a bounded per-pair
        # window + one batch update — the no-cliff evidence for the newest
        # scale-sensitive component. Edge count via SPARK_GRAFT_TRANSE_EDGES.
        from text_to_graph_spark.operators.graphalgo import transe_epoch
        from text_to_graph_spark.sources.synthetic import (
            synthesize_powerlaw_edges,
        )

        n_edges = int(os.environ.get("SPARK_GRAFT_TRANSE_EDGES", "200000"))
        e = (
            synthesize_powerlaw_edges(spark, n_edges)
            .select(
                F.col("src").cast("string").alias("subj"),
                F.pmod(F.col("src") + F.col("dst"), F.lit(16))
                .cast("string")
                .alias("pred"),
                F.col("dst").cast("string").alias("obj"),
            )
            .localCheckpoint(eager=True)
        )
        _force(transe_epoch(e, dim=8, epochs=1))

    def q_dedup_stress():
        # near-dup family under volume: the corpus tiled x TILES with a
        # copy-specific token appended, so copies are NEAR-duplicates (not
        # exact) and the full LSH -> candidate join -> CC -> keep-best path
        # runs at volume. docs/sec at two tile levels is the no-cliff
        # evidence in BASELINE.md for the b x r banding + HashAggregate
        # signature design (the r1-r3 rounds' flagged scale risk).
        tiles = int(os.environ.get("SPARK_GRAFT_DEDUP_TILES", "8"))
        t = docs.crossJoin(
            spark.range(tiles).withColumnRenamed("id", "copy_id")
        ).select(
            (F.col("doc_id") * tiles + F.col("copy_id")).alias("doc_id"),
            F.concat(
                F.col("text"), F.lit(" copytoken"), F.col("copy_id").cast("string")
            ).alias("text"),
        )
        _force(D.neardup_keep_best(t))

    _skew_cache: dict = {}

    def _skew_inputs():
        # Zipf-head drill: one edge key on 30% of 4M occurrence rows, id
        # map too large to broadcast (the 100 TB no-broadcast remap regime).
        # Built once and shared by both drill entries (the fixture is the
        # same untimed input either way; each entry times only its join).
        if "t" in _skew_cache:
            return _skew_cache["t"], _skew_cache["idmap"]
        from text_to_graph_spark.sources.pages import synthesize_skewed_triples

        t = synthesize_skewed_triples(spark, 4_000_000).localCheckpoint(
            eager=True
        )
        idmap = (
            t.select(F.col("subj").alias("k"))
            .distinct()
            .withColumn("vid", F.pmod(F.xxhash64("k"), F.lit(10**6)))
            .localCheckpoint(eager=True)
        )
        _skew_cache["t"], _skew_cache["idmap"] = t, idmap
        return t, idmap

    def _skew_join(salted: bool):
        from text_to_graph_spark.operators.canonicalize import skew_salted_join

        t, idmap = _skew_inputs()
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            dim = idmap.withColumnRenamed("k", "subj")
            j = (
                skew_salted_join(t, dim, on="subj", salt_from="url")
                if salted
                else t.join(dim, "subj")
            )
            # same reduction either way; checksum pins result equality
            row = j.select(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("vid") % 97 + F.col("pos") % 97).alias("chk"),
            ).collect()[0]
            assert row["n"] == 4_000_000, row
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    _triples_cache: dict = {}

    def _triples_fixture():
        # shared untimed input for the post-extraction KG analytics
        # entries (fusion, rule mining): extraction cost is already
        # measured by kg_pipeline, so these time ONLY their own operator
        if "t" not in _triples_cache:
            pages = synthesize_pages(spark, SF_DIR)
            _triples_cache["t"] = extract_triples_from_pages(
                pages
            ).localCheckpoint(eager=True)
        return _triples_cache["t"]

    def q_kg_transe():
        # exact-integer TransE: 3 batch epochs on the canonical edge list
        # + the all-candidate MRR eval (graphalgo.transe_epoch/rank_eval)
        from text_to_graph_spark.operators.graphalgo import (
            transe_epoch,
            transe_rank_eval,
        )

        pages = synthesize_pages(spark, SF_DIR)
        chunks = chunk_pages(extract_text(pages))
        t = extract_triples(chunks, "vocab", impl="sql")
        e = triples_to_canonical_edges(t).select(
            F.col("subj_key").alias("subj"),
            F.col("pred_key").alias("pred"),
            F.col("obj_key").alias("obj"),
        )
        trained = transe_epoch(e, dim=16, margin=100, step=10, epochs=3)
        _force(transe_rank_eval(e, trained, "trained"))

    def q_kg_fusion():
        from text_to_graph_spark.operators.fusion import (
            fused_facts,
            source_claims,
            source_reliability,
            vote_facts,
        )

        claims = source_claims(_triples_fixture())
        rel = source_reliability(claims, vote_facts(claims))
        _force(fused_facts(claims, rel))

    def q_kg_neighbor_sample():
        # GNN dataloader frontier over the extracted triples (md5-ranked
        # fan-out caps: the bounded-neighborhood hot path)
        from text_to_graph_spark.operators.graphalgo import sampled_neighborhood

        _force(
            sampled_neighborhood(
                _triples_fixture().select("subj", "obj"), fanout=(4, 2)
            )
        )

    def q_web_redirect_resolve():
        # 301-map terminal resolution (log-round pointer doubling)
        from text_to_graph_spark.operators.weblinks import resolve_redirects
        from text_to_graph_spark.sources.weblinks import synthesize_redirects

        _force(resolve_redirects(synthesize_redirects(spark, SF_DIR)))

    def q_kg_rules():
        from text_to_graph_spark.operators.rules import mine_path_rules

        t = _triples_fixture().select("subj", "pred", "obj")
        _force(mine_path_rules(t, max_mid_degree=4096))

    def _pii_redact(docs):
        from text_to_graph_spark.operators.pii import redact_pii

        return redact_pii(docs)

    def _q_web_dead(spark):
        # anchor extraction + bloom-fast-path crawl-frontier anti-join
        from text_to_graph_spark.operators import weblinks as WL
        from text_to_graph_spark.sources.weblinks import synthesize_linked_pages

        pages = synthesize_linked_pages(spark, SF_DIR)
        _force(WL.dead_links(WL.extract_links(pages), pages))

    def q_kg_bpe_tokenizer():
        # distributed tokenizer train (8 merge rounds over the piece
        # vocabulary) + sequential apply back over the corpus (8 chained
        # codegen'd regexp_replace passes) — the iterative-job bench
        from text_to_graph_spark.operators.tokenizer import (
            subword_token_counts,
            train_bpe_merges,
        )

        model = train_bpe_merges(docs, n_merges=8).orderBy("rank").collect()
        _force(
            subword_token_counts(
                docs,
                [(r["left_hex"], r["right_hex"]) for r in model],
                key_col="doc_id",
            )
        )

    benches = {
        "kg_pipeline": q_kg_pipeline,
        "kg_bpe_tokenizer": q_kg_bpe_tokenizer,
        "kg_pipeline_staged": q_kg_pipeline_staged,
        "kg_triples_sql": q_kg_triples_sql,
        "kg_pipeline_highres": q_kg_highres,
        "kg_components": q_kg_components,
        "dedup_exact": lambda: _force(D.exact_duplicates(docs)),
        "dedup_minhash_pairs": lambda: _force(D.minhash_candidate_pairs(docs)),
        "dedup_clusters": lambda: _force(D.near_dup_clusters(docs)),
        "dedup_simhash": lambda: _force(D.simhash(docs)),
        "ann_topk": lambda: _force(
            SIM.topk_bruteforce(emb, emb.where("vec_id < 10"), k=5)
        ),
        "text_quality": lambda: _force(TS.quality_stats(docs)),
        "text_pii": lambda: _force(_pii_redact(docs)),
        # multimodal throughput: synthesize + fully decode a real PNG
        # per doc, perceptual-hash it, and count hash buckets
        "mm_dhash": lambda: _force(
            MM.dhash_dedup_groups(MM.attach_png_payload(docs))
        ),
        "docs_classifier": lambda: _force(CUR.classifier_scores(docs)),
        # DSIR: hashed-bucket fit + broadcast ratio probe + per-source gate
        "docs_dsir": lambda: _force(CUR.dsir_gate(docs)),
        "dedup_keep_best": lambda: _force(D.neardup_keep_best(docs)),
        "dedup_spans": lambda: _force(D.duplicated_span_stats(docs)),
        "dedup_span_trim": lambda: _force(D.span_trim(docs)),
        # 16 cells at sf0.1 (5k vectors -> ~300/cell): the quadratic
        # within-cell term is the knob, exactly as in production IVF sizing
        "emb_knn_classify": lambda: _force(SIM.knn_classify(emb, n_centroids=16)),
        "events_sessionize": lambda: _force(EV.sessionize(events)),
        "events_covisitation": lambda: _force(EV.covisitation(events)),
        "olap_pricing_summary": lambda: _force(
            OL.pricing_summary(spark.read.parquet(f"{SF_DIR}/lineitem.parquet"))
        ),
        "web_dead_links": lambda: _q_web_dead(spark),
        "kg_skew_join_unsalted": lambda: _skew_join(salted=False),
        "kg_skew_join_salted": lambda: _skew_join(salted=True),
        "kg_fusion": q_kg_fusion,
        # published variable-length ExactSubstr rule: anchors -> maximal
        # runs (gaps-and-islands) -> sub-threshold filter -> excision
        "dedup_span_trim_maximal": lambda: _force(
            D.span_trim_maximal(docs, min_run=20)
        ),
        "kg_transe": q_kg_transe,
        "kg_rules": q_kg_rules,
        "olap_ship_priority": lambda: _force(
            OL.ship_priority(
                spark.read.parquet(f"{SF_DIR}/customer.parquet"),
                spark.read.parquet(f"{SF_DIR}/orders.parquet"),
                spark.read.parquet(f"{SF_DIR}/lineitem.parquet"),
            )
        ),
        "graph_stress": q_graph_stress,
        "dedup_stress": q_dedup_stress,
        "transe_stress": q_transe_stress,
        "kg_neighbor_sample": lambda: q_kg_neighbor_sample(),
        "web_redirect_resolve": lambda: q_web_redirect_resolve(),
    }

    results: dict[str, float] = {}
    # long-running stress entries run once — min-of-3 on a ~40 s fixpoint
    # suite would triple the bench wall for noise reduction it doesn't need
    # (its signal is the cross-volume ratio in BASELINE.md, not ±5%)
    single_shot = {"graph_stress", "dedup_stress", "transe_stress"}

    for name, fn in benches.items():
        if ONLY and name not in ONLY:
            continue
        best = None
        for _ in range(1 if name in single_shot else max(REPEATS, 1)):
            t0 = time.monotonic()
            fn()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        results[name] = round(best, 3)

    total = round(sum(results.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "e2e_bench_wall",
        "value": total,
        "unit": "sec",
        "queries": results,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": CPUS,
    }
    if "kg_pipeline" in results and results["kg_pipeline"] > 0:
        out["n_triples"] = n_triples
        out["replicate"] = REPLICATE
        out["triples_per_sec"] = round(n_triples / results["kg_pipeline"], 1)
    # attach the most recent N-vs-4N scaling measurement (tools/scaling.py
    # runs the flagship at local[8] and local[32] in fresh JVMs and records
    # efficiency both raw and relative to the VM's own multiprocessing
    # ceiling) so the per-round bench artifact carries the scaling evidence
    scaling_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "SCALING.json")
    if os.path.exists(scaling_path):
        try:
            with open(scaling_path, encoding="utf-8") as f:
                out["scaling"] = json.load(f)
        except (OSError, json.JSONDecodeError):
            pass
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
