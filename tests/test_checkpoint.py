"""Checkpoint-resume semantics (reference `optimization_on`,
graph_generator.py:183): kill-and-rerun produces identical output and
recomputes only missing keys; lineage metrics rows are recorded."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from text_to_graph_spark.sources.checkpoint import StageCheckpoint


def _keys(spark, n):
    return spark.range(n).select(F.col("id").alias("k"))


def test_write_read_roundtrip(spark, tmp_path):
    cp = StageCheckpoint(spark, str(tmp_path))
    df = _keys(spark, 10).withColumn("v", F.col("k") * 2)
    out = cp.write(df, "stage_a", "cfg1")
    assert out.count() == 10
    assert cp.exists("stage_a", "cfg1")
    assert not cp.exists("stage_a", "cfg2")  # config isolation
    again = cp.read("stage_a", "cfg1")
    assert again.orderBy("k").collect() == out.orderBy("k").collect()


def test_resume_computes_only_missing(spark, tmp_path):
    cp = StageCheckpoint(spark, str(tmp_path))
    calls = []

    def compute(keys_df):
        pdf = keys_df.toPandas()
        calls.append(sorted(pdf["k"].tolist()))
        return keys_df.withColumn("v", F.col("k") * 10)

    # first run: everything computed
    out1 = cp.resume(_keys(spark, 5), "s", "c", ["k"], compute)
    assert out1.count() == 5
    assert calls == [[0, 1, 2, 3, 4]]

    # superset rerun: only the 3 new keys hit compute
    out2 = cp.resume(_keys(spark, 8), "s", "c", ["k"], compute)
    assert out2.count() == 8
    assert calls[1] == [5, 6, 7]
    got = {r["k"]: r["v"] for r in out2.collect()}
    assert got == {k: k * 10 for k in range(8)}

    # identical rerun ("kill and restart"): zero recompute, identical output
    out3 = cp.resume(_keys(spark, 8), "s", "c", ["k"], compute)
    assert len(calls) == 2
    assert {r["k"]: r["v"] for r in out3.collect()} == got


def test_metrics_lineage_rows(spark, tmp_path):
    cp = StageCheckpoint(spark, str(tmp_path))
    cp.write(_keys(spark, 100).withColumn("v", F.lit("x")), "stage_m", "cfg")
    m = cp.metrics().toPandas()
    assert set(m.columns) >= {
        "stage", "config_id", "partition_id", "rows_out", "wall_ms", "recorded_at",
    }
    bystage = m[m["stage"] == "stage_m"]
    assert bystage["rows_out"].sum() == 100


def test_resume_lineage_reports_several_stages_from_one_table(spark, tmp_path):
    cp = StageCheckpoint(spark, str(tmp_path))
    cp.resume(
        _keys(spark, 10), "s", "c", ["k"],
        lambda keys: keys.withColumn("n", F.col("k") % 3),
        lineage={"rows": F.lit(1), "n": F.col("n")},
    )
    m = cp.metrics().groupBy("stage").agg(F.sum("rows_out").alias("total"))
    assert {r["stage"]: r["total"] for r in m.collect()} == {
        "rows": 10, "n": sum(k % 3 for k in range(10)),
    }


def test_derived_table_rebuilt_only_when_source_changes(spark, tmp_path):
    cp = StageCheckpoint(spark, str(tmp_path))

    def derive():
        return cp.read("s", "c").groupBy().count()

    cp.resume(_keys(spark, 3), "s", "c", ["k"], lambda keys: keys)
    assert cp.write(derive(), "agg", "c", source="s").first()[0] == 3
    # source unchanged: the derived table is reused, no lineage row added
    n_metrics = cp.metrics().count()
    assert cp.write(derive(), "agg", "c", source="s").first()[0] == 3
    assert cp.metrics().count() == n_metrics
    # an append changes the source version: the derived table is rebuilt
    cp.resume(_keys(spark, 5), "s", "c", ["k"], lambda keys: keys)
    assert cp.write(derive(), "agg", "c", source="s").first()[0] == 5


def test_different_config_recomputes(spark, tmp_path):
    cp = StageCheckpoint(spark, str(tmp_path))
    calls = []

    def compute(keys_df):
        calls.append(keys_df.count())
        return keys_df.withColumn("v", F.lit(1))

    cp.resume(_keys(spark, 3), "s", "cfgA", ["k"], compute)
    cp.resume(_keys(spark, 3), "s", "cfgB", ["k"], compute)
    assert calls == [3, 3]  # cfgB must not see cfgA's cache


def test_run_pipeline_checkpointed_resume_and_salted_parity(spark, pages_smoke, tmp_path):
    from pyspark.sql import functions as F

    from text_to_graph_spark.operators.canonicalize import (
        triples_to_canonical_edges,
    )
    from text_to_graph_spark.pipeline import (
        PipelineConfig,
        run_pipeline_checkpointed,
    )

    wd = str(tmp_path / "stages")
    first = run_pipeline_checkpointed(spark, pages_smoke, wd, PipelineConfig())
    n_triples = first["triples"].count()
    key = lambda df: {
        (r["subj_key"], r["pred_key"], r["obj_key"], r["n_occurrences"])
        for r in df.collect()
    }
    edges_first = key(first["edges"].select("subj_key", "pred_key", "obj_key", "n_occurrences"))

    # second run resumes: identical outputs, no new triple rows appended
    second = run_pipeline_checkpointed(spark, pages_smoke, wd, PipelineConfig())
    assert second["triples"].count() == n_triples
    assert key(second["edges"].select("subj_key", "pred_key", "obj_key", "n_occurrences")) == edges_first

    # lineage metrics recorded for every materialized stage
    stages = {
        r["stage"] for r in first["checkpoint"].metrics().select("stage").distinct().collect()
    }
    assert {"extracted", "chunks", "triples", "edges", "nodes"} <= stages

    # salted two-phase aggregation is value-identical to the unsalted path
    t = first["triples"]
    unsalted = triples_to_canonical_edges(t)
    salted = triples_to_canonical_edges(t, salt_buckets=8)
    cols = ["subj_key", "pred_key", "obj_key", "subj_label", "pred_label",
            "obj_label", "n_docs", "n_occurrences"]
    as_set = lambda df: {tuple(r) for r in df.select(*cols).collect()}
    assert as_set(salted) == as_set(unsalted)
    docs_eq = (
        unsalted.select("subj_key", "pred_key", "obj_key", "doc_ids")
        .join(
            salted.select(
                "subj_key", "pred_key", "obj_key",
                F.col("doc_ids").alias("doc_ids_s"),
            ),
            ["subj_key", "pred_key", "obj_key"],
        )
        .where(F.col("doc_ids") != F.col("doc_ids_s"))
        .count()
    )
    assert docs_eq == 0


def _stage_files(wd, stage):
    root = os.path.join(wd, stage)
    return sorted(
        (os.path.relpath(os.path.join(d, f), root), os.stat(os.path.join(d, f)).st_mtime_ns)
        for d, _, fs in os.walk(root)
        for f in fs
    )


def _all_rows(df):
    return sorted(repr(tuple(r)) for r in df.collect())


def test_checkpointed_rerun_extracts_nothing_and_appends_nothing(
    spark, pages_smoke, tmp_path, monkeypatch
):
    from text_to_graph_spark import pipeline
    from text_to_graph_spark.pipeline import PipelineConfig, run_pipeline_checkpointed

    wd = str(tmp_path / "stages")
    first = run_pipeline_checkpointed(spark, pages_smoke, wd, PipelineConfig())
    # the fixture has pages without any triple: they must count as done too
    with_triples = first["triples"].select("url").distinct().count()
    assert with_triples < pages_smoke.count()
    edges1, nodes1 = _all_rows(first["edges"]), _all_rows(first["nodes"])
    files1 = _stage_files(wd, "triples")
    n_metrics = first["checkpoint"].metrics().count()

    calls = []
    fused = pipeline.extract_page_results

    def counted(*args, **kwargs):
        calls.append(args)
        return fused(*args, **kwargs)

    monkeypatch.setattr(pipeline, "extract_page_results", counted)
    second = run_pipeline_checkpointed(spark, pages_smoke, wd, PipelineConfig())
    assert calls == []
    assert _stage_files(wd, "triples") == files1
    assert second["checkpoint"].metrics().count() == n_metrics
    assert _all_rows(second["edges"]) == edges1
    assert _all_rows(second["nodes"]) == nodes1


def test_checkpointed_resume_appends_only_new_pages(spark, pages_smoke, tmp_path):
    from text_to_graph_spark.pipeline import (
        PipelineConfig,
        run_pipeline,
        run_pipeline_checkpointed,
    )

    wd = str(tmp_path / "stages")
    half = pages_smoke.where(F.crc32("url") % 2 == 0)
    run_pipeline_checkpointed(spark, half, wd, PipelineConfig())
    full = run_pipeline_checkpointed(spark, pages_smoke, wd, PipelineConfig())
    # each page processed exactly once across the two runs
    results = full["checkpoint"].read("triples", PipelineConfig().config_id())
    assert results.count() == results.select("url").distinct().count()
    assert results.count() == pages_smoke.count()
    # the rebuilt graph tables equal a clean build's, every column
    clean = run_pipeline(spark, pages_smoke, PipelineConfig())
    assert _all_rows(full["edges"]) == _all_rows(clean["edges"])
    assert _all_rows(full["nodes"]) == _all_rows(clean["nodes"])


def test_checkpointed_builds_the_canonical_pre_aggregate_only_when_needed(
    spark, pages_smoke, tmp_path, monkeypatch
):
    from text_to_graph_spark.operators import canonicalize
    from text_to_graph_spark.pipeline import PipelineConfig, run_pipeline_checkpointed

    calls = []
    build = canonicalize.edge_grain_aggregate

    def counted(triples):
        calls.append(1)
        return build(triples)

    monkeypatch.setattr(canonicalize, "edge_grain_aggregate", counted)
    wd = str(tmp_path / "stages")
    half = pages_smoke.where(F.crc32("url") % 2 == 0)
    built = []
    for pages in (half, half, pages_smoke):  # fresh, unchanged, appended
        calls.clear()
        run_pipeline_checkpointed(spark, pages, wd, PipelineConfig())
        built.append(len(calls))
    # one pre-aggregate feeds both edges and nodes; an unchanged rerun
    # reuses both tables and plans none
    assert built == [1, 0, 1]


def test_checkpointed_rejects_configs_it_cannot_apply(spark, pages_smoke, tmp_path):
    from text_to_graph_spark.pipeline import PipelineConfig, run_pipeline_checkpointed

    for cfg in (PipelineConfig(overlap=100), PipelineConfig(impl="sql")):
        with pytest.raises(ValueError):
            run_pipeline_checkpointed(spark, pages_smoke, str(tmp_path / "wd"), cfg)


def test_cli_rerun_prints_the_same_graph(spark, tmp_path, capsys):
    from tests.conftest import SF_SMOKE
    from text_to_graph_spark.__main__ import main

    wd = str(tmp_path / "run")
    argv = ["--sf-dir", SF_SMOKE, "--workdir", wd]
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        outs, n_metrics = [], []
        for _ in range(2):
            assert main(argv) == 0
            outs.append(json.loads(capsys.readouterr().out.strip().splitlines()[-1]))
            n_metrics.append(StageCheckpoint(spark, wd).metrics().count())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    assert outs[0]["n_edges"] > 0 and outs[0]["n_nodes"] > 0
    assert [(o["n_nodes"], o["n_edges"]) for o in outs] == [
        (outs[0]["n_nodes"], outs[0]["n_edges"])
    ] * 2
    # the rerun materialized nothing, so it recorded no lineage rows
    assert n_metrics[1] == n_metrics[0]
    # the checkpointed path has one extractor, so the CLI has no --impl
    with pytest.raises(SystemExit):
        main(argv + ["--impl", "pandas"])
