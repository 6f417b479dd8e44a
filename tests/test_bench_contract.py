"""What the benchmark in ``perfbench/`` relies on from the package, checked
without a Spark session: its modules import, its traced checkpoint rerun can
wrap the staged operators on ``pipeline``, its staged step's ``impl`` is
accepted, and the config ids its oracle inlines are unchanged."""

from __future__ import annotations

from text_to_graph_spark import pipeline
from text_to_graph_spark.pipeline import PipelineConfig


def test_perfbench_contract():
    from perfbench import harness, trace

    originals = {name: getattr(pipeline, name) for name in trace.RESUMED_STAGES}
    with trace.record_stage_inputs() as seen:
        assert set(seen) == set(originals)
        assert all(getattr(pipeline, n) is not f for n, f in originals.items())
    assert all(getattr(pipeline, n) is f for n, f in originals.items())

    assert harness.CONFIG.impl == "pandas"
    # the kg_graphs_catalog DuckDB oracle inlines these ids
    assert PipelineConfig().config_id() == "73a8da0f51b44c86"
    assert (
        PipelineConfig(chunk_size=500, overlap=100, token_counter="pretoken").config_id()
        == "7d461286d89ad8f4"
    )
