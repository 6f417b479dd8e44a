"""CLI driver — the ``spark-submit`` entry point.

Local sandbox:
    python -m text_to_graph_spark --sf-dir /root/testdata/sf0.001 \
        --workdir /tmp/kg_run

Cluster (the north-rule shape):
    zip -r t2g.zip text_to_graph_spark
    spark-submit --py-files t2g.zip --master yarn \
        t2g_job.py --pages-table iceberg_catalog.db.pages --workdir s3://…

Runs the checkpointed pipeline: one fused extraction pass into a per-page
results stage table (resume-safe: a rerun extracts only urls it has not
processed, and rebuilds the canonical edges/nodes only when that table
changed), with per-partition lineage rows for the extracted, chunks,
triples, edges and nodes stages. Prints one JSON summary line.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="text_to_graph_spark")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument("--model", default="vocab", choices=["vocab", "prose"])
    ap.add_argument("--chunk-size", type=int, default=1000)
    ap.add_argument("--lang", default=None)
    ap.add_argument("--dedup-pages", action="store_true")
    ap.add_argument(
        "--token-counter",
        default="whitespace",
        choices=["whitespace", "pretoken"],
        help="C5 chunk-size counter (trained-BPE runs pass merges via the"
        " library API; the CLI exposes the two zero-artifact counters)",
    )
    ap.add_argument(
        "--graph-out",
        default=None,
        help="also materialize url-hash-bucketed nodes/edges tables here",
    )
    args = ap.parse_args(argv)

    from text_to_graph_spark.pipeline import (
        PipelineConfig,
        run_pipeline_checkpointed,
    )
    from text_to_graph_spark.session import get_spark
    from text_to_graph_spark.sources.pages import synthesize_pages

    spark = get_spark(app_name="t2g-run", master=args.master)
    cfg = PipelineConfig(
        model=args.model,
        chunk_size=args.chunk_size,
        lang_filter=args.lang,
        dedup_pages=args.dedup_pages,
        token_counter=args.token_counter,
    )
    t0 = time.monotonic()
    pages = synthesize_pages(spark, args.sf_dir)
    stages = run_pipeline_checkpointed(spark, pages, args.workdir, cfg)
    n_nodes = stages["nodes"].count()
    n_edges = stages["edges"].count()
    if args.graph_out:
        from text_to_graph_spark.sinks.graph_tables import write_graph_tables

        write_graph_tables(stages["nodes"], stages["edges"], args.graph_out)
    print(
        json.dumps(
            {
                "config_id": cfg.config_id(),
                "workdir": args.workdir,
                "n_nodes": n_nodes,
                "n_edges": n_edges,
                "wall_s": round(time.monotonic() - t0, 1),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
