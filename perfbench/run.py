"""Pages -> graph benchmark: one closed-loop client, one build at a time.

    python3 perfbench/run.py --workload short_pages --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout. The seed fixes the generated pages
table (see ``workloads.py``); the program only ever sees that table. Every
build's written graph tables are checked against the pandas oracle.

``--trace 0`` measures the end-to-end metrics with tracing off:

- ``setup_s``: what a CLI user pays before the first build: ``get_spark``
  (a fresh JVM) plus a first build on the 500-page warm-up table. One
  set-up per run: a second fresh JVM and warm-up cost 20-30 s on a 4-vCPU
  host, which the benchmark's total time budget cannot carry;
- ``build_s``: median wall of a build, pages on disk to graph tables on
  disk: ``run_pipeline`` -> ``write_graph_tables`` on ``short_pages`` (at
  least three builds into one output), a fresh ``run_pipeline_checkpointed``
  into an empty workdir on ``checkpoint_rerun``;
- ``rerun_s``: median wall of repeating the build on unchanged input over
  its existing output: for ``run_pipeline`` every build after the first (it
  has no resume, so a rerun is a full build), for the checkpointed path the
  resume on the unchanged workdir;
- ``triples_per_s``: the oracle's triple count over ``build_s``.

``--trace 1`` runs the traced run of ``trace.py`` and reports the per-layer
metrics instead. Either way the last line of standard output is the result
object; the line before it carries the host fingerprint, the workload's
input properties and every sample. Scratch data lives in ``.perfbench_work``
under the checkout root.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("short_pages", "checkpoint_rerun")


def configure_environment() -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the package from it."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            # no hsperfdata file in the system /tmp
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "pyspark-shell",
        ]
    )


def fingerprint(nproc: int) -> dict:
    import pandas
    import pyarrow
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    sources = sorted(glob.glob(os.path.join(ROOT, "text_to_graph_spark", "**", "*.py"),
                               recursive=True))
    h = hashlib.sha256()
    for path in sources:
        with open(path, "rb") as f:
            h.update(os.path.relpath(path, ROOT).encode() + b"\0" + f.read())
    return {
        "nproc": nproc,
        "master": f"local[{nproc}]",
        "mem_total_mb": mem_kb // 1024,
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "commit": git_commit(),
        "source_sha256": h.hexdigest(),
    }


def git_commit() -> str | None:
    """HEAD of the checkout when it is a git work tree (read from the files
    directly; benchmark checkouts usually carry no ``.git``)."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_file = os.path.join(git, ref)
        if os.path.exists(ref_file):
            with open(ref_file) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return None


class Measurement:
    """Timed builds of one run and their output checks."""

    def __init__(self, spark, meta: dict, run_dir: str):
        self.spark = spark
        self.meta = meta
        self.run_dir = run_dir
        self.builds: list[float] = []
        self.reruns: list[float] = []
        self.attempted = 0
        self.failed = 0

    def _attempt(self, fn) -> bool:
        """Run one build and its check; any exception fails the build."""
        self.attempted += 1
        try:
            ok = fn()
        except Exception:  # noqa: BLE001 - a failed build is counted, not fatal
            traceback.print_exc()
            ok = False
        self.failed += 0 if ok else 1
        return ok

    def graph_step(self, i: int) -> None:
        """Builds go into one output: the first into an empty directory,
        every later one over the output of the one before (a rerun)."""
        from perfbench import harness

        out = os.path.join(self.run_dir, "graph")

        def step():
            t = harness.graph_build(self.spark, self.meta["pages_dir"], out)
            self.builds.append(t)
            if i > 0:
                self.reruns.append(t)
            return harness.check_graph_tables(self.spark, out, self.meta["expected"])

        self._attempt(step)

    def checkpoint_step(self, i: int) -> None:
        from perfbench import harness

        workdir = os.path.join(self.run_dir, f"ck-{i}")
        pages = self.meta["pages_dir"]
        expected = {k: self.meta["expected"][k] for k in ("edge_digest", "node_digest")}
        fresh = {}

        def fresh_step():
            t, st = harness.checkpointed_build(self.spark, pages, workdir)
            self.builds.append(t)
            fresh["tables"] = [harness.full_digest(st[k]) for k in ("nodes", "edges")]
            return harness.oracle_digests(st["nodes"], st["edges"]) == expected

        def rerun_step():
            t, st = harness.checkpointed_build(self.spark, pages, workdir)
            self.reruns.append(t)
            return [harness.full_digest(st[k]) for k in ("nodes", "edges")] == fresh["tables"]

        self._attempt(fresh_step)
        self._attempt(rerun_step)
        shutil.rmtree(workdir, ignore_errors=True)


def measure(workload: str, meta: dict, warmup_pages: str, nproc: int,
            seconds: float, run_dir: str) -> tuple[dict, dict, Measurement]:
    from perfbench import harness

    spark, session_s = harness.start_session(nproc)
    try:
        warmup_s = harness.graph_build(spark, warmup_pages, os.path.join(run_dir, "warmup"))
        run = Measurement(spark, meta, run_dir)
        if workload == "checkpoint_rerun":
            step, at_least = run.checkpoint_step, 1
        else:
            step, at_least = run.graph_step, 3
        # the minimum, then more only while the next should end in the window
        start = time.perf_counter()
        i = 0
        while True:
            step(i)
            i += 1
            elapsed = time.perf_counter() - start
            if i >= at_least and elapsed * (i + 1) / i > seconds:
                break
    finally:
        harness.stop_session(spark)
    if not run.builds or not run.reruns:
        raise RuntimeError("no build completed; nothing to report")
    build_s = statistics.median(run.builds)
    metrics = {
        "setup_s": (session_s + warmup_s, "s"),
        "build_s": (build_s, "s"),
        "rerun_s": (statistics.median(run.reruns), "s"),
        "triples_per_s": (meta["expected"]["triples"] / build_s, "triples/s"),
    }
    samples = {"get_spark_s": session_s, "warmup_s": warmup_s,
               "builds": run.builds, "reruns": run.reruns}
    return metrics, samples, run


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    nproc = len(os.sched_getaffinity(0))
    configure_environment()
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    meta = workloads.prepare(args.workload, args.seed, WORK, nproc)
    warmup_pages = workloads.prepare_warmup(WORK, nproc)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    try:
        if args.trace:
            from perfbench.trace import PER_LAYER, Spans, TracedRun

            spans = Spans(run_id)
            traced = TracedRun(args.workload, meta, nproc, run_dir, spans)
            values = traced.run(warmup_pages)
            spans.write(os.path.join(WORK, "traces", f"{run_id}.spans.jsonl"))
            metrics = {k: (values[k], PER_LAYER[k]) for k in PER_LAYER}
            samples = {"spans": len(spans.records)}
            attempted, failed = traced.attempted, traced.failed
        else:
            metrics, samples, run = measure(
                args.workload, meta, warmup_pages, nproc, args.seconds, run_dir)
            attempted, failed = run.attempted, run.failed
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": fingerprint(nproc),
        "input": meta["properties"],
        "expected": meta["expected"],
        "samples": samples,
        "result": result,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"perfbench": {k: v for k, v in record.items() if k != "result"}}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
