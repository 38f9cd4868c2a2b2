"""Benchmark of the KG pipeline and the headline registry queries, one
workload per process.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload kg_wide --seed 1 --seconds 1 --trace 0

The run generates its workload from ``--seed``, starts Spark through
``session.get_spark`` at ``local[4]``, and runs units back to back (a
closed loop with one client) until ``--seconds`` have passed, at least
one. A unit is one complete ``plans.pipeline.run_kg_pipeline`` into a
fresh output directory (``kg_wide``), or one pass over the headline
``queries.QUERIES``, each materialized to a noop sink (``registry``).
Outputs are checked against DuckDB outside the timed region; a
mismatch or an error counts as a failed unit.

``--trace 0`` reports the end-to-end metrics of the fresh process: the
session set-up, and the wall and CPU time of the first, cold unit,
which a spark-submit job pays on every run. ``--trace 1`` traces the
cold unit (see ``tracing.py``) and reports its per-layer metrics, then
runs untraced warm units for the warm run time. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. Lines before it list every metric with its
unit and sample count, and the run's context (host, versions, the
environment variables this script set).

Everything the run writes goes under ``.bench_work/`` in the checkout;
its own work directory is removed at exit, traces are kept in
``.bench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

import pyarrow.parquet as pq

import gen
from oracle import PipelineOracle, RegistryOracle
from proctree import (
    descendants,
    host_context,
    steal_share,
    steal_ticks,
    tree_cpu_s,
    tree_hwm_mb,
)
from sqlmetrics import python_udf_rows
from tracing import Tracer, self_seconds

CORES = 4
STAGES = [
    "annotated",
    "triples",
    "pair_overflow_metrics",
    "links",
    "canonical_map",
    "nodes",
    "edges",
]
# the headline queries of the repository's bench.py
HEADLINE = [
    "kg_triples",
    "kg_canonical_edges",
    "rel_pricing_summary",
    "rel_region_revenue",
    "rel_events_sessionize",
    "sim_topk_cosine",
    "sim_lsh_topk",
    "dedup_exact",
    "dedup_minhash_lsh",
]
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
}
# Every traced run reports all of these; a layer the workload does not
# call reads 0 (the pipeline never calls udfcache.stage or the query
# registry, the registry never writes CheckpointManager stages).
PER_LAYER = {
    "first_run_s": "s",
    "session.get_spark_s": "s",
    "session.first_job_s": "s",
    "salt.partitions": "count",
    "salt.max_over_median_rows": "ratio",
    "ner.s": "s",
    "ner.turns": "count",
    "ner.mentions": "count",
    "ner.tasks": "count",
    "rc.s": "s",
    "rc.pairs": "count",
    "rc.model_rows": "count",
    "rc.triples": "count",
    "rc.yield": "ratio",
    "rc.tasks": "count",
    "rc.cpu_util": "ratio",
    "link.s": "s",
    "link.mentions": "count",
    "link.hit_ratio": "ratio",
    "cc.s": "s",
    "cc.edges": "count",
    "cc.jobs": "count",
    "graph.s": "s",
    "graph.evidence_rows": "count",
    "graph.tuples": "count",
    **{f"ckpt.{stage}.s": "s" for stage in STAGES},
    **{f"ckpt.{stage}.jobs": "count" for stage in STAGES},
    "ckpt.jobs": "count",
    "ckpt.bytes_written": "bytes",
    "ckpt.lineage_s": "s",
    "ckpt.unattributed_s": "s",
    "stage_cache.build_s": "s",
    "stage_cache.builds": "count",
    **{f"q.{name}.build_s": "s" for name in HEADLINE},
    **{f"q.{name}.exec_s": "s" for name in HEADLINE},
    "q.kg_triples.tasks": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.cpu_s": "s",
    "peak_rss_mb": "MB",
    "warm.run_s_p50": "s",
    "warm.turns_per_s": "1/s",
    "warm.cpu_s": "s",
    "trace.bookkeeping_s": "s",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return parser.parse_args(argv)


def isolate(work: str) -> dict[str, str]:
    """Point every scratch location of Spark, the JVM and the program
    into ``work``; returns the variables set. Program defaults (heap,
    shuffle partitions, ...) stay untouched."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(CORES),
        # the program's default is /dev/shm, outside the checkout
        "SPARK_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SHERLOCK_STAGE_DIR": os.path.join(work, "stage-cache"),
        "TMPDIR": tmp,
        # hsperfdata would otherwise go to /tmp
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched; wait for both. PySpark
    keeps the JVM for the life of the interpreter and exposes it only
    through ``SparkContext._gateway``; the JVM exits when its stdin
    closes."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def wait_for_children(timeout: float = 30.0) -> None:
    """Wait until no process started by this one is left, killing
    stragglers after ``timeout``."""
    deadline = time.monotonic() + timeout
    while True:
        left = [pid for pid in descendants(os.getpid()) if pid != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            deadline = time.monotonic() + 5
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


class Bench:
    """One workload run: generated inputs, one Spark session, units.
    Subclasses write the inputs, run and check one unit, and add the
    layer metrics of their workload."""

    def __init__(self, args: argparse.Namespace, work: str) -> None:
        self.args = args
        self.work = work
        self.pid = os.getpid()
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.peak_rss_mb = 0.0

    # -- session ---------------------------------------------------------

    def setup(self) -> dict[str, float]:
        from sherlock_spark.session import get_spark

        started = time.perf_counter()
        self.spark = get_spark("perfbench")
        got = time.perf_counter()
        self.spark.range(1000).count()
        done = time.perf_counter()
        return {
            "setup_s": done - started,
            "session.get_spark_s": got - started,
            "session.first_job_s": done - got,
        }

    # -- one unit --------------------------------------------------------

    def run_unit(self, index: int, traced: bool) -> object:
        """Run one unit; returns what ``check_unit`` needs."""
        raise NotImplementedError

    def check_unit(self, index: int, output: object, traced: bool) -> tuple[list[str], dict]:
        """(problems, layer counts) of a finished unit, outside the
        timed region."""
        raise NotImplementedError

    def unit(self, index: int, traced: bool = False) -> dict | None:
        """One timed unit. Returns its wall and CPU seconds (and layer
        counts when traced), or None when it raised or produced wrong
        output."""
        self.attempted += 1
        if self.tracer is not None:
            self.tracer.enabled = traced
            self.tracer.unit = index
        cpu0, steal0 = tree_cpu_s(self.pid), steal_ticks()
        started = time.perf_counter()
        try:
            with self.tracer.span("unit") if self.tracer else nullcontext():
                output = self.run_unit(index, traced)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        finally:
            if self.tracer is not None:
                self.tracer.enabled = False
        record = {
            "unit": index,
            "s": time.perf_counter() - started,
            "cpu_s": tree_cpu_s(self.pid) - cpu0,
            "steal_ticks": steal_ticks() - steal0,
        }
        self.peak_rss_mb = max(self.peak_rss_mb, tree_hwm_mb(self.pid))
        try:
            problems, counts = self.check_unit(index, output, traced)
        except Exception:
            traceback.print_exc()
            problems, counts = ["the output check raised"], {}
        if problems:
            print(f"unit {index}: wrong output: {problems}", file=sys.stderr)
            self.failed += 1
            return None
        record["counts"] = counts
        return record

    def loop(self) -> tuple[dict | None, list[dict]]:
        """Units back to back until ``--seconds`` have passed since the
        first started, at least one. Unit 0 is the cold one; a traced
        run traces it and adds at least one untraced warm unit.
        Returns (cold, warm)."""
        started = time.perf_counter()
        cold = self.unit(0, traced=self.tracer is not None)
        warm = []
        index = 1
        while True:
            done = time.perf_counter() - started >= self.args.seconds
            if done and (self.tracer is None or warm):
                break
            record = self.unit(index)
            index += 1
            if record is not None:
                warm.append(record)
            elif self.failed > 3:
                break  # failing every time: stop, the result says so
        return cold, warm

    # -- results ---------------------------------------------------------

    def salt_input(self):
        """The transcripts DataFrame this workload salts."""
        raise NotImplementedError

    def salt_balance(self) -> dict[str, float]:
        """Rows per task after ``salt_by_conv`` (the pipeline's skew
        guard) on this workload's transcripts, counted outside any unit."""
        from pyspark.sql import functions as F

        from sherlock_spark.plans.pipeline import salt_by_conv

        rows = [
            r["count"]
            for r in salt_by_conv(self.salt_input())
            .groupBy(F.spark_partition_id())
            .count()
            .collect()
        ]
        return {
            "salt.partitions": len(rows),
            "salt.max_over_median_rows": max(rows) / statistics.median(rows),
        }

    def per_layer(self, setup: dict, cold: dict, warm: list[dict]) -> dict:
        """Layer metrics of the traced cold unit, the tracer's own time
        in it, and the warm run time."""
        mine = [s for s in self.tracer.spans if s.unit == 0]
        unit_span = next(s for s in mine if s.name == "unit")
        m = {name: 0.0 for name in PER_LAYER}
        m.update(cold["counts"])
        m.update(self.layer_spans(mine, unit_span))
        warm_s = statistics.median(r["s"] for r in warm)
        m.update(
            {
                "spark.jobs": unit_span.jobs,
                "spark.tasks": unit_span.tasks,
                "spark.failed_tasks": unit_span.failed_tasks,
                "spark.cpu_s": unit_span.cpu_s,
                "peak_rss_mb": self.peak_rss_mb,
                "session.get_spark_s": setup["session.get_spark_s"],
                "session.first_job_s": setup["session.first_job_s"],
                "first_run_s": cold["s"],
                "warm.run_s_p50": warm_s,
                "warm.cpu_s": statistics.median(r["cpu_s"] for r in warm),
                "trace.bookkeeping_s": self.tracer.overhead_s,
            }
        )
        m.update(self.salt_balance())
        return m

    def layer_spans(self, mine: list, unit_span) -> dict:
        raise NotImplementedError


class PipelineBench(Bench):
    """``kg_wide``: ``run_kg_pipeline`` over a generated corpus; every
    unit's triples and edges are checked."""

    def __init__(self, args: argparse.Namespace, work: str) -> None:
        super().__init__(args, work)
        self.corpus = gen.kg_wide(args.seed)
        self.n_turns = self.corpus.transcripts.num_rows
        self.input_path = os.path.join(work, "transcripts.parquet")
        pq.write_table(self.corpus.transcripts, self.input_path)
        self.oracle = PipelineOracle(
            self.corpus.transcripts, self.corpus.lexicon, self.corpus.aliases
        )

    def run_unit(self, index: int, traced: bool) -> str:
        from sherlock_spark.plans.pipeline import run_kg_pipeline

        out_dir = os.path.join(self.work, "out", str(index))
        try:
            run_kg_pipeline(
                self.spark,
                self.spark.read.parquet(self.input_path),
                out_dir,
                ner_lexicon=self.corpus.lexicon,
                aliases=self.corpus.aliases,
            )
        except Exception:
            shutil.rmtree(out_dir, ignore_errors=True)
            raise
        return out_dir

    def check_unit(self, index: int, out_dir: str, traced: bool) -> tuple[list[str], dict]:
        try:
            problems = self.oracle.check(out_dir)
            counts = {}
            if traced and not problems:
                counts = self.oracle.layer_counts(out_dir)
                counts["ckpt.bytes_written"] = dir_bytes(out_dir)
            return problems, counts
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def salt_input(self):
        return self.spark.read.parquet(self.input_path)

    def layer_spans(self, mine: list, unit_span) -> dict:
        def child(parent, name):
            return next(s for s in mine if s.parent == parent.span_id and s.name == name)

        ckpt = {st: child(unit_span, f"ckpt.{st}") for st in STAGES}
        writes = {st: child(ckpt[st], "write.parquet") for st in STAGES}
        cc = [s for s in mine if s.name == "cc"]
        ner, rc, link = writes["annotated"], writes["triples"], writes["links"]
        m = {}
        for st in STAGES:
            m[f"ckpt.{st}.s"] = ckpt[st].seconds
            m[f"ckpt.{st}.jobs"] = ckpt[st].jobs
        m.update(
            {
                "ckpt.jobs": sum(ckpt[st].jobs for st in STAGES),
                "ckpt.lineage_s": sum(self_seconds(mine, ckpt[st]) for st in STAGES),
                "ckpt.unattributed_s": unit_span.seconds
                - sum(ckpt[st].seconds for st in STAGES),
                "ner.s": ner.seconds,
                "ner.tasks": ner.tasks,
                "rc.s": rc.seconds,
                "rc.tasks": rc.tasks,
                "rc.cpu_util": rc.cpu_s / (rc.seconds * CORES),
                "rc.model_rows": python_udf_rows(self.spark, rc.job_ids).get(
                    "forward", 0
                ),
                "link.s": link.seconds,
                "cc.s": sum(s.seconds for s in cc),
                "cc.jobs": sum(s.jobs for s in cc),
                "graph.s": writes["nodes"].seconds + writes["edges"].seconds,
            }
        )
        return m

    def per_layer(self, setup: dict, cold: dict, warm: list[dict]) -> dict:
        m = super().per_layer(setup, cold, warm)
        m["warm.turns_per_s"] = self.n_turns / m["warm.run_s_p50"]
        return m


class RegistryBench(Bench):
    """``registry``: the headline queries over generated tables. The
    cold pass's results are checked against ``queries.ORACLES``."""

    def __init__(self, args: argparse.Namespace, work: str) -> None:
        super().__init__(args, work)
        self.sf_dir = os.path.join(work, "sf")
        os.makedirs(self.sf_dir)
        tables = gen.registry(args.seed)
        for name, table in tables.items():
            pq.write_table(table, os.path.join(self.sf_dir, f"{name}.parquet"))
        self.oracle = RegistryOracle(self.sf_dir, sorted(tables), HEADLINE)

    def run_unit(self, index: int, traced: bool) -> dict:
        from sherlock_spark.queries import QUERIES

        span = self.tracer.span if self.tracer else lambda _name: nullcontext()
        frames = {}
        for name in HEADLINE:
            with span(f"q.{name}.build"):
                frames[name] = QUERIES[name](self.spark, self.sf_dir)
            with span(f"q.{name}.exec"):
                frames[name].write.format("noop").mode("overwrite").save()
        return frames

    def check_unit(self, index: int, frames: dict, traced: bool) -> tuple[list[str], dict]:
        # the check collects every result once more; it runs on the cold
        # pass only, to keep a run short
        if index != 0:
            return [], {}
        results = {name: frame.toPandas() for name, frame in frames.items()}
        problems = self.oracle.check(results)
        for tie in self.oracle.ties:
            print(f"unit {index}: rounding tie {tie}", file=sys.stderr)
        return problems, {}

    def salt_input(self):
        from sherlock_spark.queries import N_CONVS
        from sherlock_spark.sources.transcripts import transcripts_from_documents

        documents = self.spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet"))
        return transcripts_from_documents(documents, N_CONVS)

    def layer_spans(self, mine: list, unit_span) -> dict:
        def named(name):
            return next(s for s in mine if s.name == name)

        stage_spans = [s for s in mine if s.name == "stage"]
        built = {s.parent for s in mine if s.name == "stage.build"}
        m = {
            "stage_cache.builds": len(built),
            "stage_cache.build_s": sum(s.seconds for s in stage_spans if s.span_id in built),
        }
        for name in HEADLINE:
            m[f"q.{name}.build_s"] = named(f"q.{name}.build").seconds
            m[f"q.{name}.exec_s"] = named(f"q.{name}.exec").seconds
        kg = [named("q.kg_triples.build"), named("q.kg_triples.exec")]
        m["q.kg_triples.tasks"] = sum(s.tasks for s in kg)
        m["rc.model_rows"] = python_udf_rows(
            self.spark, [j for s in kg for j in s.job_ids]
        ).get("forward", 0)
        return m


WORKLOADS = {"kg_wide": PipelineBench, "registry": RegistryBench}


def install_tracing(bench: Bench) -> None:
    """Wrap the public calls into each layer (trace runs only)."""
    import pyspark.sql.readwriter as readwriter

    import sherlock_spark.operators.canonicalize as canonicalize_mod
    import sherlock_spark.plans.pipeline as pipeline_mod
    import sherlock_spark.queries as queries_mod
    from sherlock_spark.plans.checkpoint import CheckpointManager

    tracer = Tracer(bench.spark, bench.pid)
    bench.tracer = tracer
    run_stage = CheckpointManager.run_stage

    def traced_run_stage(manager, stage, build, *args, **kwargs):
        def traced_build():
            with tracer.span(f"build.{stage}"):
                return build()

        with tracer.span(f"ckpt.{stage}"):
            return run_stage(manager, stage, traced_build, *args, **kwargs)

    tracer.patch(CheckpointManager, "run_stage", traced_run_stage)

    # the registry's queries call udfcache.stage through this name
    stage = queries_mod.stage

    def traced_stage(spark, key, build):
        def traced_build():
            with tracer.span("stage.build"):
                return build()

        with tracer.span("stage"):
            return stage(spark, key, traced_build)

    tracer.patch(queries_mod, "stage", traced_stage)
    for attr, name in [
        ("salt_by_conv", "op.salt"),
        ("annotate_mentions", "op.ner"),
        ("extract_triples", "op.rc"),
        ("linked_mentions", "op.link"),
        ("canonicalize", "op.canonicalize"),
        ("materialize_graph", "op.graph"),
    ]:
        tracer.wrap(pipeline_mod, attr, name)
    tracer.wrap(canonicalize_mod, "connected_components", "cc")

    tracer.wrap(readwriter.DataFrameWriter, "parquet", "write.parquet")


def run(args: argparse.Namespace, root: str, work: str, env_set: dict) -> dict:
    bench = WORKLOADS[args.workload](args, work)
    metrics, samples, extra = {}, {}, {}
    try:
        setup = bench.setup()
        if args.trace:
            install_tracing(bench)
        cold, warm = bench.loop()
        if args.trace and cold and warm:
            metrics = bench.per_layer(setup, cold, warm)
            samples = {name: len(warm) for name in metrics if name.startswith("warm.")}
            traces = os.path.join(root, ".bench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            bench.tracer.dump(
                os.path.join(traces, f"{args.workload}-s{args.seed}.jsonl")
            )
        elif not args.trace and cold:
            metrics = {"setup_s": setup["setup_s"], "cpu_s": cold["cpu_s"]}
            # too unsteady on a shared host to bound; printed for reference
            extra["first_run_s"] = (cold["s"], "s")
            extra["peak_rss_mb"] = (bench.peak_rss_mb, "MB")
            if isinstance(bench, PipelineBench):
                extra["turns_per_s"] = (bench.n_turns / cold["s"], "1/s")
        context = host_context(root, env_set)
        if isinstance(bench, RegistryBench):
            context["rounding_ties"] = bench.oracle.ties
        context["units"] = [
            {k: r[k] for k in ("unit", "s", "cpu_s")}
            | {"steal_share_1core": steal_share(r["steal_ticks"], r["s"])}
            for r in [cold, *warm]
            if r is not None
        ]
    finally:
        if bench.tracer is not None:
            bench.tracer.unwrap()
        stop_spark(bench.spark)
        wait_for_children()
    return {
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
        "samples": samples,
        "extra": extra,
        "context": context,
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sherlock_spark", "plans", "pipeline.py")):
        print(
            "perfbench: run from the root of a checkout (sherlock_spark/ not found)",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        env_set = isolate(work)
        result = run(args, root, work, env_set)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = result["metrics"]
    units = PER_LAYER if args.trace else END_TO_END
    for name, value in metrics.items():
        n = result["samples"].get(name, 1)
        print(f"{name:34s} {value:16.4f} {units[name]:6s} n={n}")
    for name, (value, unit) in result["extra"].items():
        print(f"{name:34s} {value:16.4f} {unit:6s} n=1 (not bounded)")
    failed_ratio = result["failed"] / result["attempted"]
    print(f"{'failed_ratio':34s} {failed_ratio:16.4f} ratio  n={result['attempted']}")
    print("context " + json.dumps(result["context"], sort_keys=True))
    correct = result["failed"] == 0 and set(metrics) == set(units)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {
                    name: {"value": value, "unit": units[name]}
                    for name, value in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
