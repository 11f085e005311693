#!/usr/bin/env python3
"""Benchmark of the RDB2RDF engine and the interleaved-docs KG pipeline.

    python3 perfbench/run.py --workload rdb_map --seed 1 --seconds 25 --trace 0

Workloads (``workloads.py``): ``rdb_map`` (cold Direct Mapping + R2RML
compile and graph write, then queries) and ``kg_build`` (checkpointed KG
pipeline, merge into a master graph, then queries). One process on
``local[<cpus>]``, one closed-loop client.

A run: generate the seeded inputs (untimed), start the session, load the
inputs and run one full-size warm-up cycle (``setup_s``: process start to
here, input generation excluded), then run whole workload cycles for about
``--seconds``. Every unit is checked against an engine-independent oracle
(``oracles.py``). ``--trace 1`` runs the same loop with spans around every
layer call and reports per-layer figures instead (``tracing.py``).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Lines before it are a readable
report. All files go under ``.perfbench_work/`` at the repository root and
are removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import tracing  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "3g"
COVERAGE = 0.9  # share of a unit's wall its top-level layer spans must cover
WARMUP_CYCLES = 1  # full-size: one whole cycle of the workload
MIN_CYCLES = 2  # so every run holds a compacting merge on kg_build

STAGE_LAYERS = {
    "s1_spans": "pipeline.spans.s1",
    "s2_relations": "pipeline.mentions.s2",
    "s3_links": "pipeline.linking.s3",
    "s4_canon": "pipeline.cc.s4",
    "s5_triples": "pipeline.kgpipeline.s5",
}

# layers whose spans run Spark jobs: each gets the common span figures
SPARK_LAYERS = [
    "io.graph_table.write",
    "io.graph_table.merge",
    "io.graph_table.compact",
    "pipeline.spans.s1",
    "pipeline.spans.audit",
    "pipeline.mentions.s2",
    "pipeline.linking.s3",
    "pipeline.cc.s4",
    "pipeline.kgpipeline.s5",
    "store.count_pattern",
    "store.bgp",
    "sparql.query",
]
SPAN_FIGURES = {
    "self_s": "s",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "gc_s": "s",
    "task_skew": "ratio",
}


def start_session(cores: int, work: str):
    from p5_rdf_rdb2rdf_spark.session import get_spark

    return get_spark(
        "perfbench",
        cores=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        },
    )


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def install_spans(tracer) -> None:
    """Spans around the layer calls the program makes on the benchmark's
    behalf (the benchmark's own calls open their spans in workloads.py)."""
    from p5_rdf_rdb2rdf_spark import sparql as sparql_mod
    from p5_rdf_rdb2rdf_spark.io.checkpoint import StageCheckpointer
    from p5_rdf_rdb2rdf_spark.io.graph_table import GraphTable

    for attr in ("write", "merge", "compact", "read", "read_predicate"):
        tracer.wrap(GraphTable, attr, f"io.graph_table.{attr}")
    tracer.wrap(sparql_mod, "parse_query", "sparql.parse")

    # s1 .. s5 are run_stage calls; the invariant audit is the gap between
    # the s1 and s2 calls, so it gets a span opened when s1 returns
    orig = StageCheckpointer.run_stage
    gap = []

    def run_stage(self, stage, fn, *args, **kwargs):
        while gap:
            tracer.close(gap.pop())
        with tracer.span(STAGE_LAYERS.get(stage, f"pipeline.{stage}")):
            out = orig(self, stage, fn, *args, **kwargs)
        if stage == "s1_spans":
            gap.append(tracer.open("pipeline.spans.audit"))
        return out

    tracer.patch(StageCheckpointer, "run_stage", run_stage)


# ---------------------------------------------------------------------------
# figures


def p90(values: list[float]) -> float:
    """90th percentile, interpolated within the samples."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def walls(units, kind: str) -> list[float]:
    return [u.wall_s for u in units if u.kind == kind]


def query_rounds(units) -> list[float]:
    """Wall of each query round (one query of each kind, back to back)."""
    qs = walls(units, "query")
    k = len(workloads.QUERY_KINDS)
    return [sum(qs[i:i + k]) for i in range(0, len(qs), k)]


def end_to_end(units, setup_s: float) -> dict:
    """Query latency is not among these: a run holds two rounds of three
    short queries, and under host contention their run-to-run spread
    exceeded the largest bound a metric may have (report lines give it)."""
    ops = [u for u in units if u.kind == "op"]
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(u.wall_s for u in ops), "s"),
        "triples_per_s": (statistics.median(u.triples / u.wall_s for u in ops), "triples/s"),
        "bytes_per_triple": (statistics.median(u.bytes_per_triple for u in ops), "B"),
    }


def per_layer(units, session_s: float, cached: list[int], peak_mb: float) -> dict:
    """Per-layer figures from the traced units: each figure is summed over a
    unit's spans of that layer, then the median over the units in which the
    layer ran (0 when it never ran)."""
    from collections import defaultdict

    samples: dict = defaultdict(list)

    def add(name, value):
        samples[name].append(value)

    for u in units:
        root = u.spans[0]
        sums: dict = defaultdict(float)
        skew: dict = defaultdict(float)
        for sp in u.spans[1:]:
            sums[(sp.name, "wall")] += sp.wall_s
            sums[(sp.name, "self_s")] += sp.self_s
            for k, v in sp.total.items():
                sums[(sp.name, k)] += v
            skew[sp.name] = max(skew[sp.name], sp.task_skew)
        for (layer, k), v in sums.items():
            add(f"{layer}.{k}", v)
        for layer, v in skew.items():
            add(f"{layer}.task_skew", v)
        covered = sum(sp.wall_s for sp in u.spans[1:] if sp.depth == 1)
        add(f"{u.kind}.unattributed_s", root.wall_s - covered)
        add("coverage", covered / root.wall_s)
        for k in ("jobs", "exchanges", "scans", "python_nodes", "files_read"):
            add(f"{u.kind}.{k}", root.total.get(k, 0))
        for k, v in u.layers.items():
            add(k, v)

    def med(name):
        xs = samples.get(name)
        return float(statistics.median(xs)) if xs else 0.0

    m = {
        "session.start_s": (session_s, "s"),
        "spark.cached_rdds": (float(max(cached, default=0)), "count"),
        "peak_rss_mb": (peak_mb, "MB"),
        "trace.min_coverage": (min(samples["coverage"]), "ratio"),
        "op.unattributed_s": (med("op.unattributed_s"), "s"),
        "merge.unattributed_s": (med("merge.unattributed_s"), "s"),
        "query.unattributed_s": (med("query.unattributed_s"), "s"),
        "op.jobs": (med("op.jobs"), "count"),
        "op.exchanges": (med("op.exchanges"), "count"),
        "op.scans": (med("op.scans"), "count"),
        "op.python_nodes": (med("op.python_nodes"), "count"),
        "r2rml.parse_s": (med("r2rml.parse.wall"), "s"),
        "compiler.build_s": (med("compiler.build.wall"), "s"),
        "compiler.plan_exchanges": (med("compiler.plan_exchanges"), "count"),
        "compiler.plan_scans": (med("compiler.plan_scans"), "count"),
        "io.graph_table.write_s": (med("io.graph_table.write.wall"), "s"),
        "io.graph_table.write_jobs": (med("io.graph_table.write.jobs"), "count"),
        "io.graph_table.bytes_written": (med("io.graph_table.write.output_bytes"), "B"),
        "io.graph_table.merge_s": (med("io.graph_table.merge.wall"), "s"),
        "io.graph_table.merge_jobs": (med("io.graph_table.merge.jobs"), "count"),
        "io.graph_table.compact_s": (med("io.graph_table.compact.wall"), "s"),
        "io.graph_table.chain_len": (med("io.graph_table.chain_len"), "count"),
        "io.graph_table.bytes_per_delta_triple": (
            med("io.graph_table.bytes_per_delta_triple"), "B"),
        "io.graph_table.read_s": (med("io.graph_table.read.wall"), "s"),
        "io.graph_table.read_predicate_s": (med("io.graph_table.read_predicate.wall"), "s"),
        "io.checkpoint.bytes_written": (med("io.checkpoint.bytes_written"), "B"),
        "pipeline.spans.s1_s": (med("pipeline.spans.s1.wall"), "s"),
        "pipeline.spans.audit_s": (med("pipeline.spans.audit.wall"), "s"),
        "pipeline.mentions.s2_s": (med("pipeline.mentions.s2.wall"), "s"),
        "pipeline.linking.s3_s": (med("pipeline.linking.s3.wall"), "s"),
        "pipeline.cc.s4_s": (med("pipeline.cc.s4.wall"), "s"),
        "pipeline.kgpipeline.s5_s": (med("pipeline.kgpipeline.s5.wall"), "s"),
        "pipeline.mentions.python_eval_s": (med("pipeline.mentions.s2.python_eval_s"), "s"),
        "pipeline.mentions.python_bytes": (med("pipeline.mentions.s2.python_bytes"), "B"),
        "pipeline.linking.python_eval_s": (med("pipeline.linking.s3.python_eval_s"), "s"),
        "pipeline.cc.links_rows": (med("pipeline.cc.links_rows"), "count"),
        "store.count_pattern_s": (med("store.count_pattern.wall"), "s"),
        "store.bgp_s": (med("store.bgp.wall"), "s"),
        "sparql.parse_s": (med("sparql.parse.wall"), "s"),
        "sparql.query_s": (med("sparql.query.wall"), "s"),
        "store.query_jobs": (med("query.jobs"), "count"),
        "store.files_read": (med("query.files_read"), "count"),
    }
    for layer in SPARK_LAYERS:
        for fig, unit in SPAN_FIGURES.items():
            m[f"{layer}.{fig}"] = (med(f"{layer}.{fig}"), unit)
    return m


# ---------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "p5_rdf_rdb2rdf_spark"))
    ):
        print(
            "perfbench: the program's sources (p5_rdf_rdb2rdf_spark/, "
            f"__spark_entry__.py) are missing from {ROOT}",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    cores = len(os.sched_getaffinity(0))
    wl = workloads.WORKLOADS[args.workload]()
    spark = None
    try:
        ctx = workloads.Ctx(None, work, args.seed, cores, tracing.Tracer(None, False))
        tp = time.perf_counter()
        wl.prepare(ctx)
        prepare_s = time.perf_counter() - tp
        # set-up: from process start (prepare excluded) through session
        # start, input load and one full-size warm-up
        ts = time.perf_counter()
        spark = start_session(cores, work)
        session_s = time.perf_counter() - ts
        ctx.spark = ctx.tracer.spark = spark
        wl.setup(ctx)
        for _ in range(WARMUP_CYCLES):
            wl.cycle(ctx)
        setup_s = time.perf_counter() - T_PROCESS - prepare_s
        print(f"# set-up {setup_s:.3f} s (session start {session_s:.3f} s; "
              f"prepare {prepare_s:.3f} s excluded)")

        tracer = ctx.tracer
        tracer.enabled = bool(args.trace)
        if tracer.enabled:
            install_spans(tracer)
        # whole cycles, at least MIN_CYCLES; another starts only if it is
        # expected to end within --seconds
        units = []
        t_start = time.perf_counter()
        cycles = 0
        while True:
            units += wl.cycle(ctx)
            cycles += 1
            elapsed = time.perf_counter() - t_start
            if cycles >= MIN_CYCLES and elapsed * (cycles + 1) / cycles > args.seconds:
                break
        measured_s = time.perf_counter() - t_start
        peak_mb = tracing.peak_rss_mb(spark)
        tracer.unwrap_all()

        failed = [u for u in units if not u.ok]
        e2e = end_to_end(units, setup_s)
        n = {k: len(walls(units, k)) for k in ("op", "merge", "query")}
        print(f"# workload {args.workload} seed {args.seed} trace {args.trace}: "
              f"{n['op']} ops, {n['merge']} merges, {n['query']} queries "
              f"in {measured_s:.1f} s on local[{cores}]")
        for kind in n:
            if n[kind]:
                print(f"# {kind} walls (s): " + " ".join(f"{x:.2f}" for x in walls(units, kind)))
        merges = [u for u in units if u.kind == "merge"]
        if merges:
            print(f"# merge_p50_s {statistics.median(walls(units, 'merge')):.6g} s, "
                  f"merged_triples_per_s {sum(u.triples for u in merges) / sum(walls(units, 'merge')):.6g}"
                  f" triples/s, batch triples already held "
                  f"{statistics.mean(u.layers['batch_held'] for u in merges):.1%}")
        queries = walls(units, "query")
        print(f"# query_mix_s {statistics.median(query_rounds(units)):.6g} s (median wall of a "
              f"round: {', '.join(workloads.QUERY_KINDS)})")
        print(f"# all queries: p50 {statistics.median(queries):.6g} s, p90 {p90(queries):.6g} s "
              f"over {len(queries)} samples ({len(queries) // 10} above the p90); per kind p50: "
              + ", ".join(f"{k} {statistics.median(u.wall_s for u in units if u.query == k):.6g} s"
                          for k in workloads.QUERY_KINDS))
        print(f"# fail_ratio {len(failed) / len(units):.4f} ({len(failed)}/{len(units)})")
        print(f"# cached RDDs after units: max {max(ctx.cached, default=0)}, "
              f"caches cleared {ctx.cache_clears} times")
        for u in failed[:10]:
            print(f"# FAILED {u.kind}: {u.note}")
        prefix = "traced." if args.trace else ""
        for k, (v, unit) in e2e.items():
            print(f"# {prefix}{k} {v:.6g} {unit}")
        metrics = (
            per_layer(units, session_s, ctx.cached, peak_mb) if args.trace else e2e
        )
        if args.trace:
            low = [u for u in units if sum(sp.wall_s for sp in u.spans if sp.depth == 1)
                   < COVERAGE * u.spans[0].wall_s]
            print(f"# layer spans cover >= {COVERAGE:.0%} of the wall on "
                  f"{len(units) - len(low)} of {len(units)} units")
            for k, (v, unit) in metrics.items():
                print(f"# {k} {v:.6g} {unit}")
        result = {
            "correct": not failed,
            "attempted": len(units),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
