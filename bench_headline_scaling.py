#!/usr/bin/env python
"""North_rule headline scaling evidence (BASELINE.json: throughput scaling
efficiency >= 0.8 from N to 4N executors).

Runs the TWO headline jobs — Direct Mapping (whole star schema, lineitem
replicated SCALE_MULT x) and the end-to-end KG pipeline (interleaved corpus
-> spans -> relations -> linking -> CC -> fused distinct+bucketed write) —
on the SAME parquet input at two multi-executor-JVM topologies:

    local-cluster[1, C, M]   (N  = 1 executor)
    local-cluster[4, C, M]   (4N = 4 executors)

Separate CoarseGrainedExecutorBackend processes per executor — the sandbox
topology that matches the production "spark-submit at N vs 4N executors"
framing (single-JVM local[k] thread scaling is hardware-capped on this
host; see BENCH/BASELINE.md round-2 'Host capacity controls').

Runs alternate A,B,A,B,... to cancel cache/thermal drift; per-job MIN wall
is reported (noise-robust throughput estimator). Appends a markdown table
to BENCH/BASELINE.md and prints one JSON line.

Child mode (one fresh JVM per measurement):
    python bench_headline_scaling.py --child <dm|kg> <master> <cores>
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent
sys.path.insert(0, str(ROOT))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
KG_DOCS = int(os.environ.get("SPARK_SCALE_KG_DOCS", "4000000"))
DM_SCALE_MULT = int(os.environ.get("SPARK_SCALE_DM_MULT", "8"))
EXEC_CORES = int(os.environ.get("SPARK_SCALE_EXEC_CORES", "2"))
EXEC_MEM_MB = int(os.environ.get("SPARK_SCALE_EXEC_MEM_MB", "4096"))
ROUNDS = int(os.environ.get("SPARK_SCALE_ROUNDS", "2"))
CORPUS_DIR = os.environ.get("SPARK_GRAFT_CORPUS_DIR") or f"/tmp/spark_graft_corpus_{KG_DOCS}"

SMALL = f"local-cluster[1,{EXEC_CORES},{EXEC_MEM_MB}]"
BIG = f"local-cluster[4,{EXEC_CORES},{EXEC_MEM_MB}]"


def _ensure_corpus() -> None:
    """Synthesize the corpus in a SUBPROCESS: ``spark.stop()`` stops the
    context but the py4j gateway JVM lives as long as its Python process —
    synthesizing in-process left a 16g local[32] JVM burning CPU under
    every subsequent pair measurement (discovered r7: it inflated four
    pool pairs by 20-80% before being caught). A child process takes the
    JVM down with it."""
    if os.path.exists(os.path.join(CORPUS_DIR, "_SUCCESS")):
        return
    subprocess.run(
        [sys.executable, str(ROOT / "bench_headline_scaling.py"), "--synth"],
        check=True, timeout=1800, env=dict(os.environ),
    )


def synth_child() -> None:
    from p5_rdf_rdb2rdf_spark.pipeline.corpus import synth_corpus
    from p5_rdf_rdb2rdf_spark.session import get_spark

    spark = get_spark("corpus-synth", cores=32, shuffle_partitions=32)
    synth_corpus(spark, KG_DOCS, partitions=64).write.mode("overwrite").parquet(CORPUS_DIR)
    spark.stop()


def child(job: str, master: str, cores: int) -> None:
    os.environ["SPARK_GRAFT_MASTER"] = master
    os.environ.setdefault("SPARK_DRIVER_MEM", "32g")
    os.environ.setdefault("SPARK_EXECUTOR_MEM", f"{EXEC_MEM_MB - 512}m")
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from p5_rdf_rdb2rdf_spark.session import get_spark

    # FIXED initial shuffle-partition count at both topologies: partition
    # width must be a function of the DATA, not the cluster size (AQE
    # size-coalesces downward; it cannot split). cores*4 gave the
    # memory-tight 1-exec side 4x fatter shuffle partitions and extra spill.
    extra = {"spark.ui.showConsoleProgress": "false"}
    if os.environ.get("SPARK_SCALE_CODEC"):
        # shuffle/spill/broadcast block codec (e.g. zstd): on a disk-bound
        # topology heavier compression trades spare CPU for shuffle bytes
        extra["spark.io.compression.codec"] = os.environ["SPARK_SCALE_CODEC"]
    spark = get_spark(
        f"scale-{job}", cores=cores,
        shuffle_partitions=int(os.environ.get("SPARK_SCALE_SHUFFLE", "128")),
        extra_conf=extra,
    )
    if job == "dm":
        from p5_rdf_rdb2rdf_spark.direct_mapping import direct_map

        tables = entry._load(spark, SF_DIR)
        li = (
            tables["lineitem"]
            .crossJoin(spark.range(DM_SCALE_MULT).withColumnRenamed("id", "__r"))
            .withColumn(
                "l_linenumber",
                (F.col("l_linenumber") * DM_SCALE_MULT + F.col("__r")).cast("int"),
            )
            .drop("__r")
            # fixed width for the same reason as the shuffle partitions:
            # cache granularity must be a function of the data, not cores
            .repartition(64)
            .persist()
        )
        li.count()  # replication materialized OUTSIDE the timed window
        tables["lineitem"] = li
        t0 = time.time()
        # SPARK_SCALE_DM_TRUSTED=0 forces the untrusted-keys path (global
        # set-semantics dedup shuffle) — the memory-saturating regime the
        # north-rule weak-scaling probe targets; default is the engine
        # default (enforced-PK fast path, scan-bound)
        trusted = os.environ.get("SPARK_SCALE_DM_TRUSTED", "1") != "0"
        n = direct_map(
            spark, tables, entry.TPCH_CONSTRAINTS, base=entry.BASE,
            only=["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events"],
            assume_key_integrity=trusted,
        ).count()
        wall = time.time() - t0
        stages = {}
    else:
        import tempfile

        from p5_rdf_rdb2rdf_spark.pipeline.kgpipeline import run_pipeline

        docs = spark.read.parquet(CORPUS_DIR)
        t0 = time.time()
        with tempfile.TemporaryDirectory() as wd:
            r = run_pipeline(spark, docs, wd, n_buckets=32, audit_invariant=False)
            n = r.triples.count()
        wall = time.time() - t0
        stages = {
            k: v.get("wall_sec") for k, v in r.lineage["stages"].items()
        }
    print(json.dumps({"job": job, "master": master, "wall": round(wall, 1),
                      "rows": n, "stages": stages}))
    spark.stop()


def run_child(job: str, master: str, cores: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(ROOT / "bench_headline_scaling.py"),
         "--child", job, master, str(cores)],
        capture_output=True, text=True, timeout=3600,
        env=dict(os.environ),
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"child failed: {out.stderr[-2000:]}")
    return json.loads(lines[-1])


JOBS = tuple(os.environ.get("SPARK_SCALE_JOBS", "dm,kg").split(","))


def main() -> None:
    _ensure_corpus()
    results: dict[tuple[str, str], list[dict]] = {}
    for _ in range(ROUNDS):
        for job in JOBS:
            for master, cores in ((SMALL, EXEC_CORES), (BIG, EXEC_CORES * 4)):
                r = run_child(job, master, cores)
                results.setdefault((job, master), []).append(r)
                print(f"  {job} @ {master}: {r['wall']}s ({r['rows']:,} triples)",
                      file=sys.stderr)

    lines = ["", f"## Headline scaling run {time.strftime('%Y-%m-%d %H:%M:%S')} "
             f"— {SMALL} vs {BIG} (separate executor JVMs, 1 vs 4 executors; "
             f"interleaved A/B rounds, min of {ROUNDS})", ""]
    summary = {}
    for job, label, rows_note in (
        ("dm", "Direct Mapping", f"sf0.1 x{DM_SCALE_MULT} lineitem"),
        ("kg", "KG pipeline", f"{KG_DOCS:,} interleaved docs"),
    ):
        if job not in JOBS:
            continue
        small = min(results[(job, SMALL)], key=lambda r: r["wall"])
        big = min(results[(job, BIG)], key=lambda r: r["wall"])
        tps_s, tps_b = small["rows"] / small["wall"], big["rows"] / big["wall"]
        eff = tps_b / (4 * tps_s)
        summary[f"{job}_eff"] = round(eff, 3)
        lines += [
            f"**{label}** ({rows_note}, {small['rows']:,} triples): "
            f"{small['wall']}s @ 1 exec ({tps_s:,.0f} triples/s) -> "
            f"{big['wall']}s @ 4 exec ({tps_b:,.0f} triples/s) = "
            f"**{small['wall']/big['wall']:.2f}x speedup, efficiency {eff:.3f}**",
            "",
        ]
        if big.get("stages"):
            lines.append("| stage | t(1 exec) s | t(4 exec) s |")
            lines.append("|---|---|---|")
            for k in big["stages"]:
                lines.append(f"| {k} | {small['stages'].get(k)} | {big['stages'].get(k)} |")
            lines.append("")
        # per-pair pooled table (VERDICT r6 #3): pair i = i-th small run vs
        # i-th big run (adjacent in time — the interleave is the drift
        # control), plus the min-merged ratio over the whole pool and the
        # per-pair spread, so one hot/cold window can't set the headline.
        pool_s = results[(job, SMALL)]
        pool_b = results[(job, BIG)]
        pair_effs = [
            s["wall"] / (4.0 * b["wall"]) for s, b in zip(pool_s, pool_b)
        ]
        if len(pair_effs) > 1:
            med = sorted(pair_effs)[len(pair_effs) // 2]
            summary[f"{job}_pair_effs"] = [round(e, 3) for e in pair_effs]
            summary[f"{job}_eff_median"] = round(med, 3)
            lines.append(
                f"Pairwise pool ({len(pair_effs)} interleaved pairs): "
                + ", ".join(f"{e:.3f}" for e in pair_effs)
                + f" — min {min(pair_effs):.3f} / median {med:.3f} / "
                f"max {max(pair_effs):.3f}; min-merged (best wall each side "
                f"across the pool) = {eff:.3f}"
            )
            lines.append("")
            lines.append("| pair | t(1 exec) s | t(4 exec) s | pair efficiency |")
            lines.append("|---|---|---|---|")
            for i, (s, b) in enumerate(zip(pool_s, pool_b), 1):
                lines.append(
                    f"| {i} | {s['wall']} | {b['wall']} | {pair_effs[i-1]:.3f} |"
                )
            lines.append("")
        lines.append(f"raw {job} small: `{json.dumps(small)}`")
        lines.append(f"raw {job} big:   `{json.dumps(big)}`")
        lines.append("")

    out_path = ROOT / "BENCH" / "BASELINE.md"
    out_path.write_text(out_path.read_text() + "\n".join(lines))
    print(json.dumps(summary))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        child(sys.argv[2], sys.argv[3], int(sys.argv[4]))
    elif len(sys.argv) > 1 and sys.argv[1] == "--synth":
        synth_child()
    else:
        main()
