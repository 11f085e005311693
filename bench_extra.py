#!/usr/bin/env python
"""Per-query measurement harness for the r8 optimization round (guide §1).

NOT the official bench (bench.py is frozen). This script isolates each
headline query:
  - captures .explain("formatted") into plans/r08/<q>_<tag>.txt
  - times plan construction, first action, and N repeat actions separately
    (separating driver-side planning + codegen warm-up from steady-state)
  - counts Spark jobs/stages per query via a status-tracker snapshot

Usage: python bench_extra.py [tag] [queries...]
  tag defaults to "before"; queries default to all five.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from p5_rdf_rdb2rdf_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "1000000"))
REPS = int(os.environ.get("SPARK_GRAFT_REPS", "3"))
PLAN_DIR = Path(__file__).resolve().parent / "plans" / "r08"


def main() -> None:
    import __spark_entry__ as entry

    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:]) if len(sys.argv) > 2 else None

    spark = get_spark(
        "bench_extra",
        cores=CPUS,
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sc = spark.sparkContext
    PLAN_DIR.mkdir(parents=True, exist_ok=True)
    tables = entry._load(spark, SF_DIR)

    # same warm-up as bench.py
    import pandas as pd  # noqa: F401
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _warm(s):
        return s

    spark.range(0, 1_000_000, 1, CPUS).select(F.sum(_warm(F.col("id")))).collect()
    tables["lineitem"].count()

    results = {}

    def run(name, build, action=None):
        if only and name not in only:
            return
        sc.setJobDescription(f"{name} [{tag}]")
        t0 = time.time()
        df = build()
        t_build = time.time() - t0
        # plan capture (triggers analysis + optimization, not execution)
        t0 = time.time()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        t_explain = time.time() - t0
        (PLAN_DIR / f"{name}_{tag}.txt").write_text(plan)
        act = action or (lambda d: d.count())
        jobs0 = len(sc.statusTracker().getJobIdsForGroup() or [])
        t0 = time.time()
        out = act(df)
        t_first = time.time() - t0
        jobs1 = len(sc.statusTracker().getJobIdsForGroup() or [])
        laps = []
        for _ in range(REPS - 1):
            # rebuild from scratch each rep, exactly like bench.py does
            d2 = build()
            t0 = time.time()
            act(d2)
            laps.append(round(time.time() - t0, 3))
        results[name] = {
            "build_s": round(t_build, 3),
            "explain_s": round(t_explain, 3),
            "first_s": round(t_first, 3),
            "repeat_s": laps,
            "jobs": jobs1 - jobs0,
            "out": out,
            "exchanges": plan.count("Exchange"),
            "batch_py": plan.count("BatchEvalPython"),
            "arrow_py": plan.count("ArrowEvalPython") + plan.count("MapInArrow"),
        }
        sc.setJobDescription(None)
        print(name, json.dumps(results[name]), flush=True)

    # 1. dm_full
    def dm_full():
        from p5_rdf_rdb2rdf_spark.direct_mapping import direct_map

        return direct_map(
            spark,
            tables,
            entry.TPCH_CONSTRAINTS,
            base=entry.BASE,
            only=[
                "region", "nation", "customer", "supplier", "part",
                "orders", "lineitem", "events",
            ],
        )

    run("dm_full", dm_full)

    # 2. r2rml_join
    def r2rml_join():
        from p5_rdf_rdb2rdf_spark.compiler import compile_mapping
        from p5_rdf_rdb2rdf_spark.r2rml import r2rml_to_ir

        ir = r2rml_to_ir(entry._R2RML_ORDERS)
        return compile_mapping(
            spark, ir, tables=tables, broadcast_parents={"#Customer"}
        )

    run("r2rml_join", r2rml_join)

    # 3. kg_pipeline — run_pipeline is imperative (multi-stage), so the
    # "build" is cheap and the action runs the whole pipeline; plan capture
    # covers the final triples frame only.
    corpus_dir = os.environ.get("SPARK_GRAFT_CORPUS_DIR") or os.path.join(
        "/tmp", f"spark_graft_corpus_{BENCH_DOCS}"
    )
    if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        from p5_rdf_rdb2rdf_spark.pipeline.corpus import synth_corpus

        synth_corpus(spark, BENCH_DOCS, partitions=max(CPUS * 2, 32)).write.mode(
            "overwrite"
        ).parquet(corpus_dir)

    if not only or "kg_pipeline" in only:
        import tempfile

        from p5_rdf_rdb2rdf_spark.pipeline.kgpipeline import run_pipeline

        sc.setJobDescription(f"kg_pipeline [{tag}]")
        laps = []
        lineages = []
        for _ in range(REPS):
            docs = spark.read.parquet(corpus_dir)
            with tempfile.TemporaryDirectory() as wd:
                t0 = time.time()
                r = run_pipeline(
                    spark, docs, wd, n_buckets=CPUS, audit_invariant=False
                )
                n = r.triples.count()
                laps.append(round(time.time() - t0, 3))
                lineages.append(r.lineage["stages"])
        results["kg_pipeline"] = {"laps": laps, "out": n, "stage_walls": [
            {s: v["wall_sec"] for s, v in ln.items()} for ln in lineages
        ]}
        print("kg_pipeline", json.dumps(results["kg_pipeline"]), flush=True)
        sc.setJobDescription(None)

    # 4. dedup_minhash
    def dedup_minhash():
        from p5_rdf_rdb2rdf_spark.ops.dedup import (
            minhash_lsh_pairs,
            minhash_signatures,
        )

        sigs = minhash_signatures(tables["documents"], num_hashes=32, shingle_k=5)
        return minhash_lsh_pairs(sigs, bands=8, threshold=0.7, num_hashes=32)

    run("dedup_minhash", dedup_minhash)

    # 5. ann_topk
    def ann_topk():
        from p5_rdf_rdb2rdf_spark.ops.similarity import lsh_topk

        emb = tables["embeddings"]
        q = emb.where("vec_id < 16").select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return lsh_topk(emb, q, k=10, n_planes=8, multiprobe=1)

    run("ann_topk", ann_topk)

    print("SUMMARY", json.dumps(results))


if __name__ == "__main__":
    main()
