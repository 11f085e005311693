#!/usr/bin/env python
"""Headline benchmark (driver contract: prints ONE JSON line).

Workload = the engine's headline paths at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]:

  dm_full        Direct-Map the whole star schema -> distinct triples
  r2rml_join     R2RML mapping with ref-object join orders x customer
  kg_pipeline    interleaved corpus -> spans -> relations -> link -> CC ->
                 distinct triples (checkpointed stages; N docs scale
                 with SPARK_GRAFT_BENCH_DOCS, default 1M)
  dedup_minhash  MinHash-LSH near-dup pairs over documents
  ann_topk       LSH top-k (multiprobe) for 16 queries over embeddings

Output: {"metric": "...", "value": total_sec, "unit": "sec",
         "queries": {name: sec}, "sf": ..., "aux": {...}}
``aux`` carries triples/sec (the BASELINE.json throughput metric) and row
counts so BENCH rounds are comparable.
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
# replicate lineitem SCALE_MULT x for dm_full so the mapping job is compute-
# bound, not fixed-cost-bound (sf0.1 alone = ~10M triples = ~10s of work,
# which is too small to measure scaling against per-job constant costs)
SCALE_MULT = int(os.environ.get("SPARK_GRAFT_SCALE_MULT", "1"))


def main() -> None:
    import __spark_entry__ as entry

    spark = get_spark(
        "bench",
        cores=CPUS,
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    timings: dict[str, float] = {}
    aux: dict[str, float | int] = {"cpus": CPUS, "bench_docs": BENCH_DOCS}

    reps = int(os.environ.get("SPARK_GRAFT_REPS", "3"))

    def run(name, fn):
        # min-of-N: the sandbox host is noisy (same job varies 2-3x across
        # runs); min is the standard noise-robust estimator for throughput.
        # Default raised 2 -> 3 in r6: the official per-round driver window
        # starts cold (r4-r6 each recorded first-run totals 2-4s above the
        # same code's warm-window best), and a third rep reliably lands the
        # warm number at ~+10s bench wall — the window-drift control VERDICT
        # r5 next-round #3 asked for
        best, out = None, None
        for _ in range(reps):
            t0 = time.time()
            out = fn()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        timings[name] = round(best, 3)
        return out

    tables = entry._load(spark, SF_DIR)
    if SCALE_MULT > 1:
        li = (
            tables["lineitem"]
            .crossJoin(spark.range(SCALE_MULT).withColumnRenamed("id", "__r"))
            .withColumn(
                "l_linenumber",
                (F.col("l_linenumber") * SCALE_MULT + F.col("__r")).cast("int"),
            )
            .drop("__r")
            .repartition(CPUS * 2)
            .persist()
        )
        li.count()
        tables["lineitem"] = li

    # untimed warm-up: JIT the codegen paths and spawn the python workers so
    # the first timed query doesn't pay one-off session costs
    import pandas as pd  # noqa: F401
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _warm(s):
        return s

    spark.range(0, 1_000_000, 1, CPUS).select(F.sum(_warm(F.col("id")))).collect()
    tables["lineitem"].count()

    # 1. Direct Mapping, whole schema -> distinct triple count
    def dm_full():
        from p5_rdf_rdb2rdf_spark.direct_mapping import direct_map

        t = direct_map(
            spark,
            tables,
            entry.TPCH_CONSTRAINTS,
            base=entry.BASE,
            only=["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"],
        )
        return t.count()

    aux["dm_triples"] = run("dm_full", dm_full)

    # 2. R2RML ref-object join
    def r2rml_join():
        from p5_rdf_rdb2rdf_spark.compiler import compile_mapping
        from p5_rdf_rdb2rdf_spark.r2rml import r2rml_to_ir

        ir = r2rml_to_ir(entry._R2RML_ORDERS)
        return compile_mapping(
            spark, ir, tables=tables, broadcast_parents={"#Customer"}
        ).count()

    aux["r2rml_triples"] = run("r2rml_join", r2rml_join)

    # 3. interleaved KG pipeline (checkpointed stages in a fresh temp
    # workdir per rep; includes final bucketed write). The synthetic corpus
    # is materialized to parquet OUTSIDE the timed section — corpus
    # synthesis is harness cost, and reading the same parquet at both
    # parallelism levels makes the scaling comparison run on literally the
    # same input (north_rule).
    corpus_dir = os.environ.get("SPARK_GRAFT_CORPUS_DIR") or os.path.join(
        "/tmp", f"spark_graft_corpus_{BENCH_DOCS}"
    )
    if not os.path.exists(os.path.join(corpus_dir, "_SUCCESS")):
        from p5_rdf_rdb2rdf_spark.pipeline.corpus import synth_corpus

        synth_corpus(spark, BENCH_DOCS, partitions=max(CPUS * 2, 32)).write.mode(
            "overwrite"
        ).parquet(corpus_dir)

    def kg_pipeline():
        import tempfile

        from p5_rdf_rdb2rdf_spark.pipeline.kgpipeline import run_pipeline

        docs = spark.read.parquet(corpus_dir)
        with tempfile.TemporaryDirectory() as wd:
            r = run_pipeline(spark, docs, wd, n_buckets=CPUS, audit_invariant=False)
            return r.triples.count()

    aux["kg_triples"] = run("kg_pipeline", kg_pipeline)

    # 4. MinHash-LSH near-dup pairs over documents
    def dedup_minhash():
        from p5_rdf_rdb2rdf_spark.ops.dedup import minhash_lsh_pairs, minhash_signatures

        sigs = minhash_signatures(tables["documents"], num_hashes=32, shingle_k=5)
        return minhash_lsh_pairs(sigs, bands=8, threshold=0.7, num_hashes=32).count()

    aux["minhash_pairs"] = run("dedup_minhash", dedup_minhash)

    # 5. ANN top-k (LSH multiprobe)
    def ann_topk():
        from p5_rdf_rdb2rdf_spark.ops.similarity import lsh_topk

        emb = tables["embeddings"]
        q = emb.where("vec_id < 16").select(F.col("vec_id").alias("query_id"), "embedding")
        return lsh_topk(emb, q, k=10, n_planes=8, multiprobe=1).count()

    aux["ann_rows"] = run("ann_topk", ann_topk)

    total = round(sum(timings.values()), 3)
    kg_tps = aux["kg_triples"] / timings["kg_pipeline"] if timings["kg_pipeline"] else 0
    dm_tps = aux["dm_triples"] / timings["dm_full"] if timings["dm_full"] else 0
    aux["kg_triples_per_sec"] = round(kg_tps)
    aux["dm_triples_per_sec"] = round(dm_tps)
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "aux": aux,
            }
        )
    )


if __name__ == "__main__":
    main()
