"""Graph-table storage (SURVEY.md §8.3 'GraphTableIO').

Final triples land in a table **partitioned by predicate bucket**
(``pred_bucket = pmod(xxhash64(p_value), n_buckets)``) so bound-predicate
pattern queries (the Store's hottest shape, SURVEY.md §4.3) prune partitions,
and the dedup shuffle is already aligned with the dominant access path.

Backends:
- **iceberg**: when the session has an Iceberg catalog configured
  (``spark.sql.catalog.<name>``), writes an Iceberg table via
  ``writeTo(...).partitionedBy(bucket(...))`` — snapshots/lineage come from
  Iceberg itself. This is the 100 TB production path.
- **parquet** (sandbox fallback): partitioned directories plus a versioned
  **snapshot manifest** (JSON: snapshot id -> data directories, total row
  count, parent snapshot) supplying the same checkpoint/resume semantics.

A predicate's bucket is never stored: every path that needs it (the write's
partition column, ``read_predicate``'s filter, merge's anti-join pruning)
evaluates the same ``pmod(xxhash64(p), n_buckets)`` expression in the JVM.
On a literal predicate Catalyst folds it to a constant, so a bound-predicate
read reaches the scan as a plain ``pred_bucket = <int>`` partition filter.

At 10^12-document scale the bucket count is the partition-sizing knob: with
K buckets and T triples, each bucket holds T/K triples; choose K so a bucket
fits executor memory for the dedup agg (the writer also range-splits files
inside a bucket via maxRecordsPerFile).
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..terms import TRIPLE_COLUMNS
from .footers import parquet_file_rows

MANIFEST = "_snapshots.json"

# merge() prunes the anti-join's parent side to the predicate buckets the
# incoming batch touches, which needs the batch's distinct predicates on the
# driver. For a closed vocabulary (the KG pipeline) that is a handful of
# rows; for generic RDF it is unbounded, so the collect is capped — a batch
# with more distinct predicates than this falls back to the un-pruned
# anti-join instead of materializing an arbitrary predicate list driver-side
# (ADVICE r3 #3). At that vocabulary width most buckets are touched anyway,
# so pruning would have bought little.
MAX_PRUNE_PREDICATES = 256


def _has_iceberg(spark: SparkSession, catalog: str | None) -> bool:
    if not catalog:
        return False
    try:
        return spark.conf.get(f"spark.sql.catalog.{catalog}", None) is not None
    except Exception:
        return False


class GraphTable:
    """A partitioned (s,p,o) graph table with snapshot/lineage semantics."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int = 32,
        iceberg_catalog: str | None = None,
        iceberg_table: str | None = None,
        max_chain_len: int = 16,
    ):
        """``n_buckets`` is the partition count K of a new table; reopening
        an existing table adopts the K it was written with.

        ``max_chain_len`` bounds the delta chain ``merge`` builds: when a
        merge would leave more than this many directories in the current
        snapshot, the chain is auto-compacted into one (VERDICT r3 #6) —
        reads stay O(1) scan branches and the anti-join's parent side stays
        one union arm, at the cost of one chain rewrite every K merges
        (amortized O(|graph|/K) per merge)."""
        self.spark = spark
        self.path = path
        self.n_buckets = n_buckets
        self.max_chain_len = max_chain_len
        self.iceberg = _has_iceberg(spark, iceberg_catalog)
        self.iceberg_ref = f"{iceberg_catalog}.{iceberg_table}" if self.iceberg else None
        # A table's bucket count is fixed at creation (like Hive bucketing):
        # every bucket-pruning path recomputes pmod(xxhash64(p), K) and MUST
        # use the K the data was written with — a process reopening the table
        # with a different constructor default would otherwise prune the
        # merge anti-join's parent to the WRONG buckets and silently append
        # duplicate triples. Adopt the write-time truth from the manifest.
        cur = self.current_snapshot()
        if cur is not None and cur.get("n_buckets") not in (None, n_buckets):
            self.n_buckets = cur["n_buckets"]

    def _bucket(self, predicate: Column) -> Column:
        """The predicate's partition bucket, ``pmod(xxhash64(p), K)`` — the
        one definition every write, read and merge path evaluates."""
        return F.pmod(F.xxhash64(predicate), F.lit(self.n_buckets)).cast("int")

    # -- write ---------------------------------------------------------------
    def write(
        self,
        triples: DataFrame,
        lineage: dict | None = None,
        dedup: bool = False,
        distribute: bool = True,
    ) -> str:
        """Write triples; returns the new snapshot id.

        Adds the ``pred_bucket`` partition column. ``dedup=True`` applies RDF
        set semantics FUSED with the write: the distinct's own full-key
        shuffle becomes the ONLY exchange — rows land hash-spread by the
        whole triple (no few-key skew possible, a strictly better spread
        than the (pred_bucket, s_value) repartition the non-dedup path
        uses), and a partition-LOCAL sort on pred_bucket (no exchange)
        keeps the directory writer to one open file at a time. One shuffle
        of the triple set instead of the two a caller-side
        ``dropDuplicates`` + write costs (plan-asserted in tests/test_io.py;
        a first attempt that reused the repartition's clustering for the
        aggregate was silently re-ordered by Catalyst back into two
        exchanges). Worst-case file count rises to tasks x buckets;
        ``maxRecordsPerFile`` and AQE size-targeted partition coalescing
        bound it. Callers whose input is already distinct (compile_mapping
        output) leave it False. ``distribute=False`` additionally skips the
        write repartition when the input is already well-partitioned by an
        upstream shuffle (e.g. the KG pipeline's compact-key dedups) — the
        caller vouches the distribution is skew-free, and the write adds
        NO exchange at all.
        """
        if self.iceberg:
            # Iceberg hidden partitioning: partitionedBy(bucket(K, p_value))
            # at table creation — no explicit pred_bucket column; Iceberg
            # prunes p_value-bound scans from its own partition metadata.
            # (Call shape is contract-tested with a fake writer in
            # tests/test_io.py — no Iceberg jar ships in this sandbox.)
            from pyspark.sql.functions import partitioning

            if dedup:
                triples = triples.dropDuplicates(list(TRIPLE_COLUMNS))
            triples.writeTo(self.iceberg_ref).using("iceberg").partitionedBy(
                partitioning.bucket(self.n_buckets, F.col("p_value"))
            ).createOrReplace()
            return str(self.spark.sql(
                f"SELECT snapshot_id FROM {self.iceberg_ref}.snapshots ORDER BY committed_at DESC LIMIT 1"
            ).head()[0])

        if dedup:
            triples = triples.dropDuplicates(list(TRIPLE_COLUMNS))
        df = triples.withColumn("pred_bucket", self._bucket(F.col("p_value")))
        snapshot_id = uuid.uuid4().hex[:16]
        data_dir = os.path.join(self.path, f"snap-{snapshot_id}")
        # Shuffle on (pred_bucket, s_value), NOT pred_bucket alone: real
        # graphs have few distinct predicates, so bucketing by predicate
        # alone concentrates the whole write onto <= |predicates| tasks and
        # a hot predicate (e.g. provenance 'mentions', ~75% of triples)
        # serializes the write (measured: the non-scaling tail in the
        # round-2 KG scaling profile). The subject sub-key spreads each
        # bucket across the cluster while .partitionBy keeps the directory
        # layout — multiple files per bucket directory, pruning unchanged.
        if dedup or not distribute:
            # the caller's existing partitioning (the distinct's full-key
            # exchange, or an upstream dedup/join the caller vouches for via
            # distribute=False) is the write's distribution; the local sort
            # only groups rows by target directory within a task
            df = df.sortWithinPartitions("pred_bucket")
        else:
            n_tasks = max(
                self.n_buckets, df.sparkSession.sparkContext.defaultParallelism * 2
            )
            df = df.repartition(n_tasks, F.col("pred_bucket"), F.col("s_value"))
        (
            df.write.mode("overwrite")
            .option("maxRecordsPerFile", 5_000_000)
            .partitionBy("pred_bucket")
            .parquet(data_dir)
        )
        # The row count comes from the parquet FOOTERS of the files the
        # commit kept — O(files) driver-side metadata reads, zero data scans,
        # and exact even under stage re-execution or speculative tasks, where
        # accumulator-backed write metrics over-count (ADVICE r4).
        total = sum(rows for _path, rows in parquet_file_rows(self.spark, data_dir))
        manifest = self._read_manifest()
        manifest["snapshots"].append(
            {
                "id": snapshot_id,
                "dir": data_dir,
                "created_at": time.time(),
                "parent": manifest.get("current"),
                "n_buckets": self.n_buckets,
                "total_rows": total,
                "chain_len": 1,
                "lineage": lineage or {},
            }
        )
        manifest["current"] = snapshot_id
        self._write_manifest(manifest)
        return snapshot_id

    # -- incremental merge -----------------------------------------------------
    def merge(self, new_triples: DataFrame, lineage: dict | None = None) -> str:
        """Incremental set-semantics materialization: the new snapshot equals
        ``current ∪ new_triples`` (distinct), but only the DELTA — new rows
        not already in the graph — is written; the snapshot's manifest entry
        chains the parent's data directories, so write cost is
        O(|new| + one anti-join), not O(|graph|). Re-merging already-known
        triples is a no-op delta (idempotent resume, matching the
        StageCheckpointer contract). ``read``/``read_predicate`` transparently
        union the chain. When the chain would exceed ``max_chain_len``
        directories the merge auto-compacts it into one (see ``__init__``)
        and returns the compacted snapshot. The batch may hold duplicates:
        a merge into an empty table is a fused-dedup ``write``, and the
        incremental path de-duplicates the batch before the anti-join.

        The anti-join hashes on the full triple key — one shuffle of
        delta + parent, no skew. On the Iceberg backend the delta is
        appended (Iceberg snapshots the append itself); the parquet backend
        keeps the manifest chain.
        """
        if self.iceberg:
            return self._merge_iceberg(new_triples)
        cur = self.current_snapshot()
        if cur is None:
            return self.write(new_triples, lineage=lineage, dedup=True)
        parent_dirs = cur.get("dirs", [cur["dir"]])
        delta = self._delta_against(cur, new_triples)
        # dedup=True is a semantic no-op here (the anti-join output is already
        # distinct) but reuses the join's full-key partitioning: the fused
        # distinct adds no exchange, whereas the non-dedup path would
        # repartition the delta a second time
        sid = self.write(delta, lineage=lineage, dedup=True)
        m = self._read_manifest()
        snap = next(s for s in m["snapshots"] if s["id"] == sid)
        snap["dirs"] = [*parent_dirs, snap["dir"]]
        snap["chain_len"] = len(snap["dirs"])
        snap["delta_rows"] = snap["total_rows"]
        snap["total_rows"] = cur["total_rows"] + snap["total_rows"]
        self._write_manifest(m)
        if snap["chain_len"] > self.max_chain_len:
            return self.compact(sid, lineage={"auto_compacted": True})
        return sid

    def _merge_iceberg(self, new_triples: DataFrame) -> str:
        """Iceberg incremental merge via ``MERGE INTO ... WHEN NOT MATCHED
        THEN INSERT *`` — ATOMIC against concurrent writers (VERDICT r4
        next-round #8: the previous anti-join+append was correct
        single-writer but racy — two merges interleaving between the
        anti-join read and the append could both insert the same triple;
        Iceberg serializes MERGE commits and retries on conflict). The ON
        clause is null-safe (``<=>``) on every triple column:
        o_datatype/o_lang/g_value are nullable and plain ``=`` would
        re-insert every NULL-bearing triple each merge. Iceberg's
        bucket(p_value) partitioning prunes the target scan from the
        source's predicates. Never createOrReplace on an existing table
        (ADVICE r3 #1: that destroyed every earlier merge). Idempotent:
        re-merging known triples matches everything and inserts nothing.
        The batch is de-duplicated first: MERGE inserts EVERY not-matched
        source row, so intra-batch duplicates would otherwise land twice."""
        import uuid as _uuid

        new = new_triples.dropDuplicates(list(TRIPLE_COLUMNS))
        try:
            exists = self.spark.catalog.tableExists(self.iceberg_ref)
        except Exception:
            exists = False
        if not exists:
            # write() creates the table with its bucket(p_value) partition
            # spec; the batch is already distinct
            return self.write(new)
        view = f"__gt_merge_src_{_uuid.uuid4().hex[:8]}"
        new.createOrReplaceTempView(view)
        try:
            on = " AND ".join(f"t.{c} <=> s.{c}" for c in TRIPLE_COLUMNS)
            self.spark.sql(
                f"MERGE INTO {self.iceberg_ref} t USING {view} s ON {on} "
                "WHEN NOT MATCHED THEN INSERT *"
            )
        finally:
            self.spark.catalog.dropTempView(view)
        return str(self.spark.sql(
            f"SELECT snapshot_id FROM {self.iceberg_ref}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).head()[0])

    def _delta_against(self, cur: dict, new_triples: DataFrame) -> DataFrame:
        """Distinct rows of ``new_triples`` not present in the ``cur``
        snapshot chain.

        The parent side of the anti-join is PRUNED to the predicate buckets
        the incoming batch actually touches. The buckets are computed IN the
        capped distinct-predicate job itself with ``_bucket`` — the same
        JVM expression the write assigned them with. A delta touching few
        predicates scans only those partition directories; merge cost tracks
        the touched partitions, not the graph. An empty batch skips the join.

        The predicate collect is CAPPED at ``MAX_PRUNE_PREDICATES`` (ADVICE
        r3 #3): a batch with a wider vocabulary — generic RDF property
        graphs — anti-joins against the un-pruned parent instead of
        materializing an unbounded predicate list on the driver.

        Equality is NULL-SAFE on every key: o_datatype/o_lang/g_value are
        nullable and plain ``=`` treats NULL != NULL, which would re-append
        every NULL-bearing triple on each merge (caught by the idempotence
        test). eqNullSafe keeps the anti-join an ordinary hash join.
        """
        new = new_triples.dropDuplicates(list(TRIPLE_COLUMNS)).alias("new")
        pred_rows = (
            new.select("p_value")
            .distinct()
            .limit(MAX_PRUNE_PREDICATES + 1)
            .select(self._bucket(F.col("p_value")).alias("bucket"))
            .collect()
        )
        if not pred_rows:
            return new  # empty batch
        base = self._read_dirs(cur.get("dirs", [cur["dir"]]))
        if len(pred_rows) <= MAX_PRUNE_PREDICATES:
            buckets = sorted({r.bucket for r in pred_rows})
            base = base.where(F.col("pred_bucket").isin(buckets))  # prunes directories
        base = base.drop("pred_bucket").alias("base")
        cond = None
        for c in TRIPLE_COLUMNS:
            eq = F.col(f"new.{c}").eqNullSafe(F.col(f"base.{c}"))
            cond = eq if cond is None else (cond & eq)
        return new.join(base, on=cond, how="left_anti")

    def compact(self, snapshot_id: str | None = None, lineage: dict | None = None) -> str:
        """Rewrite a delta chain into a single-directory snapshot.

        ``merge`` keeps write cost O(|delta|) by chaining directories, but an
        unbounded chain degrades reads (one scan branch per link) and the
        anti-join's parent side (multi-dir union). Compaction is the standard
        counterpart: one fused-dedup write of the chain (the chain is
        distinct by construction, so the dedup is a partitioning no-op that
        still yields the single-exchange write path), producing a snapshot
        whose manifest has ONE directory. Earlier snapshots — including the compacted
        chain's links — remain readable (time travel unaffected). Run it
        every K merges or when the chain length crosses a read-latency
        budget (``max_chain_len`` does this automatically); on Iceberg the
        equivalent is rewrite_data_files.
        """
        if self.iceberg:
            # Iceberg file layout is catalog-managed; rewriting it through
            # the overwrite path would createOrReplace the table from a
            # read of itself (ADVICE r3 #1). Compaction there is the stored
            # procedure, run out-of-band.
            raise NotImplementedError(
                "Iceberg compaction: CALL <catalog>.system.rewrite_data_files"
                f"(table => '{self.iceberg_ref}')"
            )
        snap = self._snapshot(snapshot_id)
        chain = snap.get("dirs", [snap["dir"]])
        df = self._read_dirs(chain).drop("pred_bucket")
        base_lineage = {"compacted_from": snap["id"], "chain_len": len(chain)}
        return self.write(df, lineage={**base_lineage, **(lineage or {})}, dedup=True)

    # -- read ----------------------------------------------------------------
    def _read_dirs(self, dirs: list[str]) -> DataFrame:
        # explicit schema: an empty delta directory has no files to infer from
        from pyspark.sql import types as T

        from ..terms import TRIPLE_SCHEMA

        schema = T.StructType(
            [*TRIPLE_SCHEMA.fields, T.StructField("pred_bucket", T.IntegerType())]
        )
        # one read per snapshot dir, unioned: Spark's partition discovery
        # rejects multiple roots that each carry pred_bucket= subdirs in a
        # single call; a pred_bucket/p_value filter still pushes into every
        # branch, so chain reads prune identically to single-snapshot reads
        from functools import reduce

        dfs = [self.spark.read.schema(schema).parquet(d) for d in dirs]
        return reduce(lambda a, b: a.unionByName(b), dfs)

    def read(self, snapshot_id: str | None = None) -> DataFrame:
        if self.iceberg:
            return self.spark.table(self.iceberg_ref)
        snap = self._snapshot(snapshot_id)
        return self._read_dirs(snap.get("dirs", [snap["dir"]])).drop("pred_bucket")

    def read_predicate(self, predicate: str, snapshot_id: str | None = None) -> DataFrame:
        """Bound-predicate read — prunes to one bucket before filtering.

        The bucket filter is ``_bucket`` over the literal predicate, which
        Catalyst folds to a constant: the scan's partition filter is
        ``pred_bucket = <int>``, so only that bucket's directories are
        listed, in every link of a merge chain, and no job runs to compute
        the bucket. The bucket is the JVM's xxhash64, never a Python copy."""
        if self.iceberg:
            # Iceberg prunes via hidden bucket(p_value) partitioning: the
            # equality filter alone reaches its partition metadata
            return self.spark.table(self.iceberg_ref).where(
                F.col("p_value") == predicate
            )
        snap = self._snapshot(snapshot_id)
        df = self._read_dirs(snap.get("dirs", [snap["dir"]]))
        # pred_bucket is a partition column: this comparison prunes directories
        return (
            df.where(F.col("pred_bucket") == self._bucket(F.lit(predicate)))
            .where(F.col("p_value") == predicate)
            .drop("pred_bucket")
        )

    # -- snapshots -------------------------------------------------------------
    def snapshots(self) -> list[dict]:
        return self._read_manifest()["snapshots"]

    def current_snapshot(self) -> dict | None:
        m = self._read_manifest()
        cur = m.get("current")
        return next((s for s in m["snapshots"] if s["id"] == cur), None)

    def _snapshot(self, snapshot_id: str | None) -> dict:
        m = self._read_manifest()
        sid = snapshot_id or m.get("current")
        for s in m["snapshots"]:
            if s["id"] == sid:
                return s
        raise FileNotFoundError(f"snapshot {sid!r} not found under {self.path}")

    def _manifest_path(self) -> str:
        return os.path.join(self.path, MANIFEST)

    def _read_manifest(self) -> dict:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"snapshots": [], "current": None}

    def _write_manifest(self, manifest: dict) -> None:
        os.makedirs(self.path, exist_ok=True)
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path())
