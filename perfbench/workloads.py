"""The workloads: ``rdb_map`` and ``kg_build``.

Each workload has three phases ``run.py`` calls:

- ``prepare``: writes the seeded input files and computes the expected
  answers, before the Spark session starts. Untimed, not part of set-up.
- ``setup``: loads inputs (set-up time; ``run.py`` then runs a warm-up
  cycle, also set-up time).
- ``cycle``: one closed-loop round of timed units. A unit is an ``op`` (one
  build), a ``merge`` or a ``query``; the next unit starts when the previous
  one has returned and been checked. Checks run outside the timers.

Every build's inputs differ from every earlier build's (base IRI or document
window), so neither the compile memo nor Spark's cache manager can hand an
operation an earlier operation's work.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import inputs
import oracles
import tracing

DM_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]
R2RML_PREFIX = "http://example.org/"


@dataclass
class Unit:
    kind: str  # "op", "merge" or "query"
    wall_s: float
    query: str = ""  # "count", "bgp" or "sparql" for a query
    triples: int = 0  # triples committed (op) or merged in (merge)
    bytes_per_triple: float = 0.0  # graph-table parquet bytes / triples held
    ok: bool = True
    note: str = ""
    spans: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)  # workload-specific layer figures


class Ctx:
    """What a workload needs from ``run.py``."""

    def __init__(self, spark, work: str, seed: int, cores: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores
        self.tracer = tracer
        self.cached: list[int] = []  # persistent RDDs left after each unit
        self.cache_clears = 0

    def timed(self, kind: str, fn):
        """Run ``fn`` as one timed unit (inside a root span when tracing)."""
        tr = self.tracer
        first = len(tr.spans)
        mark = tr.sql_execution_mark()
        with tr.span(kind):
            t0 = time.perf_counter()
            out = fn()
            wall = time.perf_counter() - t0
        spans = tr.spans[first:]
        tr.resolve(spans, mark)
        # full-work guard: nothing a unit persisted may serve the next one
        left = tracing.cached_rdds(self.spark)
        self.cached.append(left)
        if left:
            self.spark.catalog.clearCache()
            self.cache_clears += 1
        return out, wall, spans


def _mismatch(name: str, got, want) -> str:
    return "" if got == want else f"{name}: got {got!r}, expected {want!r}"


def _unit(kind, wall, spans, errors, **kw) -> Unit:
    errors = [e for e in errors if e]
    return Unit(kind, wall, ok=not errors, note="; ".join(errors), spans=spans, **kw)


def _sorted(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=lambda r: tuple("" if v is None else v for v in r))


QUERY_KINDS = ("count", "bgp", "sparql")  # one query round, in this order


def query_mix(ctx: Ctx, gt, n: int, count_preds: list[str], bgp: list, bgp_sql: str,
              sparql_text: str, sparql_vars: list[str], sparql_sql: str) -> list[Unit]:
    """One round of ``QUERY_KINDS``: a bound-predicate count, a 3-pattern
    BGP and a SPARQL SELECT on ``gt``, each checked against DuckDB over the
    table's parquet files. ``n`` rotates the counted predicate."""
    from p5_rdf_rdb2rdf_spark.sparql import sparql
    from p5_rdf_rdb2rdf_spark.store import TripleStore

    tr = ctx.tracer
    store = TripleStore(gt)
    bgp_vars = [v[1:] for v in dict.fromkeys(t for pat in bgp for t in pat if t.startswith("?"))]

    def rows(df, names):
        return _sorted(df.select(*[f"{v}.value" for v in names]).collect())

    def count(p):
        with tr.span("store.count_pattern"):
            return store.count_pattern(p=p)

    def match():
        with tr.span("store.bgp"):
            return rows(store.bgp(bgp), bgp_vars)

    def select():
        with tr.span("sparql.query"):
            return rows(sparql(store, sparql_text), sparql_vars)

    p = count_preds[n % len(count_preds)]
    return [
        _check_query(ctx, gt, "count", lambda: count(p),
                     f"SELECT count(*) FROM g WHERE p_value = '{p}'"),
        _check_query(ctx, gt, "bgp", match, bgp_sql),
        _check_query(ctx, gt, "sparql", select, sparql_sql),
    ]


def _check_query(ctx: Ctx, gt, kind: str, fn, want_sql: str) -> Unit:
    got, wall, spans = ctx.timed("query", fn)
    files = oracles.GraphFiles(oracles.snapshot_dirs(gt))
    want = files.scalar(want_sql) if kind == "count" else _sorted(files.rows(want_sql))
    files.close()
    return _unit("query", wall, spans, [_mismatch(f"{kind} query", got, want)], query=kind)


# ---------------------------------------------------------------------------


class RdbMap:
    """Cold compile + materialize of the star schema two ways per op, then
    queries on the Direct Mapping graph just written."""

    name = "rdb_map"
    SF = 0.002

    def prepare(self, ctx: Ctx) -> None:
        import __spark_entry__ as entry

        self.tables_dir = inputs.write_tables(
            os.path.join(ctx.work, "tables"), inputs.make_tables(ctx.seed, self.SF)
        )
        self.constraints = entry.TPCH_CONSTRAINTS
        self.ttl = entry._R2RML_ORDERS
        self.dm_counts = oracles.dm_predicate_counts(
            self.tables_dir, self.constraints, DM_TABLES
        )
        self.r2rml_counts = oracles.r2rml_predicate_counts(
            self.tables_dir, entry.oracle_sql()["r2rml_orders_customer_join"]
        )
        self.k = 0

    def setup(self, ctx: Ctx) -> None:
        spark = ctx.spark
        self.tables = {
            t: spark.read.parquet(f"{self.tables_dir}/{t}.parquet") for t in DM_TABLES
        }

    def cycle(self, ctx: Ctx) -> list[Unit]:
        from p5_rdf_rdb2rdf_spark.compiler import compile_mapping
        from p5_rdf_rdb2rdf_spark.direct_mapping import direct_map
        from p5_rdf_rdb2rdf_spark.io.graph_table import GraphTable
        from p5_rdf_rdb2rdf_spark.r2rml import r2rml_to_ir

        spark, tr = ctx.spark, ctx.tracer
        self.k += 1
        base = f"http://s{ctx.seed}.bench.example/op{self.k}/"
        d = os.path.join(ctx.work, f"graphs-{self.k}")
        dm_gt = GraphTable(spark, f"{d}/dm", n_buckets=ctx.cores)
        rr_gt = GraphTable(spark, f"{d}/r2rml", n_buckets=ctx.cores)
        ttl = self.ttl.replace(R2RML_PREFIX, base)

        def op():
            with tr.span("compiler.build"):
                dm = direct_map(spark, self.tables, self.constraints, base=base, only=DM_TABLES)
            dm_gt.write(dm)
            with tr.span("r2rml.parse"):
                ir = r2rml_to_ir(ttl)
            with tr.span("compiler.build"):
                rr = compile_mapping(
                    spark, ir, tables=self.tables, broadcast_parents={"#Customer"}
                )
            rr_gt.write(rr)

        _, wall, spans = ctx.timed("op", op)
        # the compiled plans execute inside the writes: their shape is the
        # compiler's plan shape
        writes = [s for s in spans if s.name == "io.graph_table.write"]
        layers = {
            "compiler.plan_exchanges": sum(s.total.get("exchanges", 0) for s in writes),
            "compiler.plan_scans": sum(s.total.get("scans", 0) for s in writes),
        }
        errors, n, nbytes = [], 0, 0
        for gt, want in (
            (dm_gt, {p.replace("{base}", base): c for p, c in self.dm_counts.items()}),
            (rr_gt, {p.replace(R2RML_PREFIX, base): c for p, c in self.r2rml_counts.items()}),
        ):
            dirs = oracles.snapshot_dirs(gt)
            files = oracles.GraphFiles(dirs)
            errors.append(_mismatch("per-predicate triples", files.predicate_counts(), want))
            files.close()
            total = gt.current_snapshot()["total_rows"]
            errors.append(_mismatch("manifest total_rows", total, sum(want.values())))
            n += total
            nbytes += oracles.file_bytes(dirs)
        units = [_unit("op", wall, spans, errors, triples=n, bytes_per_triple=nbytes / n,
                       layers=layers)]

        def pred(t, c):
            return f"{base}{t}#{c}"

        bgp = [
            ("?c", pred("customer", "ref-c_nationkey"), "?n"),
            ("?n", pred("nation", "n_name"), "?nm"),
            ("?n", pred("nation", "ref-n_regionkey"), "?r"),
        ]
        status, ref, flag = pred("orders", "o_orderstatus"), pred("orders", "ref-o_custkey"), "FOP"[self.k % 3]
        units += query_mix(
            ctx, dm_gt, self.k, sorted(p.replace("{base}", base) for p in self.dm_counts),
            bgp,
            f"""SELECT a.s_value, a.o_value, b.o_value, c.o_value
                FROM g a JOIN g b ON b.s_value = a.o_value AND b.s_kind = a.o_kind
                         JOIN g c ON c.s_value = a.o_value AND c.s_kind = a.o_kind
                WHERE a.p_value = '{bgp[0][1]}' AND b.p_value = '{bgp[1][1]}'
                  AND c.p_value = '{bgp[2][1]}'""",
            f"""SELECT ?o ?st ?c WHERE {{
                  ?o <{status}> ?st . OPTIONAL {{ ?o <{ref}> ?c }} FILTER (?st = "{flag}") }}""",
            ["o", "st", "c"],
            f"""SELECT a.s_value, a.o_value, b.o_value
                FROM g a LEFT JOIN g b ON b.s_value = a.s_value AND b.p_value = '{ref}'
                WHERE a.p_value = '{status}' AND a.o_value = '{flag}' AND a.o_kind = 'literal'
                  AND a.o_datatype IS NULL AND a.o_lang IS NULL""",
        )
        shutil.rmtree(d, ignore_errors=True)
        return units


# ---------------------------------------------------------------------------


class KgBuild:
    """The checkpointed interleaved-docs KG pipeline over a fresh document
    window per operation, whose graph is then merged into one growing master
    graph that serves queries. Consecutive windows share half their
    documents, so about half of each merged batch is already held."""

    name = "kg_build"
    DOCS = 20_000
    MAX_OPS = 6  # windows prepared: warm-up + timed operations
    MAX_CHAIN = 2  # the master auto-compacts on every second merge after the first

    def prepare(self, ctx: Ctx) -> None:
        first = (ctx.seed % 997) * 7919
        self.windows = []
        for k in range(self.MAX_OPS):
            lo = first + k * self.DOCS // 2
            facts, prov = inputs.corpus_expectation(lo, self.DOCS)
            path = inputs.corpus_window(
                os.path.join(ctx.work, f"corpus-{k:03d}"), lo, self.DOCS, ctx.cores
            )
            self.windows.append({"path": path, "facts": facts, "prov": prov})
        self.k = 0

    def setup(self, ctx: Ctx) -> None:
        from p5_rdf_rdb2rdf_spark.io.graph_table import GraphTable

        self.master = GraphTable(
            ctx.spark, os.path.join(ctx.work, "master"),
            n_buckets=ctx.cores, max_chain_len=self.MAX_CHAIN,
        )

    def cycle(self, ctx: Ctx) -> list[Unit]:
        from p5_rdf_rdb2rdf_spark.io.graph_table import GraphTable
        from p5_rdf_rdb2rdf_spark.pipeline.corpus import KG, TEMPLATES
        from p5_rdf_rdb2rdf_spark.pipeline.kgpipeline import MENTIONS_PRED, run_pipeline

        spark = ctx.spark
        if self.k >= self.MAX_OPS:
            raise RuntimeError(f"kg_build: all {self.MAX_OPS} prepared windows used")
        w = self.windows[self.k]
        self.k += 1
        docs = spark.read.parquet(w["path"])
        wd = os.path.join(ctx.work, f"kg-{self.k}")

        res, wall, spans = ctx.timed(
            "op",
            lambda: run_pipeline(
                spark, docs, wd, n_buckets=ctx.cores, audit_invariant=True, checkpoint=True
            ),
        )
        gt = GraphTable(spark, f"{wd}/graph")
        snap = gt.current_snapshot()
        dirs = oracles.snapshot_dirs(gt)
        files = oracles.GraphFiles(dirs)
        facts = set(
            files.rows(
                f"SELECT DISTINCT s_value, p_value, o_value FROM g WHERE p_value != '{MENTIONS_PRED}'"
            )
        )
        n_prov = files.scalar(f"SELECT count(*) FROM g WHERE p_value = '{MENTIONS_PRED}'")
        n_all = files.total()
        files.close()
        errors = [
            "" if facts == w["facts"] else f"fact triples differ ({len(facts)} vs {len(w['facts'])})",
            _mismatch("provenance triples", n_prov, w["prov"]),
            _mismatch("manifest total_rows", snap["total_rows"], len(w["facts"]) + w["prov"]),
            _mismatch("rows on disk", n_all, snap["total_rows"]),
        ]
        layers = {
            "pipeline.cc.links_rows": res.lineage["stages"]["s3_links"]["rows"],
            "io.checkpoint.bytes_written": sum(
                s.total.get("output_bytes", 0) for s in spans if s.name.startswith("pipeline.")
            ),
        }
        units = [_unit("op", wall, spans, errors, triples=snap["total_rows"],
                       bytes_per_triple=oracles.file_bytes(dirs) / snap["total_rows"],
                       layers=layers)]
        units.append(self._merge(ctx, gt, snap["total_rows"]))
        shutil.rmtree(wd, ignore_errors=True)

        preds = [p for _t, p in TEMPLATES]
        works, wrote, knows = preds
        units += query_mix(
            ctx, self.master, self.k, [*preds, MENTIONS_PRED],
            [("?a", works, "?b"), ("?b", knows, "?c"), ("?c", wrote, "?d")],
            f"""SELECT a.s_value, a.o_value, b.o_value, c.o_value
                FROM g a JOIN g b ON b.s_value = a.o_value JOIN g c ON c.s_value = b.o_value
                WHERE a.p_value = '{works}' AND b.p_value = '{knows}' AND c.p_value = '{wrote}'""",
            f"""SELECT ?a ?b ?c WHERE {{
                  ?a <{works}> ?b . OPTIONAL {{ ?b <{knows}> ?c }}
                  FILTER (STR(?a) != "{KG}E000") }}""",
            ["a", "b", "c"],
            f"""SELECT a.s_value, a.o_value, b.o_value
                FROM g a LEFT JOIN g b ON b.s_value = a.o_value AND b.p_value = '{knows}'
                WHERE a.p_value = '{works}' AND a.s_value != '{KG}E000'""",
        )
        return units

    def _merge(self, ctx: Ctx, window_gt, rows: int) -> Unit:
        """Merge a window's graph into the master graph; DuckDB over both
        tables' files predicts the master's size."""
        master = self.master
        batch = window_gt.read()
        if master.current_snapshot() is None:
            before, fresh = 0, rows
        else:
            files = oracles.GraphFiles(oracles.snapshot_dirs(master))
            before = files.total()
            fresh = files.scalar(
                f"SELECT count(*) FROM (SELECT {oracles.TRIPLE_COLS} FROM "
                f"read_parquet({oracles.parquet_glob(oracles.snapshot_dirs(window_gt))}) "
                f"EXCEPT SELECT {oracles.TRIPLE_COLS} FROM g)"
            )
            files.close()
        _, wall, spans = ctx.timed("merge", lambda: master.merge(batch))
        snap = master.current_snapshot()
        dirs = oracles.snapshot_dirs(master)
        files = oracles.GraphFiles(dirs)
        on_disk = files.total()
        files.close()
        errors = [
            _mismatch("master total_rows", snap["total_rows"], before + fresh),
            _mismatch("master rows on disk", on_disk, before + fresh),
        ]
        layers = {"io.graph_table.chain_len": len(dirs), "batch_held": 1 - fresh / rows}
        if snap.get("delta_rows"):
            merge_bytes = sum(s.total.get("output_bytes", 0) for s in spans if s.depth == 1)
            layers["io.graph_table.bytes_per_delta_triple"] = merge_bytes / snap["delta_rows"]
        return _unit("merge", wall, spans, errors, triples=rows,
                     bytes_per_triple=oracles.file_bytes(dirs) / snap["total_rows"],
                     layers=layers)


WORKLOADS = {w.name: w for w in (RdbMap, KgBuild)}
