"""Store pattern queries (SURVEY.md O12, §4.3) — lazy pushdown parity with
DirectMapping::Store::get_statements."""

from __future__ import annotations

from p5_rdf_rdb2rdf_spark.direct_mapping import direct_map
from p5_rdf_rdb2rdf_spark.fixtures import CONSTRAINTS
from p5_rdf_rdb2rdf_spark.store import DirectMappingStore, TripleStore
from p5_rdf_rdb2rdf_spark.terms import RDF_TYPE

BASE = "http://example.com/base/"


def _full_graph(spark, tables):
    return direct_map(spark, tables, CONSTRAINTS, base=BASE)


def test_triple_store_patterns(spark, tables):
    store = TripleStore(_full_graph(spark, tables))
    s = f"{BASE}books/book_id=1"
    assert store.count_pattern(s=s) > 0
    assert store.count_pattern(s=s, p=f"{BASE}books#title") == 1
    assert store.count_pattern(p=RDF_TYPE, o=f"{BASE}books") == 4
    assert store.count_pattern(s="http://nope/") == 0


def test_triple_store_graph_table_bound_predicate_one_pruned_scan(
    spark, tables, tmp_path
):
    """VERDICT r3 #7: a GraphTable-backed TripleStore must answer a bound-p
    pattern through read_predicate — exactly one pruned scan: (a) zero
    extra Spark jobs versus calling read_predicate directly, (b) the scan
    lists ONLY the predicate's bucket directory, and the answers match the
    DataFrame-backed store on every pattern shape."""
    from pyspark.sql import functions as F

    from p5_rdf_rdb2rdf_spark.io.graph_table import GraphTable

    triples = _full_graph(spark, tables)
    gt = GraphTable(spark, str(tmp_path / "gts"), n_buckets=4)
    gt.write(triples)
    store = TripleStore(gt)
    flat = TripleStore(triples)
    pred = f"{BASE}books#title"

    df = store.get_statements(p=pred)
    bucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(pred)), F.lit(4)).cast("int").alias("b")
    ).head().b
    # the scan must carry the bucket as a PARTITION filter (directory-level
    # pruning before any file is opened; inputFiles() can't show this — it
    # reports the pre-pruning relation)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert pf and f"pred_bucket#" in pf.group(1) and f"= {bucket})" in pf.group(1), plan

    sc = spark.sparkContext
    store.get_statements(p=pred).count()  # warm filesystem/codegen caches
    sc.setJobGroup("bare", "bare")
    want = gt.read_predicate(pred).count()
    bare_jobs = len(sc.statusTracker().getJobIdsForGroup("bare"))
    sc.setJobGroup("via_store", "via_store")
    got = store.get_statements(p=pred).count()
    store_jobs = len(sc.statusTracker().getJobIdsForGroup("via_store"))
    assert got == want == flat.get_statements(p=pred).count()
    assert store_jobs == bare_jobs  # the store layer adds no jobs

    # other pattern shapes agree with the DataFrame-backed store
    s = f"{BASE}books/book_id=1"
    assert store.count_pattern(s=s) == flat.count_pattern(s=s)
    assert store.count_pattern(s=s, p=pred) == flat.count_pattern(s=s, p=pred)
    assert store.count_pattern(p=RDF_TYPE, o=f"{BASE}books") == 4
    assert store.count_pattern(p="http://nowhere/p") == 0
    # composing a bound object on top of the pruned bound-p scan
    title = triples.where(F.col("p_value") == pred).select("o_value").first().o_value
    assert store.count_pattern(p=pred, o=title) == flat.count_pattern(p=pred, o=title)


def test_dm_store_matches_materialized(spark, tables):
    """The lazy store must answer every pattern identically to filtering the
    fully-materialized graph (the reference's Store contract)."""
    sub = {t: tables[t] for t in ["books", "authors", "emp", "dept"]}
    full = TripleStore(_full_graph(spark, sub))
    lazy = DirectMappingStore(spark, sub, CONSTRAINTS, base=BASE)

    patterns = [
        {"s": f"{BASE}books/book_id=2"},
        {"p": f"{BASE}books#title"},
        {"p": f"{BASE}emp#ref-deptno"},
        {"p": RDF_TYPE},
        {"s": f"{BASE}emp/empno=7369", "p": f"{BASE}emp#ename"},
        {"p": f"{BASE}books#in_print", "o": "true"},
        {"s": f"{BASE}authors/author_id=10", "o": "David"},
        # bound-object pushdown paths (typed literal / decimal / date / fk IRI)
        {"p": f"{BASE}emp#ename", "o": "SMITH"},
        {"p": f"{BASE}books#price", "o": "12.5"},
        {"p": f"{BASE}books#published", "o": "2015-02-01"},
        {"p": f"{BASE}authors#born", "o": "1961-02-12T06:30:00"},
        {"p": f"{BASE}emp#ref-deptno", "o": f"{BASE}dept/deptno=10"},
        {"p": RDF_TYPE, "o": f"{BASE}dept"},
        {"p": f"{BASE}emp#empno", "o": "not-an-int"},  # undecodable -> empty
        {"p": f"{BASE}emp#ref-deptno", "o": f"{BASE}books/book_id=1"},  # wrong parent
    ]
    for pat in patterns:
        want = sorted(map(tuple, full.get_statements(**pat).collect()))
        got = sorted(map(tuple, lazy.get_statements(**pat).collect()))
        assert got == want, pat

    # DM emits only the default graph: any bound g answers empty, lazily
    assert lazy.get_statements(g="http://example.com/g1").count() == 0


def test_dm_iri_decode_inverts_encode_property(spark):
    """The lazy store's whole correctness rests on the DM IRI scheme being
    invertible: decode(encode(table, pk_values)) must round-trip for ANY
    table/column/value strings, including ';' '=' '%' '/' '#' and unicode
    (the separators themselves must survive percent-encoding). Property-
    driven over the same iri_safe encoder the compiler uses."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from p5_rdf_rdb2rdf_spark.iri import iri_safe_py
    from p5_rdf_rdb2rdf_spark.store import DirectMappingStore

    BASE = "http://example.com/base/"
    txt = st.text(min_size=1, max_size=12).filter(lambda s: s.strip() == s and s)

    @settings(max_examples=120, deadline=None)
    @given(table=txt, cols=st.lists(txt, min_size=1, max_size=3, unique=True),
           vals=st.data())
    def run(table, cols, vals):
        values = [vals.draw(txt) for _ in cols]
        store = DirectMappingStore.__new__(DirectMappingStore)
        store.base = BASE
        store.tables = {table: None}
        store.manifest = {table: {"pk": cols, "fks": []}}
        # encode exactly as the compiler's row-node template does
        pairs = ";".join(
            f"{iri_safe_py(c)}={iri_safe_py(v)}" for c, v in zip(cols, values)
        )
        iri = f"{BASE}{iri_safe_py(table)}/{pairs}"
        dec = store._decode_subject(iri)
        assert dec is not None, iri
        assert dec.table == table
        assert dec.pk_values == dict(zip(cols, values)), iri

        pred = f"{BASE}{iri_safe_py(table)}#{iri_safe_py(cols[0])}"
        decp = store._decode_predicate(pred)
        assert decp is not None and decp.table == table and decp.column == cols[0]

    run()


def test_dm_store_unknown_iris_empty(spark, tables):
    lazy = DirectMappingStore(spark, {"books": tables["books"]}, CONSTRAINTS, base=BASE)
    assert lazy.get_statements(s="http://other/base/books/book_id=1").count() == 0
    assert lazy.get_statements(p=f"{BASE}books#no_such_col").count() == 0


def test_dm_store_bound_subject_prunes(spark, tables):
    """Bound subject must push pk = v into the source scan (the analog of
    the reference's targeted WHERE pk=?)."""
    lazy = DirectMappingStore(spark, {"books": tables["books"]}, CONSTRAINTS, base=BASE)
    df = lazy.get_statements(s=f"{BASE}books/book_id=1")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "book_id" in plan and ("= 1" in plan or "cast" in plan.lower())
    assert df.count() > 0


def test_dm_store_bound_object_fractional_ts_and_float(spark):
    """Regression (ADVICE r2 #1): the typed bound-object conjunct must never
    be narrower than the lexical form. A timestamp with fractional seconds
    emits o_value without the fraction — get_statements(o=<that lexical>)
    must return the row (typed range [v, v+1s), not equality). A float32
    column must match its emitted lexical (no widened-double equality)."""
    import datetime as dt

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("at", T.TimestampType(), True),
            T.StructField("score", T.FloatType(), True),
        ]
    )
    rows = [
        (1, dt.datetime(2020, 1, 1, 0, 0, 5, 123000), 0.1),
        (2, dt.datetime(2020, 1, 1, 0, 0, 5), 2.5),
        (3, dt.datetime(2020, 1, 1, 0, 0, 6), None),
    ]
    t = spark.createDataFrame(rows, schema)
    cons = {"t": {"pk": ["id"], "fks": []}}
    full = TripleStore(direct_map(spark, {"t": t}, cons, base=BASE))
    lazy = DirectMappingStore(spark, {"t": t}, cons, base=BASE)

    # both rows 1 and 2 lexicalize to the same truncated form
    pat = {"p": f"{BASE}t#at", "o": "2020-01-01T00:00:05"}
    want = sorted(map(tuple, full.get_statements(**pat).collect()))
    got = sorted(map(tuple, lazy.get_statements(**pat).collect()))
    assert len(got) == 2 and got == want

    # float32: the emitted lexical must round-trip through the lazy store
    for r in full.get_statements(p=f"{BASE}t#score").collect():
        pat = {"p": f"{BASE}t#score", "o": r.o_value}
        got = lazy.get_statements(**pat).collect()
        assert [x.o_value for x in got] == [r.o_value], pat


def test_dm_store_bound_object_pushes_typed_filter(spark, tables, tmp_path):
    """Bound (p, o) must become a TYPED source-column equality that reaches
    the parquet scan as a pushed filter, with the scan pruned to the columns
    that pattern needs (pk + ename) — the Spark analog of the reference's
    targeted `WHERE col = ?` SQL for bound objects."""
    path = str(tmp_path / "emp.parquet")
    tables["emp"].write.parquet(path)
    emp = spark.read.parquet(path)
    lazy = DirectMappingStore(spark, {"emp": emp}, CONSTRAINTS, base=BASE)
    df = lazy.get_statements(p=f"{BASE}emp#ename", o="SMITH")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "EqualTo(ename,SMITH)" in plan, plan
    assert "ReadSchema" in plan and "job" not in plan.split("ReadSchema")[1], plan
    rows = df.collect()
    assert len(rows) == 1 and rows[0].s_value == f"{BASE}emp/empno=7369"
    lazy = DirectMappingStore(spark, {"emp": tables["emp"]}, CONSTRAINTS, base=BASE)

    # fk-object: decoded back into child fk-column equality, join-free
    df2 = lazy.get_statements(p=f"{BASE}emp#ref-deptno", o=f"{BASE}dept/deptno=20")
    assert [r.s_value for r in df2.collect()] == [f"{BASE}emp/empno=7499"]
    plan2 = df2._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan2


def test_bgp_join_chain_books_authors(spark, tables):
    """BGP chain (?b type books)(?b ref-author ?a)(?a surname ?n): joins on
    full term identity, one row per matching book/author pair. book 3 has a
    NULL fk (no ref triple) and must not appear."""
    store = TripleStore(_full_graph(spark, tables))
    rows = store.bgp(
        [
            ("?b", RDF_TYPE, f"{BASE}books"),
            ("?b", f"{BASE}books#ref-author_id", "?a"),
            ("?a", f"{BASE}authors#surname", "?n"),
        ]
    ).collect()
    got = sorted((r.b.value, r.a.value, r.n.value) for r in rows)
    assert got == [
        (f"{BASE}books/book_id=1", f"{BASE}authors/author_id=10", "Graeber"),
        (f"{BASE}books/book_id=2", f"{BASE}authors/author_id=11", "Nordmann"),
        (f"{BASE}books/book_id=4", f"{BASE}authors/author_id=10", "Graeber"),
    ]
    # term structs carry full identity: surname is a plain literal
    assert {(r.n.kind, r.n.datatype, r.n.lang) for r in rows} == {("literal", None, None)}


def test_bgp_repeated_var_and_ask(spark, tables):
    """A variable repeated WITHIN a pattern filters same-row term equality
    (no author is their own surname -> empty); a fully-bound pattern acts
    as an ASK filter: true keeps solutions unchanged, false empties them."""
    store = TripleStore(_full_graph(spark, tables))
    assert store.bgp([("?x", f"{BASE}authors#surname", "?x")]).count() == 0

    base_q = [("?a", f"{BASE}authors#surname", "?n")]
    ask_true = (f"{BASE}books/book_id=1", RDF_TYPE, f"{BASE}books")
    ask_false = (f"{BASE}books/book_id=999", RDF_TYPE, f"{BASE}books")
    assert store.bgp([*base_q, ask_true]).count() == 2
    assert store.bgp([*base_q, ask_false]).count() == 0
    # ask columns are dropped from the output
    assert store.bgp([*base_q, ask_true]).columns == ["a", "n"]


def test_bgp_term_identity_join_discriminates_kinds(spark):
    """Join keys must compare kind+datatype, not just the lexical value: an
    IRI whose value string equals a literal's lexical must NOT join."""
    schema = ("s_kind string, s_value string, p_value string, o_kind string, "
              "o_value string, o_datatype string, o_lang string, g_value string")
    x = "http://collide/"
    triples = spark.createDataFrame([
        ("iri", "http://a/1", "http://p/lit", "literal", x, None, None, None),
        ("iri", x, "http://p/next", "iri", "http://b/2", None, None, None),
    ], schema)
    store = TripleStore(triples)
    # ?m binds a LITERAL in pattern 1 and a SUBJECT (iri) in pattern 2:
    # same value string, different kinds -> no solution
    assert store.bgp([
        ("?s", "http://p/lit", "?m"),
        ("?m", "http://p/next", "?o"),
    ]).count() == 0
    # same-kind join works
    triples2 = triples.union(spark.createDataFrame([
        ("iri", "http://a/1", "http://p/iri", "iri", x, None, None, None)
    ], schema))
    assert TripleStore(triples2).bgp([
        ("?s", "http://p/iri", "?m"),
        ("?m", "http://p/next", "?o"),
    ]).count() == 1


def test_bgp_virtual_store_matches_materialized(spark, tables):
    """DirectMappingStore.bgp (per-pattern pushed-filter plans, no
    materialized graph) must produce the same solutions as the
    TripleStore over the materialized DM graph."""
    sub = {t: tables[t] for t in ("books", "authors")}
    virt = DirectMappingStore(spark, sub, CONSTRAINTS, base=BASE)
    mat = TripleStore(direct_map(spark, sub, CONSTRAINTS, base=BASE))
    q = [
        ("?b", f"{BASE}books#ref-author_id", "?a"),
        ("?a", f"{BASE}authors#forename", "?f"),
        ("?b", f"{BASE}books#title", "?t"),
    ]
    want = sorted((r.b.value, r.a.value, r.f.value, r.t.value)
                  for r in mat.bgp(q).collect())
    got = sorted((r.b.value, r.a.value, r.f.value, r.t.value)
                 for r in virt.bgp(q).collect())
    assert got == want and len(got) == 3


class _ProbeStore:
    """Records the ORDER in which match_bgp schedules patterns (each
    pattern's frame is built via exactly one get_statements call, in join
    order — the first call is the seed/anchor). Delegates everything,
    including ``estimate_pattern_rows`` only when the inner store has one."""

    def __init__(self, inner):
        self.inner = inner
        self.calls: list[tuple] = []
        if hasattr(inner, "estimate_pattern_rows"):
            self.estimate_pattern_rows = inner.estimate_pattern_rows

    def get_statements(self, s=None, p=None, o=None, **kw):
        self.calls.append((s, p, o))
        return self.inner.get_statements(s=s, p=p, o=o, **kw)


def test_bgp_ask_patterns_are_terminal(spark, tables):
    """ADVICE r5 #4: fully-bound (ASK) patterns are excluded from the
    selectivity ordering and applied AFTER the variable-bearing chain as
    terminal cross-joined semi-filters — they must never seed the join."""
    from p5_rdf_rdb2rdf_spark.store import match_bgp

    store = TripleStore(_full_graph(spark, tables))
    probe = _ProbeStore(store)
    ask = (f"{BASE}books/book_id=1", RDF_TYPE, f"{BASE}books")
    q = [
        ask,  # 3-bound: the OLD ordering scheduled this first
        ("?b", f"{BASE}books#ref-author_id", "?a"),
        ("?a", f"{BASE}authors#surname", "?n"),
    ]
    out = match_bgp(probe, q)
    assert probe.calls[-1] == ask  # terminal, not the seed
    assert all(c != ask for c in probe.calls[:-1])
    assert out.count() == 3 and sorted(out.columns) == ["a", "b", "n"]
    # a BGP of only ASK patterns still answers (1 row iff all hold)
    assert match_bgp(store, [ask]).count() == 1
    missing = (f"{BASE}books/book_id=999", RDF_TYPE, f"{BASE}books")
    assert match_bgp(store, [ask, missing]).count() == 0


def test_dm_estimate_s_bound_var_predicate_bound_object_width(spark, tables):
    """s-bound + variable-predicate + bound-object: one row can match the
    bound object from SEVERAL columns, so the estimate is the row width
    (columns+fks+1), not 1 (ADVICE r6 #2). s+p bound stays 1."""
    sub = {t: tables[t] for t in ["emp", "dept"]}
    store = DirectMappingStore(spark, sub, CONSTRAINTS, base=BASE)
    width = len(sub["emp"].schema.fields) + 2
    est = store.estimate_pattern_rows(s=f"{BASE}emp/empno=7369", o="SMITH")
    assert est == width
    # actual multi-column match never exceeds the claimed bound
    spark.createDataFrame(
        [(1, "x", "x")], "id int, a string, b string"
    ).createOrReplaceTempView("_tmp_unused")
    assert (
        store.estimate_pattern_rows(
            s=f"{BASE}emp/empno=7369", p=f"{BASE}emp#ename"
        )
        == 1
    )
