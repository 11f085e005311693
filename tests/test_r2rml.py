"""R2RML front end goldens (SURVEY.md M3: O2, O13, O20-O29; R2RML spec)."""

from __future__ import annotations

from pathlib import Path

from p5_rdf_rdb2rdf_spark.compiler import compile_mapping
from p5_rdf_rdb2rdf_spark.ntriples import to_ntriples
from p5_rdf_rdb2rdf_spark.r2rml import r2rml_to_ir
from p5_rdf_rdb2rdf_spark.turtle import parse_turtle

EX = "http://example.com/ns#"
EMP = "http://data.example.com/employee/"
DEPT = "http://data.example.com/department/"
XSD = "http://www.w3.org/2001/XMLSchema#"

TTL = (Path(__file__).resolve().parents[1] / "fixtures/mappings/emp.r2rml.ttl").read_text()


def _lines(spark, tables):
    ir = r2rml_to_ir(TTL)
    triples = compile_mapping(spark, ir, tables=tables)
    return set(to_ntriples(triples))


def test_turtle_parser_basics():
    ttl = """
    @prefix ex: <http://e/> .
    @base <http://b/> .
    ex:s ex:p "lit"@en , "typed"^^ex:dt ; ex:q <rel> ; ex:n 5 ; ex:d 5.5 ; ex:b true .
    [] ex:anon [ ex:inner "x" ] .
    _:l ex:p ex:o .
    """
    triples = parse_turtle(ttl)
    spo = {(s[1], p[1]) for s, p, o in triples}
    assert ("http://e/s", "http://e/p") in spo
    objs = [o for s, p, o in triples if p[1] == "http://e/p" and s[1] == "http://e/s"]
    assert ("literal", "lit", None, "en") in objs
    assert ("literal", "typed", "http://e/dt", None) in objs
    rel = [o for s, p, o in triples if p[1] == "http://e/q"][0]
    assert rel == ("iri", "http://b/rel")
    nums = {o[1:3] for s, p, o in triples if p[1] in ("http://e/n", "http://e/d", "http://e/b")}
    assert ("5", XSD + "integer") in nums
    assert ("5.5", XSD + "decimal") in nums
    assert ("true", XSD + "boolean") in nums


def test_r2rml_template_class_column(spark, tables):
    lines = _lines(spark, tables)
    assert f"<{EMP}7369> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <{EX}Employee> ." in lines
    assert f'<{EMP}7369> <{EX}name> "SMITH" .' in lines


def test_r2rml_language_and_datatype(spark, tables):
    lines = _lines(spark, tables)
    assert f'<{EMP}7369> <{EX}job> "CLERK"@en .' in lines
    assert f'<{EMP}7369> <{EX}jobCode> "CLERK"^^<{XSD}string> .' in lines
    # column object natural datatype (int -> xsd:integer)
    assert f'<{EMP}7369> <{EX}empnoLit> "7369"^^<{XSD}integer> .' in lines


def test_r2rml_termtype_blank_template(spark, tables):
    lines = _lines(spark, tables)
    assert f"<{EMP}7369> <{EX}shadow> _:emp-7369 ." in lines


def test_r2rml_constant_shortcut_literal(spark, tables):
    lines = _lines(spark, tables)
    assert f'<{EMP}7369> <{EX}constantNote> "fixed note"@en .' in lines


def test_r2rml_ref_object_join(spark, tables):
    """O13: rr:joinCondition equi-join; NULL deptno row emits no triple."""
    lines = _lines(spark, tables)
    assert f"<{EMP}7369> <{EX}department> <{DEPT}10> ." in lines
    assert f"<{EMP}7499> <{EX}department> <{DEPT}20> ." in lines
    # WARD has NULL deptno -> null-rejecting join drops it
    assert not any(ln.startswith(f"<{EMP}7521> <{EX}department>") for ln in lines)


def test_r2rml_sql_query_view(spark, tables):
    """O2: rr:sqlQuery runs through spark.sql; computed column mapped."""
    lines = _lines(spark, tables)
    g = "<http://example.com/graph/dept>"
    assert f'<{DEPT}10> <{EX}staff> "1"^^<{XSD}integer> {g} .' in lines
    assert f'<{DEPT}20> <{EX}staff> "1"^^<{XSD}integer> {g} .' in lines


def test_r2rml_graph_maps(spark, tables):
    """R2RML §9: subject-level graphMap applies to class+POM triples unless
    a POM-level rr:defaultGraph routes back to the default graph."""
    ir = r2rml_to_ir(TTL)
    triples = compile_mapping(spark, ir, tables=tables)
    rows = triples.collect()
    g = "http://example.com/graph/dept"
    by_pred = {}
    for r in rows:
        by_pred.setdefault(r.p_value, set()).add(r.g_value)
    assert by_pred[f"{EX}deptName"] == {g}
    # location POM has both subject graph AND explicit defaultGraph
    assert by_pred[f"{EX}location"] == {g, None}
    assert by_pred["http://www.w3.org/1999/02/22-rdf-syntax-ns#type"] >= {g}


def test_compile_mapping_tracks_current_source_and_flags(spark):
    """Every call compiles against the sources it is given: a different
    DataFrame bound to the same table name compiles to that frame's data,
    and ``dedup`` changes the plan (set semantics vs. bag)."""
    ttl = """
    @prefix rr: <http://www.w3.org/ns/r2rml#> .
    <#T> rr:logicalTable [ rr:tableName "src_t" ] ;
      rr:subjectMap [ rr:template "http://x/{k}" ] ;
      rr:predicateObjectMap [ rr:predicate <http://p/v> ;
        rr:objectMap [ rr:column "v" ] ] .
    """
    ir = r2rml_to_ir(ttl)
    df1 = spark.createDataFrame([(1, "a")], "k int, v string")
    out1 = compile_mapping(spark, ir, tables={"src_t": df1}, dedup=False)
    assert {r.o_value for r in out1.collect()} == {"a"}

    df2 = spark.createDataFrame([(2, "b"), (2, "b")], "k int, v string")
    out2 = compile_mapping(spark, ir, tables={"src_t": df2}, dedup=False)
    assert [(r.s_value, r.o_value) for r in out2.collect()] == [("http://x/2", "b")] * 2
    # same mapping and source, dedup=True: a different plan, one triple
    out3 = compile_mapping(spark, ir, tables={"src_t": df2}, dedup=True)
    assert not out3.sameSemantics(out2)
    assert [(r.s_value, r.o_value) for r in out3.collect()] == [("http://x/2", "b")]
