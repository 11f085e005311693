"""Mapping IR — the common intermediate representation all three front ends
compile to, mirroring the reference's best architectural idea:
**R2RML compiles to Simple; Simple is the executor**
(anchor: ``lib/RDF/RDB2RDF/R2RML.pm`` -> ``Simple.pm``; SURVEY.md §1).

Here every front end (Simple JSON, R2RML Turtle, Direct Mapping introspection)
produces this IR, and one compiler (:mod:`.compiler`) lowers it to a
DataFrame plan. The IR is JSON round-trippable (``Simple.pm::to_json`` /
``from_json`` parity, SURVEY.md O37) so it can be checkpointed alongside each
pipeline stage for lineage.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, asdict
from typing import Any

TERM_IRI = "iri"
TERM_LITERAL = "literal"


@dataclass
class TermMap:
    """One of rr:template / rr:column / rr:constant (R2RML §7.2), plus an
    engine-internal 'expr' kind (SQL expression) used by Direct Mapping for
    deterministic no-PK blank-node labels and as the computed-term hook
    (SURVEY.md O26/O35).

    ``term_type`` in {'iri','blank','literal'}; defaults applied by the
    front ends per R2RML §7.4.1 (subject: IRI; object from column: Literal;
    object from template/constant IRI: IRI).
    """

    kind: str  # 'template' | 'column' | 'constant' | 'expr' | 'callable'
    template: str | None = None
    column: str | None = None
    constant_value: str | None = None
    constant_kind: str | None = None  # term kind of the constant
    term_type: str = TERM_IRI
    datatype: str | None = None  # explicit rr:datatype override
    language: str | None = None  # rr:language
    expr: str | None = None  # SQL expression (kind='expr')
    guard_columns: list[str] = field(default_factory=list)  # null guards for 'expr'
    # kind='callable' (SURVEY.md O35 — Simple.pm coderef terms): a Python
    # callable (pandas.Series per input column) -> pandas.Series, executed
    # as an Arrow-vectorized pandas UDF (never per-row Python)
    fn: Any = None
    fn_columns: list[str] = field(default_factory=list)

    @staticmethod
    def iri_constant(iri: str) -> "TermMap":
        return TermMap(kind="constant", constant_value=iri, constant_kind=TERM_IRI)

    @staticmethod
    def literal_constant(value: str, datatype: str | None = None, language: str | None = None) -> "TermMap":
        return TermMap(
            kind="constant",
            constant_value=value,
            constant_kind=TERM_LITERAL,
            term_type=TERM_LITERAL,
            datatype=datatype,
            language=language,
        )

    def referenced_columns(self) -> list[str]:
        if self.kind == "column":
            return [self.column]
        if self.kind == "template":
            return template_columns(self.template)
        return []


@dataclass
class RefObject:
    """rr:parentTriplesMap + rr:joinCondition list (R2RML §8; SURVEY.md O13/O14).

    ``join`` is a list of (child_column, parent_column) equi-pairs; empty
    list => same-logical-table elision (object built from the same row).
    """

    parent: str
    join: list[tuple[str, str]] = field(default_factory=list)


@dataclass
class PredicateObjectMap:
    predicates: list[TermMap] = field(default_factory=list)
    objects: list[Any] = field(default_factory=list)  # TermMap | RefObject
    graphs: list[TermMap] = field(default_factory=list)


@dataclass
class TriplesMap:
    name: str
    table: str | None = None  # rr:tableName / Simple `from`
    sql: str | None = None  # rr:sqlQuery (R2RML view)
    select: str | None = None  # Simple `select` projection passthrough
    subject: TermMap | None = None
    classes: list[str] = field(default_factory=list)  # rr:class IRIs
    graphs: list[TermMap] = field(default_factory=list)  # subject-level graph maps
    poms: list[PredicateObjectMap] = field(default_factory=list)


@dataclass
class Mapping:
    """A full mapping document: named triples maps + namespaces + base IRI."""

    triples_maps: dict[str, TriplesMap] = field(default_factory=dict)
    namespaces: dict[str, str] = field(default_factory=dict)
    base: str = ""

    # ---- JSON round trip (O37) ----
    def to_json(self, **kw: Any) -> str:
        for tm in self.triples_maps.values():
            terms = [tm.subject, *tm.graphs]
            for pom in tm.poms:
                terms += pom.predicates + [o for o in pom.objects if isinstance(o, TermMap)]
                terms += pom.graphs
            if any(t is not None and t.kind == "callable" for t in terms):
                # reference parity: Simple.pm coderef terms don't JSON
                # round-trip either — fail loudly instead of emitting junk
                raise ValueError(
                    f"mapping {tm.name!r} contains callable term maps; "
                    "callables are not JSON-serializable (O35/O37)"
                )
        return json.dumps(asdict(self), **kw)

    @staticmethod
    def from_json(s: str) -> "Mapping":
        raw = json.loads(s)
        m = Mapping(namespaces=raw.get("namespaces", {}), base=raw.get("base", ""))
        for name, tm in raw.get("triples_maps", {}).items():
            m.triples_maps[name] = _triples_map_from_dict(name, tm)
        return m

    def expand_curie(self, value: str) -> str:
        """CURIE -> IRI using the namespaces dict (SURVEY.md O34)."""
        return expand_curie(value, self.namespaces)


# ---- helpers ---------------------------------------------------------------

WELL_KNOWN_PREFIXES = {
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "owl": "http://www.w3.org/2002/07/owl#",
    "dc": "http://purl.org/dc/terms/",
    "dc11": "http://purl.org/dc/elements/1.1/",
    "foaf": "http://xmlns.com/foaf/0.1/",
    "skos": "http://www.w3.org/2004/02/skos/core#",
    "bibo": "http://purl.org/ontology/bibo/",
    "rr": "http://www.w3.org/ns/r2rml#",
}


def expand_curie(value: str, namespaces: dict[str, str]) -> str:
    """Expand ``dc:title`` style CURIEs; full IRIs pass through unchanged.

    Mirrors the reference's namespace handling (``Simple.pm::namespaces``,
    defaults from RDF::NS-style common prefixes — SURVEY.md O34 [MED])."""
    if "://" in value or value.startswith("urn:") or value.startswith("_:"):
        return value
    if ":" in value:
        prefix, local = value.split(":", 1)
        ns = namespaces.get(prefix) or WELL_KNOWN_PREFIXES.get(prefix)
        if ns:
            return ns + local
    return value


def template_columns(template: str) -> list[str]:
    """Column names referenced by an rr:template, honoring ``\\{``/``\\}``
    escapes (R2RML §7.3)."""
    return [seg for is_col, seg in parse_template(template) if is_col]


def parse_template(template: str) -> list[tuple[bool, str]]:
    """Split a template into (is_column, text) segments.

    ``"http://ex/{a}/{b}"`` -> [(False,'http://ex/'), (True,'a'), (False,'/'),
    (True,'b')]. Escapes ``\\{`` ``\\}`` produce literal braces; ``\\\\``
    a literal backslash.
    """
    parts: list[tuple[bool, str]] = []
    buf: list[str] = []
    i, n = 0, len(template)
    while i < n:
        c = template[i]
        if c == "\\" and i + 1 < n and template[i + 1] in "{}\\":
            buf.append(template[i + 1])
            i += 2
            continue
        if c == "{":
            j = template.index("}", i)
            if buf:
                parts.append((False, "".join(buf)))
                buf = []
            parts.append((True, template[i + 1 : j]))
            i = j + 1
            continue
        buf.append(c)
        i += 1
    if buf:
        parts.append((False, "".join(buf)))
    return parts


def _term_map_from_dict(d: dict[str, Any] | None) -> TermMap | None:
    if d is None:
        return None
    return TermMap(**d)


def _triples_map_from_dict(name: str, d: dict[str, Any]) -> TriplesMap:
    poms = []
    for p in d.get("poms", []):
        objects: list[Any] = []
        for o in p.get("objects", []):
            if "parent" in o:
                objects.append(RefObject(parent=o["parent"], join=[tuple(j) for j in o.get("join", [])]))
            else:
                objects.append(TermMap(**o))
        poms.append(
            PredicateObjectMap(
                predicates=[TermMap(**x) for x in p.get("predicates", [])],
                objects=objects,
                graphs=[TermMap(**x) for x in p.get("graphs", [])],
            )
        )
    return TriplesMap(
        name=name,
        table=d.get("table"),
        sql=d.get("sql"),
        select=d.get("select"),
        subject=_term_map_from_dict(d.get("subject")),
        classes=list(d.get("classes", [])),
        graphs=[TermMap(**x) for x in d.get("graphs", [])],
        poms=poms,
    )
