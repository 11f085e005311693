"""Deterministic interleaved-document corpus (FIXTURES.md §1; SURVEY.md O41).

Input shape mandated by BASELINE.json::input_hint:

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

Two generators:

1. :func:`synth_corpus` — standalone corpus at any scale, built with
   ``spark.range`` + pure integer-arithmetic expressions (NO rand(), NO
   wall-clock, NO engine-specific hash), so the **expected mentions/triples
   are exactly computable in plain Python** (:func:`expected_docs`,
   :func:`expected_mentions`) without running the engine. Used by pipeline
   golden tests and the bench corpus.

2. :func:`spans_from_documents` — derives the interleaved shape
   deterministically from the driver's flat ``documents`` parquet table, with
   a DuckDB-SQL twin (:data:`SPANS_FROM_DOCUMENTS_SQL`) so pipeline operators
   are oracle-checkable through the ``__spark_entry__`` contract.

Vocabulary design: ~100 entities ``E000..E099``; entity ``i`` has canonical
surface ``entity%03d``; every 10th entity also has an alias surface
``alias%03d`` (exercises linking + CC canonicalization); entity 0 is *hot* —
it appears in every 5th document's first span (exercises skew handling,
SURVEY.md O39). Three sentence templates, each tied to a known predicate, so
(subj, pred, obj) expectations are closed-form.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_ENTITIES = 100
ALIAS_EVERY = 10
HOT_DOC_MOD = 5  # every 5th doc opens with the hot entity E000

TEMPLATES = [
    ("{a} works at {b} .", "http://example.org/kg/worksAt"),
    ("{a} wrote {b} .", "http://example.org/kg/wrote"),
    ("{a} knows {b} .", "http://example.org/kg/knows"),
]
MEDIA_KINDS = ["image", "audio", "table"]

KG = "http://example.org/kg/"


def entity_id(i: int) -> str:
    return f"E{i:03d}"


def canonical_surface(i: int) -> str:
    return f"entity{i:03d}"


def alias_surface(i: int) -> str:
    return f"alias{i:03d}"


def entity_vocab() -> list[tuple[str, str, str]]:
    """(entity_id, surface, type) rows — canonical surfaces plus aliases for
    every 10th entity (two surface forms -> one entity)."""
    rows = []
    for i in range(N_ENTITIES):
        etype = "Person" if i % 2 == 0 else "Org"
        rows.append((entity_id(i), canonical_surface(i), etype))
        if i % ALIAS_EVERY == 0:
            rows.append((entity_id(i), alias_surface(i), etype))
    return rows


# ---------------------------------------------------------------------------
# closed-form span math (shared by the Spark generator and the Python oracle)


def _n_spans(d: int) -> int:
    return 1 + (d * 7 + 3) % 12


def _is_text(d: int, i: int) -> bool:
    return (d + i) % 2 == 0


def _media_kind(d: int, i: int) -> str:
    return MEDIA_KINDS[(d * 11 + i) % 3]


def _template_idx(d: int, i: int) -> int:
    return (d * 17 + i * 23) % len(TEMPLATES)


def _a_idx(d: int, i: int) -> int:
    if d % HOT_DOC_MOD == 0 and i == 0:
        return 0
    return (d * 29 + i * 31) % N_ENTITIES


def _b_idx(d: int, i: int) -> int:
    return (d * 37 + i * 41 + 1) % N_ENTITIES


def _use_alias(d: int, i: int, idx: int) -> bool:
    return idx % ALIAS_EVERY == 0 and (d + i) % 3 == 0


def _surface(d: int, i: int, idx: int) -> str:
    return alias_surface(idx) if _use_alias(d, i, idx) else canonical_surface(idx)


def _span_text(d: int, i: int) -> str:
    tpl, _pred = TEMPLATES[_template_idx(d, i)]
    a = _surface(d, i, _a_idx(d, i))
    b = _surface(d, i + 1, _b_idx(d, i))
    return tpl.replace("{a}", a).replace("{b}", b)


# ---------------------------------------------------------------------------
# Python oracle (tests derive expectations without touching the engine)


@dataclass
class ExpectedSpan:
    kind: str
    text: str | None
    media_ref: str | None
    offset: int


def expected_docs(n_docs: int) -> dict[str, list[ExpectedSpan]]:
    out: dict[str, list[ExpectedSpan]] = {}
    for d in range(n_docs):
        doc_id = f"doc-{d:08d}"
        spans = []
        for i in range(_n_spans(d)):
            if _is_text(d, i):
                spans.append(ExpectedSpan("text", _span_text(d, i), None, i))
            else:
                k = _media_kind(d, i)
                spans.append(
                    ExpectedSpan(k, None, f"media://{k}/{doc_id}/{i}", i)
                )
        out[doc_id] = spans
    return out


def expected_mentions(n_docs: int) -> list[tuple[str, int, str, str, str]]:
    """(doc_id, offset, surface, entity_id, role) per text span — role 'a'|'b'."""
    rows = []
    for d in range(n_docs):
        doc_id = f"doc-{d:08d}"
        for i in range(_n_spans(d)):
            if not _is_text(d, i):
                continue
            ai, bi = _a_idx(d, i), _b_idx(d, i)
            rows.append((doc_id, i, _surface(d, i, ai), entity_id(ai), "a"))
            rows.append((doc_id, i, _surface(d, i + 1, bi), entity_id(bi), "b"))
    return rows


def expected_triples(n_docs: int) -> set[tuple[str, str, str]]:
    """Canonicalized (subj_entity_iri, pred_iri, obj_entity_iri) set."""
    out = set()
    for d in range(n_docs):
        for i in range(_n_spans(d)):
            if not _is_text(d, i):
                continue
            _tpl, pred = TEMPLATES[_template_idx(d, i)]
            s = KG + entity_id(_a_idx(d, i))
            o = KG + entity_id(_b_idx(d, i))
            out.add((s, pred, o))
    return out


# ---------------------------------------------------------------------------
# Spark generator — spark.range + expressions only (scales to bench sizes)


def synth_corpus(spark: SparkSession, n_docs: int, partitions: int | None = None) -> DataFrame:
    """Interleaved corpus as a DataFrame; identical content to
    :func:`expected_docs` for every ``n_docs``."""
    df = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    d = F.col("id")
    doc_id = F.format_string("doc-%08d", d)

    n_tpl = len(TEMPLATES)
    surfaces = F.lit([canonical_surface(i) for i in range(N_ENTITIES)])
    aliases = F.lit([alias_surface(i) for i in range(N_ENTITIES)])  # idx%10!=0 unused
    media = F.lit(MEDIA_KINDS)

    def sf(dcol, icol, idx):
        use_alias = (idx % ALIAS_EVERY == 0) & ((dcol + icol) % 3 == 0)
        return F.when(use_alias, F.element_at(aliases, idx + 1)).otherwise(
            F.element_at(surfaces, idx + 1)
        )

    def span(i):
        """struct for span index i (a Column function over the row's d)."""
        is_text = (d + i) % 2 == 0
        a_idx = F.when((d % HOT_DOC_MOD == 0) & (i == F.lit(0)), F.lit(0)).otherwise(
            (d * 29 + i * 31) % N_ENTITIES
        ).cast("int")
        b_idx = ((d * 37 + i * 41 + 1) % N_ENTITIES).cast("int")
        tpl_idx = ((d * 17 + i * 23) % n_tpl).cast("int")
        a_s = sf(d, i, a_idx)
        b_s = sf(d, i + 1, b_idx)
        # template text: build each variant, pick by tpl_idx
        texts = [
            F.concat(a_s, F.lit(t[0].replace("{a}", "").split("{b}")[0]), b_s, F.lit(t[0].split("{b}")[1]))
            for t in TEMPLATES
        ]
        text = texts[0]
        for k in range(1, n_tpl):
            text = F.when(tpl_idx == k, texts[k]).otherwise(text)
        mk = F.element_at(media, ((d * 11 + i) % 3).cast("int") + 1)
        return F.when(
            is_text,
            F.struct(
                F.lit("text").alias("kind"),
                text.alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                i.cast("int").alias("offset"),
            ),
        ).otherwise(
            F.struct(
                mk.alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.concat(F.lit("media://"), mk, F.lit("/"), doc_id, F.lit("/"), i.cast("string")).alias(
                    "media_ref"
                ),
                i.cast("int").alias("offset"),
            )
        )

    n_spans = (1 + (d * 7 + 3) % 12).cast("int")
    spans = F.filter(
        F.transform(F.sequence(F.lit(0), F.lit(12)), lambda i: span(i.cast("bigint"))),
        lambda s, i: i < n_spans,
    )
    return df.select(doc_id.alias("doc_id"), spans.alias("spans"))


# NB: span() receives the *element* i as a Column; role-b alias choice uses
# position i+1 (sf(d, i+1, b_idx)) exactly as _surface(d, i+1, _b_idx(d, i))
# does in the Python oracle.


# ---------------------------------------------------------------------------
# derive interleaved spans from the driver's flat documents table
# (DuckDB twin below keeps pipeline ops oracle-checkable)


def spans_from_documents(documents: DataFrame) -> DataFrame:
    """Flat (doc_id, text, ...) -> interleaved (doc_id, spans) shape."""
    d = F.col("doc_id")
    text_span = F.struct(
        F.lit("text").alias("kind"),
        F.col("text").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    image_span = F.struct(
        F.lit("image").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.concat(F.lit("media://image/"), d.cast("string"), F.lit("/1")).alias("media_ref"),
        F.lit(1).alias("offset"),
    )
    audio_span = F.struct(
        F.lit("audio").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.concat(F.lit("media://audio/"), d.cast("string"), F.lit("/2")).alias("media_ref"),
        F.lit(2).alias("offset"),
    )
    spans = F.when(
        (d % 3 == 0) & (d % 5 == 0),
        F.array(text_span, image_span, audio_span),
    ).when(d % 3 == 0, F.array(text_span, image_span)).when(
        d % 5 == 0, F.array(text_span, audio_span)
    ).otherwise(F.array(text_span))
    return documents.select(
        d.cast("string").alias("doc_id"), spans.alias("spans")
    )

