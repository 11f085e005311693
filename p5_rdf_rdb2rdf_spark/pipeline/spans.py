"""Span explode / reassemble + the per-row span-sequence invariant
(BASELINE.json input_hint; SURVEY.md O40).

Invariant: after every stage, the per-doc sequence
``[(kind, text, media_ref) ordered by offset]`` equals the input's.
``span_invariant_violations`` returns a DataFrame of offending doc_ids
(empty == invariant holds) — run as an assertion transform in tests and as a
cheap audit in the staged pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def explode_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, spans[]) -> one row per span, preserving offset order info."""
    return docs.select(
        "doc_id", F.explode("spans").alias("span")
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def reassemble_docs(spans: DataFrame) -> DataFrame:
    """Inverse of explode: group spans back into offset-ordered arrays.

    sort_array on struct(offset, ...) orders by offset first (struct
    comparison is field-order lexicographic) — no window/shuffle-sort needed.
    """
    return spans.groupBy("doc_id").agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("offset").alias("offset"),
                        F.col("kind").alias("kind"),
                        F.col("text").alias("text"),
                        F.col("media_ref").alias("media_ref"),
                    )
                )
            ),
            lambda s: F.struct(
                s.kind.alias("kind"),
                s.text.alias("text"),
                s.media_ref.alias("media_ref"),
                s.offset.alias("offset"),
            ),
        ).alias("spans")
    )


def _canon_seq(docs: DataFrame) -> DataFrame:
    """doc_id -> canonical (kind, text, media_ref) sequence ordered by offset."""
    return docs.select(
        "doc_id",
        F.transform(
            F.array_sort(
                F.col("spans"),
                lambda a, b: F.when(a.offset < b.offset, -1)
                .when(a.offset > b.offset, 1)
                .otherwise(0),
            ),
            lambda s: F.struct(
                s.kind.alias("kind"), s.text.alias("text"), s.media_ref.alias("media_ref")
            ),
        ).alias("seq"),
    )


def span_invariant_violations(original: DataFrame, current: DataFrame) -> DataFrame:
    """Docs whose span sequence changed (or disappeared). Empty => OK.

    Cost model: one shuffle on doc_id; sequences compare as arrays (no
    explode), so the audit is O(docs) not O(spans x stages).
    """
    a = _canon_seq(original).alias("a")
    b = _canon_seq(current).alias("b")
    joined = a.join(b, on="doc_id", how="full_outer")
    return joined.where(
        F.col("a.seq").isNull()
        | F.col("b.seq").isNull()
        | (F.col("a.seq") != F.col("b.seq"))
    ).select("doc_id")
