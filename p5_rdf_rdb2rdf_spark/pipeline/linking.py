"""Entity linking: surface forms -> candidate entities, with vectorized
scoring against a broadcast dictionary (BASELINE.json north_star:
"entity-link scoring done in vectorized pandas/Arrow UDFs", "broadcast
dictionaries for hot entities"; SURVEY.md O39).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def entity_dictionary(spark: SparkSession, vocab_rows: list[tuple[str, str, str]]) -> DataFrame:
    """(entity_id, surface, type, canonical) dictionary DataFrame.

    The canonical surface (min per entity) is computed driver-side — the
    vocab is already a Python list, and deriving it with a groupBy + join
    would cost two extra Spark jobs of pure scheduling latency per pipeline
    run on what is by definition broadcast-sized data."""
    canon: dict[str, str] = {}
    for eid, surface, _t in vocab_rows:
        canon[eid] = surface if eid not in canon else min(canon[eid], surface)
    rows = [(eid, s, t, canon[eid]) for eid, s, t in vocab_rows]
    # via pandas so createDataFrame takes the Arrow path (enabled in
    # session.py): the plain-list path pickles every row through py4j,
    # measured ~0.3s per pipeline run for a ~30k-row vocabulary (r8)
    pdf = pd.DataFrame(
        rows, columns=["entity_id", "surface", "type", "canonical"]
    )
    return spark.createDataFrame(
        pdf, "entity_id string, surface string, type string, canonical string"
    )


@F.pandas_udf(T.DoubleType())
def link_score(surface: pd.Series, canonical: pd.Series) -> pd.Series:
    """Vectorized link scoring: exact-canonical 1.0, alias 0.9 - small
    length penalty (a stand-in for a real embedding/edit-distance scorer;
    the Spark-side plumbing — Arrow batches, two string columns in, one
    double out — is the production shape)."""
    exact = (surface == canonical).astype(float)
    lp = (surface.str.len() - canonical.str.len()).abs().clip(upper=10) / 100.0
    return exact + (1.0 - exact) * (0.9 - lp)


def candidate_edges(linked: DataFrame) -> DataFrame:
    """Linked mentions -> candidate entity-link edges for canonicalization:
    (surface-node, entity-node) pairs, deduped. Node namespace prefixes keep
    the bipartite graph unambiguous."""
    return (
        linked.select(
            F.concat(F.lit("s:"), F.col("surface")).alias("src"),
            F.concat(F.lit("e:"), F.col("entity_id")).alias("dst"),
        )
        .distinct()
    )
