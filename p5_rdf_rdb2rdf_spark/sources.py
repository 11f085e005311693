"""Relational sources — the engine's analog of the reference's DBI handle.

The reference connects to any DBI-supported RDBMS and introspects it
(``RDF::RDB2RDF::DirectMapping->process($dbh)``). Here a "database" is a
dict of table-name -> DataFrame plus a constraints manifest; this module
builds that dict from a directory of parquet files (one per table). Any
other Spark source (a catalog namespace, JDBC) yields the same
``dict[str, DataFrame]`` through ``spark.table`` / ``spark.read``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def from_parquet_dir(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Every ``<table>.parquet`` under ``path`` becomes a table, also
    registered as a temp view of that name."""
    out: dict[str, DataFrame] = {}
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        table = name[: -len(".parquet")]
        df = spark.read.parquet(os.path.join(path, name))
        df.createOrReplaceTempView(table)
        out[table] = df
    return out
