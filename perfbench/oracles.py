"""Engine-independent answers the benchmark checks every operation against.

Expected values come from DuckDB over the source parquet or from closed-form
Python; observed values come from DuckDB over the graph table's committed
parquet files. Spark is never used to compute an expected value.
"""

from __future__ import annotations

import os

import duckdb

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
TRIPLE_COLS = "s_kind, s_value, p_value, o_kind, o_value, o_datatype, o_lang, g_value"


def _views(con, tables_dir: str, names) -> None:
    for t in names:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')"
        )


def dm_predicate_counts(tables_dir: str, constraints: dict, tables: list[str]) -> dict:
    """Distinct Direct Mapping triples per predicate, keyed by the predicate
    IRI with the base left as ``{base}``.

    Per table with key K: one rdf:type triple per distinct K, one literal
    triple per distinct (K, column value) with a non-NULL value, one
    reference triple per distinct (K, foreign-key value) with no NULL key
    part. Distinct over K collapses the rows of a table whose declared key
    the data does not enforce (lineitem)."""
    con = duckdb.connect()
    _views(con, tables_dir, tables)
    out: dict[str, int] = {}

    def n_distinct(t: str, cols: list[str]) -> int:
        where = " AND ".join(f"{c} IS NOT NULL" for c in cols)
        sql = f"SELECT count(*) FROM (SELECT DISTINCT {', '.join(cols)} FROM {t} WHERE {where})"
        return con.execute(sql).fetchone()[0]

    for t in tables:
        pk = constraints[t]["pk"]
        cols = [r[0] for r in con.execute(f"DESCRIBE {t}").fetchall()]
        out[RDF_TYPE] = out.get(RDF_TYPE, 0) + n_distinct(t, pk)
        for c in cols:
            out[f"{{base}}{t}#{c}"] = n_distinct(t, list(dict.fromkeys([*pk, c])))
        for fk in constraints[t]["fks"]:
            key = f"{{base}}{t}#ref-{';'.join(fk['cols'])}"
            out[key] = n_distinct(t, list(dict.fromkeys([*pk, *fk["cols"]])))
    con.close()
    return out


def r2rml_predicate_counts(tables_dir: str, oracle_sql: str) -> dict:
    """Per-predicate counts of the repo's own DuckDB twin of the
    orders x customer R2RML mapping (``__spark_entry__.oracle_sql()``)."""
    con = duckdb.connect()
    _views(con, tables_dir, ["orders", "customer"])
    rows = con.execute(
        f"SELECT p_value, count(*) FROM ({oracle_sql}) GROUP BY p_value"
    ).fetchall()
    con.close()
    return dict(rows)


def parquet_glob(dirs: list[str]) -> str:
    return "[" + ", ".join(f"'{d}/**/*.parquet'" for d in dirs) + "]"


def snapshot_dirs(gt) -> list[str]:
    snap = gt.current_snapshot()
    return snap.get("dirs", [snap["dir"]])


class GraphFiles:
    """DuckDB over one graph-table snapshot's committed parquet files."""

    def __init__(self, dirs: list[str]):
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE VIEW g AS SELECT {TRIPLE_COLS} FROM read_parquet({parquet_glob(dirs)})"
        )

    def close(self) -> None:
        self.con.close()

    def scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]

    def rows(self, sql: str) -> list:
        return self.con.execute(sql).fetchall()

    def predicate_counts(self) -> dict:
        return dict(self.rows("SELECT p_value, count(*) FROM g GROUP BY p_value"))

    def total(self) -> int:
        return self.scalar("SELECT count(*) FROM g")


def file_bytes(dirs: list[str]) -> int:
    total = 0
    for d in dirs:
        for root, _dirs, files in os.walk(d):
            total += sum(
                os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet")
            )
    return total
