"""Seeded input generation for the benchmark (the prepare step).

Everything here runs before a workload's set-up clock starts and is kept
out of every timed figure. The same seed always yields byte-identical
inputs; the program under test only ever sees the files written here.

- ``write_tables``: a TPC-H-ish star schema (region, nation, customer,
  supplier, part, orders, lineitem, events) with the column names and types
  ``__spark_entry__.TPCH_CONSTRAINTS`` and ``_R2RML_ORDERS`` expect. Like
  the reference test data, ``lineitem`` does not enforce its composite key:
  about a quarter of its rows repeat an ``(l_orderkey, l_linenumber)`` pair.
- ``corpus_window`` / ``corpus_expectation``: windows of the deterministic
  interleaved corpus (``pipeline.corpus.synth_corpus``'s content), each with
  its closed-form fact set and provenance count.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "error", "login"]
PART_WORDS = ["small", "red", "large", "blue", "ring", "widget", "bolt", "gear"]

# rows per unit of scale factor, as in the reference test data
# (sf0.01 = 1,500 customers, 15,000 orders, 60,000 lineitems)
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}


def _with_nulls(rng: np.random.Generator, values: np.ndarray, rate: float) -> list:
    """Object array with ``rate`` of its entries replaced by None (NULL
    suppression is part of the mapping semantics under test)."""
    out = values.astype(object)
    out[rng.random(len(out)) < rate] = None
    return out


def make_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(r * sf)) for t, r in ROWS_PER_SF.items()}
    ts0 = np.datetime64("1992-01-01T00:00:00", "us")
    day = np.timedelta64(86_400_000_000, "us")
    t = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    nc = n["customer"]
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
            "c_mktsegment": _with_nulls(rng, rng.choice(SEGMENTS, nc), 0.01),
        }
    )
    ns = n["supplier"]
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
        }
    )
    npart = n["part"]
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(PART_WORDS[:4], npart), rng.choice(PART_WORDS[4:], npart)
                )
            ],
            "p_brand": _with_nulls(
                rng, np.char.add("Brand#", rng.integers(1, 50, npart).astype(str)), 0.01
            ),
            "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2),
        }
    )
    no = n["orders"]
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": np.round(rng.uniform(800, 500_000, no), 2),
            "o_orderdate": ts0 + rng.integers(0, 2400, no) * day,
            "o_orderpriority": _with_nulls(rng, rng.choice(PRIORITIES, no), 0.01),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 100_000, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _with_nulls(rng, rng.choice(["A", "N", "R"], nl), 0.01),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": ts0 + rng.integers(0, 2500, nl) * day,
        }
    )
    ne = n["events"]
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us")
            + np.sort(rng.integers(0, 30 * 86_400_000_000, ne)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, 100, ne).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.round(rng.uniform(0, 100, ne), 2),
            "props": _with_nulls(
                rng, np.char.add('{"k": ', np.char.add(rng.integers(0, 100, ne).astype(str), "}")), 0.02
            ),
        }
    )
    return t


def write_tables(out_dir: str, tables: dict[str, pd.DataFrame]) -> str:
    """One single-row-group parquet file per table, the reference layout."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return out_dir


# ---------------------------------------------------------------------------
# interleaved corpus windows


def corpus_expectation(first: int, n_docs: int) -> tuple[set, int]:
    """Closed-form (fact triple set, provenance triple count) for docs
    ``first .. first+n_docs-1``: the corpus module's closed-form span
    formulas (``_n_spans``, ``_is_text``, ``_a_idx``, ``_b_idx``,
    ``_template_idx``) restated over numpy arrays, which agree with
    ``corpus.expected_triples`` on every prefix window.

    A provenance triple is (doc, mentions, subject entity): one per distinct
    subject entity among a doc's text spans."""
    from p5_rdf_rdb2rdf_spark.pipeline import corpus as C

    d = np.arange(first, first + n_docs, dtype=np.int64)[:, None]
    i = np.arange(13, dtype=np.int64)[None, :]
    live = (i < 1 + (d * 7 + 3) % 12) & ((d + i) % 2 == 0)
    a = np.where((d % C.HOT_DOC_MOD == 0) & (i == 0), 0, (d * 29 + i * 31) % C.N_ENTITIES)
    b = (d * 37 + i * 41 + 1) % C.N_ENTITIES
    tpl = (d * 17 + i * 23) % len(C.TEMPLATES)
    dd = np.broadcast_to(d, live.shape)[live]
    a, b, tpl = a[live], b[live], tpl[live]
    facts = {
        (C.KG + C.entity_id(x), C.TEMPLATES[t][1], C.KG + C.entity_id(y))
        for x, t, y in set(zip(a.tolist(), tpl.tolist(), b.tolist()))
    }
    prov = len(np.unique(dd * C.N_ENTITIES + a))
    return facts, prov


def corpus_window(out_dir: str, first: int, n_docs: int, n_files: int) -> str:
    """Docs ``first .. first+n_docs-1`` of the interleaved corpus as
    ``n_files`` parquet files, in ``synth_corpus``'s schema and with its
    content: the same closed-form span formulas, evaluated with numpy and
    Arrow compute so no Spark job runs before set-up starts."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from p5_rdf_rdb2rdf_spark.pipeline import corpus as C

    os.makedirs(out_dir, exist_ok=True)
    d = np.arange(first, first + n_docs, dtype=np.int64)[:, None]
    i = np.arange(13, dtype=np.int64)[None, :]
    n_spans = 1 + (d[:, 0] * 7 + 3) % 12
    live = i < n_spans[:, None]
    dd, ii = np.broadcast_to(d, live.shape)[live], np.broadcast_to(i, live.shape)[live]
    is_text = pa.array((dd + ii) % 2 == 0)
    canonical = pa.array([C.canonical_surface(k) for k in range(C.N_ENTITIES)])
    aliases = pa.array([C.alias_surface(k) for k in range(C.N_ENTITIES)])

    def surface(pos, idx):
        alias = (idx % C.ALIAS_EVERY == 0) & ((dd + pos) % 3 == 0)
        return pc.if_else(pa.array(alias), aliases.take(idx), canonical.take(idx))

    a = np.where((dd % C.HOT_DOC_MOD == 0) & (ii == 0), 0, (dd * 29 + ii * 31) % C.N_ENTITIES)
    b = (dd * 37 + ii * 41 + 1) % C.N_ENTITIES
    tpl = (dd * 17 + ii * 23) % len(C.TEMPLATES)
    mids = pa.array([t.replace("{a}", "").split("{b}")[0] for t, _p in C.TEMPLATES])
    tails = pa.array([t.split("{b}")[1] for t, _p in C.TEMPLATES])
    text = pc.binary_join_element_wise(
        surface(ii, a), mids.take(tpl), surface(ii + 1, b), tails.take(tpl), ""
    )
    kind = pc.if_else(is_text, "text", pa.array(C.MEDIA_KINDS).take((dd * 11 + ii) % 3))
    doc_ids = pa.array([f"doc-{k:08d}" for k in range(first, first + n_docs)])
    media = pc.binary_join_element_wise(
        "media://", kind, "/", doc_ids.take(dd - first), "/",
        pa.array([str(k) for k in range(13)]).take(ii), "",
    )
    null = pa.scalar(None, pa.string())
    spans = pa.StructArray.from_arrays(
        [
            kind,
            pc.if_else(is_text, text, null),
            pc.if_else(is_text, null, media),
            pa.array(ii.astype(np.int32)),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    offsets = pa.array(np.concatenate([[0], np.cumsum(n_spans)]).astype(np.int32))
    table = pa.table({"doc_id": doc_ids, "spans": pa.ListArray.from_arrays(offsets, spans)})
    step = -(-n_docs // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), os.path.join(out_dir, f"part-{k:05d}.parquet"))
    return out_dir
