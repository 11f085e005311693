"""RDF term model and canonical lexical forms.

Reference parity (SURVEY.md §2): ``RDF::Trine::Node::{Resource,Blank,Literal}``
become flat columns of a canonical **triples DataFrame**:

    s_kind     string   'iri' | 'blank'
    s_value    string   IRI string / blank label (no '_:' prefix)
    p_value    string   predicate IRI (always an IRI per RDF)
    o_kind     string   'iri' | 'blank' | 'literal'
    o_value    string   IRI / label / lexical form
    o_datatype string   nullable; datatype IRI for typed literals
    o_lang     string   nullable; language tag (mutually exclusive w/ datatype)
    g_value    string   nullable; named-graph IRI (null = default graph)

Flat columns (not nested structs) so shuffle, dedup and predicate-bucket
partitioning stay cheap at 100 TB.

Natural SQL->XSD datatype mapping per R2RML §10.2 / Direct Mapping
(anchor: ``lib/RDF/RDB2RDF/DirectMapping.pm`` column_info-driven typing).
Lexical canonicalization is Column-expression only (whole-stage codegen);
the same functions are used by the test harness's expected-triple generator
so both sides of the P/R check share one canonicalizer (SURVEY.md §8.3).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- vocab ----------------------------------------------------------------
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF_NS + "type"

XSD_INTEGER = XSD + "integer"
XSD_DECIMAL = XSD + "decimal"
XSD_DOUBLE = XSD + "double"
XSD_BOOLEAN = XSD + "boolean"
XSD_DATE = XSD + "date"
XSD_DATETIME = XSD + "dateTime"
XSD_HEXBINARY = XSD + "hexBinary"
XSD_STRING = XSD + "string"

KIND_IRI = "iri"
KIND_BLANK = "blank"
KIND_LITERAL = "literal"

TRIPLE_COLUMNS = [
    "s_kind",
    "s_value",
    "p_value",
    "o_kind",
    "o_value",
    "o_datatype",
    "o_lang",
    "g_value",
]

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("s_kind", T.StringType(), False),
        T.StructField("s_value", T.StringType(), False),
        T.StructField("p_value", T.StringType(), False),
        T.StructField("o_kind", T.StringType(), False),
        T.StructField("o_value", T.StringType(), False),
        T.StructField("o_datatype", T.StringType(), True),
        T.StructField("o_lang", T.StringType(), True),
        T.StructField("g_value", T.StringType(), True),
    ]
)


# --- natural datatype mapping (R2RML §10.2) -------------------------------

def natural_datatype(spark_type: T.DataType) -> str | None:
    """XSD datatype IRI for a Spark SQL type; ``None`` => plain literal.

    Mirrors the reference's DBI-type-driven natural mapping
    (``DirectMapping.pm``; R2RML §10.2). CHAR/VARCHAR/TEXT map to a plain
    (untyped) literal, matching RDF::Trine's plain-literal emission.
    """
    if isinstance(spark_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return XSD_INTEGER
    if isinstance(spark_type, T.DecimalType):
        return XSD_DECIMAL
    if isinstance(spark_type, (T.FloatType, T.DoubleType)):
        return XSD_DOUBLE
    if isinstance(spark_type, T.BooleanType):
        return XSD_BOOLEAN
    if isinstance(spark_type, T.DateType):
        return XSD_DATE
    if isinstance(spark_type, T.TimestampType):
        return XSD_DATETIME
    if isinstance(spark_type, T.BinaryType):
        return XSD_HEXBINARY
    return None  # StringType and friends -> plain literal


def lexical_form(col: Column, spark_type: T.DataType) -> Column:
    """Canonical lexical form of a value column, as a pure Column expression.

    Pinned canonical forms (SURVEY.md O33, §8.3 'lexical forms'):
      integer   -> base-10, no sign for non-negative
      decimal   -> trailing zeros stripped, at least one digit after '.'
      double    -> Spark's CAST(x AS STRING) (both harness sides share this)
      boolean   -> 'true' / 'false'
      date      -> yyyy-MM-dd
      timestamp -> yyyy-MM-dd'T'HH:mm:ss (DM spec mandates the 'T' separator)
      binary    -> uppercase hex
    """
    if isinstance(spark_type, T.DecimalType):
        s = col.cast("string")
        # strip trailing zeros after the decimal point, keep >=1 digit
        s = F.when(
            s.contains("."),
            F.regexp_replace(F.regexp_replace(s, r"0+$", ""), r"\.$", ".0"),
        ).otherwise(F.concat(s, F.lit(".0")))
        return s
    if isinstance(spark_type, T.BooleanType):
        return F.when(col, F.lit("true")).otherwise(F.lit("false"))
    if isinstance(spark_type, T.DateType):
        return F.date_format(col, "yyyy-MM-dd")
    if isinstance(spark_type, T.TimestampType):
        return F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss")
    if isinstance(spark_type, T.BinaryType):
        return F.upper(F.hex(col))
    return col.cast("string")


def _java_double_str(v: float) -> str:
    """Java ``Double.toString`` semantics, which is what Spark's
    CAST(double AS STRING) emits: decimal notation for 1e-3 <= |v| < 1e7,
    otherwise ``d.dddE<exp>`` scientific (no '+' on the exponent), always at
    least one digit after the point. Python's ``repr`` provides the same
    shortest-round-trip digit string; only the layout differs."""
    import math

    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "Infinity" if v > 0 else "-Infinity"
    sign = "-" if math.copysign(1.0, v) < 0 else ""
    a = abs(v)
    if a == 0.0:
        return sign + "0.0"
    s = repr(a)
    if "e" in s:
        mant, estr = s.split("e")
        e = int(estr)
    else:
        mant, e = s, 0
    ip, _, fp = mant.partition(".")
    alldig = ip + fp
    first = 0
    while alldig[first] == "0":
        first += 1
    exp10 = (len(ip) - 1 - first) + e  # exponent of the first significant digit
    digits = alldig[first:].rstrip("0") or "0"
    if -3 <= exp10 < 7:
        if exp10 >= 0:
            ipart = digits[: exp10 + 1].ljust(exp10 + 1, "0")
            fpart = digits[exp10 + 1 :] or "0"
            return f"{sign}{ipart}.{fpart}"
        return f"{sign}0.{'0' * (-exp10 - 1)}{digits}"
    fpart = digits[1:] or "0"
    return f"{sign}{digits[0]}.{fpart}E{exp10}"


def lexical_form_py(value, spark_type: T.DataType) -> str:
    """Python twin of :func:`lexical_form` — used by the golden-triple harness
    so both sides of the P/R check share one canonicalizer (FIXTURES.md §5)."""
    import datetime as _dt
    from decimal import Decimal as _Dec

    if value is None:
        raise ValueError("lexical_form_py(None)")
    if isinstance(spark_type, T.FloatType):
        # float32 shortest-repr (Java Float.toString) digits differ from the
        # double digits Python sees after JVM->py widening; refuse rather
        # than let goldens silently diverge from the engine.
        raise NotImplementedError(
            "lexical_form_py: FloatType goldens are not canonicalizable from "
            "Python; use DoubleType (or compare through the engine column)."
        )
    if isinstance(spark_type, T.DoubleType):
        return _java_double_str(float(value))
    if isinstance(spark_type, T.DecimalType):
        s = str(value) if isinstance(value, _Dec) else str(_Dec(str(value)))
        if "." in s:
            s = s.rstrip("0")
            if s.endswith("."):
                s += "0"
        else:
            s += ".0"
        return s
    if isinstance(spark_type, T.BooleanType):
        return "true" if value else "false"
    if isinstance(spark_type, T.DateType):
        return value.strftime("%Y-%m-%d")
    if isinstance(spark_type, T.TimestampType):
        return value.strftime("%Y-%m-%dT%H:%M:%S")
    if isinstance(spark_type, T.BinaryType):
        return bytes(value).hex().upper()
    return str(value)


def lexical_is_iri_safe(spark_type: T.DataType) -> bool:
    """True when ``lexical_form`` output can only contain IRI-unreserved
    characters, letting the compiler skip percent-encoding (keeps numeric-key
    templates fully JVM-side; SURVEY.md O21 note)."""
    return isinstance(
        spark_type,
        (
            T.ByteType,
            T.ShortType,
            T.IntegerType,
            T.LongType,
            T.DecimalType,
            T.FloatType,
            T.DoubleType,
            T.BooleanType,
            T.DateType,
            T.BinaryType,
        ),
    )
