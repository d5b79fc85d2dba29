"""Coercion parity fuzz: the Spark SQL coercions (F6-F9) must agree
with the independent reference-semantics oracle (process_value) on two
seeded random corpora + a bank of hand-picked edge cases. This is the
cheap insurance that the JVM expressions and the reference's Rust
parsers keep identical accept/reject boundaries (the fixture corpus
only exercises a narrow slice of them).

Floats are canonicalized (Java's Double.toString vs Python's repr
disagree on exponent format), same policy as fixture parity.
"""

import os
import random
import string
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from oracle_reference import process_value

EDGE_CASES = [
    "", " ", "42", " 42 ", "-0", "+7", "4.5", ".5", "5.", "-.25", "1e3",
    "1E-5", "$1,234", "%50", "1,000.25", "$", "abc", "4 2", "0x10",
    "true", "TRUE", "True ", "yes", "NO", "0", "1", "2", "on",
    "2024-01-15", "2024-1-5", "2024/1/5", "1-15-2024", "15-1-2024",
    "1/15/2024", "15/1/2024", "Jan 5, 2024", "January 5, 2024",
    "2024", "99", "2024-06", "2024/06", "Jun 2024", "June 2024",
    "06-2024", "2024-02-30", "2023-02-29", "2024-02-29", "9999-99-99",
    "2024-01-15 10:30:00", "not a date", "13/13/2024", "0000",
    "1e309", "-1e309", "inf", "nan", "Infinity", "00042", "1_000",
]


def _rand_strings(n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    alphabet = string.digits + "./-,$% " + "abcXYZ"
    out = []
    for _ in range(n):
        k = rng.randint(1, 12)
        out.append("".join(rng.choice(alphabet) for _ in range(k)))
    return out


def canon(obj: str, kind: str) -> tuple[str, str]:
    if kind == "number":
        try:
            return (repr(round(float(obj), 9)), kind)
        except ValueError:
            pass
    return (obj, kind)


@pytest.mark.parametrize("kind", ["Integer", "Decimal", "Boolean", "Date"])
def test_coercion_parity_fuzz(kind):
    import zlib

    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.coercion import (
        coerce_boolean_sql,
        coerce_date_sql,
        coerce_decimal_sql,
        coerce_integer_sql,
        coercion_kind_flags_sql,
    )
    from csv_to_jsonld_processor_spark.session import get_spark

    spark = get_spark("coercion-fuzz")
    values = (
        EDGE_CASES
        + _rand_strings(400, seed=zlib.crc32(kind.encode()))
        + _rand_strings(3000, seed=20260817)
    )
    df = spark.createDataFrame([(v,) for v in values], "v string")
    fn = {
        "Integer": coerce_integer_sql,
        "Decimal": coerce_decimal_sql,
        "Boolean": coerce_boolean_sql,
        "Date": coerce_date_sql,
    }[kind]
    got = {
        r.v: canon(r.obj, r.kind)
        for r in df.select(
            "v",
            F.expr(fn("v")).alias("obj"),
            F.expr(coercion_kind_flags_sql(kind, "v")).alias("kind"),
        ).collect()
    }
    mismatches = []
    for v in values:
        want = canon(*process_value(v, kind))
        if got[v] != want:
            mismatches.append((v, got[v], want))
    assert not mismatches, f"{kind}: {mismatches[:10]} ({len(mismatches)} total)"


def test_sql_str_round_trips_through_expr():
    """A sql_str literal reads back through F.expr exactly as written:
    quotes and backslashes are escaped, and ``${...}`` is not rewritten by
    Spark's variable substitution (``${env:HOME}`` would read back as the
    driver's home directory)."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.coercion import sql_str
    from csv_to_jsonld_processor_spark.session import get_spark

    spark = get_spark("coercion-fuzz")
    texts = ["${env:HOME}", "${spark.app.name}", "a ${x} b $", "$$", "'", "\\", "\\$",
             "\\u0024", "new\nline", "tab\there", "naïve 日本 ✓ 𝄞", ""]
    row = spark.range(1).select(
        *(F.expr(sql_str(t)).alias(f"c{i}") for i, t in enumerate(texts))
    ).first()
    assert list(row) == texts
