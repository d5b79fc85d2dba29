"""Typed value coercion as Spark SQL expressions (SURVEY §2.6 F6–F9).

Each builder renders one coercion as SQL text over a column expression,
so a whole header becomes a single ``F.expr`` call: one py4j round trip
at plan time, and JVM-side (whole-stage codegen, no Python) at run
time. Semantics mirror the reference's per-cell coercions
(``csv-to-jsonld-lib/src/instance/value_processor.rs:8-150``,
``utils/mod.rs:5-21``), including the fallback-to-raw behaviors:

- Integer (F7): strip ``$ % ,`` then parse i64; non-integer → raw value.
  Guarded by an integer regex because ``CAST('42.7' AS LONG)`` would
  silently truncate where the reference fails.
- Decimal (F8): strip ``$ % ,``; non-float → the *cleaned* string
  (the reference's quirk: it keeps the cleaned value, not the raw one).
  Regex-guarded because Spark's cast trims whitespace where Rust's
  ``f64::from_str`` does not.
- Boolean (F9): true/false/1/0/yes/no, case-insensitive, untrimmed.
- Date (F6): the reference's 15-format cascade. NOTE (studied from
  value_processor.rs:28-58): numeric month-year (``06-2024``) is listed
  but unreachable in the reference — none of its fallback rewrites parse
  it — so it stays a raw string here too.
"""

from __future__ import annotations

INT_RE = r"^[+-]?[0-9]+$"
# Rust f64::from_str grammar, minus inf/nan (documented deviation: the
# fixture domain has no infinities; Spark's cast would need special cases)
FLOAT_RE = r"^[+-]?(([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?)$"

_DATE_PATTERNS = [
    "yyyy-M-d",
    "yyyy/M/d",
    "M-d-yyyy",
    "M/d/yyyy",
    "d-M-yyyy",
    "d/M/yyyy",
]


def sql_str(s: str) -> str:
    """SQL single-quoted literal (backslash + quote escaped — matches
    Spark's default escapedStringLiterals=false parsing). ``$`` is written
    as the escape ``\\u0024``, which the literal parser decodes after
    Spark's variable substitution has run, so a ``${env:HOME}`` in a
    header or delimiter reads back as written."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'").replace("$", "\\u0024") + "'"


def _year_sane_sql(d: str) -> str:
    """Clamp format-parsed dates to 4-digit unsigned years. Java's yyyy
    (SignStyle.EXCEEDS_PAD) sneaks in '-262144' / '+12345' style years
    where chrono's %Y accepts any signed in-range integer — the two
    parsers are irreconcilable beyond 4 digits, so the engine AND the
    oracle pin the same documented contract: dash/slash/month-name
    formats carry years 0000-9999 only (the %Y year-only branch keeps
    chrono's full ±262143)."""
    return f"IF(year({d}) >= 0 AND year({d}) <= 9999, {d}, NULL)"


def parse_date_sql(c: str) -> str:
    """15-format date cascade → DateType or null (utils/mod.rs:5-21,
    value_processor.rs:17-61). Ordering mirrors the reference's
    first-match-wins loop."""
    c = f"trim({c})"
    attempts = [_year_sane_sql(f"try_to_date({c}, '{p}')") for p in _DATE_PATTERNS]
    attempts.append(
        _year_sane_sql(f"try_to_date(try_to_timestamp({c}, 'yyyy-M-d H:m:s'))")
    )
    attempts.append(_year_sane_sql(f"try_to_date({c}, 'MMM d, yyyy')"))
    attempts.append(_year_sane_sql(f"try_to_date({c}, 'MMMM d, yyyy')"))
    # "%Y" special: whole-string integer → Jan 1 (value_processor.rs:30-37).
    # Bounded to chrono's NaiveDate year range (±262143): java.time would
    # happily build year 2_000_000 where the reference's from_ymd_opt
    # returns None and falls through to the raw value.
    yr = f"CAST({c} AS INT)"
    attempts.append(
        f"IF({c} rlike '{INT_RE}' AND abs({yr}) <= 262143, "
        f"try_to_date(concat({yr}, '-1-1'), 'y-M-d'), NULL)"
    )
    # year-month fallbacks (value_processor.rs:39-58): "2024-06"/"2024/06" →
    # "<v>-01"; "Jun 2024"/"June 2024" → "01 <v>"
    attempts.append(
        _year_sane_sql(f"try_to_date(concat(replace({c}, '/', '-'), '-01'), 'yyyy-M-d')")
    )
    attempts.append(_year_sane_sql(f"try_to_date(concat('01 ', {c}), 'd MMMM yyyy')"))
    attempts.append(_year_sane_sql(f"try_to_date(concat('01 ', {c}), 'd MMM yyyy')"))
    return "coalesce(" + ", ".join(attempts) + ")"


def coerce_date_sql(c: str) -> str:
    """F6 → 'yyyy-MM-dd' string, raw passthrough when unparseable."""
    d = parse_date_sql(c)
    return f"nvl2({d}, date_format({d}, 'yyyy-MM-dd'), {c})"


def _cleaned_sql(c: str) -> str:
    return f"regexp_replace({c}, '[$%,]', '')"


def coerce_integer_sql(c: str) -> str:
    """F7 → canonical integer string, raw passthrough otherwise."""
    cl = _cleaned_sql(c)
    return f"IF({cl} rlike '{INT_RE}', CAST(CAST({cl} AS BIGINT) AS STRING), {c})"


def coerce_decimal_sql(c: str) -> str:
    """F8 → double string; else the *cleaned* string (reference quirk)."""
    cl = _cleaned_sql(c)
    return f"IF({cl} rlike {sql_str(FLOAT_RE)}, CAST(CAST({cl} AS DOUBLE) AS STRING), {cl})"


def coerce_boolean_sql(c: str) -> str:
    """F9 → 'true'/'false', raw passthrough otherwise."""
    return (
        f"CASE WHEN lower({c}) IN ('true', '1', 'yes') THEN 'true' "
        f"WHEN lower({c}) IN ('false', '0', 'no') THEN 'false' ELSE {c} END"
    )


def coercion_kind_flags_sql(kind: str, c: str) -> str:
    """The emitted JSON kind for a coerced value: number/boolean/string."""
    cl = _cleaned_sql(c)
    if kind == "Integer":
        return f"IF({cl} rlike '{INT_RE}', 'number', 'string')"
    if kind == "Decimal":
        return f"IF({cl} rlike {sql_str(FLOAT_RE)}, 'number', 'string')"
    if kind == "Boolean":
        return (
            f"IF(lower({c}) IN ('true', '1', 'yes', 'false', '0', 'no'), "
            "'boolean', 'string')"
        )
    if kind in ("URI", "Picklist"):
        return "'ref'"
    return "'string'"
