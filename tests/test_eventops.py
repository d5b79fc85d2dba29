"""Event-ops cross-engine contracts that generated data never exercises.

The driver's sf0.01 generator only emits well-formed ``{"k": <int>}``
props, so the PERMISSIVE-mode promise of events_props_json (malformed
JSON and non-integer k become nulls identically in Spark and the DuckDB
oracle) is pinned here over a hand-built corpus of every hostile shape
— round-4 ADVICE item (eventops.py null-accounting divergence).
"""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark("eventops")


# (event_type, props) — one of each hostile shape, plus clean rows
PINNED_PROPS = [
    ("a", '{"k": 7}'),            # clean int
    ("a", '{"k": -3}'),           # negative int
    ("a", '{"k": 3.5}'),          # JSON double -> null both engines
    ("a", '{"k": "7"}'),          # string-wrapped number -> null (no coercion)
    ("b", '{"k": "abc"}'),        # string text -> null
    ("b", '{"k": true}'),         # boolean -> null
    ("b", '{"k": null}'),         # explicit JSON null
    ("b", '{"k": 99999999999}'),  # > INT32 max -> overflow null
    ("c", '{"j": 1}'),            # key missing
    ("c", "{not json"),           # malformed document
    ("c", ""),                    # empty string
    ("c", None),                  # SQL NULL props
    ("c", '{"k": 5}'),            # clean row in the dirty group
]


def test_props_json_malformed_k_contract(spark):
    from csv_to_jsonld_processor_spark.operators.eventops import (
        EVENTS_PROPS_JSON_SQL,
        props_json_agg,
    )

    df = spark.createDataFrame(PINNED_PROPS, schema="event_type string, props string")
    got = [tuple(r) for r in props_json_agg(df).collect()]

    con = duckdb.connect()
    con.execute("CREATE TABLE events (event_type VARCHAR, props VARCHAR)")
    con.executemany("INSERT INTO events VALUES (?, ?)", PINNED_PROPS)
    want = con.execute(EVENTS_PROPS_JSON_SQL).fetchall()

    assert got == want
    # and the contract itself: only the two ints in 'a' and one in 'c' count
    by_type = {r[0]: r for r in got}
    assert by_type["a"] == ("a", 4, 2, -3, 7, 4)
    assert by_type["b"] == ("b", 4, 4, None, None, None)
    assert by_type["c"] == ("c", 5, 4, 5, 5, 5)


VARIANT_PROPS = PINNED_PROPS + [
    ("d", '{"k": 3.7}'),    # double truncates toward zero -> 3
    ("d", '{"k": -3.5}'),   # -> -3 (toward zero, not floor)
    ("d", '{"k": " 7 "}'),  # trimmed integer string coerces -> 7
    ("d", '{"k": "+42"}'),  # signed integer string
    ("d", '{"k": 1e2}'),    # JSON double notation -> 100
    ("d", '{"k": false}'),  # -> 0
]


def test_props_variant_coercion_contract(spark):
    """VARIANT's CAST-like coercion must match the oracle's json_type
    dispatch on every hostile shape — including the ones where a naive
    DuckDB TRY_CAST would diverge (it rounds '3.5' to 4; variant nulls
    it)."""
    from csv_to_jsonld_processor_spark.operators.eventops import (
        EVENTS_PROPS_VARIANT_SQL,
        props_variant_agg,
    )

    df = spark.createDataFrame(VARIANT_PROPS, schema="event_type string, props string")
    got = [tuple(r) for r in props_variant_agg(df).collect()]

    con = duckdb.connect()
    con.execute("CREATE TABLE events (event_type VARCHAR, props VARCHAR)")
    con.executemany("INSERT INTO events VALUES (?, ?)", VARIANT_PROPS)
    want = con.execute(EVENTS_PROPS_VARIANT_SQL).fetchall()
    assert got == want
    by_type = {r[0]: r for r in got}
    # group d: all six coerce -> 3, -3, 7, 42, 100, 0
    assert by_type["d"] == ("d", 6, 0, 0, -3, 100, 149)
    # group a: 7, -3, 3.5->3, "7"->7 (variant coerces; from_json did not)
    assert by_type["a"] == ("a", 4, 0, 0, -3, 7, 14)


def test_transition_matrix_rows_are_distributions(spark):
    """Each from_type row of the Markov matrix must be a probability
    distribution (sums to 1 within rounding) and the matrix must cover
    every event type observed as a transition source."""
    from csv_to_jsonld_processor_spark.operators.eventops import events_type_transitions

    rows = events_type_transitions(spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_from = {}
    for r in rows:
        by_from.setdefault(r["from_type"], []).append(r)
    for ft, rs in by_from.items():
        s = sum(r["p_transition"] for r in rs)
        assert abs(s - 1.0) < 1e-4, (ft, s)
        assert sum(r["n_transitions"] for r in rs) > 0


def test_drift_tv_fires_on_planted_shift(spark):
    """The drift monitor must separate signal from noise: a stationary
    synthetic stream stays under the flag threshold, and the SAME
    stream with its second half shifted by +3 buckets fires the flag
    with a large exact TV distance; the top drift bucket points at the
    shifted mass. Exact recompute in Python pins the integer algebra."""
    import datetime

    from csv_to_jsonld_processor_spark.operators.eventops import (
        DRIFT_BUCKET_WIDTH,
        DRIFT_FLAG_BP,
        drift_tv,
    )

    def mk(shift_second_half):
        rows = []
        for i in range(400):
            day = 1 + (i // 4) % 28  # every day sees all 4 buckets equally
            value = 32.0 + 64.0 * (i % 4)  # buckets 0..3, uniform
            if shift_second_half and day > 15:
                value += 3 * DRIFT_BUCKET_WIDTH  # buckets 3..6
            rows.append(
                (i, datetime.datetime(2024, 1, day, 12, 0, 0), "t", value)
            )
        return spark.createDataFrame(
            rows, "event_id long, ts timestamp, event_type string, value double"
        )

    calm = drift_tv(mk(False)).collect()[0]
    assert calm.tv_bp == 0 and not calm.drift_flag  # perfectly stationary
    hot = drift_tv(mk(True)).collect()[0]
    assert hot.drift_flag and hot.tv_bp > DRIFT_FLAG_BP
    # second half moved entirely out of buckets 0-2 into 3-6: TV = 100%
    assert hot.tv_bp >= 7000
    assert hot.top_drift_bucket in (0, 1, 2, 4, 5, 6)


def test_sequence_motifs_match_python_regex_replay(spark):
    """Per-user sequence reconstruction + Python re.findall replay; also
    pins the leftmost-greedy non-overlap semantics both engines must
    share (an 'eee' run is ONE error_burst match, not two)."""
    import re

    from csv_to_jsonld_processor_spark.operators.eventops import (
        _SEQ_CHARS,
        SEQ_MOTIFS,
        events_sequence_motifs,
    )
    from csv_to_jsonld_processor_spark.session import load_tables

    sf = "/root/testdata/sf0.001"
    rows = load_tables(spark, sf)["events"].select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(
            (r.ts, r.event_id, _SEQ_CHARS[r.event_type])
        )
    seqs = {u: "".join(ch for _, _, ch in sorted(v)) for u, v in by_user.items()}
    expected = {}
    for motif, pat in SEQ_MOTIFS.items():
        counts = [len(re.findall(pat, s)) for s in seqs.values()]
        expected[motif] = (
            sum(1 for n in counts if n > 0), sum(counts), max(counts),
        )
    got = {
        r.motif: (r.n_users, r.n_occurrences, r.max_per_user)
        for r in events_sequence_motifs(spark, sf).collect()
    }
    assert got == expected
    # non-degenerate: every motif fires somewhere at sf0.001
    assert all(v[1] > 0 for v in got.values())
    assert len(re.findall(SEQ_MOTIFS["error_burst"], "eee")) == 1


def test_cusum_changepoint_matches_python_replay(spark):
    """Brute-force scaled-CUSUM replay, plus a planted-shift gate: a
    synthetic series with a known level shift must put the argmax at
    the shift boundary."""
    from collections import Counter

    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.eventops import (
        events_cusum_changepoint,
    )
    from csv_to_jsonld_processor_spark.session import load_tables

    sf = "/root/testdata/sf0.001"
    rows = load_tables(spark, sf)["events"].select(
        "event_type", F.to_date("ts").alias("day")
    ).collect()
    daily = Counter((r.event_type, r.day) for r in rows)
    by_type = {}
    for (t, d), x in daily.items():
        by_type.setdefault(t, []).append((d, x))
    expected = {}
    for t, series in by_type.items():
        series.sort()
        n = len(series)
        tot = sum(x for _d, x in series)
        s, best = 0, None
        for d, x in series:
            s += n * x - tot
            if best is None or abs(s) > best[1]:
                best = (d, abs(s), s)
        expected[t] = (n, tot) + best
    got = {r.event_type: (r.n_days, r.total, r.change_day, r.max_abs_s,
                          r.s_at_change)
           for r in events_cusum_changepoint(spark, sf).collect()}
    assert got == expected

    # planted shift: 10 days at level 2, then 10 days at level 8 —
    # scaled CUSUM must put the change at the boundary day
    import datetime

    base = datetime.date(2024, 1, 1)
    series = [(base + datetime.timedelta(days=i), 2 if i < 10 else 8)
              for i in range(20)]
    n, tot = 20, sum(x for _d, x in series)
    s, best = 0, None
    for d, x in series:
        s += n * x - tot
        if best is None or abs(s) > best[1]:
            best = (d, abs(s))
    assert best[0] == base + datetime.timedelta(days=9)


def test_ewma_unrolling_equals_sequential_recursion(spark):
    """The integer-unrolled EWMA must equal the sequential
    s_t = (3/4)s_{t-1} + (1/4)x_t recursion computed in exact
    rationals, per event type."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.eventops import (
        events_ewma_forecast,
    )
    from csv_to_jsonld_processor_spark.session import load_tables

    sf = "/root/testdata/sf0.001"
    t = load_tables(spark, sf)
    rows = t["events"].groupBy(
        "event_type", F.dayofmonth("ts").alias("d")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")).collect()
    series = {}
    for r in rows:
        series.setdefault(r["event_type"], {})[r["d"] - 1] = r["c"]
    got = {r["event_type"]: r["ewma_forecast"]
           for r in events_ewma_forecast(spark, sf).collect()}
    for et, days in series.items():
        s = Fraction(days.get(0, 0))
        for i in range(1, 30):
            s = Fraction(3, 4) * s + Fraction(1, 4) * Fraction(days.get(i, 0))
        assert got[et] == round(float(s) / 100.0, 2), et


def test_kaplan_meier_matches_reference_estimator(spark):
    """The in-engine KM curve must equal the textbook estimator
    computed in Python rationals over the same cohort, and survival
    must be non-increasing."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.eventops import (
        events_kaplan_meier,
    )
    from csv_to_jsonld_processor_spark.session import load_tables

    sf = "/root/testdata/sf0.001"
    t = load_tables(spark, sf)
    n = t["events"].select("user_id").distinct().count()
    fp = {
        r["user_id"]: r["d"]
        for r in t["events"].where(F.col("event_type") == "purchase")
        .groupBy("user_id").agg(F.min(F.dayofmonth("ts")).alias("d")).collect()
    }
    got = [(r["day"], r["n_risk"], r["survival"])
           for r in events_kaplan_meier(spark, sf).collect()]
    s = Fraction(1)
    at_risk = n
    prev_day = 0
    want = {}
    from collections import Counter

    d_by_day = Counter(fp.values())
    for day in range(1, 31):
        d = d_by_day.get(day, 0)
        if at_risk > 0:
            s *= Fraction(at_risk - d, at_risk)
        if d > 0:
            want[day] = (at_risk, s)
        at_risk -= d
    for day, n_risk, surv in got:
        wn, ws = want[day]
        assert n_risk == wn, day
        assert abs(surv - float(ws)) < 1e-6, day
    survs = [s for _, _, s in got]
    assert survs == sorted(survs, reverse=True)


def test_holt_unrolling_equals_sequential_recursion(spark):
    """The dyadic-weight Holt forecast must equal the sequential
    coupled recursion in exact rationals, per type."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.eventops import (
        events_holt_forecast,
    )
    from csv_to_jsonld_processor_spark.session import load_tables

    sf = "/root/testdata/sf0.001"
    t = load_tables(spark, sf)
    rows = t["events"].groupBy(
        "event_type", F.dayofmonth("ts").alias("d")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")).collect()
    series = {}
    for r in rows:
        series.setdefault(r["event_type"], {})[r["d"] - 1] = r["c"]
    got = {r["event_type"]: r["holt_forecast"]
           for r in events_holt_forecast(spark, sf).collect()}
    for et, days in series.items():
        x = [Fraction(days.get(i, 0)) for i in range(30)]
        level, trend = x[0], x[1] - x[0]
        for tt in range(1, 30):
            nl = (x[tt] + level + trend) / 2
            trend = (nl - level + trend) / 2
            level = nl
        want = float(level + trend) / 100.0
        assert abs(got[et] - round(want, 2)) < 1e-9, et
