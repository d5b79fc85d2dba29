"""Text-op properties beyond the oracle hash: the bigram LM actually
carries the in-domain signal the CCNet-style filter relies on."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.session import get_spark

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    return get_spark("textops")


def test_bigram_lm_prefers_in_domain_text(spark):
    """The 'en'-trained bigram LM must assign a strictly higher mean
    per-bigram probability to en documents than to every other
    language — the discriminative signal that makes LM scoring a
    usable quality filter (measured gap at sf0.01: ~6%)."""
    from csv_to_jsonld_processor_spark.operators.textops import doc_bigram_lm_score

    rows = {r.lang: r for r in doc_bigram_lm_score(spark, SF).collect()}
    assert set(rows) == {"en", "de", "es", "fr", "zh"}
    mean_q = {lang: r.total_q / r.total_bigrams for lang, r in rows.items()}
    for lang, mq in mean_q.items():
        if lang != "en":
            assert mean_q["en"] > mq * 1.02, (lang, mean_q)
    # scores are exact integers; totals reconcile
    for r in rows.values():
        assert r.min_doc_q <= r.max_doc_q and r.total_q > 0


def test_temperature_mixture_upweights_low_resource(spark):
    """alpha=0.5 tempering must give every low-resource language a
    target share ABOVE its proportional share (and the head language a
    share below it), with quotas never exceeding availability and the
    total draw within the budget."""
    from csv_to_jsonld_processor_spark.operators.textops import (
        TEMP_BUDGET_FRAC,
        doc_temperature_mixture,
    )

    rows = {r["lang"]: r for r in doc_temperature_mixture(spark, SF).collect()}
    total_avail = sum(r["available"] for r in rows.values())
    head = max(rows.values(), key=lambda r: r["available"])
    for r in rows.values():
        prop = r["available"] / total_avail
        if r is head:
            assert r["target_frac"] < prop  # head language down-weighted
        else:
            assert r["target_frac"] > prop  # tail languages up-weighted
        assert r["quota"] <= r["available"]
        assert r["sampled"] == r["quota"]
    assert sum(r["sampled"] for r in rows.values()) <= int(total_avail * TEMP_BUDGET_FRAC)


def test_classifier_agreement_kappa_exact(spark):
    """Confusion cells recomputed from the two gates independently +
    exact integer kappa; the corpus must exercise a NEGATIVE kappa
    (worse-than-chance agreement) so the signed truncating division is
    genuinely tested cross-engine."""
    from csv_to_jsonld_processor_spark.operators.inference import (
        HEUR_MIN_TOKENS,
        HEUR_STOP_TAU,
        KAPPA_SCALE,
        _features,
        _score,
        doc_classifier_agreement,
    )
    from csv_to_jsonld_processor_spark.session import load_tables

    sf = "/root/testdata/sf0.001"
    f = _features(load_tables(spark, sf)["documents"]).withColumn(
        "score", _score()
    ).select("lang", "score", "n_tokens", "stop_ratio").collect()
    cells = {}
    for r in f:
        mk = r.score > 0
        hk = r.n_tokens >= HEUR_MIN_TOKENS and r.stop_ratio >= HEUR_STOP_TAU
        key = "a" if (mk and hk) else "b" if mk else "c" if hk else "d"
        cells.setdefault(r.lang, {"a": 0, "b": 0, "c": 0, "d": 0})
        cells[r.lang][key] += 1

    def kappa(a, b, c, d):
        n = a + b + c + d
        e = (a + b) * (a + c) + (c + d) * (b + d)
        den = n * n - e
        if den == 0:
            return KAPPA_SCALE
        num = KAPPA_SCALE * (n * (a + d) - e)
        q = abs(num) // abs(den)
        return q if (num >= 0) == (den >= 0) else -q  # truncate toward 0

    got = {r.lang: (r.a, r.b, r.c, r.d, r.n_docs, r.kappa_bp)
           for r in doc_classifier_agreement(spark, sf).collect()}
    expected = {
        lang: (v["a"], v["b"], v["c"], v["d"], sum(v.values()),
               kappa(v["a"], v["b"], v["c"], v["d"]))
        for lang, v in cells.items()
    }
    assert got == expected
    assert any(v[5] < 0 for v in got.values()), \
        "no negative kappa — signed division untested"


def test_chunk_window_closed_form_matches_bruteforce():
    """The closed-form chunk count and emitted-token volume must equal
    the brute-force window enumeration for every doc length around the
    window/stride boundaries."""
    import math

    from csv_to_jsonld_processor_spark.operators.textops import (
        CHUNK_S,
        CHUNK_W,
    )

    W, S = CHUNK_W, CHUNK_S
    for n in list(range(1, 200)) + [W - 1, W, W + 1, 2 * W, 1000, 4096]:
        brute = []
        i = 0
        while True:
            brute.append(min(W, n - i * S))
            if i * S + W >= n:
                break
            i += 1
        c = 1 if n <= W else 1 + math.ceil((n - W) / S)
        emitted = (c - 1) * W + min(W, n - (c - 1) * S)
        assert c == len(brute), n
        assert emitted == sum(brute), n
