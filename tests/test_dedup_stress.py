"""Scale-hazard stress tests for the dedup family:

1. Connected components: alternating large-star/small-star must produce
   exactly min-label propagation's labels while collapsing a planted
   deep chain in far fewer rounds (the skew/diameter hazard).
2. Shingle blocking: the hot-shingle cap must bound candidate-pair
   fan-out on a planted boilerplate corpus (the quadratic-join hazard) —
   proven by the bound FAILING with the cap disabled.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CHAIN_N = 64
BOILER_DOCS = 120


@pytest.fixture(scope="module")
def spark():
    from csv_to_jsonld_processor_spark.session import get_spark

    return get_spark("dedup-stress")


def test_star_cc_equals_min_label_and_cuts_rounds(spark):
    """Planted path graph 0-1-...-{CHAIN_N-1}: worst-case diameter.
    Min-label needs ~diameter rounds; large-star/small-star is
    O(log n) — both must agree that every node's label is 0."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.dedup import _cc_min_label, _cc_star

    chain = spark.range(CHAIN_N - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    sym = chain.unionByName(chain.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    star_labels, star_rounds = _cc_star(chain)
    prop_labels, prop_rounds = _cc_min_label(sym)

    got_star = {(r.node, r.label) for r in star_labels.collect()}
    got_prop = {(r.node, r.label) for r in prop_labels.collect()}
    assert got_star == got_prop == {(i, 0) for i in range(CHAIN_N)}
    # doubly-exponential collapse: rounds ~ log2(log2 n)+c, far under diameter
    assert star_rounds < prop_rounds / 4, (star_rounds, prop_rounds)
    assert star_rounds <= 8


def test_star_cc_on_forest_with_singleton_components(spark):
    """Mixed shapes: a triangle, a 2-clique, and a chain — labels must be
    each component's min under both algorithms."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.dedup import _cc_min_label, _cc_star

    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (10, 12), (20, 21), (30, 31), (31, 32), (32, 33)],
        "src long, dst long",
    )
    sym = edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    want = {
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
        (30, 30), (31, 30), (32, 30), (33, 30),
    }
    star_labels, _ = _cc_star(edges)
    prop_labels, _ = _cc_min_label(sym)
    assert {(r.node, r.label) for r in star_labels.collect()} == want
    assert {(r.node, r.label) for r in prop_labels.collect()} == want


def _boilerplate_corpus(spark):
    """{BOILER_DOCS} docs sharing one 8-token boilerplate footer (every
    5-shingle of it is in EVERY doc) plus unique body text; docs 0 and 1
    are the only genuine near-dup pair (identical bodies)."""
    from pyspark.sql import functions as F

    footer = "subscribe to our newsletter for updates terms apply"
    rows = []
    for i in range(BOILER_DOCS):
        # 40-token body so the capped footer shingles (excluded from the
        # intersection but not from doc sizes) can't drag the planted
        # dup pair's Jaccard below tau: 40/(2*44-40) = 0.833 >= 0.8
        body_of = 0 if i == 1 else i
        body = f"doc {body_of} unique " + " ".join(f"w{j}x{body_of}" for j in range(37))
        rows.append((i, body + " " + footer))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hot_shingle_cap_bounds_candidate_fanout(spark):
    """With the cap: candidate pairs come only from genuinely shared
    content (docs 0/1). Without it: the boilerplate footer alone makes
    every doc pair a candidate — C(n,2) join rows, the quadratic
    blow-up the cap exists to prevent. The second assertion is the
    'red without the cap' proof."""
    from csv_to_jsonld_processor_spark.operators.dedup import _ngram_candidate_pairs

    docs = _boilerplate_corpus(spark)

    capped, _ = _ngram_candidate_pairs(docs, max_shingle_freq=50)
    n_capped = capped.count()
    assert n_capped <= 3  # the planted dup pair (+ shingles straddling body|footer)
    assert capped.where("doc_a = 0 AND doc_b = 1").count() == 1

    uncapped, _ = _ngram_candidate_pairs(docs, max_shingle_freq=None)
    n_uncapped = uncapped.count()
    assert n_uncapped >= BOILER_DOCS * (BOILER_DOCS - 1) // 2  # quadratic without the cap
    assert n_uncapped > 100 * n_capped


def test_capped_jaccard_keeps_true_dups(spark):
    """The cap must not break Jaccard exactness for surviving pairs:
    doc sizes are computed pre-cap, so the planted identical-body pair
    still scores >= tau."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.dedup import (
        JACCARD_TAU,
        _ngram_candidate_pairs,
    )

    docs = _boilerplate_corpus(spark)
    pairs, sizes = _ngram_candidate_pairs(docs, max_shingle_freq=50)
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    jac = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("n_common")).cast("double"),
        )
    )
    row = jac.where("doc_a = 0 AND doc_b = 1").collect()
    assert len(row) == 1 and row[0].jaccard >= JACCARD_TAU


def test_mega_bucket_star_cap_preserves_components(spark):
    """The max_bucket star cap: a planted mega-cluster (60 identical
    docs, one shared band bucket per band) plus normal pairs. Capped
    candidate generation must (1) produce FAR fewer pairs, and
    (2) leave the connected components of the pair graph EXACTLY equal
    — the invariant that makes the cap safe for the clustering/drop
    path."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.dedup import (
        _cc_star,
        _lsh_candidates_from_sig,
        _minhash_signature,
    )

    mega = [(i, "identical boilerplate page with the same words everywhere repeated "
                "for every mirror of the template across hosts") for i in range(60)]
    pairs_ab = [
        (100, "a unique first document about alpine glacier meltwater chemistry sampling"),
        (101, "a unique first document about alpine glacier meltwater chemistry sampling"),
    ]
    solo = [(200, "an entirely different text concerning harbor logistics and crane scheduling")]
    docs = spark.createDataFrame(mega + pairs_ab + solo, "doc_id long, text string")
    sig = _minhash_signature(docs).localCheckpoint()

    full = _lsh_candidates_from_sig(sig)
    capped = _lsh_candidates_from_sig(sig, max_bucket=10)
    n_full, n_capped = full.count(), capped.count()
    assert n_full >= 60 * 59 / 2  # the quadratic blow-up is present uncapped
    assert n_capped <= 60 + 5  # star pairs + the small-bucket pair

    def labels(pairs):
        lab, _ = _cc_star(pairs.selectExpr("doc_a AS src", "doc_b AS dst"))
        return {(r.node, r.label) for r in lab.collect()}

    assert labels(full) == labels(capped)
