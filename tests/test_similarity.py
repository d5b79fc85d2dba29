"""LSH candidate-generation quality: same-bucket candidates must cover
the true top-1 neighbor for most queries (recall gate for the
non-SQL-expressible scale path)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    from csv_to_jsonld_processor_spark.session import get_spark

    return get_spark("similarity")


def test_lsh_recall_of_top1(spark):
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.similarity import (
        ann_lsh_bucketed,
        ann_topk_bruteforce,
    )

    truth = {
        r.query_id: r.neighbor_id
        for r in ann_topk_bruteforce(spark, SF_DIR).where(F.col("rank") == 1).collect()
    }
    buckets = ann_lsh_bucketed(spark, SF_DIR)
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("q"), F.col("b.vec_id").alias("n"))
        .distinct()
        .collect()
    )
    cand_set = {(r.q, r.n) for r in cand}
    hits = sum(1 for q, n in truth.items() if (q, n) in cand_set)
    recall = hits / len(truth)
    # 4 tables x 12 planes on 64-d noise: top-1 should usually collide
    assert recall >= 0.6, f"LSH top-1 recall {recall}"


def test_lsh_buckets_deterministic(spark):
    from csv_to_jsonld_processor_spark.operators.similarity import ann_lsh_bucketed

    a = {tuple(r) for r in ann_lsh_bucketed(spark, SF_DIR).collect()}
    b = {tuple(r) for r in ann_lsh_bucketed(spark, SF_DIR).collect()}
    assert a == b and len(a) > 0


def test_neardup_lsh_recall_vs_bruteforce(spark):
    """The registered near-dup query is LSH-bucketed; brute force is the
    exact oracle. Gate: recall >= 0.85 and zero false positives (every
    LSH pair must appear in the exact pair set with the same score)."""
    from csv_to_jsonld_processor_spark.operators.similarity import (
        embedding_neardup_bruteforce,
        embedding_neardup_cosine,
    )

    exact = {(r.id_a, r.id_b): r.score for r in embedding_neardup_bruteforce(spark, SF_DIR).collect()}
    lsh = {(r.id_a, r.id_b): r.score for r in embedding_neardup_cosine(spark, SF_DIR).collect()}
    assert set(lsh) <= set(exact), f"false positives: {set(lsh) - set(exact)}"
    for k, s in lsh.items():
        assert s == exact[k]
    recall = len(lsh) / len(exact)
    # planted dups at theta≈2.9°: 16-plane/4-table expected recall ≈ 0.997
    assert recall >= 0.95, f"LSH near-dup recall {recall} ({len(lsh)}/{len(exact)})"


def test_ivf_recall_vs_bruteforce(spark):
    """IVF probe path recall@10 vs exact brute force (measured 0.88 at
    sf0.01 with 8/32 probes; gate leaves variance room)."""
    from csv_to_jsonld_processor_spark.operators.similarity import (
        ann_ivf_topk,
        ann_topk_bruteforce,
    )

    truth = {(r.query_id, r.neighbor_id) for r in ann_topk_bruteforce(spark, SF_DIR).collect()}
    ivf = {(r.query_id, r.neighbor_id) for r in ann_ivf_topk(spark, SF_DIR).collect()}
    recall = len(truth & ivf) / len(truth)
    assert recall >= 0.75, f"IVF recall@10 {recall}"


def test_kmeans_trains_and_covers_corpus(spark):
    """Lloyd iterations must actually move the centroids (iter-3 sums
    differ from iter-1), keep every cell populated, and partition the
    whole corpus (member counts sum to the table size)."""
    from csv_to_jsonld_processor_spark.operators.similarity import (
        KMEANS_K,
        ann_kmeans_train,
    )
    from csv_to_jsonld_processor_spark.session import load_tables

    r1 = {tuple(r) for r in ann_kmeans_train(spark, SF_DIR, iters=1).collect()}
    r3 = {tuple(r) for r in ann_kmeans_train(spark, SF_DIR, iters=3).collect()}
    assert r1 != r3, "3 iterations produced the iteration-1 centroids: training is a no-op"

    cells = {}
    for cell, _pos, _qs, n in r3:
        cells[cell] = n
    assert len(cells) == KMEANS_K, f"empty cells: {set(range(KMEANS_K)) - set(cells)}"
    n_vecs = load_tables(spark, SF_DIR)["embeddings"].count()
    assert sum(cells.values()) == n_vecs


def test_kmeans_improves_quantization_objective(spark):
    """The property Lloyd guarantees on ANY corpus (even this isotropic
    one, where IVF recall parity is the honest expectation): the mean
    cosine of each vector to its assigned centroid strictly improves
    from the first-K init to the trained centroids."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.similarity import (
        KMEANS_ITERS,
        KMEANS_K,
        _cell_scores_expr,
        _kmeans_centroids,
        _with_n2v,
    )
    from csv_to_jsonld_processor_spark.session import load_tables

    emb = load_tables(spark, SF_DIR)["embeddings"].select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    first = {
        int(r.vec_id): [float(x) for x in r.v]
        for r in emb.where(F.col("vec_id") < KMEANS_K).collect()
    }
    trained, _ = _kmeans_centroids(emb, KMEANS_ITERS)

    def objective(cents):
        return (
            _with_n2v(emb)
            .select(F.expr(f"array_max({_cell_scores_expr(cents)}).s").alias("s"))
            .agg(F.avg("s"))
            .collect()[0][0]
        )

    obj_first, obj_trained = objective(first), objective(trained)
    assert obj_trained > obj_first, (
        f"training worsened quantization: {obj_first:.4f} -> {obj_trained:.4f}"
    )


def test_semdedup_prunes_planted_duplicates(spark):
    """SemDeDup recall on the planted ground truth: the cell-blocked
    prune must drop (nearly) every planted near-duplicate — a planted
    pair can only escape if the k-means assignment splits it across
    cells, and the split rate must be small (the blocking-quality
    claim). Base vectors may also legitimately dedup against each
    other, so the census is bounded, not pinned."""
    from csv_to_jsonld_processor_spark.operators.similarity import (
        ND_ID_OFFSET,
        embedding_semdedup,
    )

    n_base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    rows = embedding_semdedup(spark, SF_DIR).collect()
    n_members = sum(r.n_members for r in rows)
    n_dropped = sum(r.n_dropped for r in rows)
    assert n_members == 2 * n_base  # base + planted corpus, all assigned
    # every drop needs a smaller-id twin; planted dups guarantee >= ~n_base
    assert n_dropped >= 0.95 * n_base, "cell-splitting must stay rare"
    assert n_dropped < n_members, "pruning must never drop everything"
    for r in rows:
        assert r.n_kept == r.n_members - r.n_dropped
        assert r.n_kept >= 1, "each non-empty cell keeps a representative"


def test_hard_negatives_band_excludes_positives(spark):
    """Every mined hard negative scores BELOW the false-negative
    threshold, ranks are dense per anchor, and at least one anchor had
    a top-band candidate denoised away (otherwise the band is vacuous
    at this scale) — checked against the unbanded IVF top-k."""
    from csv_to_jsonld_processor_spark.operators.similarity import (
        HN_FALSE_NEG_TAU as HN_DUP_TAU,
        HN_K,
        ann_ivf_topk,
        embedding_hard_negatives,
    )

    sf = "/root/testdata/sf0.01"
    hn = embedding_hard_negatives(spark, sf).collect()
    assert hn and all(r.score < HN_DUP_TAU for r in hn)
    by_q = {}
    for r in hn:
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= HN_K
               for v in by_q.values())
    top = ann_ivf_topk(spark, sf).collect()
    assert any(r.score >= HN_DUP_TAU for r in top), \
        "no near-dup positives in IVF top-k — the exclusion is untested"
    # the banded set never contains an excluded positive pair
    pos = {(r.query_id, r.neighbor_id) for r in top if r.score >= HN_DUP_TAU}
    assert not (pos & {(r.query_id, r.neighbor_id) for r in hn})


def test_ivf_sq8_composed_recall_meets_floor(spark):
    """The composed IVF+SQ8 index must clear the recall floor: coarse
    routing loses the same candidates as plain IVF, and dequantized
    rescoring must not lose materially more."""
    from csv_to_jsonld_processor_spark.operators.similarity import (
        ann_ivf_sq8_recall,
        ann_sq8_recall,
    )

    r = ann_ivf_sq8_recall(spark, SF_DIR).first()
    assert r["meets_floor"] and r["n_truth"] == 50
    # full-scan SQ8 (no routing loss): quantization alone is near-lossless
    r2 = ann_sq8_recall(spark, SF_DIR).first()
    assert r2["recall"] >= 0.95
