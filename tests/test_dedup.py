"""SimHash hamming-pair exactness: the band-join candidate generation is
provably complete for hamming <= 3 (4 disjoint 16-bit bands), so the
registered pairs query must EQUAL an all-pairs popcount recomputation —
set equality, not a recall gate."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    from csv_to_jsonld_processor_spark.session import get_spark

    return get_spark("dedup")


def test_simhash_pairs_exact_vs_allpairs(spark):
    from csv_to_jsonld_processor_spark.operators.dedup import (
        HAMMING_TAU,
        _simhash_df,
        dedup_simhash_pairs,
    )
    from csv_to_jsonld_processor_spark.session import load_tables

    sigs = {
        r.doc_id: r.simhash
        for r in _simhash_df(load_tables(spark, SF_DIR)["documents"]).collect()
    }
    expected = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin((sigs[a] ^ sigs[b]) & ((1 << 60) - 1)).count("1")
            if h <= HAMMING_TAU:
                expected.add((a, b, h))

    got = {(r.doc_a, r.doc_b, r.hamming) for r in dedup_simhash_pairs(spark, SF_DIR).collect()}
    assert got == expected, (
        f"missing={sorted(expected - got)[:5]} extra={sorted(got - expected)[:5]}"
    )
    assert len(got) > 0, "degenerate: no hamming-close pairs at sf0.01"


def test_minhash_xxhash64_path_matches_md5_after_verification(spark):
    """The xxhash64 candidate-gen backend (the 100 TB shuffle-width
    optimization, oracle-incompatible by design) must converge to the
    SAME verified near-dup set as the md5 path once exact Jaccard
    decides — LSH recall may differ per hash, the confirmed dups must
    not."""
    from csv_to_jsonld_processor_spark.operators.dedup import dedup_minhash_verified

    def dups(hash_impl):
        df = dedup_minhash_verified(spark, SF_DIR, hash_impl=hash_impl)
        return {
            (r.doc_a, r.doc_b, r.jaccard) for r in df.where("is_dup").collect()
        }

    md5_dups = dups("md5")
    xx_dups = dups("xxhash64")
    assert len(md5_dups) > 0, "degenerate: no verified dups at sf0.01"
    assert xx_dups == md5_dups, (
        f"missing={sorted(md5_dups - xx_dups)[:5]} extra={sorted(xx_dups - md5_dups)[:5]}"
    )


def test_incremental_equals_restricted_full_chain(spark):
    """The incremental ingest chain must emit exactly the verified full
    chain's pairs whose doc_b falls in the new batch — same jaccard,
    same verdicts (new-vs-old and new-vs-earlier-new, never old-vs-old)."""
    from pyspark.sql import functions as F

    from csv_to_jsonld_processor_spark.operators.dedup import (
        INCR_FRACTION,
        dedup_minhash_incremental,
        dedup_minhash_verified,
    )
    from csv_to_jsonld_processor_spark.session import load_tables

    sf = "/root/testdata/sf0.01"
    inc = {
        (r.doc_a, r.doc_b, r.jaccard, r.is_dup)
        for r in dedup_minhash_incremental(spark, sf).collect()
    }
    max_id = load_tables(spark, sf)["documents"].agg(F.max("doc_id")).first()[0]
    import math

    thresh = math.ceil(max_id * INCR_FRACTION)
    full = {
        (r.doc_a, r.doc_b, r.jaccard, r.is_dup)
        for r in dedup_minhash_verified(spark, sf).collect()
        if r.doc_b >= thresh
    }
    assert inc == full and len(inc) > 0
    assert all(b >= thresh and a < b for a, b, _, _ in inc)


def test_chunk_dedup_matches_python_recompute(spark):
    """Full exact recompute of the chunk-dedup histogram in plain
    Python at gate scale — pins chunking (non-overlapping K-token
    windows, trailing partial dropped), the >=2-distinct-docs dup rule,
    and the decile bucketing."""
    from collections import Counter, defaultdict

    from csv_to_jsonld_processor_spark.operators.dedup import CHUNK_K, dedup_chunks
    from csv_to_jsonld_processor_spark.session import load_tables

    sf = "/root/testdata/sf0.001"
    docs = load_tables(spark, sf)["documents"].select("doc_id", "text").collect()
    chunk_docs: dict[str, set] = defaultdict(set)
    per_doc: dict[int, list] = {}
    for r in docs:
        toks = r["text"].split(" ")
        chunks = [
            " ".join(toks[i * CHUNK_K:(i + 1) * CHUNK_K])
            for i in range(len(toks) // CHUNK_K)
        ]
        per_doc[r["doc_id"]] = chunks
        for c in chunks:
            chunk_docs[c].add(r["doc_id"])
    hist = Counter()
    totals = Counter()
    dups = Counter()
    for doc_id, chunks in per_doc.items():
        if not chunks:
            continue
        n_dup = sum(1 for c in chunks if len(chunk_docs[c]) > 1)
        b = min(9, n_dup * 10 // len(chunks))
        hist[b] += 1
        totals[b] += len(chunks)
        dups[b] += n_dup
    got = {r["dup_decile"]: r for r in dedup_chunks(spark, sf).collect()}
    assert set(got) == set(hist)
    for b in hist:
        assert got[b]["n_docs"] == hist[b]
        assert got[b]["n_chunks"] == totals[b]
        assert got[b]["n_dup_chunks"] == dups[b]


def test_prefix_filter_lossless_vs_bruteforce(spark):
    """Prefix filtering (PPJoin) must be LOSSLESS: every pair with set-
    Jaccard >= tau shares a token inside both docs' rarity-ordered
    prefixes. Recompute matches brute-force in Python over the real
    corpus shingles and check (a) the query's audit counters agree and
    (b) n_matches_in_prefix == n_matches — the theorem held on data
    where the full inverted index generates strictly more candidates."""
    from csv_to_jsonld_processor_spark.operators.dedup import (
        PREFIX_TAU_DEN,
        PREFIX_TAU_NUM,
        _doc_shingles,
        dedup_prefix_filter,
    )
    from csv_to_jsonld_processor_spark.session import load_tables

    docs = load_tables(spark, SF_DIR)["documents"]
    sets: dict = {}
    for r in _doc_shingles(docs).collect():
        sets.setdefault(r.doc_id, set()).add(r.shingle)
    dfreq: dict = {}
    for s in sets.values():
        for tok in s:
            dfreq[tok] = dfreq.get(tok, 0) + 1
    ids = sorted(sets)
    expected_matches = set()
    full_pairs = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            full_pairs.add((a, b))
            union = len(sets[a]) + len(sets[b]) - inter
            if PREFIX_TAU_DEN * inter >= PREFIX_TAU_NUM * union:
                expected_matches.add((a, b))

    def prefix(doc_id):
        toks = sorted(sets[doc_id], key=lambda t: (dfreq[t], t))
        n = len(toks)
        keep = n - (PREFIX_TAU_NUM * n + PREFIX_TAU_DEN - 1) // PREFIX_TAU_DEN + 1
        return set(toks[:keep])

    prefixes = {d: prefix(d) for d in ids}
    cand = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if prefixes[a] & prefixes[b]
    }
    assert expected_matches <= cand, "theorem violated in brute-force model"

    row = dedup_prefix_filter(spark, SF_DIR).collect()[0]
    assert row.n_docs == len(ids)
    assert row.n_pairs_full == len(full_pairs)
    assert row.n_pairs_prefix == len(cand)
    assert row.n_matches == len(expected_matches)
    assert row.n_matches_in_prefix == row.n_matches, "prefix filter dropped a true match"
    assert row.n_pairs_prefix < row.n_pairs_full, "audit degenerate: prefix saved nothing"
