"""Truth anchoring for the retrieval/tokenizer-training ops beyond the
oracle hash: independent Python recomputes from the raw parquet (BM25
with the same integer math; BPE with REAL sequential HF-style apply, so
the leftmost-replace merge rule is proven equivalent on this corpus)."""

import os
import sys
from collections import Counter

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.session import get_spark

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    return get_spark("search-ops")


@pytest.fixture(scope="module")
def texts():
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text FROM '{SF}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    con.close()
    return rows


def test_bm25_matches_python_recompute(spark, texts):
    from csv_to_jsonld_processor_spark.operators.search import (
        BM25_TOP_K,
        IDF_CAP,
        IDF_SCALE,
        QUERY_TERMS,
        TF_SCALE,
        doc_bm25_search,
    )

    docs = [(did, t.split(" ")) for did, t in texts]
    n = len(docs)
    total = sum(len(tok) for _d, tok in docs)
    a = total // n
    df = {q: sum(1 for _d, tok in docs if q in tok) for q in QUERY_TERMS}
    idf = {
        q: min(IDF_CAP, (IDF_SCALE * (n - df[q] + 1)) // (df[q] + 1))
        for q in QUERY_TERMS
    }
    expected = []
    for did, tok in docs:
        dl = len(tok)
        c = Counter(tok)
        score = sum(
            (
                idf[q]
                * ((TF_SCALE * c[q] * 10 * a) // (10 * a * c[q] + 3 * a + 9 * dl))
            )
            // TF_SCALE
            for q in QUERY_TERMS
        )
        if score > 0:
            expected.append((-score, did, dl, sum(1 for q in QUERY_TERMS if c[q])))
    expected.sort()
    expected = [(d, -s, dl, m) for s, d, dl, m in expected[:BM25_TOP_K]]

    got = [
        (r.doc_id, r.score, r.dl, r.n_matched)
        for r in doc_bm25_search(spark, SF).collect()
    ]
    assert got == expected
    # rare-term dominance: the top hit must contain the rare query term
    rare = min(df, key=df.get)
    top_tokens = dict(texts)[got[0][0]].split(" ")
    assert rare in top_tokens


def test_bm25_idf_monotone_and_capped():
    from csv_to_jsonld_processor_spark.operators.search import IDF_CAP, IDF_SCALE

    n = 10_000
    weights = [
        min(IDF_CAP, (IDF_SCALE * (n - df + 1)) // (df + 1)) for df in range(n + 1)
    ]
    assert all(a >= b for a, b in zip(weights, weights[1:]))
    assert weights[0] == IDF_CAP  # df=0 saturates at the cap


def _real_bpe_apply(symbols: list[str], pair: tuple[str, str]) -> list[str]:
    """Sequential leftmost merge — the HF/sentencepiece apply rule."""
    out, i = [], 0
    while i < len(symbols):
        if i + 1 < len(symbols) and (symbols[i], symbols[i + 1]) == pair:
            out.append(symbols[i] + symbols[i + 1])
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return out


def test_bpe_train_matches_real_sequential_bpe(spark, texts):
    from csv_to_jsonld_processor_spark.operators.search import (
        BPE_ROUNDS,
        EOW,
        doc_bpe_train,
    )

    words = Counter(w for _d, t in texts for w in t.split(" ") if w)
    census = {tuple(list(w) + [EOW]): c for w, c in words.items()}
    expected = []
    for r in range(1, BPE_ROUNDS + 1):
        pairs = Counter()
        for syms, c in census.items():
            for x, y in zip(syms, syms[1:]):
                pairs[(x, y)] += c
        # max count, min pair lexicographic on the space-joined string
        best = min(pairs.items(), key=lambda kv: (-kv[1], " ".join(kv[0])))
        (x, y), cnt = best
        expected.append((r, f"{x} {y}", x + y, cnt))
        census = {
            tuple(_real_bpe_apply(list(s), (x, y))): c for s, c in census.items()
        }

    got = [
        (r.round, r.pair, r.merged, r.pair_count)
        for r in doc_bpe_train(spark, SF).collect()
    ]
    assert got == expected
    assert len({m for _r, _p, m, _c in got}) == BPE_ROUNDS  # merges distinct


def test_bpe_apply_matches_recompute_and_compresses(spark, texts):
    from csv_to_jsonld_processor_spark.operators.search import (
        BPE_ROUNDS,
        EOW,
        doc_bpe_apply,
    )

    # recompute: learn merges (real sequential BPE — proven equivalent
    # above), then tokens per word = |merged symbol seq|
    import duckdb as _d
    con = _d.connect()
    rows = con.execute(
        f"SELECT lang, text FROM '{SF}/documents.parquet'"
    ).fetchall()
    con.close()
    census = Counter(w for _l, t in rows for w in t.split(" ") if w)
    seqs = {w: tuple(list(w) + [EOW]) for w in census}
    for _r in range(BPE_ROUNDS):
        pairs = Counter()
        for w, syms in seqs.items():
            for x, y in zip(syms, syms[1:]):
                pairs[(x, y)] += census[w]
        (x, y), _c = min(pairs.items(), key=lambda kv: (-kv[1], " ".join(kv[0])))
        seqs = {w: tuple(_real_bpe_apply(list(s), (x, y))) for w, s in seqs.items()}
    expect = {}
    for lang, t in rows:
        ws = [w for w in t.split(" ") if w]
        e = expect.setdefault(lang, [0, 0, 0])
        e[0] += len(ws)
        e[1] += sum(len(seqs[w]) for w in ws)
        e[2] += sum(len(w) for w in ws)
    got = {
        r.lang: (r.total_words, r.total_bpe_tokens, r.total_chars)
        for r in doc_bpe_apply(spark, SF).collect()
    }
    assert got == {l: tuple(v) for l, v in expect.items()}
    for l, (nw, nt, nc) in got.items():
        # merges must compress: fewer tokens than chars+EOW markers
        assert nt < nc + nw, l


def test_hybrid_rrf_self_consistency_and_overlap(spark):
    """Every fused row's rrf_score must equal the RRF formula applied
    to its OWN ranks (integer algebra, absent list contributes 0); the
    PRF dense query must actually overlap the lexical list (the top-3
    feedback docs rank high densely — fusion is non-vacuous), and the
    fused order must be (rrf DESC, doc_id ASC)."""
    from csv_to_jsonld_processor_spark.operators.search import (
        RRF_K,
        RRF_SCALE,
        doc_hybrid_rrf,
    )

    rows = doc_hybrid_rrf(spark, SF).collect()
    assert len(rows) == 10
    for r in rows:
        want = sum(
            RRF_SCALE // (RRF_K + rank)
            for rank in (r.lex_rank, r.dense_rank)
            if rank is not None
        )
        assert r.rrf_score == want, (r.doc_id, r.rrf_score, want)
    assert any(
        r.lex_rank is not None and r.dense_rank is not None for r in rows
    ), "lexical and dense lists never overlapped — fusion is vacuous"
    scores = [(r.rrf_score, -r.doc_id) for r in rows]
    assert scores == sorted(scores, reverse=True)
