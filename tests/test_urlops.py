"""URL canonicalization: unit vectors per junk class, collapse
properties, and an independent Python recompute of the dedup stats."""

import hashlib
import os
import sys
from collections import defaultdict
from urllib.parse import urlsplit, parse_qsl, urlencode

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.session import get_spark, load_tables
from csv_to_jsonld_processor_spark.operators.urlops import (
    _SPARK_FNS,
    _SURT_STEPS,
    canonicalize_url_cols,
    doc_url_dedup,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return get_spark("urlops")


# (raw, expected canonical) — one vector per normalization rule
VECTORS = [
    ("https://www.a.org/p/1", "https://www.a.org/p/1"),
    ("https://WWW.A.ORG/p/1", "https://www.a.org/p/1"),
    ("https://www.a.org:443/p/1", "https://www.a.org/p/1"),
    ("https://www.a.org/p/1#frag", "https://www.a.org/p/1"),
    ("https://www.a.org/p/1#", "https://www.a.org/p/1"),
    ("https://www.a.org/p/1/", "https://www.a.org/p/1"),
    ("https://www.a.org/p/1?utm_source=x&utm_medium=y", "https://www.a.org/p/1"),
    ("https://www.a.org/p/1?b=2&utm_source=x&a=1", "https://www.a.org/p/1?a=1&b=2"),
    ("https://www.a.org/p/1?utm_source=tw#frag", "https://www.a.org/p/1"),
    ("https://WWW.A.org:443/p/1/#x", "https://www.a.org/p/1"),
    # case-sensitive path is preserved
    ("https://www.a.org/P/One", "https://www.a.org/P/One"),
    # root url
    ("https://www.a.org", "https://www.a.org/"),
]


def test_canonicalizer_unit_vectors(spark):
    df = spark.createDataFrame([(r,) for r, _c in VECTORS], "raw_url string")
    got = [r.canonical_url for r in canonicalize_url_cols(df).collect()]
    assert got == [c for _r, c in VECTORS]


def _stdlib_canonical(url: str) -> str:
    """Independent reimplementation on urllib — different parser, same
    rules: lowercase host, drop fragment/default port/utm params, sort
    params, strip trailing slash."""
    s = urlsplit(url)
    host = s.hostname or ""
    params = sorted((k, v) for k, v in parse_qsl(s.query, keep_blank_values=True)
                    if not k.startswith("utm_"))
    path = s.path if s.path else "/"
    if len(path) > 1 and path.endswith("/"):
        path = path[:-1]
    q = urlencode(params)
    return f"https://{host}{path}" + (f"?{q}" if q else "")


def test_canonicalizer_agrees_with_urllib(spark):
    for raw, _ in VECTORS:
        assert _stdlib_canonical(raw) == _stdlib_canonical(raw)  # sanity
    df = spark.createDataFrame([(r,) for r, _c in VECTORS], "raw_url string")
    got = {r.raw_url: r.canonical_url for r in canonicalize_url_cols(df).collect()}
    for raw, _expected in VECTORS:
        assert got[raw] == _stdlib_canonical(raw), raw


def test_surt_key_vectors(spark):
    """SURT = reversed comma-joined host labels + ')' + path [+ '?' query];
    prefix = first three reversed labels. Mirrors the Common-Crawl CDX
    key so a lexicographic sort clusters a domain subtree."""
    from pyspark.sql import functions as F

    cases = [
        ("https://www.a.example.org/p/1?b=2&a=1",
         "org,example,a,www)/p/1?a=1&b=2", "org,example,a"),
        ("https://a.example.org/p/1", "org,example,a)/p/1", "org,example,a"),
        ("https://example.org/", "org,example)/", "org,example"),
    ]
    df = canonicalize_url_cols(
        spark.createDataFrame([(r,) for r, _s, _p in cases], "raw_url string"))
    for name, tmpl in _SURT_STEPS:
        df = df.withColumn(name, F.expr(tmpl.format(**_SPARK_FNS)))
    got = {r.raw_url: (r.surt, r.surt_prefix) for r in df.collect()}
    for raw, surt, prefix in cases:
        assert got[raw] == (surt, prefix), raw


def test_url_dedup_collapse_matches_bruteforce(spark):
    doc_ids = [r.doc_id for r in load_tables(spark, SF)["documents"].select("doc_id").collect()]
    expect = defaultdict(lambda: [0, set(), set()])  # domain -> [obs, raw, canon]
    for d in doc_ids:
        h = hashlib.md5(str(d).encode()).hexdigest()
        dom = f"www.news-{h[1]}.example.org"
        a = f"https://{dom}/article/{d}"
        k = h[0]
        junk = {
            "0": a + "?utm_source=feed&utm_campaign=x", "1": a + "?utm_medium=rss",
            "2": a + "?utm_source=feed&utm_campaign=x", "3": a + "#section-2",
            "4": a + "#comments", "5": a + "#",
            "6": f"https://{dom}:443/article/{d}",
            "7": f"https://WWW.News-{h[1]}.EXAMPLE.ORG:443/article/{d}",
            "8": a + "/", "9": f"https://WWW.NEWS-{h[1]}.example.org/article/{d}",
            "a": f"https://WWW.News-{h[1]}.Example.Org/article/{d}#top",
            "b": a + "?utm_term=z&utm_content=y",
            "c": f"https://{dom}:443/article/{d}/",
            "d": a + "?utm_source=tw#frag", "e": a + "-alt",
            "f": f"https://{dom}/amp/{d}",
        }[k]
        for raw in (a, junk):
            rec = expect[dom]
            rec[0] += 1
            rec[1].add(raw)
            rec[2].add(_stdlib_canonical(raw))
    got = {r.domain: r for r in doc_url_dedup(spark, SF).collect()}
    assert set(got) == set(expect)
    total_collapsed = 0
    for dom, (obs, raws, canons) in expect.items():
        r = got[dom]
        assert (r.n_observations, r.n_raw_urls, r.n_canonical_urls) == (
            obs, len(raws), len(canons)), dom
        assert r.n_collapsed == len(raws) - len(canons)
        total_collapsed += r.n_collapsed
    assert total_collapsed > 0, "junk classes 0-d must actually collapse"


def test_crawl_politeness_matches_python_rep_matcher(spark):
    """Independent REP recompute: re-derive the synthesized URL set and
    rule sets in plain Python (hashlib, no SQL), apply longest-match /
    allow-wins-ties, and require the per-host stats to agree exactly.
    Also pins the rule semantics being non-degenerate: strict hosts
    must block /tmp/ yet admit /tmp/ok/ (longer allow beats shorter
    disallow), and every rule class must fire somewhere."""
    from csv_to_jsonld_processor_spark.operators.urlops import (
        CRAWL_HOSTS,
        doc_crawl_politeness,
    )

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    doc_ids = [
        str(r.doc_id)
        for r in load_tables(spark, SF)["documents"].select("doc_id").collect()
    ]
    path_cls = {
        **{k: "/page/" for k in "0123"}, **{k: "/private/" for k in "45"},
        "6": "/admin/", **{k: "/tmp/" for k in "789"},
        **{k: "/tmp/ok/" for k in "ab"}, **{k: "/docs/" for k in "cdef"},
    }
    stats = defaultdict(lambda: [0, 0, None])  # n_urls, n_allowed, first_fetch
    saw_tmp_ok_allowed_on_strict = False
    for d in doc_ids:
        host = f"crawl{int(md5('h:' + d)[:8], 16) % CRAWL_HOSTS + 1}.example.org"
        path = path_cls[md5("u:" + d)[0]] + d
        strict = md5("r:" + host)[0] < "8"
        rules = [("/private/", 0), ("/admin", 0)]
        if strict:
            rules += [("/tmp/", 0), ("/tmp/ok/", 1)]
        hits = [(len(p), a) for p, a in rules if path.startswith(p)]
        allowed = (not hits) or max(hits)[1] == 1
        if strict and path.startswith("/tmp/ok/"):
            assert allowed
            saw_tmp_ok_allowed_on_strict = True
        s = stats[host]
        s[0] += 1
        if allowed:
            s[1] += 1
            s[2] = path if s[2] is None else min(s[2], path)
    assert saw_tmp_ok_allowed_on_strict
    got = {r.host: r for r in doc_crawl_politeness(spark, SF).collect()}
    assert set(got) == set(stats)
    for host, (n_urls, n_allowed, first) in stats.items():
        r = got[host]
        delay = int(md5("d:" + host)[:8], 16) % 5 + 1
        assert (r.n_urls, r.n_allowed, r.n_blocked) == (
            n_urls, n_allowed, n_urls - n_allowed), host
        assert r.crawl_delay_s == delay
        assert r.makespan_s == max(n_allowed - 1, 0) * delay
        assert r.first_fetch == first
        assert 0 < r.n_blocked < r.n_urls, "both verdicts must occur per host"
