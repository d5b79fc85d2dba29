"""The single web-text extraction stage (kg/mentions.py) on malformed
input: a page with no HTML, a non-English page and empty partitions.
Linked and unlinked outputs must agree row for row on the mention
columns, including mentions the KB cannot link."""

import os
import sys
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.session import get_spark
from csv_to_jsonld_processor_spark.sources.pages import (
    ENTITIES,
    PAGES_SCHEMA,
    PREDICATES,
    page_record,
)

SURFACES = [p[0] for p in PREDICATES]
GAZETTEER = [a for _c, aliases, _cls in ENTITIES for a in aliases]
NONE_URL = "https://malformed.example.org/no-html"
DE_URL = "https://malformed.example.org/de"


@pytest.fixture(scope="module")
def spark():
    return get_spark("kg-mentions")


@pytest.fixture(scope="module")
def pages(spark):
    recs = [dict(page_record(i), lang="en") for i in range(8)]
    # page 3 yields mentions as English; its German twin must yield none
    recs.append(dict(recs[3], url=DE_URL, lang="de"))
    recs.append(dict(recs[0], url=NONE_URL, html=None))
    cols = [f.split(" ")[0] for f in PAGES_SCHEMA.split(", ")]
    rows = [tuple(r[c] for c in cols) for r in recs]
    # more slices than rows: some input partitions are empty
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, len(rows) + 4), PAGES_SCHEMA)
    assert 0 in df.rdd.glom().map(len).collect()
    return df


def _idx():
    from csv_to_jsonld_processor_spark.kg.link import kb_index

    # a KB gap, so some mentions stay unlinked
    return kb_index([e for e in ENTITIES if e[0] != "Alan Turing"])


def test_linked_stage_restricted_to_mentions_equals_unlinked(spark, pages):
    from csv_to_jsonld_processor_spark.kg.mentions import (
        MENTIONS_SCHEMA,
        extract_link_from_html,
        extract_mentions_from_html,
    )

    mcols = [f.split(" ")[0] for f in MENTIONS_SCHEMA.split(", ")]
    linked = extract_link_from_html(pages, SURFACES, GAZETTEER, _idx()).collect()
    unlinked = extract_mentions_from_html(pages, SURFACES, GAZETTEER)
    assert unlinked.columns == mcols
    got = Counter(tuple(r[c] for c in mcols) for r in linked)
    assert got == Counter(tuple(r) for r in unlinked.collect())
    assert any(r.subj_mention_entity is None or r.obj_mention_entity is None for r in linked)
    assert any(r.subj_mention_entity is not None for r in linked)


def test_passthrough_adds_exactly_the_page_column(spark, pages):
    from csv_to_jsonld_processor_spark.kg.mentions import extract_link_from_html

    idx = _idx()
    linked = extract_link_from_html(pages, SURFACES, GAZETTEER, idx)
    with_ts = extract_link_from_html(pages, SURFACES, GAZETTEER, idx, passthrough=("warc_ts",))
    assert with_ts.columns == linked.columns + ["warc_ts"]
    assert dict(with_ts.dtypes)["warc_ts"] == "timestamp"
    rows = with_ts.collect()
    assert Counter(tuple(r)[:-1] for r in rows) == Counter(tuple(r) for r in linked.collect())
    ts = {r.url: r.warc_ts for r in pages.select("url", "warc_ts").collect()}
    assert rows and all(r.warc_ts == ts[r.url] for r in rows)


def test_no_html_and_non_english_rows_emit_nothing(spark, pages):
    from csv_to_jsonld_processor_spark.kg.mentions import (
        extract_link_from_html,
        extract_mentions_from_html,
    )

    twin_url = page_record(3)["url"]
    for out in (
        extract_mentions_from_html(pages, SURFACES, GAZETTEER),
        extract_link_from_html(pages, SURFACES, GAZETTEER, _idx()),
        extract_link_from_html(pages, SURFACES, GAZETTEER, _idx(), passthrough=("warc_ts",)),
    ):
        urls = Counter(r.url for r in out.select("url").collect())
        assert urls[twin_url] > 0
        assert urls[DE_URL] == 0 and urls[NONE_URL] == 0
