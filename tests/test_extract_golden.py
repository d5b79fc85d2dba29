"""Golden-hash suite: extracted text must be byte-identical per url
(BASELINE.json input_hint). The goldens were frozen from the pinned
extractor; any behavioral drift in extract_text fails here."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.extract import extract_text, text_sha256
from csv_to_jsonld_processor_spark.sources.pages import page_record

GOLDEN = os.path.join(os.path.dirname(__file__), "golden_extract_hashes.json")


def test_golden_hashes_byte_identical():
    with open(GOLDEN) as f:
        golden = json.load(f)
    assert len(golden) == 300
    for i in range(300):
        rec = page_record(i, seed=42)
        assert golden[rec["url"]] == text_sha256(rec["html"]), rec["url"]


def test_extractor_rules():
    html = (
        b"<html><head><title>T</title><style>x{}</style></head>"
        b"<body><h1>Head&amp;er</h1><p>a  b</p><script>var q=1;</script>"
        b"<!-- comment --><div>tail</div></body></html>"
    )
    assert extract_text(html) == "T Head&er a b tail"


def test_extractor_handles_malformed():
    assert extract_text(b"<p>unclosed") == "unclosed"
    assert extract_text(b"plain text") == "plain text"
    assert extract_text(b"<script>never closed") == ""
    assert extract_text(b"") == ""


def test_distributed_extraction_matches_pure_function():
    from csv_to_jsonld_processor_spark.extract import extract_pages
    from csv_to_jsonld_processor_spark.session import get_spark
    from csv_to_jsonld_processor_spark.sources.pages import generate_pages

    spark = get_spark("extract-golden")
    pages = generate_pages(spark, 120, seed=42, partitions=6)
    got = {r["url"]: r["extracted_text"] for r in extract_pages(pages).collect()}
    assert len(got) == 120
    for i in range(120):
        rec = page_record(i, seed=42)
        assert got[rec["url"]] == extract_text(rec["html"])
