"""WARC codec properties beyond the oracle hash: pure-Python record
round trips (plain + gzip members), payload byte identity through the
full Spark encode→decode path, Content-Length-driven parsing with a
WARC magic inside the payload, and malformed-shard rejection."""

import os
import sys
from datetime import datetime, timezone

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.session import get_spark
from csv_to_jsonld_processor_spark.sources.warc import (
    decode_warc_shard,
    encode_warc_record,
)

TS = datetime(2023, 11, 14, 22, 13, 20, tzinfo=timezone.utc)


@pytest.fixture(scope="module")
def spark():
    return get_spark("warc")


def test_record_roundtrip_plain_and_gzip():
    html = b"<html><body>hello \xe2\x9c\x93</body></html>"
    for gz in (False, True):
        shard = encode_warc_record("https://a.example.org/x", TS, html, gzip_member=gz)
        recs = decode_warc_shard(shard)
        assert len(recs) == 1
        r = recs[0]
        assert r["url"] == "https://a.example.org/x"
        assert r["html"] == html
        assert r["rec_type"] == "response"
        assert r["warc_date"] == "2023-11-14T22:13:20Z"


def test_gzip_encoding_deterministic():
    html = b"<html>x</html>"
    a = encode_warc_record("https://a/x", TS, html, gzip_member=True)
    b = encode_warc_record("https://a/x", TS, html, gzip_member=True)
    assert a == b and a[:2] == b"\x1f\x8b"


def test_multi_member_shard_and_magic_in_payload():
    """Payload containing the literal 'WARC/1.0' magic must not confuse
    the parser — Content-Length drives record framing."""
    evil = b"<html>WARC/1.0\r\n\r\nfake</html>"
    shard = b"".join(
        encode_warc_record(f"https://h/{i}", TS, evil, gzip_member=True)
        for i in range(3)
    )
    recs = decode_warc_shard(shard)
    assert [r["url"] for r in recs] == [f"https://h/{i}" for i in range(3)]
    assert all(r["html"] == evil for r in recs)


def test_malformed_shard_raises():
    with pytest.raises(ValueError, match="magic"):
        decode_warc_shard(b"NOT A WARC RECORD\r\n\r\n")


def test_spark_roundtrip_byte_identity(spark):
    """Full distributed path: pages → gzip shards (one per partition) →
    records; html payloads byte-identical per url, shard count = input
    partitions."""
    from csv_to_jsonld_processor_spark.sources.pages import generate_pages
    from csv_to_jsonld_processor_spark.sources.warc import (
        pages_to_warc_shards,
        read_warc,
    )

    pages = generate_pages(spark, 200, seed=42, partitions=4)
    shards = pages_to_warc_shards(pages, gzip_member=True)
    assert shards.count() == 4
    back = read_warc(shards)
    orig = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    got = {r["url"]: bytes(r["html"]) for r in back.collect()}
    assert got == orig


def test_permissive_skips_corrupt_records_and_counts():
    """Production posture: a corrupt middle record is skipped with the
    parser resyncing on the next record boundary; loss is counted."""
    good1 = encode_warc_record("https://h/1", TS, b"<html>1</html>")
    good2 = encode_warc_record("https://h/2", TS, b"<html>2</html>")
    corrupt = b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: oops\r\n\r\n"
    shard = good1 + corrupt + good2
    recs, skipped = decode_warc_shard(shard, permissive=True)
    assert [r["url"] for r in recs] == ["https://h/1", "https://h/2"]
    assert skipped == 1
    with pytest.raises(ValueError):
        decode_warc_shard(shard)  # strict mode still raises


def test_permissive_truncated_tail():
    good = encode_warc_record("https://h/1", TS, b"<html>1</html>")
    recs, skipped = decode_warc_shard(good + good[: len(good) // 2], permissive=True)
    assert len(recs) == 1 and skipped == 1
