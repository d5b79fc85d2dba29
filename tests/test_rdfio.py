"""N-Quads codec: tokenizer unit coverage + distributed round-trip.

The parser must decode everything the grammar allows (ECHAR + UCHAR
escapes, langtags, datatypes, blank nodes, graphs, comments, junk)
— not just what our serializer emits."""

import pytest

from csv_to_jsonld_processor_spark.kg.rdfio import (
    _SPECIALS,
    escape_literal,
    parse_nquads_line,
    quad_to_line,
    read_nquads,
)


S = "http://ex.org/s"
P = "http://ex.org/p"


def test_parse_simple_triple_and_quad():
    assert parse_nquads_line(f"<{S}> <{P}> <http://ex.org/o> .") == (
        "quad", S, P, "iri", "http://ex.org/o", None, None, None)
    assert parse_nquads_line(
        f"<{S}> <{P}> <http://ex.org/o> <http://ex.org/g> .") == (
        "quad", S, P, "iri", "http://ex.org/o", None, None, "http://ex.org/g")


def test_parse_literal_escapes():
    line = f'<{S}> <{P}> "a\\"b\\\\c\\nd\\te\\rf" .'
    r = parse_nquads_line(line)
    assert r[:4] == ("quad", S, P, "plain")
    assert r[4] == 'a"b\\c\nd\te\rf'


def test_parse_uchar_escapes_in_literal_and_iri():
    r = parse_nquads_line(f'<{S}> <{P}> "\\u00e9\\U0001F600x" .')
    assert r[4] == "é\U0001F600x"
    r = parse_nquads_line(f'<http://ex.org/\\u00e9> <{P}> "v" .')
    assert r[1] == "http://ex.org/é"


def test_parse_langtag_and_datatype():
    r = parse_nquads_line(f'<{S}> <{P}> "hi"@de-DE .')
    assert (r[3], r[4], r[5]) == ("lang", "hi", "de-DE")
    r = parse_nquads_line(
        f'<{S}> <{P}> "7"^^<http://www.w3.org/2001/XMLSchema#integer> .')
    assert (r[3], r[4], r[6]) == (
        "typed", "7", "http://www.w3.org/2001/XMLSchema#integer")


def test_parse_blank_nodes_and_whitespace():
    r = parse_nquads_line(f"_:b12\t<{P}>\t_:o34  .")
    assert (r[1], r[3], r[4]) == ("_:b12", "bnode", "_:o34")
    # label may not swallow the statement terminator
    r = parse_nquads_line(f"<{S}> <{P}> _:tail.")
    assert (r[3], r[4]) == ("bnode", "_:tail")


def test_parse_meta_lines():
    assert parse_nquads_line("") == ("#blank",)
    assert parse_nquads_line("   \t ") == ("#blank",)
    assert parse_nquads_line("# a comment") == ("#comment",)
    for bad in (
        f"<{S}> <{P}> \"unterminated",
        f"<{S}> <{P}> <http://ex.org/o>",          # missing '.'
        f"<{S}> <{P}> .",                          # two terms
        f"<{S}> <{P}> \"v\"@ .",                   # empty langtag
        f"\"lit\" <{P}> <http://ex.org/o> .",      # literal subject
        f"<{S}> _:b <http://ex.org/o> .",          # bnode predicate
        f"<{S}> <{P}> <http://ex.org/o> . junk",   # trailing content
        f"<{S}> <{P}> \"v\\qz\" .",                # bad escape
    ):
        assert parse_nquads_line(bad) == ("#malformed",), bad


@pytest.mark.parametrize("value", _SPECIALS + ["plain", "", "a\x1e b"])
def test_python_roundtrip_literal(value):
    line = quad_to_line(S, P, "plain", value)
    r = parse_nquads_line(line)
    assert r[0] == "quad" and r[4] == value


def test_python_roundtrip_all_forms():
    cases = [
        (S, P, "iri", "http://ex.org/o", None, None, None),
        ("_:bn1", P, "plain", 'x"\\\n\ty', None, None, "http://ex.org/g"),
        (S, P, "lang", "hallo", "de-DE", None, "http://ex.org/g"),
        (S, P, "typed", "42", None,
         "http://www.w3.org/2001/XMLSchema#integer", None),
    ]
    for subj, pred, kind, val, lang, dt, graph in cases:
        r = parse_nquads_line(quad_to_line(subj, pred, kind, val, lang, dt, graph))
        assert r == ("quad", subj, pred, kind, val, lang, dt, graph)


def test_escape_literal_minimal():
    assert escape_literal('a"b\\c\nd\re\tf') == 'a\\"b\\\\c\\nd\\re\\tf'


@pytest.fixture(scope="module")
def spark():
    from csv_to_jsonld_processor_spark.session import get_spark

    return get_spark("rdfio")


def test_distributed_roundtrip(spark):
    """Serializer exprs → parser mapInPandas over a hand-built corpus
    with every term form; parse must recover byte-exact values."""
    rows = [
        quad_to_line(S, P, "plain", sp, None, None, "http://ex.org/g")
        for sp in _SPECIALS
    ] + [
        quad_to_line("_:b9", P, "lang", "v", "en", None, None),
        "# comment",
        "",
        "<broken",
    ]
    lines = spark.createDataFrame([(x,) for x in rows], "line string").repartition(4)
    out = {tuple(r) for r in read_nquads(lines).collect()}
    for sp in _SPECIALS:
        assert (S, P, "plain", sp, None, None, "http://ex.org/g") in out
    assert ("_:b9", P, "lang", "v", "en", None, None) in out
    kinds = sorted(r[2] for r in out if r[0] is None)
    assert kinds == ["#blank", "#comment", "#malformed"]


def test_trailing_comment_after_terminator():
    r = parse_nquads_line(f"<{S}> <{P}> <http://ex.org/o> . # provenance note")
    assert r[:3] == ("quad", S, P)


def test_serializer_rejects_illegal_iri():
    with pytest.raises(ValueError, match="illegal in N-Quads"):
        quad_to_line("http://ex.org/bad iri", P, "iri", "http://ex.org/o")
    with pytest.raises(ValueError, match="illegal in N-Quads"):
        quad_to_line(S, P, "iri", "http://ex.org/o>o")
