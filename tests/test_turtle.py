"""Turtle codec: prefix compaction, `a`, predicate/object lists, bare
integers — tokenizer unit coverage + distributed two-pass round-trip.

The parser must handle the streaming-Turtle subset generally (pname
datatypes, SPARQL-style PREFIX, unknown prefixes, decimal rejection),
not just the serializer's own output."""

import pytest

from csv_to_jsonld_processor_spark.kg.turtle import (
    PREFIXES,
    _RDF_TYPE,
    _XSD_INT,
    compact_iri,
    parse_prefix_directive,
    parse_turtle_line,
    read_turtle,
    triple_to_turtle,
)

PER = "http://example.org/kg/ids/person/"
T = "http://example.org/kg/terms/"


def test_compact_iri_longest_valid_match():
    # kg: is a proper prefix of per:, but '/' is not PN_LOCAL — the
    # longest namespace with a VALID remainder must win
    assert compact_iri(PER + "john-doe") == "per:john-doe"
    assert compact_iri(T + "acquired") == "t:acquired"
    assert compact_iri("http://example.org/kg/other") == "kg:other"
    # no declared namespace leaves a valid local part
    assert compact_iri("http://example.org/kg/ids/person/a/b") is None
    assert compact_iri("http://unrelated.example/x") is None
    # PN_LOCAL may not end with a dot
    assert compact_iri(PER + "end.") is None
    assert compact_iri(PER + "mid.dle") == "per:mid.dle"


def test_serialize_a_and_integer_shorthand():
    assert triple_to_turtle(PER + "jd", _RDF_TYPE, "iri",
                            "http://example.org/kg/ids/organization/acme") \
        == "per:jd a org:acme ."
    assert triple_to_turtle(PER + "jd", T + "age", "typed", "42",
                            dt=_XSD_INT) == "per:jd t:age 42 ."
    # non-integer typed literal keeps the quoted ^^ form
    assert triple_to_turtle(PER + "jd", T + "x", "typed", "x42",
                            dt=_XSD_INT) == 'per:jd t:x "x42"^^xsd:integer .'


def test_parse_predicate_and_object_lists():
    line = ('per:jd a org:acme , <http://x.example/y> ; '
            't:age 42 ; t:note "a\\"b\\nc"@en .')
    r = parse_turtle_line(line, PREFIXES)
    assert r[0] == "triples" and len(r[1]) == 4
    by_pred = {}
    for t in r[1]:
        by_pred.setdefault(t[1], []).append(t)
    assert len(by_pred[_RDF_TYPE]) == 2
    ages = by_pred[T + "age"][0]
    assert (ages[2], ages[3], ages[5]) == ("typed", "42", _XSD_INT)
    note = by_pred[T + "note"][0]
    assert (note[2], note[3], note[4]) == ("lang", 'a"b\nc', "en")
    # n_pname: subject + predicate pnames count per triple; <IRI>, `a`,
    # and bare ints do not
    assert [t[6] for t in r[1]] == [2, 1, 2, 2]


def test_parse_directives_both_styles():
    assert parse_prefix_directive(
        "@prefix per: <http://example.org/kg/ids/person/> .") \
        == ("per", "http://example.org/kg/ids/person/")
    assert parse_prefix_directive(
        "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>") \
        == ("xsd", "http://www.w3.org/2001/XMLSchema#")
    # @prefix requires the terminating dot; PREFIX forbids it
    assert parse_prefix_directive(
        "@prefix p: <http://e/>") is None
    assert parse_prefix_directive(
        "PREFIX p: <http://e/> .") is None


def test_parse_rejections():
    assert parse_turtle_line("zz:abc t:x <http://e/o> .", PREFIXES) \
        == ("#malformed",)  # undeclared prefix
    assert parse_turtle_line("per:a t:v 1.5 .", PREFIXES) == ("#malformed",)
    assert parse_turtle_line("per:a t:v 2e3 .", PREFIXES) == ("#malformed",)
    assert parse_turtle_line("per:a t:v .", PREFIXES) == ("#malformed",)
    assert parse_turtle_line('per:a t:v "open .', PREFIXES) == ("#malformed",)
    assert parse_turtle_line("# c", PREFIXES) == ("#comment",)
    assert parse_turtle_line("  \t ", PREFIXES) == ("#blank",)


def test_parse_pname_datatype_and_bnodes():
    r = parse_turtle_line('per:a t:v "7"^^xsd:integer .', PREFIXES)
    assert r[1][0][2:6] == ("typed", "7", "", _XSD_INT)
    assert r[1][0][6] == 3  # subj + pred + datatype pnames
    r = parse_turtle_line("_:b1 t:v _:o2 .", PREFIXES)
    assert (r[1][0][0], r[1][0][2], r[1][0][3]) == ("_:b1", "bnode", "_:o2")
    # trailing dot after a pname object with no space
    r = parse_turtle_line("per:a t:v per:end.", PREFIXES)
    assert r[1][0][3] == PER + "end"


def test_integer_terminator_without_space():
    r = parse_turtle_line("per:a t:age 42.", PREFIXES)
    assert r[1][0][3] == "42"
    r = parse_turtle_line("per:a t:age -7 .", PREFIXES)
    assert r[1][0][3] == "-7"


@pytest.fixture(scope="module")
def spark():
    from csv_to_jsonld_processor_spark.session import get_spark

    return get_spark("turtle")


def test_distributed_two_pass_roundtrip(spark):
    """Prologue collected and broadcast (pass 1), statements parsed
    independently (pass 2); expansion must be exact and meta lines
    classified."""
    lines = [f"@prefix {p}: <{ns}> ." for p, ns in sorted(PREFIXES.items())]
    lines += [
        "per:jd a org:acme ; t:age 42 , 43 .",
        f'<{PER}full-iri> t:note "x\\ty"@en .',
        "zz:undeclared t:v per:a .",
        "# comment",
        "",
    ]
    df = spark.createDataFrame([(x,) for x in lines], "line string") \
              .repartition(4)
    rows = read_turtle(df).collect()
    triples = {(r.subj, r.pred, r.obj_kind, r.obj_value, r.lang, r.dt)
               for r in rows if r.subj is not None}
    assert (PER + "jd", _RDF_TYPE, "iri",
            "http://example.org/kg/ids/organization/acme", "", "") in triples
    assert (PER + "jd", T + "age", "typed", "42", "", _XSD_INT) in triples
    assert (PER + "jd", T + "age", "typed", "43", "", _XSD_INT) in triples
    assert (PER + "full-iri", T + "note", "lang", "x\ty", "en", "") in triples
    meta = sorted(r.obj_kind for r in rows if r.subj is None)
    assert meta == ["#blank", "#comment"] + ["#directive"] * len(PREFIXES) \
        + ["#malformed"]


def test_roundtrip_query_exercises_every_form(spark):
    """The gate corpus must actually hit compaction, full-IRI fallback,
    `a`, bare integers, and pollution — otherwise the round-trip proves
    less than it claims."""
    from csv_to_jsonld_processor_spark.kg.rdfio import _ground_truth
    from csv_to_jsonld_processor_spark.kg.turtle import (
        kg_turtle_roundtrip, turtle_truth, write_turtle_lines)
    from csv_to_jsonld_processor_spark.kg.queries import kg_webtext_edges

    sf_dir = "/root/testdata/sf0.001"
    edges = kg_webtext_edges(spark, sf_dir)
    truth = turtle_truth(_ground_truth(edges))
    text = [r.line for r in write_turtle_lines(truth).collect()]
    assert any(l.startswith("@prefix per:") for l in text)
    assert any(" a " in l for l in text)                   # rdf:type keyword
    assert any("per:" in l and not l.startswith("@") for l in text)
    assert any("<http://example.org/kg/ids/" in l for l in text)  # full-IRI gate
    assert any(" ; " in l for l in text)                   # predicate lists
    assert any(l.startswith("#") for l in text)
    assert any(l.startswith("zz:") for l in text)

    out = {(r.term_kind, r.bnode_subj): r
           for r in kg_turtle_roundtrip(spark, sf_dir).collect()}
    assert ("#malformed", -1) in out and ("#directive", -1) in out
    assert out[("iri", 0)].n_pname_terms > 0
    assert out[("iri", 0)].n_triples > 0
    # bare ints parse back as typed xsd:integer
    assert any(k[0] == "typed" for k in out)


def test_parser_side_has_no_shuffle(spark):
    """Statement parsing is embarrassingly parallel: the parse plan must
    contain no Exchange (pass 1's bounded prologue collect is a separate
    tiny job, not part of this plan)."""
    df = spark.createDataFrame(
        [("@prefix t: <http://example.org/kg/terms/> .",),
         ("<http://e/s> t:v 1 .",)], "line string")
    parsed = read_turtle(df)
    plan = parsed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
