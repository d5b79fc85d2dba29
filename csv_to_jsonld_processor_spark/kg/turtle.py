"""Turtle codec: prefix-compacting serializer + distributed parser for
the W3C Turtle syntax (the human-facing RDF format every triple store
and KG toolchain reads; reference analog: csv-to-jsonld ships JSON-LD,
`csv-to-jsonld-lib/src/manifest/mod.rs` write path — Turtle is the
prefix-compressed sibling, and together with kg/rdfio.py's N-Quads and
sources/jsonld.py's node reader it completes the RDF syntax family).

What Turtle adds over N-Quads (all exercised by the round-trip gate):

* ``@prefix`` directives + prefixed-name compaction — the serializer
  picks the LONGEST declared namespace whose remainder is a valid
  ``PN_LOCAL`` (so ``kg:`` never shadows ``per:``), the parser expands
  against the declared map and flags unknown prefixes malformed;
* the ``a`` keyword for ``rdf:type``;
* predicate lists (``;``) and object lists (``,``) — one statement can
  carry a whole subject block;
* bare integer literals for ``xsd:integer``.

Scale shape: the WRITE side is the pretty-printer, so it earns its two
shuffles — groupBy (subject, predicate) for object lists then groupBy
subject for predicate lists, both partial-aggregated string folds; term
rendering itself is pure JVM expressions riding the scan.  The READ
side is two narrow passes with ZERO shuffles: pass 1 collects the
``@prefix`` prologue (bounded: one row per declared prefix — metadata,
not data), pass 2 parses statement lines independently under the
broadcast prefix map as an Arrow-batched ``mapInPandas``.  The codec is
line-oriented by construction — the serializer emits one complete
statement per line — so a 100 TB Turtle ingest splits like any text
format; this "streaming Turtle" restriction (directives precede any
statement they govern, statements don't span lines) is the documented
subset, exactly how line-delimited JSON restricts JSON.

Correctness gate (``kg_turtle_roundtrip``): the same truth-anchored
gated corpus as ``kg_nquads_roundtrip`` (kg/rdfio.py GROUND_TRUTH_CTES)
with Turtle-specific md5 gates layered on top — 1/4 of IRI-object
triples rewritten to ``rdf:type`` (exercising ``a``), independent 1/4
gates forcing subject/object back to full ``<IRI>`` form (exercising
the non-compacted path), comment/blank/malformed pollution lines —
serialized, parsed back, and aggregated per (object kind, blank-node
subject) with order-free checksums over the EXPANDED term tuples plus a
per-group count of prefixed-name tokens the parser expanded.  The
DuckDB oracle reconstructs the tuples straight from the golden CSV and
independently re-decides compactability (longest-match + PN_LOCAL
validity in SQL) — it never serializes or parses, so a single mangled
byte or a compaction that silently stopped happening turns a row red.
"""

from __future__ import annotations

from typing import Iterator, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_df
from .rdfio import (
    GROUND_TRUTH_CTES,
    _ECHAR,
    _XSD_INT,
    _esc_expr,
    _ground_truth,
    _parse_iriref,
    _parse_string,
    escape_literal,
)
from .queries import kg_webtext_edges

_US = "\x1f"
_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

# The declared prefix map for the round-trip corpus.  ``kg:`` is a
# deliberate proper-prefix of the others: longest-valid-match must win
# (per:john-doe, never kg:ids/person/john-doe — '/' is not PN_LOCAL).
PREFIXES: dict[str, str] = {
    "per": "http://example.org/kg/ids/person/",
    "org": "http://example.org/kg/ids/organization/",
    "pl": "http://example.org/kg/ids/place/",
    "kg": "http://example.org/kg/",
    "t": "http://example.org/kg/terms/",
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
}

# Conservative PN_LOCAL subset shared by serializer, parser, and oracle:
# starts with a letter/digit/underscore, may contain dots/dashes inside,
# must not end with a dot.  (Full Turtle PN_LOCAL also allows %-escapes
# and PN_LOCAL_ESC; anything outside the subset round-trips as <IRI>.)
_PN_LOCAL_RE = "^[A-Za-z0-9_]([A-Za-z0-9_.-]*[A-Za-z0-9_-])?$"


# ---------------------------------------------------------------------------
# Python codec (unit-testable; the parser is what mapInPandas runs)
# ---------------------------------------------------------------------------

def _pn_local_ok(local: str) -> bool:
    import re

    return re.match(_PN_LOCAL_RE, local) is not None


def compact_iri(iri: str, prefixes: dict[str, str] = PREFIXES) -> Optional[str]:
    """Longest-valid-match prefixed name for ``iri``, or None if no
    declared namespace yields a valid PN_LOCAL remainder."""
    for pfx, ns in sorted(prefixes.items(), key=lambda kv: -len(kv[1])):
        if iri.startswith(ns) and _pn_local_ok(iri[len(ns):]):
            return f"{pfx}:{iri[len(ns):]}"
    return None


def triple_to_turtle(subj: str, pred: str, kind: str, value: str,
                     lang: Optional[str] = None, dt: Optional[str] = None,
                     prefixes: dict[str, str] = PREFIXES) -> str:
    """Serialize one triple as a single-statement Turtle line (the
    Python twin of the expression-side renderer; used by unit tests)."""
    def term(iri: str) -> str:
        pn = compact_iri(iri, prefixes)
        return pn if pn is not None else f"<{iri}>"

    s = subj if subj.startswith("_:") else term(subj)
    p = "a" if pred == _RDF_TYPE else term(pred)
    if kind == "iri":
        o = term(value)
    elif kind == "typed" and dt == _XSD_INT and value.lstrip("+-").isdigit():
        o = value
    else:
        o = f'"{escape_literal(value)}"'
        if kind == "lang":
            o += f"@{lang}"
        elif kind == "typed":
            o += f"^^{term(dt)}"
    return f"{s} {p} {o} ."


def parse_prefix_directive(line: str) -> Optional[Tuple[str, str]]:
    """Parse ``@prefix p: <iri> .`` (or SPARQL-style ``PREFIX p: <iri>``);
    returns (prefix, namespace) or None if the line is not a directive."""
    stripped = line.strip()
    low = stripped.lower()
    if low.startswith("@prefix"):
        rest, need_dot = stripped[len("@prefix"):].strip(), True
    elif low.startswith("prefix"):
        rest, need_dot = stripped[len("prefix"):].strip(), False
    else:
        return None
    try:
        colon = rest.index(":")
        pfx = rest[:colon].strip()
        i = colon + 1
        while i < len(rest) and rest[i] in " \t":
            i += 1
        if i >= len(rest) or rest[i] != "<":
            return None
        ns, i = _parse_iriref(rest, i)
        tail = rest[i:].strip()
        if need_dot and tail != ".":
            return None
        if not need_dot and tail:
            return None
        if pfx and not _pn_local_ok(pfx):
            return None
        return (pfx, ns)
    except (ValueError, IndexError):
        return None


_DELIMS = set(" \t,;")


def _parse_pname(s: str, i: int) -> Tuple[str, str, int]:
    """Parse ``prefix:local`` at position i; returns (prefix, local, j).
    Trailing dots are statement terminators, not PN_LOCAL chars."""
    j = i
    n = len(s)
    while j < n and s[j] not in _DELIMS:
        j += 1
    tok = s[i:j]
    while tok.endswith("."):
        tok = tok[:-1]
        j -= 1
    if ":" not in tok:
        raise ValueError(f"not a prefixed name: {tok!r}")
    pfx, local = tok.split(":", 1)
    if local and not _pn_local_ok(local):
        raise ValueError(f"invalid PN_LOCAL: {local!r}")
    if pfx and not _pn_local_ok(pfx):
        raise ValueError(f"invalid prefix label: {pfx!r}")
    return pfx, local, j


def _parse_bnode_label(s: str, i: int) -> Tuple[str, int]:
    j = i + 2
    n = len(s)
    while j < n and (s[j].isalnum() or s[j] in "_.-"):
        j += 1
    label = s[i:j]
    while label.endswith("."):
        label = label[:-1]
        j -= 1
    if len(label) <= 2:
        raise ValueError("empty blank-node label")
    return label, j


def _parse_integer(s: str, i: int) -> Tuple[str, int]:
    j = i
    n = len(s)
    if j < n and s[j] in "+-":
        j += 1
    d0 = j
    while j < n and s[j].isdigit():
        j += 1
    if j == d0:
        raise ValueError("not a number")
    # decimals / doubles are outside the supported subset — reject
    # rather than silently truncating "1.5" to 1
    if j < n and s[j] == "." and j + 1 < n and s[j + 1].isdigit():
        raise ValueError("decimal literals unsupported")
    if j < n and s[j] in "eE":
        raise ValueError("double literals unsupported")
    return s[i:j], j


def parse_turtle_line(line: str, prefixes: dict[str, str]):
    """Parse one single-statement Turtle line under the declared prefix
    map.  Returns ``('#blank',)`` / ``('#comment',)`` / ``('#directive',
    pfx, ns)`` / ``('#malformed',)`` for non-triple lines, else
    ``('triples', [(subj, pred, kind, value, lang, dt, n_pname), ...])``
    with one entry per triple in the predicate/object lists; terms are
    fully EXPANDED IRIs and ``n_pname`` counts the prefixed-name tokens
    this triple's three positions used (``a`` is a keyword, not a
    pname)."""
    stripped = line.strip()
    if not stripped:
        return ("#blank",)
    if stripped.startswith("#"):
        return ("#comment",)
    d = parse_prefix_directive(line)
    if d is not None:
        return ("#directive", d[0], d[1])

    def expand(pfx: str, local: str) -> str:
        if pfx not in prefixes:
            raise ValueError(f"undeclared prefix {pfx!r}")
        return prefixes[pfx] + local

    try:
        i, n = 0, len(line)

        def skip_ws(i: int) -> int:
            while i < n and line[i] in " \t":
                i += 1
            return i

        def read_resource(i: int) -> Tuple[str, int, int]:
            """IRI / pname at i → (expanded_iri, j, used_pname)."""
            if line[i] == "<":
                v, j = _parse_iriref(line, i)
                return v, j, 0
            pfx, local, j = _parse_pname(line, i)
            return expand(pfx, local), j, 1

        # subject
        i = skip_ws(i)
        if i >= n:
            raise ValueError("empty statement")
        if line[i] == "_" and line[i: i + 2] == "_:":
            subj, i = _parse_bnode_label(line, i)
            s_pn = 0
        else:
            subj, i, s_pn = read_resource(i)

        triples = []
        while True:
            # predicate
            i = skip_ws(i)
            if i >= n:
                raise ValueError("missing predicate")
            if line[i] == "a" and (i + 1 >= n or line[i + 1] in _DELIMS):
                pred, i, p_pn = _RDF_TYPE, i + 1, 0
            else:
                pred, i, p_pn = read_resource(i)
            # object list
            while True:
                i = skip_ws(i)
                if i >= n:
                    raise ValueError("missing object")
                c = line[i]
                o_pn = 0
                if c == "<":
                    val, i = _parse_iriref(line, i)
                    kind, lang, dt = "iri", "", ""
                elif c == '"':
                    val, i = _parse_string(line, i)
                    kind, lang, dt = "plain", "", ""
                    if i < n and line[i] == "@":
                        j = i + 1
                        while j < n and (line[j].isalnum() or line[j] == "-"):
                            j += 1
                        if j == i + 1:
                            raise ValueError("empty langtag")
                        kind, lang, i = "lang", line[i + 1: j], j
                    elif line[i: i + 2] == "^^":
                        i += 2
                        if i < n and line[i] == "<":
                            dt, i = _parse_iriref(line, i)
                        else:
                            pfx, local, i = _parse_pname(line, i)
                            dt, o_pn = expand(pfx, local), 1
                        kind = "typed"
                elif c == "_" and line[i: i + 2] == "_:":
                    val, i = _parse_bnode_label(line, i)
                    kind, lang, dt = "bnode", "", ""
                elif c.isdigit() or c in "+-":
                    val, i = _parse_integer(line, i)
                    kind, lang, dt = "typed", "", _XSD_INT
                else:
                    val, i, o_pn = read_resource(i)
                    kind, lang, dt = "iri", "", ""
                triples.append((subj, pred, kind, val, lang, dt,
                                s_pn + p_pn + o_pn))
                i = skip_ws(i)
                if i >= n:
                    raise ValueError("missing terminator")
                if line[i] == ",":
                    i += 1
                    continue
                break
            if line[i] == ";":
                i += 1
                continue
            if line[i] == ".":
                tail = line[i + 1:].strip()
                if tail and not tail.startswith("#"):
                    raise ValueError("content after terminator")
                return ("triples", triples)
            raise ValueError(f"unexpected char {line[i]!r}")
    except (ValueError, IndexError):
        return ("#malformed",)


def read_turtle(lines: DataFrame, col: str = "line") -> DataFrame:
    """Distributed streaming-Turtle reader.  Two narrow passes, zero
    shuffles: (1) the ``@prefix`` prologue — bounded metadata, one row
    per declared prefix — is collected and broadcast; (2) every
    statement line parses independently under that map via Arrow-batched
    ``mapInPandas``.  Output: (subj, pred, obj_kind, obj_value, lang,
    dt, n_pname); meta lines come back with obj_kind = '#comment' /
    '#blank' / '#directive' / '#malformed' and null terms."""
    import pandas as pd

    directive_rows = (
        lines.filter(
            F.lower(F.ltrim(F.col(col))).startswith("@prefix")
            | F.lower(F.ltrim(F.col(col))).startswith("prefix ")
        ).collect()
    )
    prefixes: dict[str, str] = {}
    for row in directive_rows:
        d = parse_prefix_directive(row[col])
        if d is not None:
            prefixes[d[0]] = d[1]
    bc = lines.sparkSession.sparkContext.broadcast(prefixes)

    schema = ("subj string, pred string, obj_kind string, obj_value string, "
              "lang string, dt string, n_pname int")

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        pmap = bc.value
        cols = ["subj", "pred", "obj_kind", "obj_value", "lang", "dt",
                "n_pname"]
        for pdf in batches:
            rows = []
            for line in pdf[col].astype(str):
                r = parse_turtle_line(line, pmap)
                if r[0] == "triples":
                    for (s, p, k, v, lg, dt, npn) in r[1]:
                        rows.append((s, p, k, v, lg, dt, npn))
                else:
                    rows.append((None, None, r[0], None, None, None, 0))
            yield pd.DataFrame(rows, columns=cols)

    return lines.mapInPandas(gen, schema)


# ---------------------------------------------------------------------------
# Spark-expression serializer
# ---------------------------------------------------------------------------

def _pname_expr(c: F.Column) -> F.Column:
    """Longest-valid-match prefixed-name rendering of an IRI column;
    falls back to ``<IRI>``.  Built shortest-namespace-inward so the
    outermost WHEN (= longest namespace with a valid PN_LOCAL) wins."""
    expr = F.concat(F.lit("<"), c, F.lit(">"))
    for pfx, ns in sorted(PREFIXES.items(), key=lambda kv: len(kv[1])):
        local = F.substring(c, len(ns) + 1, 1 << 24)
        expr = F.when(
            c.startswith(ns) & local.rlike(_PN_LOCAL_RE),
            F.concat(F.lit(pfx + ":"), local),
        ).otherwise(expr)
    return expr


def _tgate(key: F.Column, off: int, mod: int) -> F.Column:
    return F.conv(F.substring(F.md5(key), off, 4), 16, 10).cast("long") % mod


def turtle_truth(quads: DataFrame) -> DataFrame:
    """Layer the Turtle-specific md5 gates over the shared N-Quads
    ground truth (graphs dropped — Turtle carries triples):

    * ``g_type`` (1/4 of iri-object triples): predicate rewritten to
      ``rdf:type`` so the corpus exercises ``a``;
    * ``g_sfull`` / ``g_ofull`` (1/4 each): subject / IRI-object forced
      to full ``<IRI>`` form even though compactable;
    * comment / blank / malformed pollution gates.

    The DuckDB oracle (TURTLE_TRUTH_CTE) mirrors every CASE here."""
    tk = F.concat_ws(_US, "s", "p", "kind", "val")
    g_type = _tgate(tk, 1, 4)
    return quads.select(
        "s",
        F.when((F.col("kind") == "iri") & (g_type == 0), F.lit(_RDF_TYPE))
        .otherwise(F.col("p")).alias("p"),
        "kind", "val", "lang", "dt",
        (_tgate(tk, 5, 4) == 0).alias("s_full"),
        (_tgate(tk, 9, 4) == 0).alias("o_full"),
        (_tgate(tk, 13, 8) == 0).alias("g_comment"),
        (_tgate(tk, 17, 8) == 0).alias("g_blankln"),
        (_tgate(tk, 21, 16) == 0).alias("g_malformed"),
        F.md5(tk).alias("tk_md5"),
    )


def write_turtle_lines(truth: DataFrame) -> DataFrame:
    """Pretty-printing Turtle serializer over the gated truth: renders
    terms as JVM expressions riding the scan, then folds object lists
    (groupBy subject+predicate) and predicate lists (groupBy subject)
    into one statement line per subject — the two shuffles a grouped
    text format costs.  Emits the ``@prefix`` prologue and the gated
    pollution lines alongside."""
    spark = truth.sparkSession
    s_term = F.when(F.col("s").startswith("_:"), F.col("s")).otherwise(
        F.when(F.col("s_full"),
               F.concat(F.lit("<"), F.col("s"), F.lit(">")))
        .otherwise(_pname_expr(F.col("s")))
    )
    p_term = F.when(F.col("p") == _RDF_TYPE, F.lit("a")).otherwise(
        _pname_expr(F.col("p"))
    )
    quoted = F.concat(
        F.lit('"'), _esc_expr(F.col("val")), F.lit('"'),
        F.when(F.col("kind") == "lang", F.concat(F.lit("@"), F.col("lang")))
        .otherwise(F.lit("")),
    )
    o_term = (
        F.when(
            F.col("kind") == "iri",
            F.when(F.col("o_full"),
                   F.concat(F.lit("<"), F.col("val"), F.lit(">")))
            .otherwise(_pname_expr(F.col("val"))),
        )
        .when((F.col("kind") == "typed") & (F.col("dt") == _XSD_INT),
              F.col("val"))
        .when(F.col("kind") == "typed",
              F.concat(quoted, F.lit("^^"), _pname_expr(F.col("dt"))))
        .otherwise(quoted)
    )
    rendered = truth.select(s_term.alias("st"), p_term.alias("pt"),
                            o_term.alias("ot"))
    stmt_lines = (
        rendered.groupBy("st", "pt")
        .agg(F.concat_ws(", ", F.array_sort(F.collect_list("ot"))).alias("objs"))
        .select("st", F.concat_ws(" ", "pt", "objs").alias("po"))
        .groupBy("st")
        .agg(F.concat_ws(" ; ", F.array_sort(F.collect_list("po"))).alias("body"))
        .select(F.concat_ws(" ", "st", "body", F.lit(".")).alias("line"))
    )
    prologue = local_df(
        spark,
        [(f"@prefix {pfx}: <{ns}> .",) for pfx, ns in sorted(PREFIXES.items())],
        "line string",
    )
    comments = truth.filter("g_comment").select(
        F.concat(F.lit("# t="), F.col("tk_md5")).alias("line")
    )
    blanks = truth.filter("g_blankln").select(F.lit(" \t ").alias("line"))
    malformed = truth.filter("g_malformed").select(
        F.concat(F.lit("zz:"), F.col("tk_md5"), F.lit(' t:x "broken')).alias("line")
    )
    return prologue.unionAll(stmt_lines).unionAll(comments) \
                   .unionAll(blanks).unionAll(malformed)


# ---------------------------------------------------------------------------
# Round-trip gate
# ---------------------------------------------------------------------------

def kg_turtle_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize the gated triple corpus to streaming Turtle, parse it
    back, and aggregate per (object kind, blank-node-subject flag):
    triple count, prefixed-name token count, order-free checksum over
    the EXPANDED term tuples, lexical min/max tuple md5.  Meta rows
    audit the prologue and skipped pollution.  The oracle rebuilds the
    tuples and independently re-derives each term's compactability from
    the golden CSV — it never serializes or parses."""
    edges = kg_webtext_edges(spark, sf_dir)
    truth = turtle_truth(_ground_truth(edges))
    parsed = read_turtle(write_turtle_lines(truth))

    is_meta = F.col("obj_kind").startswith("#")
    tup = F.concat_ws(
        _US,
        F.coalesce("subj", F.lit("")), F.coalesce("pred", F.lit("")),
        F.coalesce("obj_kind", F.lit("")), F.coalesce("obj_value", F.lit("")),
        F.coalesce("lang", F.lit("")), F.coalesce("dt", F.lit("")),
    )
    tm = F.when(~is_meta, F.md5(tup))
    return (
        parsed.select(
            F.col("obj_kind").alias("term_kind"),
            F.when(is_meta, F.lit(-1))
            .when(F.col("subj").startswith("_:"), F.lit(1))
            .otherwise(F.lit(0)).cast("int").alias("bnode_subj"),
            F.col("n_pname"),
            tm.alias("tm"),
        )
        .groupBy("term_kind", "bnode_subj")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_triples"),
            F.sum("n_pname").cast("long").alias("n_pname_terms"),
            F.coalesce(
                F.sum(F.conv(F.substring("tm", 1, 8), 16, 10).cast("long")),
                F.lit(0),
            ).cast("long").alias("checksum"),
            F.coalesce(F.min("tm"), F.lit("")).alias("min_md5"),
            F.coalesce(F.max("tm"), F.lit("")).alias("max_md5"),
        )
        .orderBy("term_kind", "bnode_subj")
    )


def _compactable_sql(col: str) -> str:
    """SQL mirror of the serializer's longest-valid-match decision:
    1 iff ``col`` renders as a prefixed name."""
    cases = []
    for _pfx, ns in sorted(PREFIXES.items(), key=lambda kv: -len(kv[1])):
        cases.append(
            f"WHEN starts_with({col}, '{ns}') THEN "
            f"(CASE WHEN regexp_matches(substr({col}, {len(ns) + 1}), "
            f"'{_PN_LOCAL_RE}') THEN 1 ELSE 0 END)"
        )
    return "(CASE " + " ".join(cases) + " ELSE 0 END)"


KG_TURTLE_ROUNDTRIP_SQL = f"""
WITH {GROUND_TRUTH_CTES},
tt0 AS (
  -- tkm is keyed on the ORIGINAL predicate (the Spark side gates on the
  -- pre-rewrite tuple too); computed in its own CTE so the rewritten
  -- alias below can never shadow it
  SELECT s, p, kind, val, lang, dt,
         md5(s || chr(31) || p || chr(31) || kind || chr(31) || val) AS tkm
  FROM q
),
tt AS (
  SELECT
    s,
    CASE WHEN kind = 'iri'
          AND (CAST(('0x' || substr(tkm, 1, 4)) AS BIGINT) % 4) = 0
         THEN '{_RDF_TYPE}' ELSE p END AS p,
    kind, val, lang, dt, tkm
  FROM tt0
),
g2 AS (
  SELECT *,
    (CAST(('0x' || substr(tkm, 5, 4)) AS BIGINT) % 4) = 0  AS s_full,
    (CAST(('0x' || substr(tkm, 9, 4)) AS BIGINT) % 4) = 0  AS o_full,
    (CAST(('0x' || substr(tkm,13, 4)) AS BIGINT) % 8) = 0  AS g_comment,
    (CAST(('0x' || substr(tkm,17, 4)) AS BIGINT) % 8) = 0  AS g_blankln,
    (CAST(('0x' || substr(tkm,21, 4)) AS BIGINT) % 16) = 0 AS g_malformed
  FROM tt
),
t AS (
  SELECT
    kind,
    CASE WHEN substr(s, 1, 2) = '_:' THEN 1 ELSE 0 END AS bnode_subj,
    (CASE WHEN substr(s, 1, 2) = '_:' OR s_full THEN 0
          ELSE {_compactable_sql('s')} END)
    + (CASE WHEN p = '{_RDF_TYPE}' THEN 0 ELSE {_compactable_sql('p')} END)
    + (CASE WHEN kind = 'iri' AND NOT o_full THEN {_compactable_sql('val')}
            ELSE 0 END) AS n_pname,
    md5(s || chr(31) || p || chr(31) || kind || chr(31) || val
        || chr(31) || lang || chr(31) || dt) AS tm
  FROM g2
),
triples AS (
  SELECT kind AS term_kind, bnode_subj,
         CAST(COUNT(*) AS BIGINT) AS n_triples,
         CAST(SUM(n_pname) AS BIGINT) AS n_pname_terms,
         CAST(SUM(CAST(('0x' || substr(tm, 1, 8)) AS BIGINT)) AS BIGINT)
           AS checksum,
         MIN(tm) AS min_md5, MAX(tm) AS max_md5
  FROM t GROUP BY kind, bnode_subj
),
meta AS (
  SELECT '#comment' AS term_kind, -1 AS bnode_subj,
         CAST(SUM(CASE WHEN g_comment THEN 1 ELSE 0 END) AS BIGINT)
           AS n_triples,
         CAST(0 AS BIGINT) AS n_pname_terms, CAST(0 AS BIGINT) AS checksum,
         '' AS min_md5, '' AS max_md5
  FROM g2
  UNION ALL
  SELECT '#blank', -1,
         CAST(SUM(CASE WHEN g_blankln THEN 1 ELSE 0 END) AS BIGINT),
         CAST(0 AS BIGINT), CAST(0 AS BIGINT), '', ''
  FROM g2
  UNION ALL
  SELECT '#malformed', -1,
         CAST(SUM(CASE WHEN g_malformed THEN 1 ELSE 0 END) AS BIGINT),
         CAST(0 AS BIGINT), CAST(0 AS BIGINT), '', ''
  FROM g2
  UNION ALL
  SELECT '#directive', -1, CAST({len(PREFIXES)} AS BIGINT),
         CAST(0 AS BIGINT), CAST(0 AS BIGINT), '', ''
)
SELECT * FROM triples
UNION ALL
SELECT * FROM meta
ORDER BY term_kind, bnode_subj
"""


KG_TURTLE_QUERIES: dict[str, tuple] = {
    "kg_turtle_roundtrip": (kg_turtle_roundtrip, KG_TURTLE_ROUNDTRIP_SQL),
}
