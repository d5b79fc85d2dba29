"""BGP compiler semantics beyond the oracle hash: pattern shapes the
registered query doesn't exercise (constant subj/obj, repeated vars,
stats ordering, disconnected rejection) against brute-force Python
joins over a hand-built edge set."""

import os
import sys
from itertools import product

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.session import get_spark

EDGES = [
    ("a", "knows", "b"),
    ("a", "knows", "c"),
    ("b", "knows", "c"),
    ("c", "worksFor", "acme"),
    ("b", "worksFor", "acme"),
    ("a", "worksFor", "globex"),
    ("acme", "locatedIn", "berlin"),
    ("globex", "locatedIn", "paris"),
    ("loop", "self", "loop"),
]


@pytest.fixture(scope="module")
def spark():
    return get_spark("bgp")


@pytest.fixture(scope="module")
def edges(spark):
    return spark.createDataFrame(EDGES, "subj string, pred string, obj string")


def brute(patterns, project):
    """All variable bindings via nested loops over EDGES."""
    results = set()
    for rows in product(EDGES, repeat=len(patterns)):
        binding = {}
        ok = True
        for (s, p, o), row in zip(patterns, rows):
            for term, val in zip((s, p, o), row):
                if isinstance(term, str):
                    if term != val:
                        ok = False
                else:
                    if binding.setdefault(term.name, val) != val:
                        ok = False
            if not ok:
                break
        if ok:
            results.add(tuple(binding[v] for v in project))
    return results


def run(edges, patterns, project, **kw):
    from csv_to_jsonld_processor_spark.kg.bgp import bgp_query

    return {tuple(r) for r in bgp_query(edges, patterns, project, **kw).collect()}


def test_chain_with_constant_object(edges):
    from csv_to_jsonld_processor_spark.kg.bgp import Var

    pats = [
        (Var("p"), "worksFor", Var("o")),
        (Var("o"), "locatedIn", "berlin"),
    ]
    assert run(edges, pats, ["p", "o"]) == brute(pats, ["p", "o"]) == {
        ("c", "acme"),
        ("b", "acme"),
    }


def test_triangle_and_stats_ordering_agree(edges):
    from csv_to_jsonld_processor_spark.kg.bgp import Var

    pats = [
        (Var("x"), "knows", Var("y")),
        (Var("y"), "knows", Var("z")),
        (Var("x"), "knows", Var("z")),
    ]
    want = brute(pats, ["x", "y", "z"])
    assert run(edges, pats, ["x", "y", "z"]) == want == {("a", "b", "c")}
    assert run(edges, pats, ["x", "y", "z"], use_stats=True) == want


def test_repeated_variable_self_edge(edges):
    from csv_to_jsonld_processor_spark.kg.bgp import Var

    pats = [(Var("x"), Var("pr"), Var("x"))]
    assert run(edges, pats, ["x", "pr"]) == {("loop", "self")}


def test_variable_predicate(edges):
    from csv_to_jsonld_processor_spark.kg.bgp import Var

    pats = [("a", Var("pr"), Var("o"))]
    assert run(edges, pats, ["pr", "o"]) == brute(pats, ["pr", "o"])


def test_disconnected_bgp_refused(edges):
    from csv_to_jsonld_processor_spark.kg.bgp import Var, bgp_query

    pats = [
        (Var("x"), "knows", Var("y")),
        (Var("a"), "locatedIn", Var("b")),
    ]
    with pytest.raises(ValueError, match="cartesian"):
        bgp_query(edges, pats, ["x", "a"])


def test_bgp_plan_equi_joins_only(edges):
    """Compiled plan: no cartesian/nested-loop, constant filters present
    before the joins (pushed into the pattern scans)."""
    from csv_to_jsonld_processor_spark.kg.bgp import BGP_LIVES_AT_HQ, bgp_query

    df = bgp_query(edges, BGP_LIVES_AT_HQ, ["person", "org", "city"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_optional_left_join_semantics(edges):
    """OPTIONAL keeps unmatched required bindings with NULL city; the
    optional group never multiplies or filters required rows."""
    from csv_to_jsonld_processor_spark.kg.bgp import Var, bgp_query

    pats = [(Var("p"), "worksFor", Var("o"))]
    opt = [[(Var("p"), "knows", Var("q"))]]
    got = {tuple(r) for r in bgp_query(edges, pats, ["p", "o", "q"], optionals=opt).collect()}
    want = set()
    for s, pr, o in EDGES:
        if pr != "worksFor":
            continue
        matches = [oo for ss, pp, oo in EDGES if pp == "knows" and ss == s]
        for m in matches or [None]:
            want.add((s, o, m))
    assert got == want
    assert ("c", "acme", None) in got  # c knows nobody → NULL, row kept


def test_path_query_bounded_lengths(edges):
    from csv_to_jsonld_processor_spark.kg.bgp import path_query

    got = {tuple(r) for r in path_query(edges, "knows", 1, 2).collect()}
    one = {(s, o) for s, p, o in EDGES if p == "knows"}
    two = {(s1, o2) for s1, _p, o1 in EDGES if _p == "knows"
           for s2, p2, o2 in EDGES if p2 == "knows" and s2 == o1}
    assert got == one | two
    # min_len=2 excludes direct edges not reachable in 2 hops
    got2 = {tuple(r) for r in path_query(edges, "knows", 2, 2).collect()}
    assert got2 == two


def test_filter_expressions(edges):
    """SPARQL FILTER: SQL predicates over bound variables, applied to
    the required bindings (Catalyst pushes them down the join chain)."""
    from csv_to_jsonld_processor_spark.kg.bgp import Var, bgp_query

    pats = [
        (Var("p"), "worksFor", Var("o")),
        (Var("o"), "locatedIn", Var("c")),
    ]
    got = {
        tuple(r)
        for r in bgp_query(
            edges, pats, ["p", "o", "c"], filters=["c != 'paris'", "p != 'c'"]
        ).collect()
    }
    want = {
        (p, o, c)
        for p, o in [(s, ob) for s, pr, ob in EDGES if pr == "worksFor"]
        for oo, c in [(s, ob) for s, pr, ob in EDGES if pr == "locatedIn"]
        if oo == o and c != "paris" and p != "c"
    }
    assert got == want == {("b", "acme", "berlin")}


def test_path_closure_equals_python_transitive_closure(spark):
    """The semi-naive pred+ closure must equal an independent Python
    BFS transitive closure of the acquired-edge set from the golden
    edge table, and must strictly extend the 1-hop base (real chains
    exist in the corpus)."""
    import csv

    from csv_to_jsonld_processor_spark.kg.bgp import PATH_PRED, kg_sparql_path_closure
    from csv_to_jsonld_processor_spark.kg.queries import _GOLDEN_EDGES

    adj = {}
    base = set()
    with open(_GOLDEN_EDGES) as fh:
        for row in csv.DictReader(fh):
            if row["pred"] == PATH_PRED:
                adj.setdefault(row["subj"], set()).add(row["obj"])
                base.add((row["subj"], row["obj"]))
    want = set()
    for s in adj:
        seen, stack = set(), list(adj[s])
        while stack:
            d = stack.pop()
            if d in seen:
                continue
            seen.add(d)
            stack.extend(adj.get(d, ()))
        want |= {(s, d) for d in seen}
    got = {
        (r.src, r.dst)
        for r in kg_sparql_path_closure(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == want
    assert base < got, "multi-hop acquisition chains must exist"


def test_sparql_agg_matches_python_recompute(spark):
    """GROUP BY / HAVING lowering vs an independent Python recompute
    from the golden edges, on BAG semantics: COUNT(*) counts every
    worksFor assertion × its (deduped) OPTIONAL matches, COUNT
    (DISTINCT) over the OPTIONAL variable counts only bound cities
    (SPARQL unbound-skipping = SQL NULL-skipping), and HAVING must
    genuinely prune some org."""
    import csv
    from collections import defaultdict

    from csv_to_jsonld_processor_spark.kg.bgp import (
        AGG_MIN_SOLUTIONS,
        TERMS,
        kg_sparql_agg,
    )
    from csv_to_jsonld_processor_spark.kg.queries import _GOLDEN_EDGES

    works_bag, births = defaultdict(list), defaultdict(set)
    with open(_GOLDEN_EDGES) as fh:
        for row in csv.DictReader(fh):
            if row["pred"] == TERMS + "worksFor":
                works_bag[row["obj"]].append(row["subj"])
            elif row["pred"] == TERMS + "birthPlace":
                births[row["subj"]].add(row["obj"])
    want = {}
    for org, people in works_bag.items():
        n_sol = sum(max(1, len(births.get(p, ()))) for p in people)
        cities = {c for p in people for c in births.get(p, ())}
        if n_sol >= AGG_MIN_SOLUTIONS:
            want[org] = (n_sol, len(set(people)), len(cities))
    got = {
        r.org: (r.n_solutions, r.n_employees, r.n_known_cities)
        for r in kg_sparql_agg(spark, "/root/testdata/sf0.001").collect()
    }
    assert got == want
    assert 0 < len(want) < len(works_bag), "HAVING must prune, not annihilate"


def test_union_pads_disjoint_vars_and_binds(edges):
    from csv_to_jsonld_processor_spark.kg.bgp import Var, union_query

    got = {
        (r.x, r.org, r.city, r.kind)
        for r in union_query(
            edges,
            [
                {
                    "patterns": [(Var("x"), "worksFor", Var("org"))],
                    "binds": {"kind": "job"},
                },
                {
                    "patterns": [(Var("org"), "locatedIn", Var("city"))],
                    "binds": {"kind": "loc"},
                },
            ],
            ["x", "org", "city", "kind"],
        ).collect()
    }
    expected = {
        ("c", "acme", None, "job"),
        ("b", "acme", None, "job"),
        ("a", "globex", None, "job"),
        (None, "acme", "berlin", "loc"),
        (None, "globex", "paris", "loc"),
    }
    assert got == expected


def test_minus_anti_join_semantics(edges):
    from csv_to_jsonld_processor_spark.kg.bgp import Var, bgp_query

    # workers MINUS { those who know someone } -> only c knows nobody
    got = {
        (r.x, r.org)
        for r in bgp_query(
            edges,
            [(Var("x"), "worksFor", Var("org"))],
            ["x", "org"],
            minus_groups=[[(Var("x"), "knows", Var("y"))]],
        ).collect()
    }
    assert got == {("c", "acme")}
    # required ∖ minus and required ∩ minus partition the required set
    kept = bgp_query(
        edges,
        [(Var("x"), "worksFor", Var("org"))],
        ["x", "org"],
        minus_groups=[[(Var("x"), "knows", Var("y"))]],
    ).count()
    total = bgp_query(
        edges, [(Var("x"), "worksFor", Var("org"))], ["x", "org"]
    ).count()
    assert kept == 1 and total == 3


def test_minus_disjoint_domain_refused(edges):
    from csv_to_jsonld_processor_spark.kg.bgp import Var, bgp_query

    with pytest.raises(ValueError, match="MINUS"):
        bgp_query(
            edges,
            [(Var("x"), "worksFor", Var("org"))],
            ["x", "org"],
            minus_groups=[[(Var("p"), "locatedIn", Var("q"))]],
        )


def test_construct_feeds_back_into_bgp(edges):
    from csv_to_jsonld_processor_spark.kg.bgp import Var, bgp_query, construct_query

    g = construct_query(
        edges,
        [(Var("a"), "worksFor", Var("org")), (Var("b"), "worksFor", Var("org"))],
        [(Var("a"), "colleague", Var("b"))],
        filters=["a < b"],
    )
    assert {(r.subj, r.pred, r.obj) for r in g.collect()} == {("b", "colleague", "c")}
    # constructed graph is union-compatible: query it with the compiler
    back = bgp_query(
        edges.unionByName(g),
        [(Var("p"), "colleague", Var("q")), (Var("p"), "worksFor", Var("org"))],
        ["p", "q", "org"],
    )
    assert {(r.p, r.q, r.org) for r in back.collect()} == {("b", "c", "acme")}


# ---------------------------------------------------------------------------
# GRAPH / VALUES / BIND-expr / FILTER (NOT) EXISTS
# ---------------------------------------------------------------------------

QUADS = [
    ("a", "worksFor", "org1", "http://pages/p1"),
    ("a", "residence", "cityX", "http://pages/p1"),  # same-page co-assertion
    ("b", "worksFor", "org1", "http://pages/p2"),
    ("b", "residence", "cityY", "http://pages/p3"),  # different pages
    ("c", "worksFor", "org2", "http://pages/p4"),
]


@pytest.fixture(scope="module")
def quads(spark):
    return spark.createDataFrame(
        QUADS, "subj string, pred string, obj string, url string"
    )


def test_graph_var_scopes_patterns_to_same_page(quads):
    from csv_to_jsonld_processor_spark.kg.bgp import Var, bgp_query

    pats = [
        (Var("p"), "worksFor", Var("o")),
        (Var("p"), "residence", Var("c")),
    ]
    # without GRAPH: page-blind join finds both a and b
    got = {tuple(r) for r in bgp_query(quads, pats, ["p"]).collect()}
    assert got == {("a",), ("b",)}
    # with GRAPH ?g: only a co-asserts on one page; ?g binds to it
    got = {
        tuple(r)
        for r in bgp_query(quads, pats, ["p", "g"], graph=Var("g")).collect()
    }
    assert got == {("a", "http://pages/p1")}


def test_graph_constant_prunes_to_named_graph(quads):
    from csv_to_jsonld_processor_spark.kg.bgp import Var, bgp_query

    pats = [(Var("p"), "worksFor", Var("o"))]
    got = {
        tuple(r)
        for r in bgp_query(quads, pats, ["p", "o"], graph="http://pages/p2").collect()
    }
    assert got == {("b", "org1")}


def test_values_joins_and_extends_bindings(quads):
    from csv_to_jsonld_processor_spark.kg.bgp import Var, bgp_query

    pats = [(Var("p"), "worksFor", Var("o"))]
    vals = (["o", "tier"], [("org1", "gold")])
    got = {
        tuple(r)
        for r in bgp_query(quads, pats, ["p", "o", "tier"], values=vals).collect()
    }
    assert got == {("a", "org1", "gold"), ("b", "org1", "gold")}
    with pytest.raises(ValueError, match="empty VALUES"):
        bgp_query(quads, pats, ["p"], values=(["o"], []))
    with pytest.raises(ValueError, match="shares no variable"):
        bgp_query(quads, pats, ["p"], values=(["zzz"], [("x",)]))


def test_bind_expr_evaluates_over_bound_vars(quads):
    from csv_to_jsonld_processor_spark.kg.bgp import Var, bgp_query

    pats = [(Var("p"), "worksFor", Var("o"))]
    got = {
        tuple(r)
        for r in bgp_query(
            quads, pats, ["p", "shout"],
            bind_exprs={"shout": "upper(p)"},
        ).collect()
    }
    assert got == {("a", "A"), ("b", "B"), ("c", "C")}


def test_exists_and_not_exists_semantics(quads):
    from csv_to_jsonld_processor_spark.kg.bgp import Var, bgp_query

    pats = [(Var("p"), "worksFor", Var("o"))]
    res_group = [[(Var("p"), "residence", Var("c"))]]
    got = {
        tuple(r)
        for r in bgp_query(quads, pats, ["p"], exists_groups=res_group).collect()
    }
    assert got == {("a",), ("b",)}
    got = {
        tuple(r)
        for r in bgp_query(quads, pats, ["p"], not_exists_groups=res_group).collect()
    }
    assert got == {("c",)}
    # graph-scoped NOT EXISTS: b's residence is on a different page
    got = {
        tuple(r)
        for r in bgp_query(
            quads, pats, ["p"], graph=Var("g"), not_exists_groups=res_group
        ).collect()
    }
    assert got == {("b",), ("c",)}


def test_variable_free_not_exists_is_global_gate(quads):
    from csv_to_jsonld_processor_spark.kg.bgp import Var, bgp_query

    pats = [(Var("p"), "worksFor", Var("o"))]
    # a non-empty variable-disjoint group empties the result
    gate = [[(Var("x"), "residence", Var("y"))]]
    assert bgp_query(quads, pats, ["p"], not_exists_groups=gate).count() == 0
    # an empty one leaves it untouched
    gate = [[(Var("x"), "noSuchPred", Var("y"))]]
    assert bgp_query(quads, pats, ["p"], not_exists_groups=gate).count() == 3


def test_ask_and_describe(quads):
    from csv_to_jsonld_processor_spark.kg.bgp import Var, ask_query, describe_query

    t = ask_query(quads, "t", [(Var("p"), "worksFor", Var("o"))]).collect()[0]
    assert (t["ask_id"], t["answer"]) == ("t", 1)
    f = ask_query(quads, "f", [(Var("x"), "worksFor", Var("x"))]).collect()[0]
    assert (f["ask_id"], f["answer"]) == ("f", 0)

    cbd = {tuple(r) for r in describe_query(quads, "org1").collect()}
    assert cbd == {
        ("in", "a", "worksFor", "org1"),
        ("in", "b", "worksFor", "org1"),
    }
    cbd = {tuple(r) for r in describe_query(quads, "a").collect()}
    assert cbd == {
        ("out", "a", "worksFor", "org1"),
        ("out", "a", "residence", "cityX"),
    }


def test_stats_dict_ordering_and_estimates(quads, edges):
    from csv_to_jsonld_processor_spark.kg.bgp import (
        Var,
        _order_patterns,
        bgp_query,
        collect_pred_stats,
        estimate_pattern,
    )

    stats = collect_pred_stats(quads)
    # worksFor: 3 edges, 3 subj, 2 obj; residence: 2 edges
    assert stats["worksFor"] == (3, 3, 2)
    assert estimate_pattern((Var("p"), "worksFor", Var("o")), stats) == 3.0
    assert estimate_pattern((Var("p"), "worksFor", "org1"), stats) == 1.5
    assert estimate_pattern(("a", "worksFor", "org1"), stats) == 0.5
    # variable predicate sums over all predicates
    total = sum(v[0] for v in stats.values())
    assert estimate_pattern((Var("s"), Var("p"), Var("o")), stats) == float(total)

    # estimate-driven ordering puts the anchored (cheapest) pattern first
    pats = [
        (Var("p"), "worksFor", Var("o")),
        (Var("p"), "residence", Var("c")),
        (Var("p"), "worksFor", "org2"),
    ]
    ordered = _order_patterns(quads, pats, stats)
    assert ordered[0] == (Var("p"), "worksFor", "org2")

    # results are ordering-invariant: stats plan == static plan (here
    # empty — only c works for org2, and c has no residence)
    want = {tuple(r) for r in bgp_query(quads, pats, ["p", "o", "c"]).collect()}
    got = {
        tuple(r)
        for r in bgp_query(quads, pats, ["p", "o", "c"], use_stats=stats).collect()
    }
    assert got == want == set()


def test_graph_var_sharing_pattern_var_name(quads):
    """GRAPH ?g { ?g ?p ?o } must constrain subj == url (the repeated
    variable spans the graph position)."""
    from csv_to_jsonld_processor_spark.kg.bgp import Var, bgp_query

    pats = [(Var("g"), Var("p"), Var("o"))]
    assert bgp_query(quads, pats, ["g"], graph=Var("g")).count() == 0
    extra = quads.sparkSession.createDataFrame(
        [("http://pages/p9", "self", "x", "http://pages/p9")],
        "subj string, pred string, obj string, url string",
    )
    got = {
        tuple(r)
        for r in bgp_query(
            quads.unionByName(extra), pats, ["g", "o"], graph=Var("g")
        ).collect()
    }
    assert got == {("http://pages/p9", "x")}


def test_path_algebra_forms(quads):
    """inv / alt / seq / plus lower to the expected pair relations."""
    from csv_to_jsonld_processor_spark.kg.bgp import path_rel

    g = quads.sparkSession.createDataFrame(
        [("a", "n", "b"), ("b", "n", "c"), ("b", "m", "d"), ("d", "m", "a")],
        "subj string, pred string, obj string",
    )
    rel = lambda e: {tuple(r) for r in path_rel(g, e).collect()}  # noqa: E731
    assert rel(("pred", "n")) == {("a", "b"), ("b", "c")}
    assert rel(("inv", ("pred", "n"))) == {("b", "a"), ("c", "b")}
    assert rel(("alt", ("pred", "n"), ("pred", "m"))) == {
        ("a", "b"), ("b", "c"), ("b", "d"), ("d", "a")}
    assert rel(("seq", ("pred", "n"), ("pred", "m"))) == {("a", "d")}
    # (n|m)+ from 'a': cycle a->b->d->a closes; c is a sink
    plus = rel(("plus", ("alt", ("pred", "n"), ("pred", "m"))))
    assert ("a", "a") in plus and ("a", "c") in plus and ("c", "a") not in plus
    with pytest.raises(ValueError, match="unknown path form"):
        path_rel(g, ("bogus", ("pred", "n")))


def test_path_rel_nps_star_opt(spark, edges):
    """The remaining SPARQL 1.1 path forms against hand-computed sets
    on the toy graph: negated property set is a single negated hop;
    star/opt include the zero-length identity over EVERY graph node."""
    from csv_to_jsonld_processor_spark.kg.bgp import path_rel

    nodes = sorted({s for s, _p, _o in EDGES} | {o for _s, _p, o in EDGES})
    ident = {(x, x) for x in nodes}

    got = {tuple(r) for r in path_rel(
        edges, ("nps", ["knows"])).collect()}
    assert got == {(s, o) for s, p, o in EDGES if p != "knows"}

    got = {tuple(r) for r in path_rel(
        edges, ("opt", ("pred", "worksFor"))).collect()}
    assert got == ident | {(s, o) for s, p, o in EDGES if p == "worksFor"}

    # knows* = identity ∪ knows+ ; a can reach itself, b, c
    got = {tuple(r) for r in path_rel(
        edges, ("star", ("pred", "knows"))).collect()}
    assert got == ident | {("a", "b"), ("a", "c"), ("b", "c")}

    # star's identity matters downstream: worksFor?/locatedIn includes
    # plain locatedIn pairs (zero-length prefix) alongside the 2-hop
    got = {tuple(r) for r in path_rel(
        edges,
        ("seq", ("opt", ("pred", "worksFor")), ("pred", "locatedIn")),
    ).collect()}
    assert ("acme", "berlin") in got      # zero-length worksFor
    assert ("c", "berlin") in got         # one-hop worksFor then locatedIn
    assert ("a", "paris") in got

    # self-loop node: star over 'self' keeps (loop, loop) exactly once
    got = [tuple(r) for r in path_rel(
        edges, ("star", ("pred", "self"))).collect()]
    assert got.count(("loop", "loop")) == 1


def test_update_query_spec_semantics(spark):
    """SPARQL 1.1 UPDATE evaluation order: both templates instantiate
    against PRE-update solutions; a triple deleted and re-inserted by
    the same request survives; inserting an existing triple dedups;
    delete-only and insert-only forms work."""
    from csv_to_jsonld_processor_spark.kg.bgp import Var, update_query

    T = "http://t/"
    edges = spark.createDataFrame(
        [
            ("a", T + "knows", "b"),
            ("b", T + "knows", "c"),
            ("a", T + "likes", "c"),
        ],
        "subj string, pred string, obj string",
    )
    # rename knows -> met (delete + insert from the same solutions)
    out = {
        tuple(r)
        for r in update_query(
            edges,
            [(Var("x"), T + "knows", Var("y"))],
            delete_tmpl=[(Var("x"), T + "knows", Var("y"))],
            insert_tmpl=[(Var("x"), T + "met", Var("y"))],
        ).collect()
    }
    assert out == {
        ("a", T + "met", "b"), ("b", T + "met", "c"), ("a", T + "likes", "c"),
    }

    # delete-and-reinsert the SAME triple: survives (insert wins)
    out = {
        tuple(r)
        for r in update_query(
            edges,
            [(Var("x"), T + "knows", Var("y"))],
            delete_tmpl=[(Var("x"), T + "knows", Var("y"))],
            insert_tmpl=[(Var("x"), T + "knows", Var("y"))],
        ).collect()
    }
    assert out == {tuple(r) for r in edges.collect()}

    # inserting an existing triple dedups (graphs are sets)
    out = update_query(
        edges,
        [(Var("x"), T + "knows", Var("y"))],
        insert_tmpl=[(Var("x"), T + "likes", Var("y"))],
    )
    rows = {tuple(r) for r in out.collect()}
    assert ("a", T + "likes", "b") in rows and ("b", T + "likes", "c") in rows
    assert out.count() == 5  # 3 original + 2 new; existing (a likes c) not duplicated

    # delete-only
    out = update_query(
        edges,
        [(Var("x"), T + "likes", Var("y"))],
        delete_tmpl=[(Var("x"), T + "likes", Var("y"))],
    )
    assert {r["pred"] for r in out.collect()} == {T + "knows"}


def test_update_commits_to_snapshot_with_cdc(spark, tmp_path):
    """Versioned SPARQL UPDATE: committing update_query output to the
    snapshot layer gives time travel AND a changelog that is exactly
    the update's delete/insert delta."""
    from csv_to_jsonld_processor_spark.kg.bgp import Var, update_query
    from csv_to_jsonld_processor_spark.operators.snapshots import (
        commit_snapshot,
        read_changes,
        read_snapshot,
    )

    T = "http://t/"
    edges = spark.createDataFrame(
        [("a", T + "knows", "b"), ("b", T + "knows", "c"),
         ("a", T + "likes", "c")],
        "subj string, pred string, obj string",
    )
    table = str(tmp_path / "g")
    commit_snapshot(spark, edges, table)
    updated = update_query(
        edges,
        [(Var("x"), T + "knows", Var("y"))],
        delete_tmpl=[(Var("x"), T + "knows", Var("y"))],
        insert_tmpl=[(Var("x"), T + "met", Var("y"))],
    )
    nid = commit_snapshot(spark, updated, table)

    assert read_snapshot(spark, table, 0).count() == 3  # time travel
    ch = {(r["subj"], r["pred"], r["obj"], r["_change_type"])
          for r in read_changes(spark, table, 0, nid).collect()}
    assert ch == {
        ("a", T + "knows", "b", "delete"), ("b", T + "knows", "c", "delete"),
        ("a", T + "met", "b", "insert"), ("b", T + "met", "c", "insert"),
    }


def test_service_bound_join_ships_only_shared_bindings(spark):
    """SERVICE semantics: the endpoint sees only its patterns plus the
    shipped VALUES block — remote triples for orgs the local side never
    bound must not surface; no shared variable or an oversized binding
    set raise."""
    import pytest as _pytest

    from csv_to_jsonld_processor_spark.kg.bgp import Var, service_query

    T = "http://t/"
    local = spark.createDataFrame(
        [("p1", T + "worksFor", "o1"), ("p2", T + "worksFor", "o2")],
        "subj string, pred string, obj string",
    )
    remote = spark.createDataFrame(
        [("o1", T + "hq", "berlin"), ("o2", T + "hq", "tokyo"),
         ("o3", T + "hq", "paris")],  # o3 never bound locally
        "subj string, pred string, obj string",
    )
    sols, n = service_query(
        local, [(Var("p"), T + "worksFor", Var("org"))],
        remote, [(Var("org"), T + "hq", Var("city"))],
        ["p", "org", "city"],
    )
    rows = {tuple(r) for r in sols.collect()}
    assert rows == {("p1", "o1", "berlin"), ("p2", "o2", "tokyo")}
    assert n == 2  # only the distinct org bindings shipped

    with _pytest.raises(ValueError, match="shares no variables"):
        service_query(
            local, [(Var("p"), T + "worksFor", Var("org"))],
            remote, [(Var("x"), T + "hq", Var("city"))],
            ["p"],
        )
    with _pytest.raises(ValueError, match="bound-join cap"):
        service_query(
            local, [(Var("p"), T + "worksFor", Var("org"))],
            remote, [(Var("org"), T + "hq", Var("city"))],
            ["p"], max_bindings=1,
        )
