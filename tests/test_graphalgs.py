"""Graph algorithms (kg/graphalgs.py): independent NetworkX-free Python
recomputes of BFS / HITS / SCC on the same deterministic graphs, plus
invariants that a broken superstep would violate."""

import os
import sys
from collections import defaultdict, deque

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from csv_to_jsonld_processor_spark.session import get_spark
from csv_to_jsonld_processor_spark.kg.graphalgs import (
    BFS_ROUNDS,
    BFS_SEED_MOD,
    HITS_ITERS,
    HITS_TOPN,
    kg_bfs_distance,
    kg_hits,
    kg_scc,
)
from csv_to_jsonld_processor_spark.kg.queries import _purchase_edges

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return get_spark("graphalgs")


@pytest.fixture(scope="module")
def edges(spark):
    return [(r.a, r.b) for r in _purchase_edges(spark, SF).collect()]


def _python_bfs(edges):
    adj = defaultdict(list)
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    dist = {}
    q = deque()
    for v in adj:
        if v.startswith("c") and int(v[1:]) % BFS_SEED_MOD == 0:
            dist[v] = 0
            q.append(v)
    while q:
        u = q.popleft()
        if dist[u] >= BFS_ROUNDS:
            continue
        for w in adj[u]:
            if w not in dist:
                dist[w] = dist[u] + 1
                q.append(w)
    hist = defaultdict(int)
    for v in adj:
        hist[(v[0], dist.get(v, -1))] += 1
    return dict(hist)


def test_bfs_matches_python_recompute(spark, edges):
    got = {
        (r.side, r.dist): r.n_vertices for r in kg_bfs_distance(spark, SF).collect()
    }
    assert got == _python_bfs(edges)


def test_bfs_has_multiple_rings_and_seeds(spark):
    rows = kg_bfs_distance(spark, SF).collect()
    dists = {r.dist for r in rows}
    assert 0 in dists, "seed ring missing"
    assert len(dists - {-1, 0}) >= 2, "BFS never expanded past the seeds"
    # bipartite invariant: odd distances are parts, even are customers
    for r in rows:
        if r.dist > 0:
            assert (r.dist % 2 == 1) == (r.side == "p")


def _python_hits(edges):
    out_adj = defaultdict(list)
    in_adj = defaultdict(list)
    for a, b in edges:
        out_adj[a].append(b)
        in_adj[b].append(a)
    hub = {a: 1 for a in out_adj}
    for _ in range(HITS_ITERS):
        auth = {p: sum(hub[c] for c in in_adj[p]) for p in in_adj}
        hub = {c: sum(auth[p] for p in out_adj[c]) for c in out_adj}
    top = lambda d: sorted(d.items(), key=lambda kv: (-kv[1], kv[0]))[:HITS_TOPN]
    return top(hub), top(auth)

def test_hits_matches_python_recompute(spark, edges):
    exp_hub, exp_auth = _python_hits(edges)
    rows = kg_hits(spark, SF).collect()
    got_hub = [(r.vertex, r.score) for r in rows if r.role == "hub"]
    got_auth = [(r.vertex, r.score) for r in rows if r.role == "authority"]
    assert got_hub == exp_hub
    assert got_auth == exp_auth


def test_hits_scores_have_bigint_headroom(spark, edges):
    # the unnormalized-integer design is only sound while deg^(2k) fits
    # comfortably in int64; assert 3 orders of magnitude of slack
    rows = kg_hits(spark, SF).collect()
    assert max(r.score for r in rows) < 2**63 / 1000


def test_scc_members_are_mutually_reachable(spark):
    rows = kg_scc(spark, SF).collect()
    assert sum(r.n_nations for r in rows) <= 25
    assert all(r.scc_id == r.members.split(",")[0] for r in rows)
    assert all(r.members == ",".join(sorted(r.members.split(","))) for r in rows)
    # every member list is disjoint
    seen = set()
    for r in rows:
        ms = set(r.members.split(","))
        assert not (ms & seen)
        seen |= ms


def test_edge_cut_placement_tradeoffs(spark):
    """The placement audit must reproduce the canonical partitioning
    trade-offs on the seed-42 graph: uniform edge hashing balances
    best (smallest worst-partition), subj-keyed placement cuts the
    replication factor (each vertex's out-edges co-located) but pays
    the 35%-hub skew in its worst partition, and all three strategies
    place every edge exactly once."""
    from csv_to_jsonld_processor_spark.kg.queries import EDGECUT_K, kg_edge_cut

    rows = {r.strategy: r for r in kg_edge_cut(spark, SF).collect()}
    assert set(rows) == {"edge_hash", "src_hash", "domain"}
    n_edges = {r.n_edges for r in rows.values()}
    assert len(n_edges) == 1 and n_edges.pop() > 0
    eh, sh, dom = rows["edge_hash"], rows["src_hash"], rows["domain"]
    assert sh.repl_sum < eh.repl_sum  # co-location halves comm volume
    assert eh.max_part_edges < sh.max_part_edges  # hub skew hits src_hash
    assert eh.max_part_edges < dom.max_part_edges  # Zipf hosts hit domain
    for r in rows.values():
        assert r.n_vertices <= r.repl_sum <= r.n_vertices * EDGECUT_K
        assert r.max_part_edges * r.n_parts_used >= r.n_edges  # max >= mean


def test_reciprocity_discriminates_symmetric_predicates(spark):
    """Reciprocity must separate the generator's relation classes
    exactly: org↔org predicates (partner, acquired) are fully mutual
    on the dense seed-42 corpus, while every type-disjoint predicate
    (person→org, person/org→place) cannot have a mirror at all."""
    from csv_to_jsonld_processor_spark.kg.queries import kg_reciprocity

    rows = {r.pred.rsplit("/", 1)[1]: r for r in kg_reciprocity(spark, SF).collect()}
    assert rows["partner"].reciprocity_bp == 10000
    assert rows["acquired"].reciprocity_bp == 10000
    for pred in ("worksFor", "founderOf", "birthPlace", "residence", "headquarters"):
        assert rows[pred].reciprocity_bp == 0, pred
        assert rows[pred].n_mutual == 0
    for r in rows.values():
        assert 0 <= r.n_mutual <= r.n_pairs


def _python_hyperball(edges):
    """Brute-force recompute of the HyperBall gate aggregate: exact BFS
    balls per sampled source, bottom-k of the true ball, same integer
    estimator."""
    import hashlib

    from csv_to_jsonld_processor_spark.kg.graphalgs import (
        HB_HSCALE, HB_K, HB_ROUNDS, HB_SRC_MOD)

    def md5hex(s):
        return hashlib.md5(s.encode()).hexdigest()

    adj = defaultdict(list)
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    srcs = [v for v in adj if int(md5hex(v)[:4], 16) % HB_SRC_MOD == 0]
    out = {}
    for r in range(HB_ROUNDS + 1):
        n_src, nf, n_exact, cks = 0, 0, 0, 0
        for s in srcs:
            dist = {s: 0}
            q = deque([s])
            while q:
                u = q.popleft()
                if dist[u] >= r:
                    continue
                for w in adj[u]:
                    if w not in dist:
                        dist[w] = dist[u] + 1
                        q.append(w)
            hs = sorted({int(md5hex(v)[:13], 16) for v in dist})
            n_src += 1
            if len(hs) < HB_K:
                nf += len(hs)
                n_exact += 1
            else:
                hk = hs[HB_K - 1]
                nf += (HB_K - 1) * HB_HSCALE // hk
                cks += hk
        out[r] = (n_src, nf, n_exact, cks)
    return out


def test_hyperball_matches_exact_ball_bottomk(spark, edges):
    """The lossless-merge property: the distributed sketch iteration
    must produce EXACTLY the bottom-k of each true ball — verified by
    brute-force BFS + estimator recompute, radius by radius."""
    from csv_to_jsonld_processor_spark.kg.graphalgs import kg_hyperball_nf

    got = {r.r: (r.n_sources, r.nf_est, r.n_exact_balls, r.hk_checksum)
           for r in kg_hyperball_nf(spark, SF).collect()}
    assert got == _python_hyperball(edges)


def test_hyperball_neighborhood_function_grows(spark):
    """nf_est at r=0 is exactly the source count (every ball is {v});
    the neighborhood function is nondecreasing in r and some ball must
    saturate past k by the final radius at sf0.001 — otherwise the
    estimator branch is untested."""
    from csv_to_jsonld_processor_spark.kg.graphalgs import (
        HB_ROUNDS, kg_hyperball_nf)

    rows = sorted(kg_hyperball_nf(spark, SF).collect(), key=lambda r: r.r)
    assert rows[0].nf_est == rows[0].n_sources
    assert all(a.nf_est <= b.nf_est for a, b in zip(rows, rows[1:]))
    assert rows[-1].n_exact_balls < rows[-1].n_sources
    assert len(rows) == HB_ROUNDS + 1


def _python_mis(edges):
    """Brute-force Luby replay with the same md5 priorities."""
    import hashlib

    from csv_to_jsonld_processor_spark.kg.graphalgs import MIS_ROUNDS

    def prio(v):
        return hashlib.md5(f"MIS|{v}".encode()).hexdigest()

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    und = set(adj)
    mis, excl = set(), set()
    for _ in range(MIS_ROUNDS):
        new = {v for v in und
               if all(prio(v) < prio(u) for u in adj[v] if u in und)}
        mis |= new
        newexcl = {u for v in new for u in adj[v]} & und
        und -= new | newexcl
        excl |= newexcl - new
    return mis, excl, und


def test_mis_matches_python_recompute(spark, edges):
    import hashlib

    from csv_to_jsonld_processor_spark.kg.graphalgs import kg_mis

    mis, excl, und = _python_mis(edges)
    got = {r.side: (r.n_mis, r.n_excluded, r.n_undecided, r.mis_checksum)
           for r in kg_mis(spark, SF).collect()}
    for side in ("c", "p"):
        cks = sum(int(hashlib.md5(v.encode()).hexdigest()[:8], 16)
                  for v in mis if v[0] == side)
        assert got[side] == (
            sum(1 for v in mis if v[0] == side),
            sum(1 for v in excl if v[0] == side),
            sum(1 for v in und if v[0] == side),
            cks,
        )


def test_mis_is_independent_and_maximal(spark, edges):
    """The defining properties: no two MIS members are adjacent, and if
    the rounds decided everything, every non-member has an MIS
    neighbor (maximality)."""
    mis, excl, und = _python_mis(edges)
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    assert all(not (adj[v] & mis) for v in mis)
    assert len(mis) > 0
    if not und:
        assert all(adj[v] & mis for v in excl)


def test_sssp_weighted_matches_python_bellman_ford(spark, edges):
    """DP replay of the bounded-hop relaxation: dist_r(v) =
    min(dist_{r-1}(v), min over edges (dist_{r-1}(u) + w))."""
    import hashlib

    from csv_to_jsonld_processor_spark.kg.graphalgs import (
        SSSP_ROUNDS,
        SSSP_WMOD,
        kg_sssp_weighted,
    )

    def w(a, b):
        return int(hashlib.md5(f"{a}|{b}".encode()).hexdigest()[:8], 16) \
            % SSSP_WMOD + 1

    adj = defaultdict(list)
    for a, b in edges:
        adj[a].append((b, w(a, b)))
        adj[b].append((a, w(a, b)))
    dist = {v: 0 for v in adj
            if v.startswith("c") and int(v[1:]) % BFS_SEED_MOD == 0}
    for _ in range(SSSP_ROUNDS):
        nxt = dict(dist)
        for u, d in dist.items():
            for v, ww in adj[u]:
                if v not in nxt or d + ww < nxt[v]:
                    nxt[v] = d + ww
        dist = nxt
    hist = defaultdict(int)
    for v in adj:
        hist[(v[0], dist.get(v, -1))] += 1
    got = {(r.side, r.dist): r.n_vertices
           for r in kg_sssp_weighted(spark, SF).collect()}
    assert got == dict(hist)
    # weighted histogram must be strictly richer than hop counts: more
    # distinct finite distances than BFS rounds
    finite = {d for (_s, d) in got if d >= 0}
    assert len(finite) > SSSP_ROUNDS + 1


def test_ktruss_matches_python_peel(spark, edges):
    """Python replay of the capped projection + fixed-round peel, plus
    the truss property itself when the trajectory has converged."""
    from itertools import combinations

    from csv_to_jsonld_processor_spark.kg.graphalgs import (
        KTRUSS_DEG_CAP,
        KTRUSS_K,
        KTRUSS_ROUNDS,
        kg_ktruss,
    )

    by_cust = defaultdict(set)
    for a, b in edges:
        by_cust[a].add(b)
    und = set()
    for _c, parts in by_cust.items():
        if len(parts) > KTRUSS_DEG_CAP:
            continue
        for p1, p2 in combinations(sorted(parts), 2):
            und.add((p1, p2))

    def stats(es):
        nbr = defaultdict(set)
        for a, b in es:
            nbr[a].add(b)
            nbr[b].add(a)
        sup = defaultdict(int)
        for a, b in es:
            for w in nbr[a] & nbr[b]:
                sup[(a, b)] += 1
        n_tri = sum(sup.values()) // 3
        return sup, n_tri, len({v for e in es for v in e})

    expected = []
    for r in range(KTRUSS_ROUNDS + 1):
        sup, n_tri, n_v = stats(und)
        expected.append((r, len(und), n_v, n_tri))
        if r < KTRUSS_ROUNDS:
            und = {e for e in und if sup.get(e, 0) >= KTRUSS_K - 2}
    got = [(r.round, r.n_edges, r.n_vertices, r.n_triangles)
           for r in kg_ktruss(spark, SF).collect()]
    assert got == expected
    # truss property at the fixpoint: every surviving edge keeps >= K-2
    # support (holds whenever the last two rounds agree)
    if expected[-1] == expected[-2]:
        sup, _, _ = stats(und)
        assert all(sup.get(e, 0) >= KTRUSS_K - 2 for e in und)
    assert expected[0][1] > expected[-1][1], "no edge ever peeled — vacuous"


def test_bipartiteness_opposite_verdicts(spark):
    """Self-validating audit: the bipartite purchase graph must show
    ZERO parity conflicts; the co-purchase projection (odd triangles
    everywhere) must show many."""
    from csv_to_jsonld_processor_spark.kg.graphalgs import kg_bipartiteness

    got = {r.graph: r for r in kg_bipartiteness(spark, SF).collect()}
    bi = got["purchase_bipartite"]
    pr = got["copurchase_projection"]
    assert bi.n_conflicts == 0 and bi.conflict_checksum == 0
    assert bi.n_edges_checked > 0 and bi.n_reached > 0
    assert pr.n_conflicts > 0 and pr.conflict_checksum > 0


def test_maximal_matching_properties_and_replay(spark, edges):
    """Python handshake replay + the matching properties: no vertex in
    two pairs; when the rounds converge (no live edges), maximality
    holds by construction (a live edge would have produced a
    handshake eventually — pinned via the replay equality)."""
    import hashlib

    from csv_to_jsonld_processor_spark.kg.graphalgs import (
        MATCH_ROUNDS,
        kg_maximal_matching,
    )

    def pr(a, b):
        return hashlib.md5(f"{a}|{b}".encode()).hexdigest()

    live = {(a, b) for a, b in edges}
    matched = set()
    for _ in range(MATCH_ROUNDS):
        fav_a, fav_b = {}, {}
        for a, b in live:
            p = pr(a, b)
            if a not in fav_a or p < fav_a[a]:
                fav_a[a] = p
            if b not in fav_b or p < fav_b[b]:
                fav_b[b] = p
        hand = {(a, b) for a, b in live
                if pr(a, b) == fav_a[a] and pr(a, b) == fav_b[b]}
        matched |= hand
        gone = {v for e in hand for v in e}
        live = {(a, b) for a, b in live if a not in gone and b not in gone}
    cks = sum(int(pr(a, b)[:8], 16) for a, b in matched)

    row = kg_maximal_matching(spark, SF).collect()[0]
    assert (row.n_matched_pairs, row.matching_checksum, row.n_live_edges) \
        == (len(matched), cks, len(live))
    # matching property: each vertex appears at most once
    seen = [v for e in matched for v in e]
    assert len(seen) == len(set(seen))
    assert matched, "empty matching — vacuous"
