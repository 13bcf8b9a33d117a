"""Connected-components loop unit tests (chain, cycle, star, singletons)."""

from __future__ import annotations

import pytest

from quickner_spark.operators.graph import connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {r["node"]: r["component"]
            for r in connected_components(df).collect()}


def test_chain_converges_beyond_one_hop(spark):
    # a-b-c-d-e: min label must propagate the full diameter
    got = _cc(spark, [("b", "a"), ("c", "b"), ("d", "c"), ("e", "d")])
    assert got == {k: "a" for k in "abcde"}


def test_cycle(spark):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    assert got == {"a": "a", "b": "a", "c": "a"}


def test_two_components_and_star(spark):
    got = _cc(spark, [("hub", "s1"), ("hub", "s2"), ("hub", "s3"),
                      ("x", "y")])
    assert got["s1"] == got["s2"] == got["s3"] == got["hub"] == "hub"
    assert got["x"] == got["y"] == "x"


def test_numeric_ids_and_self_loop(spark):
    df = spark.createDataFrame([(5, 2), (2, 9), (7, 7)], "src long, dst long")
    got = {r["node"]: r["component"]
           for r in connected_components(df).collect()}
    assert got == {2: 2, 5: 2, 9: 2, 7: 7}


def test_distributed_path_matches_driver_fast_path(spark):
    # Same graphs through BOTH implementations (driver_threshold=0 forces
    # the iterative min-label loop); outputs must be row-identical.
    import random
    rng = random.Random(7)
    edges = [(f"n{rng.randrange(40)}", f"n{rng.randrange(40)}")
             for _ in range(60)]
    df = spark.createDataFrame(edges, "src string, dst string")
    fast = {(r["node"], r["component"])
            for r in connected_components(df).collect()}
    dist = {(r["node"], r["component"])
            for r in connected_components(df, driver_threshold=0).collect()}
    assert fast == dist and fast


def test_driver_threshold_picks_fast_path(spark):
    # below threshold: exactly one job (the count) runs; assert the result
    # is correct and no shuffle-bearing plan was needed by checking the
    # chain still fully converges (union-find has no iteration cap)
    chain = [(f"c{i+1:03d}", f"c{i:03d}") for i in range(120)]
    df = spark.createDataFrame(chain, "src string, dst string")
    got = {r["node"]: r["component"]
           for r in connected_components(df, max_iter=1).collect()}
    # max_iter=1 would NOT converge in the distributed loop for a
    # 120-diameter chain -> proves the fast path ran
    assert set(got.values()) == {"c000"}


def test_sparse_convergence_check_matches_every_round(spark):
    # check_every=3 saves 2 join+count actions per skipped round; the
    # labeling must be identical to per-round checking (propagation past
    # the fixpoint is a no-op).
    chain = [(f"n{i+1:02d}", f"n{i:02d}") for i in range(17)]
    df = spark.createDataFrame(chain, "src string, dst string")
    every = {(r["node"], r["component"]) for r in
             connected_components(df, driver_threshold=0,
                                  check_every=1).collect()}
    sparse = {(r["node"], r["component"]) for r in
              connected_components(df, driver_threshold=0,
                                   check_every=3).collect()}
    assert every == sparse and every


def test_k_hop_directed_min_dist(spark):
    from quickner_spark.operators.graph import k_hop
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
        "src string, dst string")
    got = {(r["seed"], r["node"], r["dist"])
           for r in k_hop(e, ["a"], 2).collect()}
    # c is reachable at dist 1 AND 2 — only the minimum is emitted
    assert got == {("a", "b", 1), ("a", "c", 1), ("a", "d", 2)}


def test_k_hop_undirected_and_df_seeds(spark):
    from quickner_spark.operators.graph import k_hop
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")],
        "src string, dst string")
    seeds = spark.createDataFrame([("d",)], "s string")
    got = {(r["node"], r["dist"])
           for r in k_hop(e, seeds, 2, directed=False).collect()}
    assert got == {("c", 1), ("a", 2), ("b", 2)}


def test_degree_stats(spark):
    from quickner_spark.operators.graph import degree_stats
    e = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", 1), ("c", "a", 2)],
        "src string, dst string, w long")
    got = {r["node"]: (r["out_deg"], r["in_deg"], r["w_out"], r["w_in"])
           for r in degree_stats(e, weight="w").collect()}
    assert got == {"a": (2, 1, 4, 2), "b": (0, 1, 0, 3),
                   "c": (1, 1, 2, 1)}


def test_pagerank_integer_hand_computed(spark):
    from quickner_spark.operators.graph import pagerank
    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")],
        "src string, dst string")
    got = {r["node"]: r["rank"]
           for r in pagerank(e, iters=2, arithmetic="integer",
                             scale=100).collect()}
    # r0=100 all; base=15; int-div contributions:
    # iter1: a->42 each to b,c; b->85 to c; c->85 to d
    #   => a=15 b=57 c=142 d=100
    # iter2: a->(15*85)div200=6; b->(57*85)div100=48; c->(142*85)div100=120
    #   => a=15 b=21 c=69 d=135
    assert got == {"a": 15, "b": 21, "c": 69, "d": 135}


def test_pagerank_double_ordering_tracks_integer(spark):
    from quickner_spark.operators.graph import pagerank
    e = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")],
        "src string, dst string")
    d = {r["node"]: r["rank"]
         for r in pagerank(e, iters=5, arithmetic="double").collect()}
    order = sorted(d, key=d.get)
    assert order == ["a", "b", "c", "d"] or order == ["a", "b", "d", "c"]
    assert all(v > 0 for v in d.values())


def test_k_hop_differential_random_graph(spark):
    """k_hop vs a pure-Python BFS on a seeded random digraph — directed
    and undirected, k=3, multiple seeds, min-dist semantics."""
    import random

    from quickner_spark.operators.graph import k_hop

    rng = random.Random(1234)
    nodes = [f"n{i}" for i in range(40)]
    edges = {(rng.choice(nodes), rng.choice(nodes)) for _ in range(120)}
    edges = [(u, v) for u, v in edges if u != v]
    e = spark.createDataFrame(edges, "src string, dst string")
    seeds = [nodes[0], nodes[7], nodes[23]]

    def bfs(adj, seed, k):
        dist, frontier = {seed: 0}, [seed]
        for d in range(1, k + 1):
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in dist:
                        dist[v] = d
                        nxt.append(v)
            frontier = nxt
        return {(seed, n, d) for n, d in dist.items() if d > 0}

    for directed in (True, False):
        adj = {}
        for u, v in edges:
            adj.setdefault(u, []).append(v)
            if not directed:
                adj.setdefault(v, []).append(u)
        want = set().union(*(bfs(adj, s, 3) for s in seeds))
        got = {(r["seed"], r["node"], r["dist"])
               for r in k_hop(e, seeds, 3, directed=directed).collect()}
        assert got == want, (directed, got ^ want)


def test_pagerank_integer_differential_random_graph(spark):
    """Integer pagerank vs a pure-Python reimplementation on a seeded
    random digraph — same integer division, same dangling rule."""
    import random

    from quickner_spark.operators.graph import pagerank

    rng = random.Random(99)
    nodes = [f"n{i}" for i in range(25)]
    edges = list({(rng.choice(nodes), rng.choice(nodes))
                  for _ in range(70)})
    e = spark.createDataFrame(edges, "src string, dst string")
    scale, iters = 10 ** 6, 4

    ns = sorted({u for u, _ in edges} | {v for _, v in edges})
    deg = {}
    for u, _ in edges:
        deg[u] = deg.get(u, 0) + 1
    r = {n: scale for n in ns}
    base = (scale * 15) // 100
    for _ in range(iters):
        acc = {n: 0 for n in ns}
        for u, v in edges:
            acc[v] += (r[u] * 85) // (100 * deg[u])
        r = {n: base + acc[n] for n in ns}
    got = {x["node"]: x["rank"]
           for x in pagerank(e, iters=iters, arithmetic="integer",
                             scale=scale).collect()}
    assert got == r


def test_hits_integer_hand_computed(spark):
    """a->c, b->c, c->d at scale 100, 1 iteration:
    auth_raw = {c: 200, d: 100}, total 300, q = 3 -> auth c=66 d=33;
    hub_raw = {a: 66, b: 66, c: 33}, total 165, q = 1 -> hub unchanged."""
    from quickner_spark.operators.graph import hits

    e = spark.createDataFrame(
        [("a", "c"), ("b", "c"), ("c", "d")], "src string, dst string")
    got = {r["node"]: (r["hub"], r["authority"])
           for r in hits(e, iters=1, arithmetic="integer",
                         scale=100).collect()}
    assert got == {"a": (66, 0), "b": (66, 0),
                   "c": (33, 66), "d": (0, 33)}


def test_hits_integer_differential_random_graph(spark):
    """Integer HITS vs a pure-Python reimplementation on a seeded random
    digraph — same L1 normalization, same two-step integer division."""
    import random

    from quickner_spark.operators.graph import hits

    rng = random.Random(7)
    nodes = [f"n{i}" for i in range(20)]
    edges = list({(rng.choice(nodes), rng.choice(nodes))
                  for _ in range(55)})
    e = spark.createDataFrame(edges, "src string, dst string")
    scale, iters = 10 ** 6, 3

    ns = sorted({u for u, _ in edges} | {v for _, v in edges})
    hub = {n: scale for n in ns}
    auth = dict(hub)
    for _ in range(iters):
        raw = {n: 0 for n in ns}
        for u, v in edges:
            raw[v] += hub[u]
        q = max(1, sum(raw.values()) // scale)
        auth = {n: raw[n] // q for n in ns}
        raw = {n: 0 for n in ns}
        for u, v in edges:
            raw[u] += auth[v]
        q = max(1, sum(raw.values()) // scale)
        hub = {n: raw[n] // q for n in ns}
    got = {r["node"]: (r["hub"], r["authority"])
           for r in hits(e, iters=iters, arithmetic="integer",
                         scale=scale).collect()}
    assert got == {n: (hub[n], auth[n]) for n in ns}


def test_hits_double_hub_authority_ordering(spark):
    """A directory page linking every content page is the top hub; the
    page every directory links is the top authority."""
    from quickner_spark.operators.graph import hits

    e = spark.createDataFrame(
        [("dir1", "star"), ("dir1", "p1"), ("dir1", "p2"),
         ("dir2", "star"), ("dir2", "p1"), ("p1", "star")],
        "src string, dst string")
    got = {r["node"]: r for r in hits(e, iters=8).collect()}
    top_hub = max(got.values(), key=lambda r: r["hub"])["node"]
    top_auth = max(got.values(), key=lambda r: r["authority"])["node"]
    assert top_hub == "dir1" and top_auth == "star"
    assert got["star"]["hub"] == 0.0  # no out-edges


def test_hits_validation(spark):
    from quickner_spark.operators.graph import hits

    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="arithmetic"):
        hits(e, arithmetic="decimal")


# --- match_patterns (SPARQL-BGP-lite) -------------------------------------

def _triples(spark):
    return spark.createDataFrame(
        [("a", "acq", "b"), ("b", "acq", "c"), ("c", "acq", "d"),
         ("a", "at", "x"), ("d", "at", "x"), ("e", "self", "e"),
         ("f", "self", "g")],
        "subj string, pred string, obj string")


def test_match_patterns_chain(spark):
    from quickner_spark.operators.graph import match_patterns

    r = match_patterns(_triples(spark),
                       [("?a", "acq", "?b"), ("?b", "acq", "?c")])
    assert r.columns == ["a", "b", "c"]
    assert sorted(tuple(x) for x in r.collect()) == [
        ("a", "b", "c"), ("b", "c", "d")]


def test_match_patterns_repeated_var_in_one_pattern(spark):
    from quickner_spark.operators.graph import match_patterns

    r = match_patterns(_triples(spark), [("?x", "self", "?x")])
    assert [tuple(x) for x in r.collect()] == [("e",)]


def test_match_patterns_ground_pattern_is_existence_filter(spark):
    from quickner_spark.operators.graph import match_patterns

    t = _triples(spark)
    present = match_patterns(t, [("?a", "acq", "?b"), ("a", "at", "x")])
    assert present.count() == 3  # constraint holds: full acq relation
    absent = match_patterns(t, [("?a", "acq", "?b"), ("zzz", "at", "x")])
    assert absent.count() == 0  # constraint fails: empty result


def test_match_patterns_disconnected_is_cross_product(spark):
    from quickner_spark.operators.graph import match_patterns

    r = match_patterns(_triples(spark),
                       [("?a", "acq", "?b"), ("?c", "self", "?c")])
    assert sorted(tuple(x) for x in r.collect()) == [
        ("a", "b", "e"), ("b", "c", "e"), ("c", "d", "e")]


def test_match_patterns_join_order_invariance(spark):
    from quickner_spark.operators.graph import match_patterns

    t = _triples(spark)
    pats = [("?a", "acq", "?b"), ("?b", "acq", "?c"), ("?c", "at", "?w")]
    fwd = sorted(tuple(x) for x in match_patterns(t, pats).collect())
    rev = sorted(tuple(sorted_row) for sorted_row in (
        (r["a"], r["b"], r["c"], r["w"])
        for r in match_patterns(t, list(reversed(pats))).collect()))
    assert fwd == [("b", "c", "d", "x")]
    assert rev == fwd


def test_match_patterns_validation(spark):
    from quickner_spark.operators.graph import match_patterns

    t = _triples(spark)
    with pytest.raises(ValueError):
        match_patterns(t, [])
    with pytest.raises(ValueError):
        match_patterns(t, [("?a", "acq")])
    with pytest.raises(ValueError):
        match_patterns(t, [("?", "acq", "?b")])


# ---------------------------------------------------------------- triangles

def _tri(spark, edges):
    from quickner_spark.operators.graph import triangle_count
    df = spark.createDataFrame(edges, "src string, dst string")
    return {r["node"]: r["triangles"] for r in triangle_count(df).collect()}


def test_triangle_count_basic_with_zeros(spark):
    # one triangle a-b-c, plus a pendant d off c: d participates in none
    got = _tri(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")])
    assert got == {"a": 1, "b": 1, "c": 1, "d": 0}


def test_triangle_count_ignores_direction_multiplicity_self_loops(spark):
    # both directions + duplicates + a self loop must not inflate counts
    got = _tri(spark, [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),
                       ("a", "c"), ("a", "a")])
    assert got == {"a": 1, "b": 1, "c": 1}


def test_triangle_count_k4(spark):
    # K4: 4 triangles total, every vertex in exactly 3
    nodes = "abcd"
    edges = [(x, y) for i, x in enumerate(nodes) for y in nodes[i + 1:]]
    got = _tri(spark, edges)
    assert got == {n: 3 for n in nodes}


def test_triangle_count_differential_vs_python(spark):
    # random graph vs a brute-force O(n^3) reference
    import itertools
    import random
    rng = random.Random(13)
    nodes = [f"n{i}" for i in range(18)]
    und = {tuple(sorted((a, b)))
           for a in nodes for b in nodes
           if a != b and rng.random() < 0.25}
    expected = {n: 0 for n in {x for e in und for x in e}}
    for a, b, c in itertools.combinations(sorted(expected), 3):
        if ((a, b) in und and (b, c) in und
                and tuple(sorted((a, c))) in und):
            expected[a] += 1
            expected[b] += 1
            expected[c] += 1
    # feed the operator a messy directed form of the same graph
    edges = []
    for a, b in und:
        edges.append((b, a) if rng.random() < 0.5 else (a, b))
        if rng.random() < 0.3:
            edges.append((a, b))  # duplicate / reverse multiplicity
    assert _tri(spark, edges) == expected


def test_triangle_count_celebrity_star_is_wedge_free(spark):
    # a pure star (hub with 30 leaves) has zero triangles; under degree
    # orientation the HUB emits no wedges (every edge points leaf->hub),
    # so the wedge join stays linear — the scale rationale in the
    # docstring, checked here for correctness of the zero result
    edges = [("hub", f"leaf{i}") for i in range(30)]
    got = _tri(spark, edges)
    assert set(got.values()) == {0} and len(got) == 31


# --------------------------------------------------------------- cocitation

def _cocite(spark, edges, **kw):
    from quickner_spark.operators.graph import cocitation
    df = spark.createDataFrame(edges, "src string, dst string")
    return {(r["a"], r["b"]): (r["shared"], r["in_a"], r["in_b"])
            for r in cocitation(df, **kw).collect()}


def test_cocitation_basic(spark):
    # pages p1,p2 both cite x and y; p3 cites y and z (z shared once only)
    edges = [("p1", "x"), ("p1", "y"), ("p2", "x"), ("p2", "y"),
             ("p3", "y"), ("p3", "z")]
    got = _cocite(spark, edges)
    assert got == {("x", "y"): (2, 2, 3)}
    # lowering min_shared exposes the weaker pairs, degrees unchanged
    got1 = _cocite(spark, edges, min_shared=1)
    assert got1 == {("x", "y"): (2, 2, 3), ("y", "z"): (1, 3, 1)}


def test_cocitation_dedups_and_drops_self_edges(spark):
    # duplicate (p1,x) rows and a self citation must not inflate counts
    edges = [("p1", "x"), ("p1", "x"), ("p1", "y"), ("p2", "x"),
             ("p2", "y"), ("x", "x")]
    got = _cocite(spark, edges)
    assert got == {("x", "y"): (2, 2, 2)}


def test_cocitation_max_fanout_guards_pairing_not_degrees(spark):
    # 'dir' is a directory page linking 5 hosts: with max_fanout=4 it is
    # excluded from PAIRING, but in-degrees still count its citations
    edges = [("p1", "x"), ("p1", "y"), ("p2", "x"), ("p2", "y")]
    edges += [("dir", t) for t in ("x", "y", "u", "v", "w")]
    uncapped = _cocite(spark, edges, min_shared=2)
    assert uncapped[("x", "y")] == (3, 3, 3)
    capped = _cocite(spark, edges, min_shared=2, max_fanout=4)
    # dir's contribution to the (x,y) pair is gone; degrees keep it
    assert capped == {("x", "y"): (2, 3, 3)}


# ------------------------------------------------------- label propagation

def _lpa_ref(edges, iters):
    # pure-Python synchronous LPA with the same (count desc, label asc)
    # argmax — the operator's contract, restated independently
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {n: n for n in adj}
    for _ in range(iters):
        new = {}
        for n, nbrs in adj.items():
            cnt = {}
            for m in nbrs:
                cnt[labels[m]] = cnt.get(labels[m], 0) + 1
            new[n] = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = new
    return labels


def _lpa(spark, edges, iters):
    from quickner_spark.operators.graph import label_propagation
    df = spark.createDataFrame(edges, "src string, dst string")
    return {r["node"]: r["community"]
            for r in label_propagation(df, iters=iters).collect()}


def test_lpa_two_cliques_with_bridge(spark):
    k4a = [(f"a{i}", f"a{j}") for i in range(4) for j in range(i + 1, 4)]
    k4b = [(f"b{i}", f"b{j}") for i in range(4) for j in range(i + 1, 4)]
    edges = k4a + k4b + [("a0", "b0")]
    got = _lpa(spark, edges, iters=3)
    assert got == _lpa_ref(edges, 3)
    # the two cliques end in two distinct communities
    assert len({got[f"a{i}"] for i in range(4)}) == 1
    assert len({got[f"b{i}"] for i in range(4)}) == 1
    assert got["a0"] != got["b0"]


def test_lpa_tie_breaks_to_smallest_label(spark):
    # node m has one neighbor of each label: the argmax must pick the
    # lexicographically smallest
    got = _lpa(spark, [("m", "x"), ("m", "y"), ("m", "z")], iters=1)
    assert got["m"] == "x"


def test_lpa_ignores_direction_multiplicity_self_loops(spark):
    edges = [("a", "b"), ("b", "a"), ("a", "b"), ("b", "c"), ("c", "c")]
    assert _lpa(spark, edges, 2) == _lpa_ref([("a", "b"), ("b", "c")], 2)


def test_lpa_differential_vs_python(spark):
    import random
    rng = random.Random(29)
    edges = list({(f"n{rng.randrange(25)}", f"n{rng.randrange(25)}")
                  for _ in range(70)})
    for iters in (1, 2, 3):
        assert _lpa(spark, edges, iters) == _lpa_ref(edges, iters), iters


def test_pagerank_weighted_integer_hand_computed(spark):
    from quickner_spark.operators.graph import pagerank
    e = spark.createDataFrame(
        [("a", "b", 2), ("a", "b", 1), ("a", "c", 1)],
        "src string, dst string, w long")
    got = {r["node"]: r["rank"]
           for r in pagerank(e, iters=1, arithmetic="integer",
                             scale=100, weight="w").collect()}
    # duplicate (a,b) rows sum to w=3; out-weight W=4; r0=100, base=15
    # contrib: ((100*85) div 100)=85 -> b: 85*3 div 4 = 63; c: 85 div 4 = 21
    assert got == {"a": 15, "b": 78, "c": 36}


def test_pagerank_weighted_double_splits_proportionally(spark):
    from quickner_spark.operators.graph import pagerank
    e = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", 1)], "src string, dst string, w long")
    got = {r["node"]: r["rank"]
           for r in pagerank(e, iters=1, weight="w").collect()}
    assert abs(got["b"] - (0.15 + 0.85 * 0.75)) < 1e-12
    assert abs(got["c"] - (0.15 + 0.85 * 0.25)) < 1e-12
    # uniform weights reduce to the unweighted operator exactly
    u = spark.createDataFrame([("a", "b", 5), ("a", "c", 5)],
                              "src string, dst string, w long")
    w = {r["node"]: r["rank"]
         for r in pagerank(u, iters=3, weight="w").collect()}
    plain = {r["node"]: r["rank"]
             for r in pagerank(u.select("src", "dst"), iters=3).collect()}
    assert w == plain


def test_graph_ops_drop_null_endpoints(spark):
    # real link tables contain NULL hosts (unparseable hrefs): every
    # graph operator must drop them silently, not crash or count them
    from quickner_spark.operators.graph import (cocitation,
                                                label_propagation,
                                                pagerank, triangle_count)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), (None, "a"), ("b", None),
         (None, None)],
        "src string, dst string")
    assert _tri(spark, [("a", "b"), ("b", "c"), ("c", "a")]) == \
        {r["node"]: r["triangles"] for r in triangle_count(edges).collect()}
    got = {r["node"]: r["community"]
           for r in label_propagation(edges, iters=2).collect()}
    assert set(got) == {"a", "b", "c"}
    pr = {r["node"] for r in pagerank(edges, iters=1).collect()}
    assert pr == {"a", "b", "c"}
    cc = cocitation(edges, min_shared=1).collect()
    assert all(r["a"] is not None and r["b"] is not None for r in cc)
    from quickner_spark.operators.graph import degree_stats, k_hop
    kh = {r["node"] for r in k_hop(edges, ["a"], 2).collect()}
    assert None not in kh and kh == {"b", "c"}
    ds = {r["node"] for r in degree_stats(edges).collect()}
    assert ds == {"a", "b", "c"}
    got_cc = _cc(spark, [("a", "b"), ("b", "c"), ("c", "a"), (None, "a"),
                         ("b", None), (None, None)])
    assert got_cc == {"a": "a", "b": "a", "c": "a"}


def test_personalized_pagerank_integer_hand_computed(spark):
    from quickner_spark.operators.graph import pagerank
    e = spark.createDataFrame([("a", "b"), ("b", "c")],
                              "src string, dst string")
    got = {r["node"]: r["rank"]
           for r in pagerank(e, iters=2, arithmetic="integer", scale=100,
                             seeds=["a"]).collect()}
    # r0: a=100 b=0 c=0; base: a=15 else 0
    # iter1: a->b (100*85)div100=85 => a=15 b=85 c=0
    # iter2: a->b (15*85)div100=12; b->c (85*85)div100=72
    assert got == {"a": 15, "b": 12, "c": 72}


def test_personalized_pagerank_unreachable_is_zero_and_df_seeds(spark):
    from quickner_spark.operators.graph import pagerank
    e = spark.createDataFrame(
        [("a", "b"), ("x", "y")], "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "s string")
    got = {r["node"]: r["rank"]
           for r in pagerank(e, iters=3, seeds=seeds).collect()}
    assert got["x"] == 0.0 and got["y"] == 0.0
    assert got["a"] > 0 and got["b"] > 0
