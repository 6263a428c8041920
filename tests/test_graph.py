"""Connected-components operator: chains, separate components,
convergence, determinism."""

from __future__ import annotations

import pytest

from dask_snowflake_spark.operators.graph import connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "a long, b long")
    rows = connected_components(df, "a", "b").collect()
    return {r.vertex: r.component for r in rows}


def test_chain_is_one_component(spark) -> None:
    # a-b, b-c, c-d: transitive chain must collapse to min id even
    # though (1,4) never share an edge — the case pair-level dedup
    # cannot express
    got = _cc(spark, [(1, 2), (2, 3), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_separate_components(spark) -> None:
    got = _cc(spark, [(10, 20), (30, 40), (40, 50)])
    assert got == {10: 10, 20: 10, 30: 30, 40: 30, 50: 30}


def test_long_path_converges(spark) -> None:
    # path of length 12 needs multiple propagation rounds
    edges = [(i, i + 1) for i in range(12)]
    got = _cc(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 13


def test_exhausted_round_budget_raises(spark) -> None:
    # the path needs more hops than the budget: labels at exhaustion
    # would be silently split, so the operator raises instead
    df = spark.createDataFrame([(i, i + 1) for i in range(12)], "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge in max_iter=2"):
        connected_components(df, "a", "b", max_iter=2)


def test_duplicate_and_reversed_edges(spark) -> None:
    got = _cc(spark, [(2, 1), (1, 2), (2, 1), (3, 2)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_star_and_triangle(spark) -> None:
    got = _cc(spark, [(5, 6), (5, 7), (5, 8), (6, 7), (100, 101)])
    assert got == {5: 5, 6: 5, 7: 5, 8: 5, 100: 100, 101: 100}


def test_random_graphs_match_union_find(spark) -> None:
    """Hash-min propagation equals a classic union-find on arbitrary
    graphs (deterministically generated, several shapes per seed)."""
    import hashlib

    def uf_components(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {v: find(v) for v in parent}

    for seed in range(3):
        n_vertices, n_edges = 40, 55
        edges = []
        for i in range(n_edges):
            h = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
            a, b = int(h[:8], 16) % n_vertices, int(h[8:16], 16) % n_vertices
            if a != b:
                edges.append((a, b))
        got = _cc(spark, edges)
        assert got == uf_components(edges), f"seed {seed}"


def test_empty_edge_list(spark) -> None:
    df = spark.createDataFrame([], "a long, b long")
    assert connected_components(df, "a", "b").collect() == []


def test_exhaustion_raises_not_silently_splits(spark) -> None:
    """A diameter-20 path with max_iter=3 must raise, never return
    partially-propagated (split) components."""
    import pytest

    df = spark.createDataFrame([(i, i + 1) for i in range(20)], "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, "a", "b", max_iter=3)


def test_exact_round_budget_converges(spark) -> None:
    """Convergence exactly at the max_iter-th round is still success
    (the exhaustion check must not have an off-by-one)."""
    # path 0-1-2-...-6: init gives each vertex min over 1-hop; hash-min
    # then needs a handful of rounds; find the exact budget empirically
    edges = [(i, i + 1) for i in range(6)]
    df = spark.createDataFrame(edges, "a long, b long")
    lo = 1
    while True:
        try:
            rows = connected_components(df, "a", "b", max_iter=lo).collect()
            break
        except RuntimeError:
            lo += 1
            assert lo < 20
    assert {r.component for r in rows} == {0}


def test_session_conf_untouched(spark) -> None:
    """The CC loop must not mutate session-global shuffle width."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    connected_components(
        spark.createDataFrame([(1, 2), (2, 3)], "a long, b long"), "a", "b"
    ).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_pagerank_integer_known_graph_and_stability(spark):
    """Path graph a-b-c: the middle vertex must rank highest; results
    are identical under repartitioning (integer arithmetic has no
    order dependence); total mass stays within truncation loss."""
    from dask_snowflake_spark.operators.graph import pagerank_integer

    edges = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    # iters=9 also runs the mid-loop checkpoint (every 8 rounds)
    for iters in (8, 9):
        pr = {
            r.vertex: r.pr_q
            for r in pagerank_integer(edges, "a", "b", iters=iters).collect()
        }
        assert pr[2] > pr[1] == pr[3], (iters, pr)
        total = sum(pr.values())
        # mass conserved up to integer-div truncation (<= deg per vertex per round)
        assert 0.99e12 < total <= 1_000_000_000_000, (iters, total)
        pr2 = {
            r.vertex: r.pr_q
            for r in pagerank_integer(edges.repartition(7), "a", "b", iters=iters).collect()
        }
        assert pr == pr2, iters


def test_pagerank_integer_empty_edges(spark):
    from dask_snowflake_spark.operators.graph import pagerank_integer

    edges = spark.createDataFrame([], "a long, b long")
    assert pagerank_integer(edges, "a", "b", iters=3).count() == 0


def test_pagerank_integer_matches_python_replica(spark):
    """Exact equality against a pure-python integer replica on a batch
    of structured random graphs — the integer formulation has ONE
    correct answer, so the distributed rounds must reproduce it
    bit-for-bit."""
    import random

    from dask_snowflake_spark.operators.graph import pagerank_integer

    def replica(edges, iters, mass=1_000_000_000_000):
        und = set()
        for a, b in edges:
            und.add((a, b))
            und.add((b, a))
        adj = {}
        for a, b in und:
            adj.setdefault(a, []).append(b)
        n = len(adj)
        base = (15 * (mass // n)) // 100
        pr = {u: mass // n for u in adj}
        for _ in range(iters):
            contrib = {}
            for u, nbrs in adj.items():
                share = pr[u] // len(nbrs)
                for v in nbrs:
                    contrib[v] = contrib.get(v, 0) + share
            pr = {v: base + (85 * s) // 100 for v, s in contrib.items()}
        return pr

    rng = random.Random(7)
    for trial in range(3):
        n_edges = 30 + trial * 25
        edges = list(
            {
                (rng.randrange(40), rng.randrange(40))
                for _ in range(n_edges)
            }
        )
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "a long, b long")
        got = {
            r.vertex: r.pr_q for r in pagerank_integer(df, "a", "b", iters=4).collect()
        }
        want = replica(edges, 4)
        assert got == want, f"trial {trial}: {len(got)} vs {len(want)} vertices"


def test_triangles_match_bruteforce(spark):
    """Degree-ordered triangle enumeration == brute-force recount on
    random graphs; each triangle appears exactly once."""
    import random

    from dask_snowflake_spark.operators.graph import triangle_stats, triangles

    rng = random.Random(11)
    for trial in range(3):
        edges = list({(rng.randrange(30), rng.randrange(30)) for _ in range(60 + 30 * trial)})
        edges = [(a, b) for a, b in edges if a != b]
        adj: dict = {}
        canon = {(min(a, b), max(a, b)) for a, b in edges}
        for a, b in canon:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want = {
            tuple(sorted((a, b, c)))
            for a, b in canon
            for c in adj[a] & adj[b]
        }
        df = spark.createDataFrame(edges, "a long, b long")
        got = [tuple(sorted((r.a, r.b, r.c))) for r in triangles(df, "a", "b").collect()]
        assert len(got) == len(set(got)), "a triangle was emitted twice"
        assert set(got) == want, f"trial {trial}"
        stats = triangle_stats(df, "a", "b").collect()[0]
        degs = {v: len(ns) for v, ns in adj.items()}
        assert stats.n_nodes == len(degs)
        assert stats.n_edges == len(canon)
        assert stats.n_wedges == sum(d * (d - 1) // 2 for d in degs.values())
        assert stats.n_triangles == len(want)


def test_triangle_stats_clique_and_path(spark):
    """K5 has C(5,3)=10 triangles and cc=1; a path has none (cc=0)."""
    from itertools import combinations

    from dask_snowflake_spark.operators.graph import triangle_stats

    k5 = spark.createDataFrame(list(combinations(range(5), 2)), "a long, b long")
    s = triangle_stats(k5, "a", "b").collect()[0]
    assert (s.n_nodes, s.n_edges, s.n_triangles, s.global_cc) == (5, 10, 10, 1.0)
    path = spark.createDataFrame([(i, i + 1) for i in range(6)], "a long, b long")
    s = triangle_stats(path, "a", "b").collect()[0]
    assert s.n_triangles == 0 and s.global_cc == 0.0


def _naive_onion(edges, k=2, max_rounds=8):
    """Textbook synchronous bounded peel, computed independently in
    plain Python — the third verification layer for kcore_onion."""
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    alive = set(adj)
    layers = {}
    for rnd in range(1, max_rounds + 1):
        peel = {p for p in alive if sum(1 for q in adj[p] if q in alive) < k}
        if not peel:
            break
        for p in peel:
            layers[p] = rnd
        alive -= peel
    for p in alive:
        layers[p] = 0
    return layers


def _onion(spark, edges, **kw):
    from dask_snowflake_spark.operators.graph import kcore_onion

    df = spark.createDataFrame(edges, "a long, b long")
    return {
        r["vertex"]: r["layer"] for r in kcore_onion(df, "a", "b", **kw).collect()
    }


def test_kcore_path_fully_peels(spark) -> None:
    # a path peels from both ends inward: 0-1-2-3-4-5 under k=2
    got = _onion(spark, [(i, i + 1) for i in range(5)])
    assert got == {0: 1, 5: 1, 1: 2, 4: 2, 2: 3, 3: 3}


def test_kcore_clique_is_all_core(spark) -> None:
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert _onion(spark, edges) == {v: 0 for v in range(4)}


def test_kcore_lollipop(spark) -> None:
    # triangle core + a 2-vertex tail: tail peels layer 1 then 2
    edges = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4)]
    assert _onion(spark, edges) == {4: 1, 3: 2, 0: 0, 1: 0, 2: 0}


def test_kcore_round_cap_is_the_oracle_semantics(spark) -> None:
    # a 6-path needs 3 peel rounds; capped at 2 the middle pair
    # survives as "core" — the same total function the unrolled SQL
    # oracle computes, converged or not
    edges = [(i, i + 1) for i in range(5)]
    got = _onion(spark, edges, max_rounds=2)
    assert got == {0: 1, 5: 1, 1: 2, 4: 2, 2: 0, 3: 0}


def test_kcore_random_graphs_match_naive_python(spark) -> None:
    import hashlib

    for seed in range(3):
        n_vertices, n_edges = 30, 45
        edges = []
        for i in range(n_edges):
            h = hashlib.md5(f"kc{seed}:{i}".encode()).hexdigest()
            a, b = int(h[:8], 16) % n_vertices, int(h[8:16], 16) % n_vertices
            if a != b:
                edges.append((a, b))
        for k in (2, 3):
            assert _onion(spark, edges, k=k) == _naive_onion(edges, k=k), (seed, k)


def test_kcore_empty_edge_list(spark) -> None:
    df = spark.createDataFrame([], "a long, b long")
    from dask_snowflake_spark.operators.graph import kcore_onion

    assert kcore_onion(df, "a", "b").count() == 0


def test_kcore_drops_self_loops(spark) -> None:
    # a self-loop must not inflate degree: with (5,5) kept, vertex 5
    # would survive round 1 and shift the whole chain's layers; dropped,
    # the 3-path peels ends first (round 1) then the middle (round 2) —
    # identical to _naive_onion, which skips a == b
    edges = [(5, 5), (5, 6), (6, 7)]
    got = _onion(spark, edges)
    assert got == _naive_onion(edges) == {5: 1, 6: 2, 7: 1}


def test_tree_descend_known_forest(spark) -> None:
    """Two roots, payload carried to every descendant, orphan subtree
    (parent absent from edges) excluded — the recursive-CTE semantics."""
    from dask_snowflake_spark.operators.graph import tree_descend

    # forest: 1 -> {2, 3}, 2 -> {4}; root 9 isolated; 7 -> 8 orphaned
    # (7 itself is no root and unreachable)
    edges = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 2), (8, 7)], "c int, p int"
    )
    roots = spark.createDataFrame([(1, "a"), (9, "b")], "n int, tag string")
    got = {
        (r.n, r.depth, r.tag)
        for r in tree_descend(
            edges, roots, child="c", parent="p", node="n", max_depth=5
        ).collect()
    }
    assert got == {
        (1, 0, "a"), (9, 0, "b"), (2, 1, "a"), (3, 1, "a"), (4, 2, "a"),
    }


def test_tree_descend_depth_cap_truncates(spark) -> None:
    """Bounded semantics: nodes deeper than max_depth are absent (the
    total-function contract shared with kcore_onion)."""
    from dask_snowflake_spark.operators.graph import tree_descend

    edges = spark.createDataFrame([(2, 1), (3, 2), (4, 3)], "c int, p int")
    roots = spark.createDataFrame([(1,)], "n int")
    got = sorted(
        (r.n, r.depth)
        for r in tree_descend(
            edges, roots, child="c", parent="p", node="n", max_depth=2
        ).collect()
    )
    assert got == [(1, 0), (2, 1), (3, 2)]  # node 4 (depth 3) truncated


def test_tree_descend_random_forests_match_naive(spark) -> None:
    """Random parent assignments with random node drop-outs vs a naive
    python BFS — exercises orphan-chain exclusion at scale."""
    import random

    from dask_snowflake_spark.operators.graph import tree_descend

    rng = random.Random(75)
    for trial in range(3):
        present = sorted(rng.sample(range(64), 40))
        pset = set(present)
        edges = [(u, u // 2) for u in present if u >= 2]
        roots = [u for u in present if u < 2]
        # naive BFS
        want, frontier, depth = {}, {u: u for u in roots}, 0
        while frontier:
            for u, r in frontier.items():
                want[u] = (depth, r)
            nxt = {
                u: frontier[u // 2]
                for u in pset
                if u >= 2 and u // 2 in frontier
            }
            frontier, depth = nxt, depth + 1
        e = spark.createDataFrame(edges or [(0, 0)], "c long, p long")
        if not edges:
            e = e.filter("c < 0")
        r = spark.createDataFrame([(u, u) for u in roots], "n long, root long")
        got = {
            row.n: (row.depth, row.root)
            for row in tree_descend(
                e, r, child="c", parent="p", node="n", max_depth=6
            ).collect()
        }
        assert got == want, f"trial {trial}"


def test_spark_recursive_cte_matches_tree_descend(spark) -> None:
    """Engine-surface pin: Spark 4's own WITH RECURSIVE computes the
    identical x75 result. The registry query uses graph.tree_descend
    (31 jobs / 2.6 s at sf0.1 vs the UnionLoop's 66 / 4.1 s — the
    UnionLoop re-plans every level); this test keeps the recursive-CTE
    surface exercised without a duplicate registry row."""
    from dask_snowflake_spark.queries import registry

    sf_dir = "/root/testdata/sf0.001"
    want = sorted(
        map(tuple, registry()["x75_recursive_hierarchy"].spark_fn(spark, sf_dir).collect())
    )
    from dask_snowflake_spark.session import register_tables

    register_tables(spark, sf_dir)
    got = sorted(
        map(
            tuple,
            spark.sql(
                """
                WITH RECURSIVE nodes AS (
                    SELECT DISTINCT user_id AS u FROM events
                ),
                tree(u, root, depth) AS (
                    SELECT u, u, 0 FROM nodes WHERE u < 2
                    UNION ALL
                    SELECT n.u, t.root, t.depth + 1
                    FROM nodes n JOIN tree t ON t.u = n.u div 2
                    WHERE n.u >= 2
                )
                SELECT depth, count(*) AS n_nodes, min(u) AS min_id,
                       max(u) AS max_id, sum(u) AS sum_ids
                FROM tree GROUP BY depth ORDER BY depth
                """
            ).collect(),
        )
    )
    assert got == want


def test_tree_descend_rejects_reserved_payload_names(spark) -> None:
    """A payload column named `depth` would silently shadow the
    generated depth column; __-internals would collide in the join."""
    import pytest

    from dask_snowflake_spark.operators.graph import tree_descend

    edges = spark.createDataFrame([(2, 1)], "c int, p int")
    roots = spark.createDataFrame([(1, 0)], "n int, depth int")
    with pytest.raises(ValueError, match="reserved names.*depth"):
        tree_descend(edges, roots, child="c", parent="p", node="n", max_depth=1)


def test_tree_descend_dag_multiplicity_matches_union_all(spark) -> None:
    """On a DAG (a child with two reachable parents) the descent emits
    one row PER ROOT-PATH — the WITH RECURSIVE UNION ALL multiset
    semantics the operator stands in for, not a visited-set BFS."""
    from dask_snowflake_spark.operators.graph import tree_descend

    # 1 -> 2, 1 -> 3, and 4 has BOTH 2 and 3 as parents
    edges = spark.createDataFrame([(2, 1), (3, 1), (4, 2), (4, 3)], "c int, p int")
    roots = spark.createDataFrame([(1,)], "n int")
    got = sorted(
        (r.n, r.depth)
        for r in tree_descend(
            edges, roots, child="c", parent="p", node="n", max_depth=3
        ).collect()
    )
    # node 4 appears TWICE at depth 2 (path via 2 and path via 3)
    assert got == [(1, 0), (2, 1), (3, 1), (4, 2), (4, 2)]


# ---------------------------------------------------------------- LPA


def _naive_lpa(edges, rounds=4):
    """Textbook synchronous label propagation with the (count DESC,
    label ASC) tie-break, computed independently in plain Python — the
    third verification layer for label_propagation (the oracle's
    row_number argmax and Spark's max(struct) are different mechanisms,
    but both were written by the same author; this one re-derives the
    semantics from the paper's definition)."""
    adj = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lbl = {v: v for v in adj}
    for _ in range(rounds):
        new = {}
        for v in adj:
            cnt = {}
            for q in adj[v]:
                cnt[lbl[q]] = cnt.get(lbl[q], 0) + 1
            new[v] = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        lbl = new
    return lbl


def _lpa(spark, edges, **kw):
    from dask_snowflake_spark.operators.graph import label_propagation

    df = spark.createDataFrame(edges, "a long, b long")
    return {
        r["vertex"]: r["community"]
        for r in label_propagation(df, "a", "b", **kw).collect()
    }


def test_lpa_lollipop_converges_to_one_community(spark) -> None:
    # triangle + tail: plurality pull absorbs the tail into the
    # triangle's community within 4 synchronous rounds
    edges = [(0, 1), (1, 2), (0, 2), (2, 3)]
    got = _lpa(spark, edges)
    assert got == _naive_lpa(edges) == {0: 0, 1: 0, 2: 0, 3: 0}


def test_lpa_two_cliques_with_bridge(spark) -> None:
    # two triangles joined by one bridge edge: each keeps its own
    # community (min member id) — the density lens CC cannot provide
    edges = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (2, 10)]
    got = _lpa(spark, edges)
    assert got == _naive_lpa(edges)
    assert len(set(got.values())) == 2


def test_lpa_round_cap_is_the_semantics(spark) -> None:
    # a long path does NOT converge in 2 rounds; the bounded output is
    # still well-defined and equals the naive sync state after exactly
    # 2 rounds — the same total function the unrolled oracle computes
    edges = [(i, i + 1) for i in range(8)]
    assert _lpa(spark, edges, rounds=2) == _naive_lpa(edges, rounds=2)


def test_lpa_random_graphs_match_naive_python(spark) -> None:
    import hashlib

    for seed in range(3):
        n_vertices, n_edges = 24, 40
        edges = []
        for i in range(n_edges):
            h = hashlib.md5(f"lpa{seed}:{i}".encode()).hexdigest()
            a, b = int(h[:8], 16) % n_vertices, int(h[8:16], 16) % n_vertices
            if a != b:
                edges.append((a, b))
        for rounds in (3, 4):
            assert _lpa(spark, edges, rounds=rounds) == _naive_lpa(
                edges, rounds=rounds
            ), (seed, rounds)


def test_lpa_drops_self_loops_and_multi_edges(spark) -> None:
    # (5,5) must not let 5 vote for itself; duplicate (5,6) rows must
    # count once (the und set is DISTINCT) — naive uses sets, so parity
    # proves both
    edges = [(5, 5), (5, 6), (6, 5), (5, 6), (6, 7)]
    assert _lpa(spark, edges) == _naive_lpa(edges)


def test_lpa_mid_loop_checkpoint_is_value_invariant(spark) -> None:
    # The fixed-round loop runs on LINEAR lineage (each round's labels
    # consumed exactly once) and localCheckpoints every
    # _CHECKPOINT_EVERY rounds. At 9 rounds that truncation fires
    # mid-loop; checkpoint placement is a plan decision, so the values
    # must still equal the naive synchronous state.
    from dask_snowflake_spark.operators.graph import _CHECKPOINT_EVERY

    assert _CHECKPOINT_EVERY < 9
    cliques = [(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12), (2, 10)]
    path = [(i, i + 1) for i in range(8)]
    for edges in (cliques, path):
        assert _lpa(spark, edges, rounds=9) == _naive_lpa(edges, rounds=9), edges


def test_link_prediction_matches_naive_python(spark) -> None:
    """xdx's in-array wedge scoring vs a from-scratch python replay of
    the whole pipeline (co-purchase graph build, hub cap, CN counts,
    edge exclusion, jaccard, top-20) on the sf0.001 fixture — the
    third layer next to the oracle's self-join formulation."""
    import duckdb

    from dask_snowflake_spark.queries import registry

    sf = "/root/testdata/sf0.001"
    got = [
        (r.u, r.v, r.common_neighbors, r.deg_u, r.deg_v, r.jaccard)
        for r in registry()["xdx_link_prediction_cn"].spark_fn(spark, sf).collect()
    ]

    con = duckdb.connect()
    items = con.execute(
        f"SELECT DISTINCT l_orderkey, l_partkey FROM '{sf}/lineitem.parquet'"
    ).fetchall()
    by_order = {}
    for ok, pk in items:
        by_order.setdefault(ok, []).append(pk)
    pair_n = {}
    for parts in by_order.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                pair_n[(ps[i], ps[j])] = pair_n.get((ps[i], ps[j]), 0) + 1
    edges = {p for p, n in pair_n.items() if n >= 2}
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    cn = {}
    for c, nbrs in adj.items():
        if len(nbrs) > 64:
            continue
        ns = sorted(nbrs)
        for i in range(len(ns)):
            for j in range(i + 1, len(ns)):
                cn[(ns[i], ns[j])] = cn.get((ns[i], ns[j]), 0) + 1
    want = []
    for (u, v), c in cn.items():
        if (u, v) in edges:
            continue
        du, dv = len(adj[u]), len(adj[v])
        want.append((u, v, c, du, dv, (c * 1_000_000 // (du + dv - c)) / 1e6))
    want.sort(key=lambda r: (-r[2], r[0], r[1]))
    assert got == want[:20]


def test_hits_bipartite_matches_python_replica(spark, sf_oracle):
    """hits_bipartite (ex-xeb): 4-round alternating HITS == a from-scratch python-int
    replica (dict adjacency, per-round max-renormalization with the
    G-shrink integer guard). All-integer pipeline -> exact equality
    on the top-10 rows per side, order included."""
    import duckdb

    from dask_snowflake_spark.queries import registry

    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT DISTINCT o.o_custkey, l.l_partkey
        FROM '{sf_oracle}/orders.parquet' o
        JOIN '{sf_oracle}/lineitem.parquet' l ON l.l_orderkey = o.o_orderkey
        """
    ).fetchall()
    by_c, by_p = {}, {}
    for c, p in rows:
        by_c.setdefault(c, []).append(p)
        by_p.setdefault(p, []).append(c)

    def renorm(raw):
        mx = max(max(raw.values()), 1)
        g = max(mx // 1_000_000_000_000, 1)
        den = max(mx // g, 1)
        return {k: ((v // g) * 1_000_000) // den for k, v in raw.items()}

    h = {c: 1_000_000 for c in by_c}
    a = {}
    for _ in range(4):
        ar = {}
        for c, hq in h.items():
            for p in by_c[c]:
                ar[p] = ar.get(p, 0) + hq
        a = renorm(ar)
        hr = {}
        for p, aq in a.items():
            for c in by_p[p]:
                hr[c] = hr.get(c, 0) + aq
        h = renorm(hr)

    def top10(scores):
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]

    want = [
        ("authority", int(k), q / 1e6) for k, q in top10(a)
    ] + [("hub", int(k), q / 1e6) for k, q in top10(h)]
    want.sort(key=lambda r: (r[0], -r[2], r[1]))

    got = registry()["hits_bipartite"].spark_fn(spark, sf_oracle).collect()
    assert [(r.side, r.node_key, r.score) for r in got] == want
    # mutual reinforcement is live: scores are spread, not all at max
    assert len({q for _, q in top10(a)}) > 1


def test_assortativity_matches_python_replica(spark, sf_oracle):
    """xeq's window-degree Newman r == a from-scratch python replica
    (dict adjacency degrees, directed symmetrized sums, declared
    integer-op moments, toward-zero division)."""
    import duckdb

    from dask_snowflake_spark.queries import registry

    def tdiv(a, b):
        return abs(a) // abs(b) * (1 if (a < 0) == (b < 0) else -1)

    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT DISTINCT a.l_partkey, b.l_partkey
        FROM '{sf_oracle}/lineitem.parquet' a
        JOIN '{sf_oracle}/lineitem.parquet' b
          ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
        """
    ).fetchall()
    deg = {}
    for u, v in rows:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    m = len(rows)
    n = 2 * m
    sx = sum(deg[u] + deg[v] for u, v in rows)
    sxy = sum(2 * deg[u] * deg[v] for u, v in rows)
    sxx = sum(deg[u] ** 2 + deg[v] ** 2 for u, v in rows)
    maxdeg = max(deg.values())
    mx = sx // n
    b_q = sxx // n - mx * mx
    a_q = sxy // n - mx * mx
    r = 0.0 if b_q <= 0 else tdiv(a_q * 1_000_000, b_q) / 1e6

    got = registry()["xeq_degree_assortativity"].spark_fn(spark, sf_oracle).collect()
    assert len(got) == 1
    g0 = got[0]
    assert (g0.n_edges, g0.mean_degree, g0.max_degree, g0.assortativity) == (
        m,
        mx,
        maxdeg,
        r,
    )
    # the graph is non-trivial: degrees spread, r computed off a real mix
    assert maxdeg > mx > 0
