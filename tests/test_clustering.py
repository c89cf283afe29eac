"""Connected components (large-star/small-star) on hand-built graphs."""

from __future__ import annotations

from entity_linking_in_biomedical_spark.operators.clustering import connected_components


def cc(spark, edges, nodes=None):
    e = spark.createDataFrame(edges or [("x", "x")], "src string, dst string")
    if not edges:
        e = e.limit(0)
    n = spark.createDataFrame([(x,) for x in nodes], "node string") if nodes else None
    assign, iters = connected_components(e, nodes=n)
    return {r["node"]: r["cluster_id"] for r in assign.collect()}, iters


def test_chain(spark):
    got, _ = cc(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_star(spark):
    got, _ = cc(spark, [("m", "a"), ("m", "b"), ("m", "c")])
    assert set(got.values()) == {"a"}


def test_two_components(spark):
    got, _ = cc(spark, [("a", "b"), ("x", "y"), ("y", "z")])
    assert got["a"] == got["b"] == "a"
    assert got["x"] == got["y"] == got["z"] == "x"


def test_self_loop_and_dup_edges(spark):
    got, _ = cc(spark, [("a", "a"), ("a", "b"), ("b", "a")])
    assert got == {"a": "a", "b": "a"}


def test_empty_edges_with_singletons(spark):
    got, _ = cc(spark, [], nodes=["p", "q"])
    assert got == {"p": "p", "q": "q"}


def test_long_chain_converges(spark):
    n = 40
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)]
    got, iters = cc(spark, edges)
    assert set(got.values()) == {"n000"}
    assert iters <= 10  # O(log^2 n) rounds


def test_round_cap_raises_instead_of_returning_unconverged_edges(spark, monkeypatch):
    """A fixpoint not confirmed within MAX_ROUNDS raises, naming the
    round count, instead of reading clusters off an unconverged edge
    set (one round can never confirm a fixpoint)."""
    import pytest

    import entity_linking_in_biomedical_spark.operators.clustering as C

    monkeypatch.setattr(C, "MAX_ROUNDS", 1)
    edges = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(40)]
    with pytest.raises(RuntimeError, match="no fixpoint after 1 star rounds"):
        cc(spark, edges)


def test_entity_prefix_pins_cluster(spark):
    # "e|" sorts before "s|": components with an entity root at the CUI
    got, _ = cc(spark, [("s|melanoma", "e|C0025202"), ("s|melanona", "s|melanoma")])
    assert set(got.values()) == {"e|C0025202"}


def _edges_df(spark, edges):
    e = spark.createDataFrame(edges or [("x", "x")], "src string, dst string")
    return e.limit(0) if not edges else e


def _merge(spark, base_edges, new_edges, base_nodes=None, new_nodes=None):
    from entity_linking_in_biomedical_spark.operators.clustering import (
        merge_into_clusters,
    )

    n = (
        spark.createDataFrame([(x,) for x in base_nodes], "node string")
        if base_nodes
        else None
    )
    assign, _ = connected_components(_edges_df(spark, base_edges), nodes=n)
    nn = (
        spark.createDataFrame([(x,) for x in new_nodes], "node string")
        if new_nodes
        else None
    )
    updated, _ = merge_into_clusters(
        assign, _edges_df(spark, new_edges), new_nodes=nn
    )
    return {r["node"]: r["cluster_id"] for r in updated.collect()}


def test_merge_equals_full_recompute(spark):
    """merge(cc(E1), E2) == cc(E1 ∪ E2) on a graph exercising every
    case: cluster-merging edge, intra-cluster edge (self-loop after
    contraction), new node attaching to an old cluster, brand-new
    component, untouched cluster."""
    base = [("a", "b"), ("b", "c"), ("p", "q"), ("u", "v"), ("k", "l")]
    new = [
        ("c", "p"),   # merges {a,b,c} with {p,q} -> root a
        ("a", "b"),   # intra-cluster: contracts to a self-loop
        ("n1", "v"),  # new node joins {u,v}
        ("n2", "n3"), # brand-new component
    ]
    got = _merge(spark, base, new, base_nodes=["s"])
    full, _ = cc(spark, base + new, nodes=["s"])
    assert got == full
    # "n1" < "u": the arriving node IS the merged component's min
    assert got["p"] == "a" and got["u"] == "n1" and got["n2"] == "n2"
    assert got["k"] == "k" and got["s"] == "s"


def test_merge_new_root_wins_lexicographically(spark):
    """A new node smaller than every old member becomes the root —
    the min-node invariant survives the merge (entity-pinning relies
    on it: 'e|' < 'm|')."""
    got = _merge(spark, [("m|x", "m|y")], [("e|c1", "m|y")])
    assert got == {"m|x": "e|c1", "m|y": "e|c1", "e|c1": "e|c1"}


def test_merge_empty_batch_is_identity(spark):
    got = _merge(spark, [("a", "b")], [], base_nodes=["z"])
    assert got == {"a": "a", "b": "a", "z": "z"}


def test_merge_chain_across_three_old_clusters(spark):
    base = [("a", "b"), ("c", "d"), ("e", "f")]
    got = _merge(spark, base, [("b", "d"), ("d", "f")])
    full, _ = cc(spark, base + [("b", "d"), ("d", "f")])
    assert got == full and set(got.values()) == {"a"}


def test_merge_two_batches_equals_full_recompute(spark):
    """Two edge batches folded one after the other (the second merge
    reads the first's output) equal one full recompute."""
    from entity_linking_in_biomedical_spark.operators.clustering import (
        merge_into_clusters,
    )

    assign, _ = connected_components(_edges_df(spark, [("a", "b"), ("x", "y")]))
    assign, _ = merge_into_clusters(assign.localCheckpoint(), _edges_df(spark, [("b", "x")]))
    assign, _ = merge_into_clusters(
        assign.localCheckpoint(), _edges_df(spark, [("y", "z"), ("q", "r")])
    )
    got = {r["node"]: r["cluster_id"] for r in assign.collect()}
    full, _ = cc(
        spark, [("a", "b"), ("x", "y"), ("b", "x"), ("y", "z"), ("q", "r")]
    )
    assert got == full


def test_merge_touches_state_map_only(spark):
    """The corpus-sized assignments frame must never sit on the
    un-broadcastable side of a join: merge_into_clusters' whole plan
    carries no SortMergeJoin/ShuffledHashJoin — the state is probed by
    a broadcast semi-join and relabeled by a broadcast hash join."""
    from io import StringIO
    from contextlib import redirect_stdout

    from entity_linking_in_biomedical_spark.operators.clustering import (
        merge_into_clusters,
    )

    assignments = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "c"), ("z", "z")],
        "node string, cluster_id string",
    )
    edges = spark.createDataFrame([("b", "c"), ("d", "e")], "src string, dst string")
    nodes = spark.createDataFrame([("d",), ("e",), ("q",)], "node string")
    updated, _ = merge_into_clusters(assignments, edges, new_nodes=nodes)
    buf = StringIO()
    with redirect_stdout(buf):
        updated.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    got = {r["node"]: r["cluster_id"] for r in updated.collect()}
    # b-c merges {a,b} with {c}; d-e is a new 2-node cluster; q a singleton
    assert got == {"a": "a", "b": "a", "c": "a", "z": "z", "d": "d", "e": "d", "q": "q"}


# ---- triangle support / match-graph diagnostics ---------------------------

from entity_linking_in_biomedical_spark.operators.clustering import (  # noqa: E402
    edge_triangle_support,
    match_graph_diagnostics,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _support(spark, pairs):
    out = edge_triangle_support(_edges(spark, pairs)).collect()
    return {(r["src"], r["dst"]): r["support"] for r in out}


def test_triangle_support_k3(spark):
    got = _support(spark, [("a", "b"), ("b", "c"), ("a", "c")])
    assert got == {("a", "b"): 1, ("b", "c"): 1, ("a", "c"): 1}


def test_triangle_support_chain_and_cycle_all_bridges(spark):
    # a path and a 4-cycle have no triangles: every edge is a bridge
    got = _support(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert set(got.values()) == {0}
    got = _support(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")])
    assert set(got.values()) == {0}


def test_triangle_support_k4(spark):
    # K4: 4 triangles, every edge lies in exactly 2
    pairs = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    got = _support(spark, pairs)
    assert len(got) == 6 and set(got.values()) == {2}


def test_triangle_support_dedups_and_orients_input(spark):
    # duplicate/reversed/self-loop edges must not inflate counts
    got = _support(
        spark,
        [("b", "a"), ("a", "b"), ("b", "c"), ("a", "c"), ("c", "c")],
    )
    assert got == {("a", "b"): 1, ("b", "c"): 1, ("a", "c"): 1}


def test_match_graph_diagnostics_triangle_vs_chain(spark):
    edges = _edges(
        spark,
        [("t1", "t2"), ("t2", "t3"), ("t1", "t3"), ("c1", "c2"), ("c2", "c3")],
    )
    assign, _ = connected_components(edges)
    rows = {
        r["cluster_id"]: r
        for r in match_graph_diagnostics(edges, assign).collect()
    }
    tri, chain = rows["t1"], rows["c1"]
    assert (tri["n_nodes"], tri["n_edges"], tri["n_triangles"]) == (3, 3, 1)
    assert tri["n_bridge_edges"] == 0 and tri["density"] == 1.0
    assert (chain["n_nodes"], chain["n_edges"], chain["n_triangles"]) == (3, 2, 0)
    assert chain["n_bridge_edges"] == 2 and abs(chain["density"] - 0.666667) < 1e-6


def test_closure_sensitivity_sweep(spark):
    from entity_linking_in_biomedical_spark.operators.clustering import (
        closure_sensitivity,
    )

    edges = spark.createDataFrame(
        [
            ("a", "b", 0.9),
            ("b", "c", 0.6),
            ("c", "d", 0.4),
            ("x", "y", 0.55),
            ("b", "a", 0.2),  # reversed dup: collapses into (a,b) at max=0.9
        ],
        "src string, dst string, score double",
    )
    rows = closure_sensitivity(edges, [0.5, 0.8, 0.3])
    # (threshold, n_edges, n_nodes, n_clusters, max_cluster_size), desc
    assert rows[0] == (0.8, 1, 2, 1, 2)
    assert rows[1] == (0.5, 3, 5, 2, 3)
    assert rows[2] == (0.3, 4, 6, 2, 4)


def test_closure_sensitivity_empty_strict_band(spark):
    from entity_linking_in_biomedical_spark.operators.clustering import (
        closure_sensitivity,
    )

    edges = spark.createDataFrame(
        [("a", "b", 0.4)], "src string, dst string, score double"
    )
    rows = closure_sensitivity(edges, [0.9, 0.3])
    assert rows[0] == (0.9, 0, 0, 0, 0)
    assert rows[1] == (0.3, 1, 2, 1, 2)


def _brute_support(pairs):
    """O(E^3) reference: triangles by direct closure test."""
    es = {tuple(sorted(p)) for p in pairs if p[0] != p[1]}
    supp = {e: 0 for e in es}
    nodes = sorted({n for e in es for n in e})
    for i, x in enumerate(nodes):
        for y in nodes[i + 1 :]:
            if (x, y) not in es:
                continue
            for z in nodes:
                if z in (x, y):
                    continue
                if tuple(sorted((x, z))) in es and tuple(sorted((y, z))) in es:
                    supp[(x, y)] += 1
    return supp


def test_triangle_support_random_differential(spark):
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = 12
        pairs = [
            (f"v{rng.randrange(n)}", f"v{rng.randrange(n)}") for _ in range(30)
        ]
        pairs = [p for p in pairs if p[0] != p[1]]
        got = _support(spark, pairs)
        want = _brute_support(pairs)
        assert got == want, f"trial {trial}: {got} != {want}"


def test_closure_sensitivity_random_vs_full_recluster(spark):
    """The incremental fold per band must equal a from-scratch closure
    at every threshold (the equivalence the DuckDB twin also proves)."""
    import random

    from entity_linking_in_biomedical_spark.operators.clustering import (
        closure_sensitivity,
    )

    rng = random.Random(11)
    scored = [
        (f"v{rng.randrange(10)}", f"v{rng.randrange(10)}", round(rng.random(), 3))
        for _ in range(25)
    ]
    scored = [s for s in scored if s[0] != s[1]]
    ts = [0.25, 0.5, 0.75]
    rows = closure_sensitivity(
        spark.createDataFrame(scored, "src string, dst string, score double"), ts
    )
    for t, n_edges, n_nodes, n_clusters, mx in rows:
        es = {
            tuple(sorted((a, b))) for a, b, s in scored if s >= t and a != b
        }
        # union-find reference
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in es:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comps = {}
        for x in parent:
            comps.setdefault(find(x), set()).add(x)
        assert n_edges == len(es)
        assert n_nodes == sum(len(v) for v in comps.values())
        assert n_clusters == len(comps)
        assert mx == (max((len(v) for v in comps.values()), default=0))


# ---- retraction (cluster splitting) ----------------------------------------

from entity_linking_in_biomedical_spark.operators.clustering import (  # noqa: E402
    retract_from_clusters,
)


def _retract(spark, base_edges, retracted, base_nodes=None):
    n = (
        spark.createDataFrame([(x,) for x in base_nodes], "node string")
        if base_nodes
        else None
    )
    assign, _ = connected_components(_edges_df(spark, base_edges), nodes=n)
    updated, _ = retract_from_clusters(
        assign, _edges_df(spark, base_edges), _edges_df(spark, retracted)
    )
    return {r["node"]: r["cluster_id"] for r in updated.collect()}


def test_retract_bridge_splits(spark):
    got = _retract(spark, [("a", "b"), ("b", "c")], [("b", "c")])
    assert got == {"a": "a", "b": "a", "c": "c"}


def test_retract_triangle_edge_no_split(spark):
    got = _retract(
        spark, [("a", "b"), ("b", "c"), ("a", "c")], [("b", "c")]
    )
    assert got == {"a": "a", "b": "a", "c": "a"}


def test_retract_nonexistent_edge_is_noop(spark):
    base = [("a", "b"), ("b", "c"), ("p", "q")]
    # (a, c) is not an edge (a and c merely share a cluster); (x, y)
    # touches no known node at all
    got = _retract(spark, base, [("a", "c"), ("x", "y")])
    full, _ = cc(spark, base)
    assert got == full


def test_retract_all_edges_yields_singletons(spark):
    got = _retract(spark, [("a", "b"), ("b", "c")], [("a", "b"), ("b", "c")])
    assert got == {"a": "a", "b": "b", "c": "c"}


def test_retract_reversed_orientation_and_untouched_cluster(spark):
    # retraction arrives (dst, src) — canonicalization must still hit;
    # cluster {p, q} is untouched and must survive byte-identical
    got = _retract(
        spark, [("a", "b"), ("b", "c"), ("p", "q")], [("c", "b")],
        base_nodes=["z"],
    )
    assert got == {"a": "a", "b": "a", "c": "c", "p": "p", "q": "p", "z": "z"}


def test_retract_equals_full_recompute_random(spark):
    """Seeded randomized differential: retract(cc(E), R) == cc(E \\ R)
    over the same node universe, for a graph dense enough to exercise
    splits, no-op intra-cluster retractions, and survivor re-rooting."""
    import random

    rng = random.Random(20260819)
    nodes = [f"n{i:02d}" for i in range(40)]
    edges = sorted(
        {
            tuple(sorted(rng.sample(nodes, 2)))
            for _ in range(55)
        }
    )
    retract = rng.sample(edges, 12) + [("n00", "zz1"), ("zz2", "zz3")]
    got = _retract(spark, edges, retract, base_nodes=nodes)
    surviving = [e for e in edges if e not in {tuple(sorted(r)) for r in retract}]
    full, _ = cc(spark, surviving, nodes=nodes)
    assert got == full


def test_retract_touches_state_broadcast_only(spark):
    """The corpus-state splice (the one join whose LEFT side is the
    full assignments table in the returned plan) is a broadcast anti
    join, nothing plans a cartesian/nested-loop, and the output keeps
    the state's canonical (node, cluster_id) column order so
    positional consumers (DDL-schema createDataFrame, parquet appends)
    stay sound. The upstream probes (retracted-endpoint semi,
    affected-membership semi) are explicitly F.broadcast-hinted in the
    operator but execute inside the subgraph CC's digest jobs behind
    checkpoint barriers, so they are not visible in this plan text."""
    from io import StringIO
    from contextlib import redirect_stdout

    assignments = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("p", "p"), ("q", "p")],
        "node string, cluster_id string",
    )
    edges = _edges_df(spark, [("a", "b"), ("b", "c"), ("p", "q")])
    updated, _ = retract_from_clusters(
        assignments, edges, _edges_df(spark, [("b", "c")])
    )
    assert updated.columns == ["node", "cluster_id"]
    buf = StringIO()
    with redirect_stdout(buf):
        updated.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin LeftAnti" in plan  # the assignments splice
    got = {r["node"]: r["cluster_id"] for r in updated.collect()}
    assert got == {"a": "a", "b": "a", "c": "c", "p": "p", "q": "p"}


def test_retract_two_batches_equals_one(spark):
    """Two sequential retractions (the second reads the first's state
    and surviving edges) fold to the same state as one retraction of
    both."""
    base = [("a", "b"), ("b", "c"), ("c", "d"), ("p", "q")]
    assign, _ = connected_components(_edges_df(spark, base))
    edges = _edges_df(spark, base)
    for r in ([("b", "c")], [("p", "q")]):
        r = _edges_df(spark, r)
        assign, _ = retract_from_clusters(assign, edges, r)
        assign = spark.createDataFrame(assign.collect(), "node string, cluster_id string")
        edges = spark.createDataFrame(
            edges.join(r, ["src", "dst"], "left_anti").collect(), "src string, dst string"
        )
    got = {r["node"]: r["cluster_id"] for r in assign.collect()}
    want = _retract(spark, base, [("b", "c"), ("p", "q")])
    assert got == want
