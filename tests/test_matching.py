"""one_to_one_match (unique-mapping 1:1 assignment) and
repair_bridged_clusters (bridge-edge split transform)."""

from __future__ import annotations

import itertools

import pytest

from pyspark.sql import functions as F

from entity_linking_in_biomedical_spark.operators.matching import (
    one_to_one_match,
    repair_bridged_clusters,
)


def _pairs(spark, rows):
    return spark.createDataFrame(
        rows, "left_id string, right_id string, score double"
    )


def _greedy_oracle(rows, max_rounds=8):
    """Sequential locally-dominant reference: per round, keep pairs that
    are argmax for both endpoints (ties by partner id), remove, repeat."""
    pool = {}
    for l, r, s in rows:
        pool[(l, r)] = max(s, pool.get((l, r), float("-inf")))
    out = {}
    for rnd in range(1, max_rounds + 1):
        if not pool:
            break
        best_l = {}
        best_r = {}
        for (l, r), s in pool.items():
            k = (-s, r)
            if l not in best_l or k < best_l[l][0]:
                best_l[l] = (k, r)
            k = (-s, l)
            if r not in best_r or k < best_r[r][0]:
                best_r[r] = (k, l)
        mutual = [
            (l, r, s)
            for (l, r), s in pool.items()
            if best_l[l][1] == r and best_r[r][1] == l
        ]
        if not mutual:
            break
        for l, r, s in mutual:
            out[(l, r)] = (s, rnd)
        ml = {l for l, _, _ in mutual}
        mr = {r for _, r, _ in mutual}
        pool = {
            (l, r): s
            for (l, r), s in pool.items()
            if l not in ml and r not in mr
        }
    return {(l, r): v for (l, r), v in out.items()}


def test_one_to_one_basic_exclusivity(spark):
    # B's best is X, A's best is also X but weaker: A must fall back to Y
    rows = [
        ("A", "X", 0.9),
        ("B", "X", 1.0),
        ("A", "Y", 0.5),
        ("C", "Y", 0.4),
    ]
    m, rounds = one_to_one_match(_pairs(spark, rows))
    got = {(r["left_id"], r["right_id"]): (r["score"], r["round"]) for r in m.collect()}
    assert got == {("B", "X"): (1.0, 1), ("A", "Y"): (0.5, 2)}
    assert rounds == 2
    # exclusivity: each side id appears at most once
    assert m.groupBy("left_id").count().agg(F.max("count")).first()[0] == 1
    assert m.groupBy("right_id").count().agg(F.max("count")).first()[0] == 1


def test_one_to_one_tie_break_deterministic(spark):
    # all scores equal: ties resolve by partner id ascending
    rows = [(l, r, 1.0) for l, r in itertools.product("AB", "XY")]
    m, _ = one_to_one_match(_pairs(spark, rows))
    got = {(r["left_id"], r["right_id"]) for r in m.collect()}
    assert got == {("A", "X"), ("B", "Y")}


def test_one_to_one_matches_sequential_oracle(spark):
    # deterministic pseudo-random bipartite pool, no RNG dependency
    rows = []
    for i in range(40):
        for j in range(25):
            h = (i * 2654435761 + j * 40503) % 997
            if h % 3 == 0:
                rows.append((f"l{i:02d}", f"r{j:02d}", float(h) / 997.0))
    m, _ = one_to_one_match(_pairs(spark, rows), max_rounds=8)
    got = {(r["left_id"], r["right_id"]): (r["score"], r["round"]) for r in m.collect()}
    want = _greedy_oracle(rows, max_rounds=8)
    assert got == want and len(got) > 5


def test_one_to_one_duplicate_pairs_keep_max(spark):
    rows = [("A", "X", 0.2), ("A", "X", 0.7)]
    m, rounds = one_to_one_match(_pairs(spark, rows))
    [row] = m.collect()
    assert (row["score"], rounds) == (0.7, 1)


def test_one_to_one_empty(spark):
    m, rounds = one_to_one_match(_pairs(spark, []))
    assert m.count() == 0 and rounds == 0
    assert [f.name for f in m.schema.fields] == [
        "left_id",
        "right_id",
        "score",
        "round",
    ]


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string, score double")


def test_repair_splits_weak_chain_keeps_triangle(spark):
    rows = [
        # triangle: every edge has support 1 -> kept despite low scores
        ("t1", "t2", 0.6),
        ("t2", "t3", 0.6),
        ("t1", "t3", 0.6),
        # weak chain: support 0 and score < 0.95 -> severed
        ("c1", "c2", 0.7),
        ("c2", "c3", 0.7),
        # strong pair: support 0 but score >= 0.95 -> kept
        ("p1", "p2", 1.0),
    ]
    assign, _ = repair_bridged_clusters(_edges(spark, rows), min_bridge_score=0.95)
    got = {r["node"]: r["cluster_id"] for r in assign.collect()}
    assert got == {
        "t1": "t1",
        "t2": "t1",
        "t3": "t1",
        "c1": "c1",
        "c2": "c2",
        "c3": "c3",
        "p1": "p1",
        "p2": "p1",
    }


def test_repair_all_nodes_survive_as_singletons(spark):
    assign, _ = repair_bridged_clusters(
        _edges(spark, [("x", "y", 0.1)]), min_bridge_score=0.95
    )
    got = {r["node"]: r["cluster_id"] for r in assign.collect()}
    assert got == {"x": "x", "y": "y"}


# ---- stable_cluster_ids ----------------------------------------------------


def _assign(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, cluster_id string")


def test_stable_ids_rename_split_merge_fresh(spark):
    from entity_linking_in_biomedical_spark.operators.matching import (
        stable_cluster_ids,
    )

    # old snapshot: A={1,2,3}, B={4,5}, Z={9} (Z's entity vanishes)
    old = _assign(
        spark,
        [("1", "A"), ("2", "A"), ("3", "A"), ("4", "B"), ("5", "B"), ("9", "Z")],
    )
    # new snapshot: A split into {1,2} and {3}; B renamed to b' with a
    # new member 6; 7 starts a brand-new cluster; 9 is gone
    new = _assign(
        spark,
        [
            ("1", "n1"),
            ("2", "n1"),
            ("3", "n2"),
            ("4", "nb"),
            ("5", "nb"),
            ("6", "nb"),
            ("7", "nc"),
        ],
    )
    got = {
        r["doc_id"]: (r["stable_id"], r["is_fresh"])
        for r in stable_cluster_ids(old, new).collect()
    }
    # the larger half of the split inherits A; the singleton half is fresh
    assert got["1"] == ("A", False) and got["2"] == ("A", False)
    assert got["3"] == ("new:n2", True)
    # rename with growth still inherits B
    assert got["4"] == ("B", False) and got["6"] == ("B", False)
    # brand-new cluster gets a fresh namespaced id
    assert got["7"] == ("new:nc", True)
    # retired old id Z is reused by nobody
    assert all(s != "Z" for s, _ in got.values())


def test_stable_ids_old_id_reused_at_most_once_on_even_split(spark):
    from entity_linking_in_biomedical_spark.operators.matching import (
        stable_cluster_ids,
    )

    # A={1,2,3,4} splits evenly into {1,2} and {3,4}: both overlap A by
    # 2 — exactly one half may inherit A (the smaller new id, by the
    # deterministic tie-break), the other must be fresh
    old = _assign(spark, [("1", "A"), ("2", "A"), ("3", "A"), ("4", "A")])
    new = _assign(spark, [("1", "p"), ("2", "p"), ("3", "q"), ("4", "q")])
    rows = stable_cluster_ids(old, new).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["stable_id"], set()).add(r["doc_id"])
    assert by_cluster["A"] == {"1", "2"}  # p < q wins the tie
    assert by_cluster["new:q"] == {"3", "4"}


def test_stable_ids_disjoint_snapshots_all_fresh(spark):
    from entity_linking_in_biomedical_spark.operators.matching import (
        stable_cluster_ids,
    )

    old = _assign(spark, [("1", "A")])
    new = _assign(spark, [("2", "x"), ("3", "x")])
    rows = stable_cluster_ids(old, new).collect()
    assert {r["stable_id"] for r in rows} == {"new:x"}
    assert all(r["is_fresh"] for r in rows)


def test_stable_ids_state_evolves(spark):
    """Two snapshots stitched one after the other: snapshot 1's
    inherited ids become snapshot 2's old assignment, so an id minted
    in snapshot 1 survives a second re-clustering."""
    from pyspark.sql import functions as F

    from entity_linking_in_biomedical_spark.operators.matching import (
        stable_cluster_ids,
    )

    def stitch(old, new):
        return (
            stable_cluster_ids(old, new)
            .select("doc_id", F.col("stable_id").alias("cluster_id"))
            .localCheckpoint()
        )

    state = _assign(spark, [("1", "A"), ("2", "A"), ("3", "B")]).localCheckpoint()
    # snapshot 1: A renamed, B grows, brand-new cluster c
    state = stitch(
        state,
        _assign(spark, [("1", "k"), ("2", "k"), ("3", "m"), ("4", "m"), ("5", "c")]),
    )
    got1 = {r["doc_id"]: r["cluster_id"] for r in state.collect()}
    assert got1["1"] == "A" and got1["3"] == "B" and got1["5"] == "new:c"
    # snapshot 2: everything renamed again — ids minted in snapshot 1
    # (incl. the fresh one) persist
    state = stitch(
        state,
        _assign(spark, [("1", "z1"), ("2", "z1"), ("3", "z2"), ("4", "z2"), ("5", "z3")]),
    )
    got2 = {r["doc_id"]: r["cluster_id"] for r in state.collect()}
    assert got2["1"] == "A" and got2["3"] == "B" and got2["5"] == "new:c"


def test_stable_ids_null_clusters_never_emit_null(spark):
    """NULL cluster ids become namespaced per-item singletons: no NULL
    stable_id ever reaches downstream keys, and an item unassigned in
    both snapshots keeps a stable singleton id."""
    from entity_linking_in_biomedical_spark.operators.matching import (
        stable_cluster_ids,
    )

    old = _assign(spark, [("1", "A"), ("2", None), ("3", None)])
    new = _assign(spark, [("1", "k"), ("2", None), ("4", None)])
    got = {r["doc_id"]: r for r in stable_cluster_ids(old, new).collect()}
    assert all(r["stable_id"] is not None for r in got.values())
    # unassigned in both snapshots -> inherits its own singleton id
    assert got["2"]["stable_id"] == "\x00singleton:2" and not got["2"]["is_fresh"]
    # newly-arrived unassigned item -> fresh namespaced singleton
    assert got["4"]["stable_id"] == "new:\x00singleton:4" and got["4"]["is_fresh"]
    assert got["1"]["stable_id"] == "A"


def test_stitch_churn_stats_hand_computed(spark):
    from entity_linking_in_biomedical_spark.operators.matching import (
        stitch_churn_stats,
    )

    # old: 1,2 in A; 3 in B; 5 in Z (Z retires — 5 leaves the corpus)
    old = _assign(spark, [("1", "A"), ("2", "A"), ("3", "B"), ("5", "Z")])
    # new: 1 stays in A, 2 moves to B, 3 stays in B, 4 arrives in fresh F
    new = _assign(spark, [("1", "A"), ("2", "B"), ("3", "B"), ("4", "F")])
    r = stitch_churn_stats(old, new).collect()[0]
    assert (r["n_old"], r["n_new"], r["n_common"], r["n_moved"]) == (4, 4, 3, 1)
    assert r["item_churn"] == pytest.approx(1 / 3, abs=1e-6)
    assert (r["n_entities_old"], r["n_entities_new"]) == (3, 3)
    assert (r["n_retired"], r["n_fresh"]) == (1, 1)  # Z retired, F fresh
