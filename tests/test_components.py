"""Connected-components twins: the distributed min-label propagation loop
and its small-graph local fast path must agree on every graph, and both
must match a driver-side union-find on small fixtures."""

from __future__ import annotations

import pytest

from neotree_data_pipeline_kedro_spark.operators.components import (
    connected_components,
    dedup_groups,
)


def _uf(edges: list[tuple[int, int]], nodes: set[int]) -> dict[int, int]:
    parent = {n: n for n in nodes}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    roots = {n: find(n) for n in parent}
    # canonical id = min of component
    comp_min: dict[int, int] = {}
    for n, r in roots.items():
        comp_min[r] = min(comp_min.get(r, n), n)
    return {n: comp_min[roots[n]] for n in parent}


GRAPHS = {
    "two_triangles_bridge": [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10), (3, 10)],
    "long_chain": [(i, i + 1) for i in range(30)],
    "stars_merged": [(0, i) for i in range(1, 6)] + [(100, i) for i in range(101, 106)] + [(5, 101)],
    "self_loops_and_dups": [(1, 1), (1, 2), (2, 1), (2, 2), (5, 6), (6, 5)],
    "singleton_heavy": [(7, 8)],
}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_cc_twins_and_unionfind(spark, name):
    edges = GRAPHS[name]
    nodes = sorted({x for e in edges for x in e} | {999})  # 999 isolated
    edf = spark.createDataFrame(edges, "src bigint, dst bigint")
    ndf = spark.createDataFrame([(n,) for n in nodes], "id bigint")

    # local_threshold=0 forces the distributed label-prop loop; the default
    # small-graph fast path is covered by test_cc_local_path_matches
    lp = connected_components(edf, nodes=ndf, local_threshold=0)
    local = connected_components(edf, nodes=ndf)
    expect = _uf(edges, set(nodes))

    got_lp = {r["id"]: r["comp"] for r in lp.collect()}
    got_local = {r["id"]: r["comp"] for r in local.collect()}
    want = dict(expect)
    want[999] = 999
    assert got_lp == want, f"{name}: labelprop vs union-find"
    assert got_local == want, f"{name}: local fast path vs union-find"


def test_dedup_groups_flags(spark):
    edf = spark.createDataFrame([(1, 2), (2, 3)], "src bigint, dst bigint")
    ndf = spark.createDataFrame([(1,), (2,), (3,), (9,)], "id bigint")
    out = dedup_groups(connected_components(edf, nodes=ndf)).collect()
    rows = {r["id"]: r for r in out}
    assert rows[1]["is_canonical"] and rows[1]["component_size"] == 3
    assert not rows[2]["is_canonical"] and rows[2]["comp"] == 1
    assert rows[9]["is_canonical"] and rows[9]["component_size"] == 1


def test_cc_empty_edges(spark):
    edf = spark.createDataFrame([], "src bigint, dst bigint")
    ndf = spark.createDataFrame([(4,), (5,)], "id bigint")
    got = {r["id"]: r["comp"] for r in connected_components(edf, nodes=ndf).collect()}
    assert got == {4: 4, 5: 5}


# ---------------------------------------------------------------- hyperball
def test_hyperball_estimates_track_exact_ball_sizes(spark):
    """m=16 registers -> ~26% rse; on a 150-node random graph the
    AGGREGATE error must be well inside that and per-node estimates must
    be positively ordered vs truth (rank correlation, not exactness)."""
    import numpy as np

    from neotree_data_pipeline_kedro_spark.operators.components import (
        hyperball_reach,
    )

    rng = np.random.default_rng(5)
    edges = sorted(
        {
            (int(a), int(b))
            for a, b in rng.integers(0, 150, size=(450, 2))
            if a != b
        }
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.est_reach for r in hyperball_reach(df, hops=2).collect()}
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    exact = {}
    for n in nbrs:
        ball = {n} | nbrs[n]
        for u in list(nbrs[n]):
            ball |= nbrs[u]
        exact[n] = len(ball)
    assert set(got) == set(exact)
    ratio = sum(got[n] for n in exact) / sum(exact.values())
    assert 0.75 < ratio < 1.35  # aggregate bias inside the m=16 envelope
    ge = np.array([got[n] for n in sorted(exact)])
    ex = np.array([exact[n] for n in sorted(exact)])
    rho = np.corrcoef(
        np.argsort(np.argsort(ge)), np.argsort(np.argsort(ex))
    )[0, 1]
    assert rho > 0.5  # sketch must order nodes like the truth


def test_hyperball_star_center_sees_everyone(spark):
    from neotree_data_pipeline_kedro_spark.operators.components import (
        hyperball_reach,
    )

    star = [(0, i) for i in range(1, 40)]
    df = spark.createDataFrame(star, "src long, dst long")
    got = {r.node: r for r in hyperball_reach(df, hops=1).collect()}
    # center's 1-hop ball = whole graph (40); leaves see 2 nodes
    assert got[0].est_reach > 15  # sketchy, but nowhere near leaf-sized
    # each leaf sees only {leaf, center}: estimates must sit far below
    # the center's (they differ leaf-to-leaf — each has its own hash)
    import statistics

    med_leaf = statistics.median(got[i].est_reach for i in range(1, 40))
    assert med_leaf < got[0].est_reach / 3
    # 2 hops: every node's ball is the whole star -> every register set
    # is the max over ALL node hashes -> estimates identical everywhere
    got2 = {r.node: r for r in hyperball_reach(df, hops=2).collect()}
    ests2 = {round(v.est_reach, 9) for v in got2.values()}
    assert len(ests2) == 1
