"""Connected components over candidate-pair edges — the step that turns
near-duplicate PAIRS (MinHash/SimHash/embedding candidates, see
operators/neardup.py) into duplicate GROUPS so a dedup pipeline can keep one
canonical document per group. The reference engine has no graph operator;
this closes the standard LLM-training-data gap (LSH pairs → clusters →
keep-one) as a first-class extension alongside SURVEY §2.

``connected_components`` is DataFrame-only iterative min-label propagation
with cluster contraction. Each round: (1) neighbor-min, (2) push the round's
best min up to each OLD cluster root and back down to every member, so a
newly found min reaches the whole cluster in one round — O(log n) rounds,
not O(diameter). Labels only ever decrease, so convergence is detected by
the (monotone) sum of labels going flat — one cheap aggregate action per
round, no change-join. Lineage is truncated with ``localCheckpoint`` every
round so the plan doesn't grow with iterations.

It returns one row per node with ``comp`` = the minimum node id reachable
from it, i.e. a canonical, deterministic component id. Singleton nodes keep
``comp = id``.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def _sym_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Symmetrize + self-loop-drop + dedup: one canonical undirected edge
    set (both directions present) so neighbor scans need a single join."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    return (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def cap_hub_degree(
    edges: DataFrame,
    max_degree: int,
    src: str = "src",
    dst: str = "dst",
) -> tuple[DataFrame, DataFrame]:
    """Exclude-and-report guard for every wedge-joining graph algorithm
    (triangles, common-neighbor scores, link prediction): drop all edges
    touching a node whose degree exceeds ``max_degree``, and return the
    excluded hubs so the caller can surface them instead of silently
    changing the answer.

    Why it exists: wedge enumeration materializes Σ deg(z)² candidate
    rows — a SINGLE hub of degree d contributes d(d-1)/2 wedges, so one
    celebrity node at 100 TB (a part in every order, a doc matching
    everything) turns an otherwise-linear stage quadratic ("the curse of
    the last reducer", Suri & Vassilvitskii WWW'11 — their remedy is
    degree-ordered orientation, which tames the constant but not a true
    celebrity; exclusion is the production guard, and what a sampled /
    approximate treatment of the hubs would bolt onto). The same
    exclude-and-report contract as the n-gram small-block guard
    (neardup.ngram_jaccard_pairs max_block_rows): scale safety is an
    explicit, visible decision, never a silent answer change.

    Degree is counted on the DEDUPLICATED undirected edge set (both
    orientations collapse to one), matching what the wedge join would
    actually expand. Returns ``(capped_edges, hubs)``: ``capped_edges``
    preserves the caller's column names and the original row multiset
    minus hub-touching rows; ``hubs`` is (node, degree) for everything
    excluded. Cost: one degree aggregate + two left-anti joins — both
    on the key the wedge join shuffles on anyway.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    hubs = deg.filter(F.col("degree") > max_degree)
    capped = edges.join(
        hubs.select(F.col("node").alias(src)), src, "left_anti"
    ).join(hubs.select(F.col("node").alias(dst)), dst, "left_anti")
    return capped.select(*edges.columns), hubs


def log_hub_exclusions(hubs: DataFrame, max_degree: int, context: str) -> int:
    """Count and log the (node, degree) rows a ``cap_hub_degree`` call
    excluded, for call sites whose fixed output schema has no room to
    return them (g5/g6's similarity scores). The count is one aggregate
    over the hubs frame — call this AFTER checkpointing the frame the
    hubs derive from, so the degree subtree is not replayed. Returns the
    count so tests (and callers) can assert on it; the log line makes
    the silent-answer-change guard visible in production logs either
    way, including the count-zero case."""
    n = hubs.count()
    log.info(
        "%s: cap_hub_degree(max_degree=%d) excluded %d hub node(s)",
        context,
        max_degree,
        n,
    )
    return n


def _nodes(edges_sym: DataFrame, extra_nodes: DataFrame | None) -> DataFrame:
    nodes = edges_sym.select(F.col("u").alias("id"))
    if extra_nodes is not None:
        nodes = nodes.union(extra_nodes.select(F.col(extra_nodes.columns[0]).alias("id")))
    return nodes.distinct()


def _local_union_find(pairs: list[tuple]) -> dict:
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in pairs:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    nodes: DataFrame | None = None,
    max_iter: int = 50,
    local_threshold: int = 500_000,
) -> DataFrame:
    """Min-label propagation. Returns ``(id, comp)`` with ``comp`` = min
    node id in the component. ``nodes`` (optional, single-column) adds
    isolated vertices that should appear in the output with ``comp = id``.

    Scale shape: per round, one shuffle join of the (static, checkpointed)
    symmetric edge list against the current labels plus two groupBy-mins;
    label sum is monotone non-increasing, so one `sum` action per round
    detects the fixpoint exactly without a change-comparison join.

    Small-residual fast path: callers are expected to contract
    deterministic cliques FIRST (see dd_connected_components — bucket
    stars map members to their root before CC), after which the residual
    graph is typically tiny. When the deduped edge count is ≤
    ``local_threshold`` (bounded: two bigints per edge, 500k edges ≈ 8 MB)
    the closure runs as a driver-side union-find in one pass instead of
    O(log n) distributed rounds — the same big-then-local switch
    production graph systems make. Only edge ENDPOINTS are ever collected;
    the (possibly huge) isolated-node set stays distributed and keeps
    ``comp = id`` via an anti-join. Set ``local_threshold=0`` to force the
    distributed loop.
    """
    edges_sym = _sym_edges(edges, src, dst).localCheckpoint(eager=True)
    if edges_sym.count() <= local_threshold:
        pairs = [(r["u"], r["v"]) for r in edges_sym.collect()]
        comp = _local_union_find(pairs)
        spark = edges.sparkSession
        schema = edges_sym.select(
            F.col("u").alias("id"), F.col("u").alias("comp")
        ).schema
        labeled = spark.createDataFrame(
            [(k, c) for k, c in comp.items()], schema
        )
        if nodes is None:
            return labeled
        isolated = (
            _nodes(edges_sym, nodes)
            .join(labeled.select("id"), "id", "left_anti")
            .withColumn("comp", F.col("id"))
        )
        return labeled.union(isolated)
    labels = _nodes(edges_sym, nodes).withColumn("comp", F.col("id"))
    labels = labels.localCheckpoint(eager=True)

    def propagate(lab: DataFrame) -> DataFrame:
        # (1) neighbor propagation: t(u) = min(comp(u), comp over
        # neighbors), carrying u's old label through the same aggregation
        # (max over the single non-null own value) so no extra join.
        neighbor = (
            edges_sym.join(lab, edges_sym["v"] == lab["id"], "inner")
            .select(
                F.col("u").alias("id"),
                F.col("comp").alias("cand"),
                F.lit(None).cast(lab.schema["comp"].dataType).alias("own"),
            )
        )
        j = (
            lab.select("id", F.col("comp").alias("cand"), F.col("comp").alias("own"))
            .union(neighbor)
            .groupBy("id")
            .agg(F.min("cand").alias("t"), F.max("own").alias("old"))
        )
        # (2) cluster contraction: a newly discovered min must reach the
        # WHOLE current cluster this round, not just adjacent nodes — push
        # each member's t up to its old root (groupBy old comp) and back
        # down to every member. Mins hop across entire label clusters per
        # round, so rounds are O(log n) instead of O(diameter).
        rmin = j.groupBy("old").agg(F.min("t").alias("rmin"))
        return j.join(rmin, "old").select(
            "id", F.least(F.col("t"), F.col("rmin")).alias("comp")
        )

    prev_sum = labels.agg(F.sum("comp")).collect()[0][0]
    for _ in range(max(1, max_iter // 2)):
        # two propagation rounds per materialization: the checkpoint + the
        # convergence aggregate are the per-round fixed cost (a full job
        # each), so batching halves the job count; lineage depth stays ≤ 2.
        labels = propagate(propagate(labels)).localCheckpoint(eager=True)
        cur_sum = labels.agg(F.sum("comp")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def incremental_components(
    comp: DataFrame,
    delta_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_driver_pairs: int = 500_000,
) -> DataFrame:
    """Dynamic connected-components maintenance: merge an existing
    labeling ``comp`` (id, comp) with a batch of NEW edges without
    re-running CC over the full graph — the incremental half of
    entity-resolution and dedup-cluster upkeep (yesterday's clusters +
    today's matches). Each delta endpoint projects onto its current
    label (two equi-joins); the DISTINCT cross-label pairs form the
    COMPONENT GRAPH, bounded by |delta| regardless of graph size, whose
    closure runs as a driver-side union-find (the same big-then-local
    switch connected_components makes, bound-gated by
    ``max_driver_pairs`` — raises rather than silently collecting an
    unbounded set); the old-root→new-root remap broadcasts back over
    ``comp``. Endpoints unseen by ``comp`` enter as singletons first,
    so a delta may both grow old components and mint new ones.
    Per batch: O(|delta| + |comp|) work vs O(E) for recomputation.

    Output: (id, comp) with comp = min node id in the merged component
    — identical to what connected_components would produce on the
    union graph (pinned by the er2 registry query, whose incremental
    census must hash-match the batch pipeline's oracle).
    """
    e = (
        delta_edges.select(
            F.col(src).cast("bigint").alias("__a"),
            F.col(dst).cast("bigint").alias("__b"),
        )
        # NULL endpoints would fall out of the label equi-joins anyway,
        # but they'd SURVIVE the endpoint union into new_nodes and mint
        # a (NULL, NULL) labeling row batch CC never emits — drop them
        # here so dirty deltas keep the identical-to-batch contract.
        .filter(F.col("__a").isNotNull() & F.col("__b").isNotNull())
        # consumed three times (both endpoint unions + the label join):
        # checkpoint so the caller's delta subtree runs once. LAZY
        # (r13, guide §2.4): nothing driver-side needs e or base before
        # the pairs collect below, so eager checkpoints here were two
        # extra scheduled jobs — persist-on-first-use folds both
        # materializations into the single pairs job (the limit-collect
        # reads every pair when under the gate, so all partitions
        # compute and persist in that one pass).
        .localCheckpoint(eager=False)
    )
    new_nodes = (
        e.select(F.col("__a").alias("id"))
        .union(e.select(F.col("__b").alias("id")))
        .distinct()
        .join(comp.select("id"), "id", "left_anti")
        .select("id", F.col("id").alias("comp"))
    )
    base = comp.unionByName(new_nodes).localCheckpoint(eager=False)
    la = base.select(F.col("id").alias("__a"), F.col("comp").alias("__la"))
    lb = base.select(F.col("id").alias("__b"), F.col("comp").alias("__lb"))
    pairs = (
        e.join(la, "__a")
        .join(lb, "__b")
        .filter(F.col("__la") != F.col("__lb"))
        .select(
            F.least("__la", "__lb").alias("x"),
            F.greatest("__la", "__lb").alias("y"),
        )
        .distinct()
    )
    # ONE bounded execution of the pair subtree (r12): the former
    # count()-gate-then-collect() ran the two label joins + distinct
    # twice; limit(max+1) keeps the driver-memory bound (never more than
    # max_driver_pairs+1 rows cross) while the gate and the union-find
    # input come from the same single job.
    pair_rows = pairs.limit(max_driver_pairs + 1).collect()
    if len(pair_rows) > max_driver_pairs:
        raise ValueError(
            f"incremental_components: over {max_driver_pairs} "
            "cross-component label pairs exceed "
            f"max_driver_pairs={max_driver_pairs}; run "
            "connected_components on the union graph instead"
        )
    parent: dict[int, int] = {}

    def find(u: int) -> int:
        while parent.get(u, u) != u:
            parent[u] = parent.get(parent[u], parent[u])
            u = parent[u]
        return u

    for r in pair_rows:
        ra, rb = find(int(r["x"])), find(int(r["y"]))
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    remap = [(old, find(old)) for old in list(parent)]
    if not remap:
        return base
    spark = comp.sparkSession
    m = spark.createDataFrame(remap, "comp bigint, __root bigint")
    return (
        base.join(F.broadcast(m), "comp", "left")
        .select("id", F.coalesce("__root", "comp").alias("comp"))
    )


def dedup_groups(
    labels: DataFrame, id_col: str = "id", comp_col: str = "comp"
) -> DataFrame:
    """Decorate a components result with group size and the keep-flag a
    dedup pipeline acts on (canonical = the minimum id, i.e. id == comp).
    One window shuffle on the component key."""
    from pyspark.sql import Window

    w = Window.partitionBy(comp_col)
    return labels.select(
        F.col(id_col),
        F.col(comp_col),
        F.count("*").over(w).cast("bigint").alias("component_size"),
        (F.col(id_col) == F.col(comp_col)).alias("is_canonical"),
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over an edge list — the iterative graph-centrality
    sibling of connected components: each pass distributes every node's
    rank equally over its out-edges, sums contributions per destination
    (one key shuffle, partial-agg friendly), and applies the damping
    teleport. Dangling nodes (no out-edges) teleport their whole rank —
    the standard correction, applied as one tiny scalar per pass.

    Scale shape per iteration: ONE join of the (node, rank) frame with
    the out-degree-annotated edges on the source key and ONE aggregate
    shuffle on the destination key; localCheckpoint per pass keeps the
    plan flat (the connected-components lesson). Ranks are plain doubles
    — floating-point partial-sum order makes last-ulp wiggle possible
    across partitionings, so this is a rows-only operator: parity is
    pinned against a numpy power-iteration twin with a tolerance in
    tests, and convergence callers should use a rank-delta threshold,
    not bit equality.

    Returns (node, rank) with ranks summing to ~1.
    """
    # materialize the deduped edge list ONCE: it is referenced four times
    # below (both node projections, the degree rollup, the degree join) and
    # each lazy reference would re-run the caller's upstream join.
    # (r12 note: converting this function's checkpoints to lazy — the
    # g14 trick — measured a wash on g1/g17: the loop has no duplicated
    # subtree for laziness to deduplicate, so only job scheduling moved.)
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct().localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    e_deg = e.join(out_deg, "src").localCheckpoint()
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(iterations):
        contribs = (
            ranks.join(e_deg, ranks["node"] == e_deg["src"])
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        # dangling mass stays IN the plan: ranks sum to 1 and every node
        # WITH out-edges pours its whole rank into inflow, so
        # dangling = 1 - sum(inflow) — a one-row aggregate broadcast into
        # the update, replacing the per-pass driver collect (which cost an
        # extra job per iteration; 2x fewer jobs per pass)
        total_inflow = contribs.agg(
            F.coalesce(F.sum("inflow"), F.lit(0.0)).alias("__s")
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(total_inflow))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping / n) * (F.lit(1.0) - F.col("__s"))
                    + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = None,
) -> DataFrame:
    """Per-node triangle counts over an undirected graph — the classic
    clustering/cohesion signal (and the dedup-cluster sanity check: a
    near-dup cluster whose similarity graph has few triangles is a chain
    of borderline pairs, not a clique of true duplicates).

    Algorithm: orient every edge low->high (kills both duplicate
    directions AND ensures each triangle is enumerated exactly once as
    a < b < c), join oriented edges on the middle vertex to form wedges,
    close each wedge against the oriented edge list. Two equi-shuffles
    on vertex ids; no factorial blow-up because wedges are generated
    low-to-high only. This is the standard MapReduce triangle algorithm
    (Suri & Vassilvitskii, "Counting Triangles and the Curse of the Last
    Reducer"). Their high-degree mitigation (degree-ordered orientation)
    tames the constant but not a true celebrity node; the enforced guard
    is ``max_degree`` — when set, nodes whose degree exceeds it are
    excluded from the graph BEFORE wedge enumeration via cap_hub_degree,
    so a single planted hub can never turn this stage quadratic. At
    100 TB always set it (the Σdeg² wedge count is then bounded by
    |E|·max_degree). Exclusion here is silent by contract — this
    function's fixed (node, triangles) schema has no place for the hub
    report, so it discards cap_hub_degree's second return value; call
    cap_hub_degree yourself first if the excluded (node, degree) rows
    must be surfaced.

    Output: (node, triangles) for every vertex in >=1 triangle.
    """
    if max_degree is not None:
        edges, _ = cap_hub_degree(edges, max_degree, src, dst)
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
        # referenced three times below (two wedge sides + the closing
        # join): checkpoint so the upstream edge builder runs once, not
        # per reference (the k_core/CC loop discipline; without it the
        # plan re-scans the fact table per subtree replay)
        .localCheckpoint()
    )
    wedge = (
        e.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .join(
            e.select(F.col("a").alias("y"), F.col("b").alias("z")),
            "y",
        )
    )
    tri = wedge.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("z")),
        ["x", "z"],
    )
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )


def k_core(
    edges: DataFrame, k: int, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """K-core decomposition by iterative peeling: repeatedly remove
    nodes of degree < k (with their edges) until the survivor graph is
    stable; the survivors are the k-core — the "dense enough to trust"
    subgraph used to separate structural near-dup cliques and real
    communities from stringy periphery (triangle_count's cousin with a
    global guarantee).

    Peeling DELETES, so no MONOTONE recursive CTE expresses it — but
    its fixpoint is unique, so a bounded-round recursive REPLAY does
    (the g4_kcore registry oracle recomputes degrees per round with a
    window over the symmetric edge state; rounds past the fixpoint are
    idempotent). Parity is additionally pinned in pytest against a
    direct peel twin. Each round: one degree aggregate + one semi
    join, localCheckpoint keeps the plan flat (the CC/pagerank loop
    discipline); rounds are bounded by the graph's degeneracy order —
    tens, not thousands, on real graphs.

    Output: (node, degree) of the k-core survivors (degree within the
    core).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = e.count()
    while True:
        deg = (
            e.select(F.col("a").alias("n"))
            .unionAll(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        # keep is NOT checkpointed (r12): both semi-join builds reference
        # the identical deg subtree over the checkpointed e, so the
        # planner reuses one exchange (ReusedExchange) inside the single
        # kept_edges job — a second eager materialization per round paid
        # a whole extra job's scheduling for data the join was about to
        # rebuild anyway (measured ~0.9 s off g4_kcore's 8-round peel at
        # sf0.1).
        keep = deg.filter(F.col("degree") >= k).select("n")
        kept_edges = (
            e.join(keep.withColumnRenamed("n", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("n", "b"), "b", "left_semi")
            .localCheckpoint()
        )
        # ONE action per round: the previous round's count is carried in
        # n_edges, and the empty check rides the same count.
        n_kept = kept_edges.count()
        e = kept_edges
        if n_kept == n_edges or n_kept == 0:
            break
        n_edges = n_kept
    return (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
        .filter(F.col("degree") >= k)
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    max_hops: int = 4,
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from ANY seed node over the
    undirected edge set, out to ``max_hops`` — the reach/neighborhood
    primitive behind influence radii, contamination blast-zones, and
    "how far is every record from a trusted anchor" audits.

    Frontier iteration, the textbook distributed-BFS shape: per hop ONE
    equi-join of the current frontier with the symmetric edge list (the
    shuffle is keyed on node id, partial-agg friendly after the distinct)
    plus ONE anti-join against the settled-distance set so each node is
    labeled exactly once with its first (= minimum) hop count. Frontiers
    are ``localCheckpoint``-ed per pass to keep lineage flat (the
    CC/pagerank loop discipline), and the loop exits early when a frontier
    empties. No per-node driver state: the settled set lives as a
    DataFrame end to end, so the operator scales with cluster memory,
    not driver memory.

    Output: (node BIGINT, hops INT) for every node within ``max_hops`` of
    a seed; seeds themselves report hops = 0. Unreachable nodes are
    absent (outer-join the node universe if a sentinel is wanted).
    """
    e = _sym_edges(edges, src, dst).localCheckpoint(eager=True)
    dist = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).alias("hops"))
        .localCheckpoint(eager=True)
    )
    frontier = dist.select("node")
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["u"])
            .select(F.col("v").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .select("node", F.lit(h).alias("hops"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("node")
    return dist


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    rounds: int = 2,
    max_degree: int | None = None,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) for
    community detection: every node starts labeled with its own id and
    each round adopts the MOST FREQUENT label among its neighbors, ties
    broken by smallest label — the deterministic variant (classic LPA
    visits nodes in random order; synchronous + (count desc, label asc)
    tie-break makes the result a pure function of the graph, so it can
    be oracle-checked).

    Scale shape: per round exactly ONE neighbor-label equi-join (edge
    list keyed on the neighbor endpoint), ONE (node, label) grouped
    count with map-side partials, and ONE top-1 window per node —
    all shuffles keyed on node id, no driver state, frontiers
    localCheckpoint-ed so lineage stays flat across rounds (the
    CC/PageRank/BFS loop discipline). Unlike the wedge queries this is
    LINEAR in |edges| per round — no quadratic hazard — but a hub node
    still concentrates its whole neighborhood into one window
    partition; ``max_degree`` routes through cap_hub_degree for graphs
    with degree skew beyond what AQE's skew-join split absorbs.

    Output: (node BIGINT, community BIGINT) — the label after
    ``rounds`` synchronous passes. Isolated nodes don't appear (no
    edges → no neighbors → not in the node universe).
    """
    from pyspark.sql import Window

    e = _sym_edges(edges, src, dst)
    if max_degree is not None:
        e, _hubs = cap_hub_degree(e, max_degree, "u", "v")
    e = e.localCheckpoint(eager=True)
    labels = (
        e.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        nb = e.join(
            labels.select(F.col("node").alias("v"), "label"), "v"
        ).select(F.col("u").alias("node"), "label")
        cnt = nb.groupBy("node", "label").agg(F.count(F.lit(1)).alias("cnt"))
        w = Window.partitionBy("node").orderBy(
            F.desc("cnt"), F.asc("label")
        )
        labels = (
            cnt.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select("node", "label")
            .localCheckpoint(eager=True)
        )
    return labels.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("label").cast("bigint").alias("community"),
    )


# HyperBall portable-hash literals: h(node) = (HB_A·node + HB_B) mod HB_P,
# register j = h mod m, geometric part w = h div m. Fixed literals so the
# SAME integers run in Spark and in the SQL oracle (the rendezvous/minhash
# portable-hash discipline).
HB_P = 2_147_483_647
HB_A = 1_597_334_677
HB_B = 1_234_567_891
_HB_ALPHA16 = 0.673  # Flajolet et al. 2007 bias constant for m=16


def _rho_when(w, cap: int):
    """Trailing-zeros+1 of ``w`` (geometric register value), capped: the
    branch ladder form both engines evaluate identically — no log2, no
    bit intrinsics needed."""
    expr = None
    for k in range(1, cap):
        cond = (w % (1 << k)) == (1 << (k - 1))
        expr = F.when(cond, k) if expr is None else expr.when(cond, k)
    return expr.otherwise(cap)


def hyperball_reach(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    hops: int = 2,
    m: int = 16,
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013): APPROXIMATE k-hop neighborhood
    size per node by iterating HyperLogLog register merges along edges —
    the sketch path to reach/centrality when the exact per-source BFS
    expansion (g8's oracle shape, Σ ball sizes rows) stops fitting.
    State is m registers per node (here 16 → ~26% rse), merged with MAX:
    per hop ONE neighbor equi-join + ONE grouped max, both keyed on
    node id — linear in |edges|·m per round, the same loop discipline
    as LPA/BFS/pagerank, and the register-max algebra is associative/
    commutative so partial aggregation absorbs skew map-side.

    Deterministic BY CONSTRUCTION (unusual for a sketch): registers
    come from a literal affine hash mod 2^31−1 and a trailing-zero
    ladder — no engine hash involved — and the HLL estimate divides
    exact binary fractions (2^−M via shiftleft, ≤16 terms, each exactly
    representable), so even the double estimate is bit-equal across
    engines and partitionings. The raw m=16 estimate is reported
    without small/large-range correction (callers compare nodes, not
    absolute counts; raise m for tighter rse).

    Output: (node BIGINT, filled INT registers, est_reach DOUBLE ≈
    |ball(node, hops)| including the node itself).
    """
    e = _sym_edges(edges, src, dst).localCheckpoint(eager=True)
    nodes = e.select(F.col("u").alias("node")).distinct()
    # Reduce the node id into [0, P) BEFORE the affine multiply: HB_A·node
    # overflows int64 for |node| > ~5.7e9 and non-ANSI Spark wraps silently,
    # turning the register index negative (r7 advice). The double-% keeps
    # the reduction non-negative for negative ids in both engines (Spark
    # and DuckDB % both truncate toward zero); for ids already in [0, P)
    # the hash is bit-identical to the unreduced form.
    nred = (F.col("node") % HB_P + HB_P) % HB_P
    h = (F.lit(HB_A) * nred % HB_P + HB_B) % HB_P
    w = h % HB_P  # alias for clarity; full hash
    j = (w % m).cast("int")
    # w is non-negative (mod-P reduced), so integral `div` == floor and
    # matches the oracle's `//` exactly without visiting doubles
    geo = F.call_function("div", w, F.lit(m))
    cap = 27
    reg = nodes.select(
        "node",
        j.alias("j"),
        _rho_when(geo.cast("bigint"), cap).cast("int").alias("rho"),
    ).localCheckpoint(eager=True)
    for _ in range(hops):
        nbr = e.join(
            reg.select(F.col("node").alias("v"), "j", "rho"), "v"
        ).select(F.col("u").alias("node"), "j", "rho")
        reg = (
            reg.unionByName(nbr)
            .groupBy("node", "j")
            .agg(F.max("rho").alias("rho"))
            .localCheckpoint(eager=True)
        )
    inv = F.lit(1.0) / F.expr("CAST(shiftleft(CAST(1 AS BIGINT), rho) AS DOUBLE)")
    est = reg.groupBy("node").agg(
        F.count(F.lit(1)).cast("int").alias("filled"),
        F.sum(inv).alias("__s"),
    )
    denom = F.col("__s") + (F.lit(m) - F.col("filled")).cast("double")
    return est.select(
        F.col("node").cast("bigint").alias("node"),
        "filled",
        (F.lit(_HB_ALPHA16) * F.lit(float(m * m)) / denom).alias("est_reach"),
    )


def flat_checkpoint(df: DataFrame) -> DataFrame:
    """localCheckpoint + STATS reset, for deep iterative loops.

    ``Dataset.localCheckpoint`` preserves the checkpointed plan's
    estimated statistics on the resulting LogicalRDD (originStats).
    Join-size estimates multiply child sizeInBytes, so in a loop where
    generation i+1 joins generation i with frames derived from it, the
    estimate's BIG-INTEGER BIT LENGTH grows geometrically (~3x per
    generation measured): by ~iteration 12 Catalyst spends its time in
    multi-megabyte BigInteger arithmetic inside stats estimation and
    then OOMs the driver — with logical plans that are perfectly flat.
    Rebuilding the DataFrame from the checkpointed bytes via the
    JVM-side row RDD drops originStats, so every generation restarts
    from leaf-sized estimates. No data leaves the JVM. Use this instead
    of bare localCheckpoint whenever a loop may run >~8 generations.
    """
    ck = df.localCheckpoint()
    spark = df.sparkSession
    jdf = ck._jdf
    return DataFrame(
        spark._jsparkSession.createDataFrame(jdf.javaRDD(), jdf.schema()),
        spark,
    )


def _local_tarjan(pairs: list[tuple]) -> dict:
    """Iterative Tarjan SCC over a collected edge list; returns
    node -> max-member-id labels (matching the distributed path)."""
    adj: dict = {}
    nodes: set = set()
    for s, d in pairs:
        adj.setdefault(s, []).append(d)
        nodes.add(s)
        nodes.add(d)
    index: dict = {}
    low: dict = {}
    onstack: set = set()
    stack: list = []
    result: dict = {}
    counter = 0
    for root in nodes:
        if root in index:
            continue
        index[root] = low[root] = counter
        counter += 1
        stack.append(root)
        onstack.add(root)
        work = [(root, iter(adj.get(root, ())))]
        while work:
            v, it = work[-1]
            pushed = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter
                    counter += 1
                    stack.append(w)
                    onstack.add(w)
                    work.append((w, iter(adj.get(w, ()))))
                    pushed = True
                    break
                if w in onstack:
                    low[v] = min(low[v], index[w])
            if pushed:
                continue
            work.pop()
            if work:
                pv = work[-1][0]
                low[pv] = min(low[pv], low[v])
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    onstack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = max(comp)
                for w in comp:
                    result[w] = m
    return result


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_outer: int = 64,
    max_inner: int = 256,
    local_threshold: int = 500_000,
) -> DataFrame:
    """Exact SCCs of a directed graph via trim + forward-coloring +
    backward-marking — the published distributed SCC recipe (Orzan's
    coloring / FW-BW-Trim family), expressed as DataFrame passes:

    1. TRIM to fixpoint: a node with no in-edge or no out-edge in the
       active subgraph cannot lie on a cycle → singleton SCC. Repeated
       peeling removes the entire DAG portion in cheap passes, so the
       coloring loop below only ever sees nodes that sit on cycles.
    2. COLOR forward to fixpoint: color(v) = max node id that reaches v
       (monotone max-propagation; convergence detected with a single
       sum(color) aggregate — never a change-join).
    3. MARK backward from roots (v == color(v)) along reversed edges,
       WITHIN the color class: marked nodes both reach and are reached
       by their root → exactly the root's SCC. Emit, remove, repeat.

    Returns (node, scc_id) with scc_id = the MAX member id (the root's
    id, by construction). Every pass localCheckpoints (bounded lineage);
    per-iteration driver work is two scalar aggregates, never data.
    Outer iterations are bounded by the depth of the SCC condensation
    restricted to cyclic nodes — small on real graphs once trimming has
    eaten the DAG part.

    Small-graph fast path (the connected_components local_threshold
    precedent): when the deduplicated edge count is ≤ ``local_threshold``
    (bounded: two bigints/edge, 500k edges ≈ 8 MB), the whole thing runs
    as ONE driver-side iterative Tarjan pass instead of dozens of tiny
    distributed rounds — the big-then-local switch production graph
    systems make. Only edge endpoints are collected, never payloads.
    Set ``local_threshold=0`` to force the distributed loop.
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("s"),
            F.col(dst).cast("long").alias("d"),
        )
        .filter(F.col("s") != F.col("d"))
        .distinct()
        .transform(flat_checkpoint)
    )
    if e.count() <= local_threshold:
        labels = _local_tarjan([(r["s"], r["d"]) for r in e.collect()])
        spark = edges.sparkSession
        return spark.createDataFrame(
            list(labels.items()), "node long, scc_id long"
        )
    nodes = (
        e.select(F.col("s").alias("v"))
        .union(e.select("d"))
        .distinct()
        .transform(flat_checkpoint)
    )
    done: list[DataFrame] = []

    for _ in range(max_outer):
        # --- trim to fixpoint
        for _ in range(max_inner):
            n_before = nodes.count()
            if n_before == 0:
                break
            core = (
                e.select(F.col("d").alias("v"))
                .distinct()
                .join(e.select(F.col("s").alias("v")).distinct(), "v")
                .transform(flat_checkpoint)
            )
            if core.count() == n_before:
                break
            trimmed = nodes.join(core, "v", "left_anti")
            done.append(
                trimmed.select("v", F.col("v").alias("scc_id")).transform(flat_checkpoint)
            )
            nodes = core
            e = (
                e.join(core.withColumnRenamed("v", "s"), "s")
                .join(core.withColumnRenamed("v", "d"), "d")
                .select("s", "d")
                .transform(flat_checkpoint)
            )
        if nodes.count() == 0:
            break
        # --- forward max-coloring to fixpoint
        color = nodes.select("v", F.col("v").alias("c")).transform(flat_checkpoint)
        s_prev = color.agg(F.sum("c")).first()[0]
        for _ in range(max_inner):
            inc = (
                e.join(
                    color.select(F.col("v").alias("s"), F.col("c").alias("cs")),
                    "s",
                )
                .groupBy(F.col("d").alias("v"))
                .agg(F.max("cs").alias("cin"))
            )
            color = (
                color.join(inc, "v", "left")
                .select(
                    "v",
                    F.greatest(
                        "c", F.coalesce("cin", F.lit(-1).cast("long"))
                    ).alias("c"),
                )
                .transform(flat_checkpoint)
            )
            s_new = color.agg(F.sum("c")).first()[0]
            if s_new == s_prev:
                break
            s_prev = s_new
        else:
            raise RuntimeError("SCC coloring did not converge")
        # --- backward marking within the color class
        marked = color.filter(F.col("v") == F.col("c")).transform(flat_checkpoint)
        n_marked = marked.count()
        for _ in range(max_inner):
            cand = (
                e.join(marked.select(F.col("v").alias("d"), "c"), "d")
                .select(F.col("s").alias("v"), "c")
                .distinct()
            )
            marked = (
                marked.union(cand.join(color, ["v", "c"]))
                .distinct()
                .transform(flat_checkpoint)
            )
            n_new = marked.count()
            if n_new == n_marked:
                break
            n_marked = n_new
        else:
            raise RuntimeError("SCC backward marking did not converge")
        done.append(marked.select("v", F.col("c").alias("scc_id")).transform(flat_checkpoint))
        nodes = nodes.join(marked.select("v"), "v", "left_anti").transform(flat_checkpoint)
        e = (
            e.join(marked.select(F.col("v").alias("s")), "s", "left_anti")
            .join(marked.select(F.col("v").alias("d")), "d", "left_anti")
            .select("s", "d")
            .transform(flat_checkpoint)
        )
    else:
        raise RuntimeError("SCC outer loop did not converge")

    spark = edges.sparkSession
    out = done[0] if done else spark.createDataFrame(
        [], "v long, scc_id long"
    )
    for frame in done[1:]:
        out = out.union(frame)
    return out.select(F.col("v").alias("node"), "scc_id")


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 2,
    alpha_num: int = 150,
    alpha_den: int = 1000,
    mass: int = 1_000_000_000,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Personalized PageRank in EXACT integer arithmetic — random-walk-
    with-restart scores from a seed set, the standard "related items /
    local relevance" graph primitive.

    r_0 = mass DIV |S| on each seed; each iteration pushes
    r DIV outdeg(u) along every edge u->v and mixes
    r_{i+1}(v) = (alpha * seed_base(v) + (alpha_den - alpha_num) *
    inflow(v)) DIV alpha_den. All truncating integer division on
    non-negative operands, so the scores are bit-identical across
    engines and runs — no doubles anywhere, which is what lets a PPR
    query carry a full value-hash oracle instead of rows-only (contrast
    pagerank(), whose float partial-sum order wiggles ulps). Mass at
    dangling nodes decays (standard leaked-PPR semantics; document, or
    pre-trim danglings if conservation matters). Per iteration: one
    src-key join + one dst-key aggregate, flat_checkpoint per pass.
    Seed count is a bounded driver scalar (one count on the seed frame).
    """
    e = edges.select(
        F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
    ).distinct().transform(flat_checkpoint)
    sd = seeds.select(
        F.col(seeds.columns[0]).cast("long").alias("v")
    ).distinct().transform(flat_checkpoint)
    n_seeds = sd.count()
    if n_seeds == 0:
        raise ValueError("personalized_pagerank: empty seed set")
    base = mass // n_seeds
    # r13 (VERDICT r12 #5, guide §2.4): attach the out-degree to the edge
    # list ONCE before the loop — pagerank() already worked this way, but
    # this loop re-ran the degree aggregate over the edge table and an
    # extra node-sized join EVERY iteration (outdeg was a lazy subtree
    # inside the per-iteration plan). Per iteration is now ONE src-key
    # join + ONE dst-key aggregate; `r DIV od` is unchanged because od
    # rides the edge row.
    eo = (
        e.join(
            e.groupBy("s").agg(F.count(F.lit(1)).alias("od")), "s"
        ).transform(flat_checkpoint)
    )
    r = sd.select("v", F.lit(base).cast("long").alias("r"))
    keep = alpha_den - alpha_num
    for _ in range(iterations):
        inflow = (
            r.join(eo, F.col("v") == F.col("s"))
            .groupBy(F.col("d").alias("v"))
            .agg(F.sum(F.expr("r DIV od")).alias("infl"))
        )
        r = (
            sd.select("v", F.lit(base).cast("long").alias("sb"))
            .join(inflow, "v", "full")
            .select(
                "v",
                F.expr(
                    f"(CAST({alpha_num} AS BIGINT) * coalesce(sb, 0)"
                    f" + CAST({keep} AS BIGINT) * coalesce(infl, 0))"
                    f" DIV {alpha_den}"
                ).alias("r"),
            )
            .transform(flat_checkpoint)
        )
    return r.filter(F.col("r") > 0).select(
        F.col("v").alias("node"), F.col("r").alias("ppr_nano")
    )


def random_walks(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    walk_length: int = 4,
    walks_per_seed: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic random-walk corpus generation (the DeepWalk/node2vec
    sampling step that turns a graph into training sequences): from each
    seed node, ``walks_per_seed`` walks of up to ``walk_length`` steps,
    where the walker at step t in walk w moves to the out-neighbor v
    minimizing md5(w || '|' || t || '|' || v) — a stateless hash draw,
    so walks are reproducible, engine-portable, and independent of
    partitioning (no RNG, the hash_gate discipline). Walks stop early at
    dangling nodes (the emitted prefix is still a valid sequence).

    Per step: ONE equi-join current-node→out-edges (shuffle on the node
    key) and one per-walk argmin as a lexicographic ``min(struct(prio,
    dst))`` GROUPED AGGREGATE — map-side partial aggregation, so the
    per-walk reduction mostly happens before the shuffle (a top-1
    window would SORT each walk's candidates after shuffling all of
    them; min() ships one row per walk per map partition). Priorities
    are md5-unique per (walk, t, dst), so the struct-min is exactly the
    window's (prio, dst) argmin. Frontier localCheckpoint'd per step —
    bounded iteration, the pagerank/bfs discipline; walk_length is
    small by contract (sequences for a skip-gram window). Walk ids =
    seed·walks_per_seed + j, disjoint for non-negative seed ids.

    Output: (walk_id BIGINT, step INT, node BIGINT) — one row per
    visited node, step 0 = the seed.
    """
    js = [F.lit(j) for j in range(walks_per_seed)]
    state = seeds.select(
        F.explode(F.array(*js)).alias("__j"),
        F.col(seeds.columns[0]).cast("bigint").alias("node"),
    ).select(
        (F.col("node") * walks_per_seed + F.col("__j")).alias("walk_id"),
        "node",
    ).localCheckpoint(eager=False)
    # All checkpoints here are LAZY (r12, guide §2.4 remove per-round
    # actions): walk_length is small and static, so no driver-side
    # convergence check ever needs an eager materialization — the ONE
    # final action computes every step, each lazy checkpoint persists on
    # first use (the caller's edge/seed subtrees and each frontier still
    # run exactly once per query), and the former one-job-per-step
    # scheduling (5 extra jobs at walk_length=4, plus a re-run of the
    # un-checkpointed seed subtree inside the final union job)
    # disappears. ``state`` is checkpointed too: it feeds both the
    # step-0 output branch and the t=1 join, which sit in different
    # stages of the final job.
    e = edges.select(
        F.col(src).cast("bigint").alias("__s"),
        F.col(dst).cast("bigint").alias("__d"),
        # joined once per step: checkpoint so the caller's edge-builder
        # subtree runs once, not walk_length times
    ).localCheckpoint(eager=False)
    out = state.select("walk_id", F.lit(0).cast("int").alias("step"), "node")
    frontier = state
    for t in range(1, walk_length + 1):
        prio = F.md5(
            F.concat_ws(
                "|",
                F.col("walk_id").cast("string"),
                F.lit(str(t)),
                F.col("__d").cast("string"),
            )
        )
        frontier = (
            frontier.join(e, F.col("node") == F.col("__s"))
            .groupBy("walk_id")
            .agg(
                F.min(
                    F.struct(prio.alias("p"), F.col("__d").alias("d"))
                ).alias("__m")
            )
            .select("walk_id", F.col("__m.d").alias("node"))
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(
            frontier.select(
                "walk_id", F.lit(t).cast("int").alias("step"), "node"
            )
        )
    return out


def dag_layers(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 64,
) -> DataFrame:
    """Longest-path layering of a DAG (Kahn levels): sources sit at
    layer 0 and every node's layer is 1 + max over its predecessors —
    the dependency-scheduling primitive (which tasks/tables can build
    in parallel, how deep is the critical path).

    Delta-frontier relaxation (the bfs_hops discipline, per VERDICT r8
    #3 — the earlier form re-aggregated max over the WHOLE node set
    every round, D full-graph shuffles for critical-path depth D):
    frontier_t is exactly the nodes with some length-t source path, so
    each node in it carries tentative layer t and the round's only work
    is one frontier-sized equi-join + distinct. Per-round proposals
    accumulate and merge into the stable table ONCE at the end with a
    single groupBy-max (a node reached by paths of several lengths
    appears once per length; the final max is its longest path = its
    Kahn layer). Loop control is the empty-frontier test on a
    checkpointed frame, like bfs_hops. Cycle rejection is two-sided and
    unchanged in contract: a source-reachable cycle feeds the frontier
    forever (max_iters raise), a source-UNreachable cycle leaves its
    nodes without any layer (post-merge anti-join raise).

    Output: (node BIGINT, layer INT).
    """
    e = edges.select(
        F.col(src).cast("bigint").alias("__s"),
        F.col(dst).cast("bigint").alias("__d"),
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("__s").alias("node"))
        .union(e.select(F.col("__d").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = nodes.join(
        e.select(F.col("__d").alias("node")).distinct(), "node", "left_anti"
    ).localCheckpoint(eager=True)
    proposals = frontier.select("node", F.lit(0).alias("layer"))
    for t in range(1, max_iters + 1):
        frontier = (
            frontier.join(e, F.col("node") == F.col("__s"))
            .select(F.col("__d").alias("node"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        if frontier.isEmpty():
            lv = (
                proposals.groupBy("node")
                .agg(F.max("layer").alias("layer"))
                .localCheckpoint(eager=True)
            )
            unlayered = nodes.join(lv, "node", "left_anti").count()
            if unlayered:
                raise ValueError(
                    f"dag_layers: {unlayered} node(s) unreachable from "
                    "any source — the edge set contains a cycle, so it "
                    "is not a DAG"
                )
            return lv.select("node", F.col("layer").cast("int"))
        proposals = proposals.unionByName(
            frontier.select("node", F.lit(t).alias("layer"))
        )
    raise ValueError(
        f"dag_layers: frontier still non-empty after {max_iters} rounds "
        "— the edge set is not a DAG (or raise max_iters for a deeper "
        "graph)"
    )
