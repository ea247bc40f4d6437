"""Distributed connected components — the clustering step that turns
near-duplicate PAIRS into dedup DECISIONS (one canonical doc per
component of the similarity graph).

Spark-first shape: iterative min-label propagation over DataFrames.
Each round is one equi-join shuffle on node id (AQE handles skewed hub
nodes); labels converge in O(graph diameter) rounds — near-dup clusters
are shallow (a dup of a dup of a dup is rare past a few hops), so in
practice 3-5 rounds. ``localCheckpoint`` truncates the lineage each
round, the standard guard against iterative-plan blowup.

At 100 TB the same loop holds: the working set is (node, label) pairs —
two longs per node — never documents; each round's shuffle is bounded
by edge count. For adversarial deep-chain graphs, swap the propagation
step for alternating large-star/small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) — same join primitive,
O(log^2 n) rounds; the API contract here doesn't change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .driverfit import collect_bounded


def _cc_driver_labels(epdf):
    """Min-label union-find over a collected edge list — the driver
    twin of the propagation/pointer-doubling loop. Pure integer/string
    label arithmetic (component = min reachable id), so the labels are
    IDENTICAL to the distributed fixpoint by definition — no float
    anywhere. Returns {node: component} for every edge endpoint."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(epdf["u"].tolist(), epdf["v"].tolist()):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    best: dict = {}
    for x in parent:
        r = find(x)
        if r not in best or x < best[r]:
            best[r] = x
    return {x: best[find(x)] for x in parent}


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    nodes: DataFrame | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Label every node with the minimum node id reachable from it.

    ``edges`` is an undirected pair list (one row per edge, either
    orientation). ``nodes`` optionally supplies the full vertex set (one
    column named ``src``) so isolated vertices appear as singleton
    components; otherwise the vertex set is derived from the edges.

    Returns (node, component) where component = min reachable node id —
    deterministic, content-independent of partitioning, and therefore
    oracle-checkable against a recursive-SQL transitive closure.
    """
    # detach the edge list ONCE, before any self-union: every round
    # joins sym, so un-checkpointed edges would re-derive the whole
    # upstream pair-generation plan (SimHash, LSH verify, ...) per
    # iteration — and self-unioning a non-leaf plan that also shares
    # lineage with the caller's `nodes` trips Spark's union-constraint
    # rewrite (NoSuchElementException on an attribute id). A LAZY
    # checkpoint sidesteps both (the plan is a leaf immediately; the
    # RDD pins on round 1's probe action — r10, guide §1.2/§2.4: the
    # eager form cost one standalone job per detachment).
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=False)

    # r11 driver-solve fast path (driverfit.py discipline, VERDICT r10
    # item 5): the pair list is CANDIDATE-PAIR-sized (post-banding /
    # post-verify), not corpus-sized — when it is bounded, collect it
    # once and run min-label union-find on the driver instead of
    # O(log diameter) join+probe rounds (each a fixed-latency Spark
    # job). Labels are exact integer/string minima, identical to the
    # distributed fixpoint by definition (pinned in tests). Singleton
    # vertices from `nodes` stay DISTRIBUTED (one anti-join projection
    # — corpus-sized data never crosses the driver); unbounded or
    # null-carrying edge lists fall through to the unchanged loop.
    _epdf = collect_bounded(e, notnull_cols=["u", "v"])
    if _epdf is not None:
        from pyspark.sql.types import StructField, StructType

        lab = _cc_driver_labels(_epdf)
        utype = e.schema["u"].dataType
        small = edges.sparkSession.createDataFrame(
            list(lab.items()),
            StructType(
                [
                    StructField("node", utype),
                    StructField("component", utype),
                ]
            ),
        )
        if nodes is not None:
            rest = (
                nodes.select(F.col(src).alias("node"))
                .distinct()
                .join(
                    F.broadcast(small.select("node")),
                    "node",
                    "left_anti",
                )
                .select("node", F.col("node").alias("component"))
            )
            return small.unionByName(rest)
        return small

    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    vertex = sym.select("u")
    if nodes is not None:
        # same detachment for the caller-supplied vertex set: a complex
        # nodes plan (joins/filters) unioned against sym re-triggers the
        # constraint-rewrite bug, and the id column is tiny anyway
        vertex = vertex.unionByName(
            nodes.select(F.col(src).alias("u")).localCheckpoint(eager=False)
        )
    # leaf checkpoint: truncates lineage so the per-round self-joins
    # (labels derives from sym) don't trip ambiguous-column analysis,
    # and round N's plan doesn't re-derive rounds 1..N-1.
    labels = (
        vertex.distinct().select("u", F.col("u").alias("component"))
    ).localCheckpoint(eager=False)

    prev_sum = None
    for _ in range(max_iter):
        # each node offers its label to every neighbor; keep the min of
        # (own label, best offer). One shuffle for the join, one for the
        # min-aggregate — both keyed on node id.
        offers = (
            sym.alias("e")
            .join(labels.alias("l"), F.col("e.v") == F.col("l.u"))
            .select(F.col("e.u").alias("u"), F.col("l.component").alias("component"))
        )
        # checkpoint before the pointer-doubling SELF-join below:
        # self-joining a plan that contains this union trips Spark's
        # union-constraint rewrite (NoSuchElementException on an
        # attribute id) once upstream lineage is non-trivial, and the
        # leaf also stops the join from evaluating the union twice.
        half = (
            labels.unionByName(offers)
            .groupBy("u")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=False)
        )
        # convergence probe rides the SAME action that pins `half`
        # (r10: the eager-checkpoint-then-probe form cost two jobs per
        # round and re-executed the doubling join once per probe).
        # Per-node labels only ever decrease round-over-round, and
        # half(u) = min(labels(u), offers) ≤ labels(u) ≤ previous
        # half(u), so Σ half is strictly monotone until half — and
        # therefore labels = double(half) — reaches the fixpoint; an
        # unchanged total ⇒ unchanged half ⇒ the returned labels are
        # already the converged min-reachable ids (identical output,
        # at most one extra round vs probing the doubled frame).
        # decimal(38) keeps the total exact at any node count.
        cur_sum = half.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        # pointer doubling: follow one extra hop (component <- its own
        # label). Neighbor propagation alone needs O(diameter) rounds;
        # with the shortcut, label distance-to-root halves each round —
        # O(log diameter), the difference between 25 and 5 shuffles on
        # an adversarial chain. Labels are node ids, so every component
        # value has a row in `half`; the join is a plain equi-join.
        # (half is a pinned leaf, so this join's lineage stays
        # constant-depth across rounds — no further checkpoint needed)
        if cur_sum == prev_sum:
            # converged: double(half) == half (doubling a fixpoint is
            # the identity), so the pinned leaf IS the answer — callers
            # that consume the result several times read cached blocks
            # instead of re-running a final self-join each time.
            labels = half
            break
        prev_sum = cur_sum
        labels = (
            half.alias("x")
            .join(
                half.select(
                    F.col("u").alias("component"),
                    F.col("component").alias("_c2"),
                ).alias("y"),
                "component",
            )
            .select("u", F.col("_c2").alias("component"))
        )
    return labels.select(F.col("u").alias("node"), "component")


def pagerank(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    iters: int = 3,
    damping: float = 0.85,
    symmetrize: bool = True,
) -> DataFrame:
    """Fixed-iteration PageRank over a DataFrame edge list — the
    canonical iterative graph analytic, in pure joins/aggregates (the
    Pregel message round IS one equi-join + one groupBy-sum here).

    ``r_{t+1}(v) = (1-d)/N + d * Σ_{u→v} r_t(u)/outdeg(u)``, starting
    from the uniform 1/N, for exactly ``iters`` rounds — fixed
    iteration count (not convergence-tested) keeps the result
    deterministic and cross-engine checkable; rank is rounded to 9
    decimals at the END so partition-order float jitter (~1e-18)
    cannot surface. ``symmetrize`` unions both edge orientations,
    which also removes dangling nodes (every node then has outdegree
    ≥ 1, so no rank mass leaks).

    Scale: per round, one shuffle keyed on src for the contribution
    join and one on dst for the sum — the working set is (node, rank)
    pairs, never payloads; hub skew is AQE's problem (skew-join on).
    Lineage is checkpoint-truncated each round, the standard guard
    for iterative DataFrame plans. O(iters) rounds total, each
    bounded by edge count — the same plan at 10^12 edges.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if symmetrize:
        e = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    e = e.distinct().localCheckpoint(eager=False)
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("_deg"))
    nodes = deg.select(F.col("u").alias("node"))
    n_nodes = nodes.count()  # one scalar; the loop below stays lazy
    base = F.lit((1.0 - damping) / n_nodes)

    ranks = nodes.select(
        "node", F.lit(1.0 / n_nodes).alias("rank")
    )
    contrib_edges = e.join(
        deg, "u"
    ).select("u", "v", "_deg").localCheckpoint(eager=False)
    for _ in range(iters):
        contribs = (
            contrib_edges.join(
                ranks, contrib_edges.u == ranks.node
            )
            .select("v", (F.col("rank") / F.col("_deg")).alias("_c"))
            .groupBy("v")
            .agg(F.sum("_c").alias("_in"))
        )
        if symmetrize:
            # the symmetrized graph gives every node an in-edge, so the
            # contribution aggregate already covers the full node set —
            # no join-back against `nodes` (one shuffle fewer per round)
            ranks = contribs.select(
                F.col("v").alias("node"),
                (base + F.lit(damping) * F.col("_in")).alias("rank"),
            ).localCheckpoint(eager=False)
        else:
            ranks = (
                nodes.join(contribs, nodes.node == contribs.v, "left")
                .select(
                    "node",
                    (
                        base
                        + F.lit(damping) * F.coalesce("_in", F.lit(0.0))
                    ).alias("rank"),
                )
                .localCheckpoint(eager=False)
            )
    return ranks.select("node", F.round("rank", 9).alias("rank"))


def ancestor_closure(
    parents: DataFrame,
    id_col: str = "node",
    parent_col: str = "parent",
    max_depth: int = 16,
) -> DataFrame:
    """Transitive ancestor closure of a parent-pointer hierarchy
    (org charts, BOMs, category trees): (node, ancestor, depth) for
    every ancestor up to ``max_depth`` levels above the node.

    Pointer DOUBLING, not level-at-a-time walking: round i joins the
    closure-so-far with itself, so paths up to 2^i are covered after i
    rounds — ceil(log2(max_depth)) self-joins instead of max_depth
    (a 64-deep BOM needs 6 rounds, not 64). In a tree every (node,
    ancestor) pair has a unique path, but a length-d path splits as
    d1+d2 in several ways, so each round dedupes on the full triple.
    Rows with NULL parent are roots and simply emit nothing.

    Scale: each round is one equi-join of (node, ancestor, depth)
    triples — the closure's own size (Σ node depths) bounds the work;
    lineage is checkpoint-truncated per round like every iterative
    plan in this repo.
    """
    direct = (
        parents.filter(F.col(parent_col).isNotNull())
        .select(
            F.col(id_col).alias("node"),
            F.col(parent_col).alias("ancestor"),
            F.lit(1).alias("depth"),
        )
        .localCheckpoint(eager=False)
    )
    closure = direct
    rounds = max(1, (max_depth - 1).bit_length())
    for _ in range(rounds):
        hop = (
            closure.alias("a")
            .join(
                closure.alias("b"),
                F.col("a.ancestor") == F.col("b.node"),
            )
            .select(
                F.col("a.node").alias("node"),
                F.col("b.ancestor").alias("ancestor"),
                (F.col("a.depth") + F.col("b.depth")).alias("depth"),
            )
            .filter(F.col("depth") <= max_depth)
        )
        closure = (
            closure.unionByName(hop).distinct().localCheckpoint(eager=False)
        )
    return closure


def triangle_count(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Exact global triangle count of an undirected graph — the
    clustering-structure census (spam/bot subgraphs are triangle-dense;
    near-dup clusters close into cliques).

    The classic two-join formulation on CANONICALIZED edges (a < b,
    deduped): wedges a<b<c from (a,b)⋈(b,c), closed by probing (a,c) —
    each triangle counted exactly once. Work is Σ deg(v)² for the
    wedge join (the standard bound); at scale, pre-filtering to the
    k-core or orienting by degree bounds the hot vertices — the
    canonical-id orientation here already halves every list. Returns
    one row (n_edges, n_wedges, n_triangles).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
        # lazy: the single returned aggregate row materializes and pins
        # the canonical edge list once; all three count branches share
        # the pinned blocks (r10 — the eager form was one extra job)
        .localCheckpoint(eager=False)
    )
    # r11 driver-solve fast path (driverfit.py discipline, the
    # connected_components/k_core pattern): the canonical edge list is
    # candidate-pair-sized — when bounded, collect it once and count
    # wedges/triangles in exact integer arithmetic on the driver
    # (n_wedges = Σ_y in(y)·out(y) is the same canonical-orientation
    # join count; triangles via out-neighbor set intersections), so
    # the single returned row is bit-identical to the three-count
    # aggregate below (pinned in tests/test_driverfit.py). Unbounded
    # edge lists fall through to the unchanged distributed joins.
    _ep = collect_bounded(e, notnull_cols=["a", "b"])
    if _ep is not None:
        av = _ep["a"].tolist()
        bv = _ep["b"].tolist()
        n_edges = len(av)
        outdeg: dict = {}
        indeg: dict = {}
        adj: dict = {}
        for a, b in zip(av, bv):
            outdeg[a] = outdeg.get(a, 0) + 1
            indeg[b] = indeg.get(b, 0) + 1
            adj.setdefault(a, set()).add(b)
        n_wedges = sum(
            cnt * outdeg.get(y, 0) for y, cnt in indeg.items()
        )
        n_tri = 0
        empty: set = set()
        for a, b in zip(av, bv):
            na = adj.get(a, empty)
            nb = adj.get(b, empty)
            if len(nb) < len(na):
                na, nb = nb, na
            n_tri += sum(1 for z in na if z in nb)
        from pyspark.sql.types import LongType, StructField, StructType

        return edges.sparkSession.createDataFrame(
            [(n_edges, int(n_wedges), int(n_tri))],
            StructType(
                [
                    StructField("n_edges", LongType(), False),
                    StructField("n_wedges", LongType(), False),
                    StructField("n_triangles", LongType(), False),
                ]
            ),
        )

    ab = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    bc = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedges = ab.join(bc, "y").select("x", "y", "z")
    closed = wedges.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("z")),
        ["x", "z"],
    )
    return (
        e.agg(F.count(F.lit(1)).alias("n_edges"))
        .crossJoin(wedges.agg(F.count(F.lit(1)).alias("n_wedges")))
        .crossJoin(closed.agg(F.count(F.lit(1)).alias("n_triangles")))
    )


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 12,
) -> DataFrame:
    """k-core decomposition at a fixed k: iteratively peel nodes of
    degree < k until the survivor set is stable — the standard dense-
    subgraph extractor (spam rings, tight near-dup families, community
    nuclei). Returns (node, core_degree) for the k-core members, with
    degree measured inside the core (≥ k by the fixpoint property).

    BOUNDED-ROUND CONTRACT: at most ``max_rounds`` peels, stopping
    early at the fixpoint (one scalar count per round crosses the
    driver — the same probe discipline as ``connected_components``).
    Peeling is monotone, so any graph whose peel depth ≤ max_rounds
    reaches the exact k-core, and extra rounds are no-ops — which is
    what lets a non-recursive oracle UNROLL the same rounds and match
    bit-exact. Near-dup graphs peel in a handful of rounds; raise
    max_rounds for pathological chains.

    Scale shape per round: one explode + hash aggregate for degrees,
    two semi-joins to filter edges — all keyed shuffles on node id; a
    lazy checkpoint per round keeps lineage constant-depth with the
    survivor-count probe as the only per-round action.
    """
    # r10 (guide §1.2/§2.4): every checkpoint here is LAZY — each
    # round's survivor count is the ONE action that materializes and
    # pins both the previous round's peeled edges and this round's
    # keep set (the eager form cost two jobs per round and computed
    # the degree aggregate twice: once for the count, once inside the
    # eager edge checkpoint).
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=False)

    # r11 driver-solve fast path: bounded edge list -> the whole peel
    # loop (pure integer degree counting, same round/stop semantics)
    # runs on the driver; one collect instead of a count probe + two
    # semi-joins per round. Bit-identical by integer arithmetic
    # (pinned in tests); unbounded/null edge lists use the loop below.
    _epdf = collect_bounded(e, notnull_cols=["u", "v"])
    if _epdf is not None:
        from pyspark.sql.types import (
            LongType,
            StructField,
            StructType,
        )

        uu = _epdf["u"].tolist()
        vv = _epdf["v"].tolist()
        prev_n = None
        for _ in range(int(max_rounds)):
            deg: dict = {}
            for x in uu:
                deg[x] = deg.get(x, 0) + 1
            for x in vv:
                deg[x] = deg.get(x, 0) + 1
            keep = {x for x, dn in deg.items() if dn >= k}
            if len(keep) == prev_n:
                break
            prev_n = len(keep)
            kept = [
                (a, b)
                for a, b in zip(uu, vv)
                if a in keep and b in keep
            ]
            uu = [a for a, _ in kept]
            vv = [b for _, b in kept]
        deg = {}
        for x in uu:
            deg[x] = deg.get(x, 0) + 1
        for x in vv:
            deg[x] = deg.get(x, 0) + 1
        out = [(x, dn) for x, dn in deg.items() if dn >= k]
        utype = e.schema["u"].dataType
        return edges.sparkSession.createDataFrame(
            out,
            StructType(
                [
                    StructField("node", utype),
                    StructField("core_degree", LongType()),
                ]
            ),
        )

    prev_n = None
    for _ in range(int(max_rounds)):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionByName(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = (
            deg.filter(F.col("deg") >= k)
            .select("node")
            .localCheckpoint(eager=False)
        )
        cur_n = keep.count()
        if cur_n == prev_n:
            break
        prev_n = cur_n
        e = (
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=False)
        )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )
    return deg.filter(F.col("core_degree") >= k)
