"""Duplicate clustering: connected components over a near-dup pair graph.

After pairwise dedup (any tier in operators/dedup.py) a corpus needs
*clusters* — "keep one representative per component", not "drop one of each
pair" (pair-dropping over-deletes on chains A~B~C). Components come from
iterative min-label propagation expressed as DataFrame joins:

    label(v) <- min(label(v), min over neighbors u of label(u))

iterated to fixpoint. Each round is one join + one aggregation — the classic
BSP/Pregel step as Catalyst plans it. Near-dup components are shallow (dup
clusters, not social graphs), so a small fixed iteration budget reaches the
fixpoint; ``localCheckpoint`` truncates the growing lineage each round. At
graph-shaped scale you'd swap in GraphFrames' connectedComponents — the
output contract (vertex, component) stays identical.
"""

from __future__ import annotations

import logging

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def connected_components(
    vertices: DataFrame | None,
    edges: DataFrame,
    vertex_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 8,
    assume_unique: bool = False,
) -> DataFrame:
    """(vertex, component) with component = min vertex id in the component.

    ``vertices`` seeds every node (singletons map to themselves); pass
    ``None`` when every vertex is an edge endpoint by construction — the
    final singleton join-back (one vertex-sized shuffle join) is skipped.
    ``edges`` is undirected (both directions are propagated each round).
    ``max_iterations`` must be >= 1 (raises ``ValueError`` otherwise; the
    pre-r13 behavior of returning identity labels at 0 is gone).
    ``assume_unique``: caller guarantees the edge list is duplicate-free
    AND stays so after symmetrization (e.g. a deduped bipartite graph with
    disjoint src/dst key ranges) — skips one full-edge-list distinct
    shuffle. Correctness is unaffected by duplicates (min is idempotent);
    the distinct only bounds join fan-out, so only skip it when uniqueness
    genuinely holds.

    Pointer-jumping (label(v) <- min(..., label(label(v))) per round) was
    measured and REJECTED for this operator: every call-site graph is
    shallow — even the hub-heavy purchase graph's min-label fixpoint lands
    in 4 rounds + 1 detection round, and the jump cut zero rounds while
    adding one node-sized join per round (jobs 28 -> 36, wall a wash);
    see OPTIMIZATION_r13.md.
    """
    if max_iterations < 1:
        raise ValueError("connected_components needs max_iterations >= 1")
    bidir = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).unionAll(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
    if not assume_unique:
        bidir = bidir.distinct()
    # hash-partition on src ONCE: every round's join then moves only the
    # (tiny) label set; the edge list never re-exchanges
    bidir = bidir.repartition("src").cache()

    # Iterate only over vertices that touch an edge — in a dedup graph
    # that's a tiny fraction of the corpus. Singletons (component = self)
    # join back in one final pass, so the per-iteration shuffle is sized by
    # the duplicate population, not the corpus.
    #
    # Round 1 runs against IDENTITY seed labels (label(v) = v), so its
    # neighbor-min needs no label table and no join at all:
    #     nbr_min(v) = min over in-edges (src -> v) of src
    # and because bidir is symmetrized its dst set IS the full edge-vertex
    # set, so the seed table (a distinct over srcs) is redundant too. One
    # edge-partitioned aggregate replaces the seed distinct exchange, the
    # seed checkpoint, and round 1's edge x frontier join — the round where
    # the frontier is |V|-sized and the join is at its most expensive.
    new_labels = (
        bidir.groupBy(F.col("dst").alias("v"))
        .agg(F.min("src").alias("nmin"))
        .select(
            "v",
            F.least(F.col("v"), F.col("nmin")).alias("component"),
            (F.col("nmin") < F.col("v")).alias("__changed"),
        )
        .localCheckpoint(eager=False)
    )
    frontier = new_labels.filter(F.col("__changed")).drop("__changed")
    changed = frontier.count()  # materializes round 1's checkpoint
    labels = new_labels.drop("__changed")
    logging.getLogger(__name__).debug(
        "connected_components round 1: changed=%d", changed
    )
    # Frontier (delta) propagation, the Pregel voteToHalt shape: labels
    # decrease monotonically, so a vertex needs re-propagation ONLY in the
    # round after its own label improved. Round k joins the edge list
    # against the CHANGED set from round k-1 — which collapses from |V|
    # toward the component fringes within 2-3 rounds — instead of the full
    # label table every round. Exactness: min(self, min over neighbors
    # whose label changed) equals min(self, min over ALL neighbors) because
    # an unchanged neighbor's label was already folded in the round it last
    # changed.
    it = 1
    while it < max_iterations and changed != 0:
        # Fixpoint probe (and checkpoint materializer) every SECOND round:
        # the per-round count() is a driver barrier — one whole-cluster
        # sync per round — while the probe's only job is deciding when to
        # stop. Probing at round boundaries 1,3,5,... halves the barriers;
        # the worst case is ONE round executed past the fixpoint, whose
        # frontier is EMPTY — AQE's runtime empty-relation propagation
        # collapses that round's edge x frontier join (empty build side)
        # and the left join-back (empty right side) to a node-sized
        # pass-through, so the coarser probe never costs an edge scan.
        # Lineage between materializations is 2 rounds deep — still bounded.
        steps = min(2, max_iterations - it)
        prev_labels = labels
        for _ in range(steps):
            prev_labels = labels
            # frontier comes off a localCheckpoint (or a lazy chain over
            # one), whose RDD scan carries no reliable size stats — without
            # a hint the compile-time planner may pick the (data-sized)
            # side as a broadcast build (the 8 GiB abort class found in
            # graph_triangle_count's 10x probe). Pin the hash build
            # explicitly; AQE still upgrades to broadcast at runtime when
            # the measured shuffle is genuinely small.
            nbr_min = (
                bidir.join(frontier.hint("shuffle_hash"), bidir.src == frontier.v)
                .groupBy(F.col("dst").alias("v"))
                .agg(F.min("component").alias("nmin"))
            )
            # The convergence flag rides the checkpointed frame, so both
            # the fixpoint probe and the next frontier are cached-scan
            # filters — no old-vs-new join, no recompute. The checkpoint is
            # LAZY and the batch-boundary frontier count is the
            # materializing action for every round in the batch.
            new_labels = labels.join(nbr_min.hint("shuffle_hash"), "v", "left").select(
                "v",
                F.least("component", F.coalesce("nmin", "component")).alias("component"),
                (F.coalesce("nmin", "component") < F.col("component")).alias("__changed"),
            ).localCheckpoint(eager=False)
            frontier = new_labels.filter(F.col("__changed")).drop("__changed")
            labels = new_labels.drop("__changed")
            it += 1
        changed = frontier.count()  # materializes the batch's checkpoints
        if changed == 0:
            # The batch's last round was a NO-OP (changed counts strict
            # label improvements, and labels decrease monotonically), so
            # its output is row-identical to the round before it. Return
            # the earlier frame: one join layer shallower, which keeps the
            # checkpoint's carried size estimate small enough that the
            # singleton join-back still compiles to a broadcast join (the
            # round-13 BHJ flip) instead of drifting to SMJ as estimate
            # layers stack up.
            labels = prev_labels
        logging.getLogger(__name__).debug(
            "connected_components round %d: changed=%d", it, changed
        )
    bidir.unpersist()
    lab = labels.select(F.col("v").alias(vertex_col), "component")
    if vertices is None:
        # every vertex touches an edge (caller's contract): the label table
        # IS the answer, no singleton join-back needed
        return lab
    return (
        vertices.select(F.col(vertex_col))
        .join(lab, vertex_col, "left")
        .select(
            F.col(vertex_col),
            F.coalesce("component", F.col(vertex_col)).alias("component"),
        )
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank by power iteration over a directed edge list: rank(v) =
    (1-d) + d * sum over in-neighbors u of rank(u)/out_degree(u), ranks
    initialized to 1.0 (the per-node formulation; dangling mass is not
    redistributed, matching the classic formulation and the SQL oracle
    exactly).

    Each iteration is one join (edges x ranks, co-partitioned on src) and
    one aggregation (contributions by dst) — the BSP step as Catalyst plans
    it. ``localCheckpoint`` truncates the lineage each round so the plan
    doesn't grow exponentially; the edge list is hash-partitioned on src
    ONCE up front, so each iteration shuffles only the node-sized rank
    table, never the edges.
    Deterministic: float summation differences across partitionings sit at
    ~1e-15, far below the ROUND(4) the query surface pins.
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        # hash-partition on src ONCE: each power iteration then shuffles only
        # the node-sized rank table, never the edge list
        .repartition("src")
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist()
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for it in range(iterations):
        # ranks comes off a localCheckpoint (no reliable size stats): pin
        # the hash build so the node-sized rank table is never chosen as a
        # compile-time broadcast (same hazard class as connected_components).
        contribs = (
            e.join(ranks.hint("shuffle_hash"), e.src == ranks.id)
            .join(out_deg, "src")
            .select(F.col("dst").alias("id"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = nodes.join(contribs, "id", "left").select(
            "id",
            (F.lit(1.0 - damping) + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))).alias(
                "rank"
            ),
        )
        # ranks(k) is consumed once (round k+1): linear lineage — run the
        # bounded loop as one job; checkpoint every 4th round only to
        # bound plan depth for large budgets (the per-round eager
        # checkpoint this replaces cost one driver job per round).
        if (it + 1) % 4 == 0 and (it + 1) < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    # materialize ONCE at the end (the loop's only job), so the cached
    # edge/degree tables can be released before the caller consumes ranks
    ranks = ranks.localCheckpoint(eager=True)
    e.unpersist()
    out_deg.unpersist()
    return ranks


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 3,
    assume_unique: bool = False,
    symmetric: bool = False,
) -> DataFrame:
    """Synchronous label propagation (community detection): every node
    starts labeled with its own id; each round it adopts the most frequent
    label among its in-neighbors, ties broken by the smallest label, keeping
    its own when isolated. Fully deterministic (integer counts + total
    tie-break) — unlike classic asynchronous LPA, so it value-oracles.

    BSP step as Catalyst plans it: one join (edges x labels on src — the
    edge list is hash-partitioned on src ONCE up front, so each round only
    the node-sized label table moves), one (dst, label) count, then the
    per-node argmax as a ``max(struct(count, -label))`` aggregate rather
    than a row_number window: the struct-max is map-side mergeable, so no
    sort and no second full materialization of the candidate table.
    ``localCheckpoint`` truncates lineage per round; the hash build is
    pinned off the checkpoint-fed side (same stats-misestimate hazard as
    :func:`pagerank`).

    ``assume_unique``: caller guarantees a duplicate-free edge list —
    skips the defensive distinct (duplicates would inflate label counts,
    changing the vote, so only pass it when uniqueness genuinely holds).
    NOTE the round-1 identity-seed fast path (min over in-neighbors) is
    equivalent to the frequency vote ONLY on a duplicate-free edge list:
    with ``assume_unique=True`` and a caller that violates the contract,
    round 1 silently diverges from the vote the later rounds compute —
    the defensive path (``assume_unique=False``) distincts first and is
    immune.
    ``symmetric``: caller guarantees every edge appears in both
    directions — then every node is both a src and a dst, so (a) the node
    set is src alone (skips half the node-derivation union) and (b) each
    round's vote covers EVERY node, making the per-round join-back
    against the node table (whose coalesce only fires for nodes with no
    in-neighbors) the identity — the node table and its distinct shuffle,
    cache fill, and per-round join are skipped entirely.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if not assume_unique:
        e = e.distinct()
    e = e.repartition("src").persist()
    if symmetric and iterations >= 1:
        nodes = None  # vote output IS the node set each round (see above)
    else:
        nodes = e.select(F.col("src").alias("id"))
        if not symmetric:
            nodes = nodes.unionAll(e.select(F.col("dst").alias("id")))
        nodes = nodes.distinct().persist()
    labels = nodes.withColumn("lab", F.col("id")) if nodes is not None else None
    for it in range(iterations):
        if it == 0:
            # Round 1 runs against IDENTITY seed labels over a
            # duplicate-free edge list: every (dst, src-as-label) candidate
            # count is exactly 1, so "most frequent label, ties -> smallest"
            # collapses to min over in-neighbors of src — no edge x label
            # join, no (dst, lab)-keyed count exchange, no argmax; just the
            # node-sized min aggregate every round pays anyway.
            pick = (
                e.groupBy(F.col("dst").alias("id"))
                .agg(F.min("src").alias("new_lab"))
            )
        else:
            cand = (
                e.join(labels.hint("shuffle_hash"), e.src == labels.id)
                .groupBy(F.col("dst").alias("nid"), "lab")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            pick = (
                cand.groupBy("nid")
                .agg(F.max(F.struct(F.col("c"), (-F.col("lab")).alias("neg_lab"))).alias("s"))
                .select(F.col("nid").alias("id"), (-F.col("s.neg_lab")).alias("new_lab"))
            )
        if nodes is None:
            # symmetric: pick's id set IS the node set — no join-back
            labels = pick.select("id", F.col("new_lab").alias("lab"))
        else:
            labels = nodes.join(pick, "id", "left").select(
                "id", F.coalesce("new_lab", F.col("id")).alias("lab")
            )
        # labels(k) is consumed exactly once (by round k+1), so lineage
        # grows LINEARLY — no per-round materialization needed; the whole
        # bounded loop executes as one job at the consumer's action. A
        # checkpoint every 4th round still bounds plan depth for large
        # budgets (the per-round eager checkpoint this replaces cost one
        # driver job per round).
        if (it + 1) % 4 == 0 and (it + 1) < iterations:
            labels = labels.localCheckpoint(eager=True)
    # materialize ONCE at the end (the loop's only job), so the cached
    # edge/node tables can be released before the caller consumes labels
    labels = labels.localCheckpoint(eager=True)
    e.unpersist()
    if nodes is not None:
        nodes.unpersist()
    return labels


def k_core(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 4,
    strict: bool = False,
) -> DataFrame:
    """Iterative k-core peeling: repeatedly drop vertices with degree < k
    (and their edges) until the surviving subgraph — the k-core — is
    stable. ``edges`` must already be SYMMETRIZED (both directions
    present) and duplicate-free; degree is then the per-``src_col`` row
    count.

    The peel rule is idempotent once converged (re-filtering a stable core
    changes nothing), so running a fixed ``rounds`` budget past the
    fixpoint is exact — the same contract connected_components uses to
    value-match its unrolled-CTE oracle. Each round costs one degree
    aggregate plus two co-partitioned semi-joins (src side, then dst
    side); ``localCheckpoint`` truncates the growing lineage so round R's
    plan does not replay rounds 0..R-1, and the surviving edge COUNT it
    yields doubles as a free convergence probe: when a round removes no
    edge the peel is at its fixpoint and the loop exits early. If the
    ``rounds`` budget is exhausted while edges are still being removed,
    the result is only a SUPERSET of the k-core (vertices whose degree
    would fall below ``k`` in later rounds survive with inflated
    core_degree) — that case logs a warning, or raises when
    ``strict=True``. Returns (vertex, core_degree) for the surviving
    vertices."""
    e = edges.select(src_col, dst_col)
    prev_edges: int | None = None
    converged = False
    for _ in range(rounds):
        alive = (
            e.groupBy(src_col)
            .agg(F.count(F.lit(1)).alias("__deg"))
            .filter(F.col("__deg") >= k)
            .select(src_col)
        )
        e = (
            e.join(alive, src_col)
            .join(alive.withColumnRenamed(src_col, dst_col), dst_col)
            .select(src_col, dst_col)
            # lazy: the count below is the materializing action — one job
            # per round checkpoints AND counts (eager + count pays two)
            .localCheckpoint(eager=False)
        )
        n_edges = e.count()
        if n_edges == prev_edges:
            converged = True
            break
        prev_edges = n_edges
    if not converged:
        # The loop never observed a no-op round. One more bounded probe
        # (first sub-k vertex, limit 1) decides whether the budget landed
        # exactly on the fixpoint or genuinely ran out mid-peel.
        unstable = (
            e.groupBy(src_col)
            .agg(F.count(F.lit(1)).alias("__deg"))
            .filter(F.col("__deg") < k)
            .limit(1)
            .count()
        )
        if unstable:
            msg = (
                f"k_core: rounds budget ({rounds}) exhausted before the peel "
                f"reached its fixpoint — result is a superset of the {k}-core "
                "with inflated core_degree; raise `rounds`"
            )
            if strict:
                raise ValueError(msg)
            logging.getLogger(__name__).warning(msg)
    return e.groupBy(src_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("core_degree")
    )
