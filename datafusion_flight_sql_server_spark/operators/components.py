"""Connected components over a pair list — near-dup cluster assignment.

North-star extension (SURVEY.md §2.C): pairwise near-duplicate operators
(``operators/dedup.py``) emit edges; deduplication policy usually needs the
*transitive closure* — "A≈B and B≈C ⇒ {A,B,C} are one cluster, keep one".
That closure is connected components, an iterative algorithm outside the
reference's delegated SQL surface (DataFusion 53 has no recursive CTEs).

Implemented as iterative min-label propagation on DataFrames:

1. symmetrize the edge list;
2. every node starts labeled with its own id;
3. each round, a node's label becomes ``min(own, min(neighbor labels))`` —
   one equi-join + one groupBy per round;
4. stop when the (monotonically decreasing) label sum is unchanged — the
   unique fixed point where every node carries its component's min id, so
   the result is deterministic and engine-comparable (DuckDB oracle: a
   recursive CTE over the same edges).

100 TB posture: each round is one hash-partitioned join + partial-agg
groupBy (no cartesian anything); rounds needed equal the component
diameter. Near-dup graphs are overwhelmingly tiny star-shaped clusters
(diameter ≤ ~4), so the loop converges in a handful of rounds; for
adversarial long-chain graphs the documented upgrade is the
large-star/small-star contraction (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14), which converges in O(log n) rounds
with the same per-round join shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node reachable through ``edges`` with its component's
    minimum node id. Returns (node, cluster_id); only nodes appearing in at
    least one edge are labeled (isolated rows never enter the pair list).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    sym = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        sym.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.col("src").alias("label"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Self-loops let ONE equi-join express min(own, neighbor labels): the
    # (v, v) edge routes v's own label into v's neighbor aggregation, so
    # the round-13 union-into-aggregation leg (which referenced the label
    # relation a second time) disappears. With the label relation
    # referenced exactly once per step, steps compose linearly — the
    # two-step unroll below deepens the plan without duplicating subtrees.
    # Both inputs are cached; a racing re-union of two cache scans is the
    # worst a concurrent AQE future can pay.
    #
    # Persisted PRE-PARTITIONED by src (guide §2.4 "two operations keyed
    # the same way share one exchange"): whenever the planner broadcasts
    # the (far smaller) label relation, the per-round join preserves this
    # cached partitioning and the groupBy("src") exchange is elided —
    # each propagation round collapses to a single map-side stage
    # (A/B at sf0.1: 1.17 -> 0.81 s propagation wall, one exchange fewer
    # per round). The partition count follows the session's shuffle
    # parallelism, not a local constant. In the non-broadcast regime
    # (labels too big, e.g. billion-node graphs) the join reshuffles
    # selfed by dst exactly as the unpartitioned form did — the upfront
    # repartition is one extra |E|-row exchange paid once, per-round cost
    # unchanged.
    selfed = (
        sym.unionByName(
            labels.select(
                F.col("node").alias("src"), F.col("node").alias("dst")
            )
        )
        .repartition("src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def _step(lbl: DataFrame) -> DataFrame:
        # One join + one groupBy per round; partial aggregation compacts
        # the |E|-row leg map-side before it crosses the wire.
        return (
            selfed.join(lbl, selfed["dst"] == lbl["node"])
            .groupBy("src")
            .agg(F.min("label").alias("label"))
            .select(F.col("src").alias("node"), "label")
        )

    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    # One step per materialized action. A two-step unroll (halving the
    # convergence collects) was built and MEASURED SLOWER in round 14
    # (5.3-5.6 s vs ~3 s wall, 34 vs 28 jobs at sf0.1): each action's AQE
    # stage chain nearly doubles while the action count only drops ~40%,
    # so the per-stage scheduling latency dominates the saved driver
    # round-trips at any scale where rounds are latency-bound (and at
    # CPU-bound scale the unroll saves nothing — the same work runs
    # either way).
    for _ in range(max_iter):
        new_labels = _step(labels).persist(StorageLevel.MEMORY_AND_DISK)
        new_sum = new_labels.agg(F.sum("label")).collect()[0][0]
        labels.unpersist()
        labels = new_labels
        if new_sum == prev_sum:  # fixed point: labels are component minima
            break
        prev_sum = new_sum
    selfed.unpersist()
    sym.unpersist()
    return labels.select("node", F.col("label").alias("cluster_id"))


# -- large-star / small-star contraction -------------------------------------
#
# Kiveris et al., "Connected Components in MapReduce and Beyond" (SoCC'14,
# public): alternate two edge rewrites until the edge set is a fixed point,
# at which moment every component is a depth-1 star rooted at its minimum
# id. Each rewrite is one groupBy + one equi-join over the edge list — the
# same per-round shuffle shape as min-label propagation — but the round
# count is O(log n) in the component DIAMETER, not linear, which is what
# survives an adversarial chain graph at scale.


def _star_round(e: DataFrame, large: bool, dedup: bool = True) -> DataFrame:
    """One large-star or small-star rewrite over a (u, v) edge list.

    large-star: for each node u, connect every STRICTLY LARGER neighbor to
    m = min(N(u) ∪ {u}). small-star: orient edges (larger, smaller), then
    connect every smaller-or-equal neighbor AND u itself to m.

    m rides a window (``min(v) over (partition by u)``), not a
    groupBy+re-join (round 14, guide §2.4): the aggregation's exchange IS
    the only exchange the rewrite needs, so the m-relation join — a
    second pass over nbrs plus a broadcast build per half-round —
    disappears (A/B at sf0.1: 29 -> 23 jobs, 1.32 -> 1.01 s wall, labels
    identical). At scale the two forms shuffle the same nbrs rows once
    (the join regime would re-shuffle them for a sort-merge anyway) and
    skew is identical — a hot node lands in one reduce partition either
    way; WindowExec computes the unbounded min once per partition and
    spills its sort, so a celebrity node degrades to a straggler, not an
    OOM, exactly as the sort-merge join would.

    ``dedup=False`` skips the closing distinct (one exchange fewer): both
    rewrites are functions of the edge SET — duplicate input rows only
    duplicate output rows (the min window is multiset-safe) — so a
    large-star half-round can defer dedup to the small-star half that
    follows it inside the same checkpointed round. Row multiplicity
    through the undeduped half is bounded by the input multiplicity
    (each nbrs row emits at most one edge).
    """
    if large:
        nbrs = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    else:
        nbrs = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
    withm = nbrs.withColumn(
        "m", F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    )
    if large:
        out = withm.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
    else:
        # emit (v, m) AND (u, m) in ONE pass via an array explode
        # (round 13; a self-union would reference the window subtree twice)
        out = withm.select(
            F.explode(F.array("v", "u")).alias("u"), F.col("m").alias("v")
        )
    out = out.filter(F.col("u") != F.col("v"))
    return out.distinct() if dedup else out


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    with_rounds: bool = False,
) -> DataFrame | tuple[DataFrame, int]:
    """Connected components via alternating large-star/small-star rounds.

    Same contract as :func:`connected_components` — every node appearing in
    an edge gets (node, cluster_id) with cluster_id = component min — but
    converges in O(log n) rounds on long-chain graphs where min-label
    propagation needs diameter rounds. Raises if ``max_iter`` rounds do not
    reach the fixed point (each round provably contracts, so this only
    fires on a too-small max_iter).

    ``max_iter`` must be at least 2: the fixed point is detected by two
    consecutive rounds producing the same edge list, so even an empty or
    already-contracted input needs two rounds (and reports ``rounds == 2``).
    A smaller value raises ``ValueError`` before any job runs.
    """
    if max_iter < 2:
        raise ValueError(
            "connected_components_star needs max_iter >= 2: a fixed point is "
            f"two equal consecutive rounds (got max_iter={max_iter})"
        )
    # Lineage MUST be truncated each round, not just cached: every star
    # round references its input ~3x, so the logical plan grows ~9x per
    # round and analysis cost explodes exponentially by round ~6 (measured:
    # a 32-node chain ran minutes instead of seconds under persist()).
    # localCheckpoint materializes the partitions AND cuts the plan — on a
    # cluster, swap for reliable checkpoint() if executor loss matters
    # mid-algorithm. eager=True is deliberate (round-13 A/B): eager=False
    # (letting the fingerprint action materialize the checkpoint) saves a
    # job per round but measured SLOWER (7.1 s vs 4.6 s wall median at
    # equal host load) — the fused materialize+fingerprint job has a
    # longer serial critical path than the two pipelined jobs.
    # ONE checkpointed pass over the upstream pair pipeline (round 14):
    # ``base`` keeps self-loop rows so the node universe can be derived
    # from it — the previous shape referenced ``edges`` three times (nodes
    # twice + e once), executing the near-dup verify join per reference.
    # ``nodes`` is consumed exactly once (final labeling) and reads the
    # checkpointed partitions, so it stays lazy — no persist, no extra job.
    base = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = base.filter(F.col("u") != F.col("v"))
    nodes = (
        base.select(F.explode(F.array("u", "v")).alias("node")).distinct()
    )

    def fingerprint(df: DataFrame) -> tuple:
        # exact-count + hash-sum multiset fingerprint (one scalar row)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    # No seed fingerprint over the input (round 14 late): the loop compares
    # ROUND OUTPUTS only, so the full-|E| seeding pass disappears — one job
    # and one edge-list scan fewer per invocation. Round sequences are
    # identical whenever round 1 changes anything (any nonempty non-star
    # input); an input that is ALREADY a depth-1 min-star forest pays one
    # confirming round where the seeded form would have detected the fixed
    # point upfront — a cheap extra round on an already-contracted (tiny)
    # edge list, vs a full scan saved on every real input.
    prev: tuple | None = None
    rounds = 0
    converged = False
    for _ in range(max_iter):
        e = _star_round(
            _star_round(e, large=True, dedup=False), large=False
        ).localCheckpoint(eager=True)
        cur = fingerprint(e)
        rounds += 1
        if cur == prev:  # fixed point: components are depth-1 min-stars
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components_star: no fixed point in {max_iter} rounds"
        )
    # converged edges are (child, root); roots label themselves
    labels = (
        nodes.join(e, nodes["node"] == e["u"], "left")
        .select(
            "node", F.coalesce(F.col("v"), F.col("node")).alias("cluster_id")
        )
        .groupBy("node")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    result = labels.persist(StorageLevel.MEMORY_AND_DISK)
    result.count()  # materialize before releasing the inputs it reads
    if with_rounds:
        return result, rounds
    return result
