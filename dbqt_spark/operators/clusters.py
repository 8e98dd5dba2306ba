"""Connected components over a pair graph — near-dup CLUSTER assignment.

Beyond the reference surface (north star): pairwise near-dup output
(``minhash_near_duplicates`` et al.) is not directly actionable when
duplicates chain (A~B, B~C, no A~C pair): keep-smaller-id drops both B
and C, and per-pair greedy needs a driver walk. The standard resolution
is the transitive closure — assign every doc the MINIMUM id reachable
through the pair graph (its cluster id), then keep one representative
per cluster.

Algorithm: alternating large-star/small-star contraction (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC 2014). Each
round rewires every edge toward the minimum id of a local neighborhood;
the edge set converges to a forest of stars whose root is the component
minimum in O(log n) rounds — unlike min-label propagation, whose round
count is the graph DIAMETER (a chain-shaped dup graph at corpus scale
would pay diameter sequential shuffles). Near-dup graphs are
overwhelmingly tiny star-shaped clusters, so 2-4 rounds is typical; the
log bound is what makes the pathological chain safe.

Scale shape per round: two groupBy-min + join passes (each hashed on
the node id), all map-side-combinable. The edge frame is
``localCheckpoint``-ed each round to truncate lineage — an iterative
plan that keeps growing is the classic Spark-iteration failure. The
convergence check is a one-row ``agg(count, sum(xxhash64))`` edge-set
checksum — the only driver-side data movement; edges themselves never
leave the cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    localize_limit: "int | None" = None,
    stats: "dict | None" = None,
) -> DataFrame:
    """(id, cluster_id) for every node appearing in ``pairs``;
    cluster_id is the minimum node id reachable through the pair graph.
    Raises if the fixpoint is not reached within ``max_iterations``
    (pathological diameter — raise the limit or pre-contract the
    graph).

    Hybrid execution (the same localize contract as
    ``dedup._cap_then_localize``): when the pair set fits under
    ``localize_limit`` (default ``dedup.BROADCAST_PAIR_LIMIT``) the
    components are resolved driver-side with union-find — O(pairs
    alpha) instant, no per-round jobs — because a near-dup pair set is
    bounded by construction (bucket caps) and collecting ids-only pairs
    is exactly what the verify stage already broadcasts. Only an
    over-limit pair graph runs the distributed propagation loop.

    The result never references the input's lineage (a LocalRelation on
    the localized path, checkpointed frames on the distributed one), so
    a persisted ``pairs`` input (dedup's over-limit contract) can be
    released by the caller as soon as this returns. The ids-only
    projection is persisted around the probe so the over-limit path
    never executes the (expensive) upstream pair pipeline twice."""
    from .dedup import BROADCAST_PAIR_LIMIT

    limit = (
        BROADCAST_PAIR_LIMIT if localize_limit is None else localize_limit
    )
    ids_only = pairs.select(
        F.col(id_a).alias("__a"), F.col(id_b).alias("__b")
    ).persist()
    try:
        probe = ids_only.limit(limit + 1).collect()
        if len(probe) <= limit:
            if stats is not None:
                stats["rounds"] = 0  # driver union-find, no Spark rounds
            return _local_components(pairs, probe, id_a)
        return _distributed_components(ids_only, max_iterations, stats)
    finally:
        ids_only.unpersist()


def _local_components(pairs, probe, id_a) -> DataFrame:
    """Driver union-find (union by min id, so the root IS the cluster
    id) over a bounded collected pair list."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in probe:
        a, b = r[0], r[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = sorted((i, find(i)) for i in parent)
    schema = pairs.select(
        F.col(id_a).alias("id"), F.col(id_a).alias("cluster_id")
    ).schema
    return pairs.sparkSession.createDataFrame(rows, schema)


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: every node connects its STRICTLY-LARGER neighbors to
    the minimum of its neighborhood (including itself). Input and output
    are canonical directed edges (u > v)."""
    b = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        b.groupBy("u")
        .agg(F.min("v").alias("__m"))
        .select("u", F.least("__m", F.col("u")).alias("__m"))
    )
    return (
        b.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        # v > u >= m, so the emitted (v, m) is canonical and loop-free
        .select(F.col("v").alias("u"), F.col("__m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: every node connects its smaller-or-equal neighbors
    (its canonical out-edges) and itself to the minimum among them.
    Canonical (u > v) in, canonical out."""
    mins = edges.groupBy("u").agg(F.min("v").alias("__m"))
    j = edges.join(mins, "u")
    return (
        j.select(F.col("v").alias("u"), F.col("__m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .unionByName(mins.select("u", F.col("__m").alias("v")))
        .distinct()
    )


def _distributed_components(
    ids_only, max_iterations: int, stats: "dict | None" = None
) -> DataFrame:
    """Alternating large-star/small-star contraction over the persisted
    (__a, __b) frame — O(log n) rounds to a forest of stars rooted at
    each component's minimum id. ``localCheckpoint`` materializes from
    the cache, so the upstream pair pipeline is never re-executed.

    Convergence = the canonical edge set reaches a fixpoint, detected
    by a (count, sum(xxhash64)) checksum repeating — one driver-side
    row per round; a round after the contraction stabilizes, both star
    operations are identities, so the checksum repeat IS the fixpoint
    (up to a negligible 64-bit hash collision)."""
    nodes = (
        ids_only.select(F.col("__a").alias("id"))
        .unionByName(ids_only.select(F.col("__b").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    edges = (
        ids_only.select(
            F.greatest("__a", "__b").alias("u"),
            F.least("__a", "__b").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    prev_chk = None
    converged = False
    rounds = 0
    for rounds in range(1, max_iterations + 1):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        # decimal accumulator: a long sum of 64-bit hashes overflows
        # under ANSI mode (Spark 4 default)
        row = edges.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
        ).collect()[0]
        chk = (row[0], row[1])
        if chk == prev_chk:
            converged = True
            break
        prev_chk = chk
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in "
            f"{max_iterations} rounds"
        )
    # stars: every non-root appears exactly once as u, pointing at its
    # component-min root; roots (and isolated self-pair nodes) label
    # themselves
    return nodes.join(
        edges.select(F.col("u").alias("id"), F.col("v").alias("cluster_id")),
        "id",
        "left",
    ).select("id", F.coalesce("cluster_id", "id").alias("cluster_id"))


def near_dup_clusters(
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Cluster view of a near-dup pair set: one row per doc APPEARING IN
    A PAIR — (doc_id, cluster_id, cluster_size, is_representative).
    Singleton docs (no pairs) are not emitted; they are their own
    implicit clusters. The representative (min id) is the keeper under
    the canonical-min policy, now transitively correct. A persisted
    ``pairs`` input is released here once the components are built (the
    components never reference its lineage)."""
    comp = connected_components(pairs, id_a=id_a, id_b=id_b)
    pairs.unpersist()  # no-op unless dedup returned it persisted
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        comp.withColumnRenamed("id", id_col)
        .join(sizes, "cluster_id")
        .select(
            id_col,
            F.col("cluster_id").alias("cluster_id"),
            "cluster_size",
            (F.col(id_col) == F.col("cluster_id")).alias(
                "is_representative"
            ),
        )
    )


def first_wins_dropped(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 40,
    stats: "dict | None" = None,
    driver_fallback_edges: int = 500_000,
) -> DataFrame:
    """DISTRIBUTED greedy first-wins over a pair graph: ids are decided
    ascending, a node is DROPPED iff some smaller KEPT neighbor pairs
    with it (the lexicographically-first maximal independent set — the
    exact contract of the streaming gate's driver greedy and of
    ``dropDuplicates`` for exact dedup). Returns one ``id`` column of
    the dropped nodes.

    Wavefront rounds: a live node with no smaller LIVE neighbor is KEPT
    (all its smaller neighbors, if any, were already dropped); every
    live node paired with a kept smaller neighbor is DROPPED; edges
    touching decided nodes fall away. Each round decides at least every
    live component's minimum and its neighbors, so dense near-dup
    blobs (the realistic over-limit shape — that is what produced
    enough pairs to leave the driver path) finish in 1-2 rounds. The
    worst case is a strictly-decreasing chain (diameter/2 rounds) —
    and no distributed shortcut can fix it exactly: the
    lexicographically-first MIS is P-complete (Cook 1985), i.e.
    inherently sequential on adversarial chains, so "condense then
    recurse" schemes necessarily change the answer. Instead, after
    ``max_rounds`` the RESIDUAL graph is finished exactly on the
    driver when it fits ``driver_fallback_edges``: the wavefront
    invariant guarantees every live node's smaller neighbors are all
    live (kept smaller neighbor -> node already dropped; dropped ->
    edge already pruned), so the residual subproblem is self-contained
    and the driver greedy over it reproduces the global greedy's
    decisions verbatim. Only a residual still wider than the fallback
    bound raises — observable degradation, not a wrong answer
    (``stats['driver_fallback_edges']`` records the residual size when
    the fallback ran). NOTE this is NOT connected components: a 1-2,
    2-3 path keeps {1, 3}, while component-min keeps only {1} — the
    wavefront, not star contraction, is what preserves the driver
    greedy's semantics.

    Scale shape per round: one anti-join (the kept frontier), one join
    + two anti-joins (drop + edge pruning), all hashed on node ids;
    ``localCheckpoint`` truncates the iterative lineage each round
    (same discipline as ``_distributed_components``). Exactly two jobs
    run per round (the two checkpoints; the emptiness probe reads the
    already-materialized edge checkpoint); per-round drop frames
    accumulate in a LAZY union of checkpointed parts — no per-round
    accumulator materialization."""
    edges = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("hi"),
            F.least(F.col(id_a), F.col(id_b)).alias("lo"),
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint()
    )
    spark = pairs.sparkSession
    empty = spark.createDataFrame(
        [], edges.select(F.col("hi").alias("id")).schema
    )
    dropped_parts = [empty]
    rounds = 0
    while True:
        if edges.isEmpty():
            break
        if rounds >= max_rounds:
            # exact driver finish on the self-contained residual (see
            # docstring): bounded probe, then the same ascending greedy
            # the driver path runs
            probe = edges.limit(driver_fallback_edges + 1).collect()
            if len(probe) > driver_fallback_edges:
                raise RuntimeError(
                    f"first_wins_dropped did not converge in "
                    f"{max_rounds} rounds and the residual graph still "
                    f"has > {driver_fallback_edges} edges — a "
                    "decreasing chain this wide is pathological for "
                    "near-dup data; raise max_rounds or "
                    "driver_fallback_edges"
                )
            neighbors: dict = {}
            for r in probe:
                neighbors.setdefault(r["hi"], set()).add(r["lo"])
                neighbors.setdefault(r["lo"], set()).add(r["hi"])
            decided_drop: set = set()
            for node in sorted(neighbors):
                if any(
                    n < node and n not in decided_drop
                    for n in neighbors[node]
                ):
                    decided_drop.add(node)
            if decided_drop:
                dropped_parts.append(
                    spark.createDataFrame(
                        [(i,) for i in sorted(decided_drop)],
                        schema=empty.schema,
                    )
                )
            if stats is not None:
                stats["driver_fallback_edges"] = len(probe)
            break
        rounds += 1
        # kept frontier: lo-side nodes that never appear as hi — no
        # smaller live neighbor exists for them
        kept = (
            edges.select(F.col("lo").alias("id"))
            .distinct()
            .join(
                edges.select(F.col("hi").alias("id")).distinct(),
                "id",
                "left_anti",
            )
        )
        newly_dropped = (
            edges.join(kept, edges["lo"] == kept["id"])
            .select(F.col("hi").alias("id"))
            .distinct()
            .localCheckpoint()
        )
        dropped_parts.append(newly_dropped)
        # kept-lo edges need no pruning of their own: newly_dropped IS
        # the hi set of every kept-lo edge, so the hi anti-join below
        # removes them all
        edges = (
            edges.join(
                newly_dropped, edges["hi"] == newly_dropped["id"], "left_anti"
            )
            .join(
                newly_dropped.withColumnRenamed("id", "__d"),
                edges["lo"] == F.col("__d"),
                "left_anti",
            )
            .localCheckpoint()
        )
    if stats is not None:
        stats["rounds"] = rounds
    dropped = dropped_parts[0]
    for part in dropped_parts[1:]:
        dropped = dropped.unionByName(part)
    return dropped


def best_quality_kept(
    pairs: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Quality-aware near-dup resolution: within every transitive
    near-dup cluster keep the HIGHEST-scoring doc (ties -> lowest id),
    drop the rest. This is the policy real curation pipelines want
    between the two already shipped — ``near_dup_clusters``'s
    canonical-min keeps an *arbitrary* member and the streaming gate's
    first-wins keeps the *earliest-seen*; neither keeps the *best* one
    when a quality signal exists (FineWeb/CCNet keep the
    highest-quality duplicate, not the first).

    Returns (id_col, cluster_id, score_col, is_kept) for every doc
    appearing in a pair; singletons are implicitly kept (not emitted),
    same contract as ``near_dup_clusters``.

    A doc missing from ``scores`` (or scored NULL) loses to any scored
    clustermate but still wins an all-unscored cluster by lowest id —
    NULLs are coalesced to -Infinity before the argmax, never silently
    dropped.

    Scale shape: components via ``connected_components`` (hybrid
    driver/star-contraction), one doc-keyed left join to attach scores
    (the scores side is usually the same corpus scan that produced the
    quality signal), then the per-cluster argmax as a map-side-
    combinable ``max(struct(score, -id))`` — a window over
    PARTITION BY cluster would put a mega-cluster (the realistic skew
    shape: boilerplate that matches everything) into one partition;
    max(struct) collapses it map-side. Winners (one row per cluster)
    join back keyed by cluster_id; AQE picks broadcast when the
    cluster count is small."""
    comp = connected_components(pairs, id_a=id_a, id_b=id_b)
    pairs.unpersist()  # no-op unless dedup returned it persisted
    scored = comp.withColumnRenamed("id", id_col).join(
        scores.select(id_col, score_col), id_col, "left"
    )
    rank = F.coalesce(
        F.col(score_col).cast("double"), F.lit(float("-inf"))
    )
    winners = (
        scored.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(
                    rank.alias("__s"), (-F.col(id_col)).alias("__negid")
                )
            ).alias("__w")
        )
        .select("cluster_id", (-F.col("__w.__negid")).alias("__winner"))
    )
    return scored.join(winners, "cluster_id").select(
        id_col,
        "cluster_id",
        score_col,
        (F.col(id_col) == F.col("__winner")).alias("is_kept"),
    )


def cluster_size_report(
    pairs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Duplication-profile histogram: (cluster_size, n_clusters,
    n_docs) — how much of the corpus sits in near-dup clusters of each
    size, INCLUDING the size-1 row for singleton docs appearing in no
    pair. The go/no-go observability readout before committing a dedup
    policy: a corpus where one size-50k cluster holds 30% of the docs
    needs boilerplate surgery, not doc dedup.

    Scale shape: components -> per-cluster sizes (map-side-combinable
    count) -> a size-keyed histogram whose cardinality is the number of
    DISTINCT sizes (tiny). The singleton row is computed as two scalar
    aggregates (corpus count minus paired-doc count) cross-joined into
    one row — no driver collect, no second corpus scan beyond the
    count. Rows with n_clusters = 0 are suppressed (an all-dup corpus
    emits no size-1 row)."""
    comp = connected_components(pairs, id_a=id_a, id_b=id_b)
    pairs.unpersist()
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    )
    # COUNT(*) — a NULL-id doc is still a corpus doc (it can never
    # join a pair, so it lands in the singleton row, matching the
    # oracle's COUNT(*))
    total = corpus.agg(F.count(F.lit(1)).alias("__total"))
    paired = comp.agg(F.count(F.lit(1)).alias("__paired"))
    singles = (
        total.crossJoin(paired)
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            (F.col("__total") - F.col("__paired"))
            .cast("long")
            .alias("n_clusters"),
            (F.col("__total") - F.col("__paired"))
            .cast("long")
            .alias("n_docs"),
        )
        .filter(F.col("n_clusters") > 0)
    )
    return hist.unionByName(singles).orderBy("cluster_size")
