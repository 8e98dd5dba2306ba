"""Distributed Lloyd's k-means over an embedding column.

Beyond the reference surface (north star, similarity pillar): corpus
clustering is the workhorse behind semantic data curation — cluster
then inspect/balance/prune (SemDeDup-style pruning, per-cluster
mixture weights, topic discovery over embeddings). This is the
CLASSIC distributed k-means shape:

- centers live on the driver (k x dim floats — bytes), folded into the
  assignment expression as plan literals, so the assignment step is a
  pure narrow map over the corpus: NO shuffle, NO Python, whole-stage
  codegen (k x dim fused multiply-adds per row);
- the update step is one map-side-combined aggregation to (cluster,
  dim) partial sums — k x dim rows reach the driver per iteration,
  never vectors;
- the corpus is scanned once per iteration (persist the projected
  vectors upstream if iterating many times at scale).

Knob bound: the assignment expression is O(k x dim) fused ops per row
as a FLAT array of k fold-aggregates — fine through a few hundred
centers, a plan explosion at SemDeDup-scale k (tens of thousands of
cells). Assignment is therefore SIZE-GATED (``assign_mode``, default
"auto"): above ``ARROW_ASSIGN_KDIM`` the expression array swaps for
an Arrow kernel (the ``similarity._assign_cells`` shape — centers in
the task closure, ONE numpy matmul per batch, still a narrow
shuffle-free map), trading the bit-for-bit oracle for throughput
(BLAS summation order differs in the last ulp; argmin assignments
agree except on exact distance ties, which both arms break to the
lowest cluster id). The oracled small-k queries stay on the
expression arm.

Determinism contract (what makes a bit-for-bit DuckDB oracle possible
for an ITERATIVE algorithm): initial centers are the k lowest-id
vectors (not random); iteration count is FIXED (no early-exit — an
engine-dependent convergence test would diverge); element means use
the exact-decimal trick shared with ``similarity.label_centroids``
(round each float32 to 7 places -> DECIMAL(20,8) sums, order
independent -> round the mean to 6); distances are left-fold double
sums over the SAME rounded elements, identical IEEE operation order in
both engines; ties in argmin break to the lowest cluster id; a cluster
that loses all members keeps its previous center. The oracle unrolls
the same fixed iterations as chained CTEs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _rounded_vec(vec_col: str):
    return F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double"), 7)
    )


def _dist_to(center: list[float]):
    """Squared distance from the rounded vector column ``__e`` to a
    literal center — zip_with + sequential left-fold aggregate, the
    same IEEE add order as the oracle's explicit chain."""
    return F.aggregate(
        F.zip_with(
            "__e",
            F.lit([float(c) for c in center]),
            lambda x, c: (x - c) * (x - c),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign_expr(centers: list[list[float]]):
    """cluster = index of the nearest center (ties -> lowest index):
    array_position of the array minimum over k distance expressions."""
    d = F.array(*[_dist_to(c) for c in centers])
    return (F.array_position(d, F.array_min(d)) - 1).cast("int")


def _with_dist_array(df: DataFrame, centers: list[list[float]]):
    """Attach the k-element distance array as ``__darr`` in its OWN
    projection step. Consumers derive cluster
    (``array_position(__darr, array_min(__darr)) - 1``) and dist
    (``array_min(__darr)``) from the one column; CollapseProject keeps
    the two projections apart because ``__darr`` is non-cheap and
    referenced more than once, so the k x dim fold array is analyzed,
    compiled and evaluated ONCE per row (r15: the previous one-select
    shape inlined it up to 4x — at k=16 x dim=32 that alone was a
    ~100 KB plan for the SemDeDup query)."""
    return df.withColumn(
        "__darr", F.array(*[_dist_to(c) for c in centers])
    )


def _cluster_of_darr() -> Column:
    """The nearest center's index from ``__darr`` (a function, not a
    module constant: building a Column needs a live session)."""
    return (
        F.array_position("__darr", F.array_min("__darr")) - 1
    ).cast("int")


# k x dim above which the flat expression array stops being a plan and
# starts being a codegen bomb — the Arrow kernel takes over there
ARROW_ASSIGN_KDIM = 2048

_ASSIGN_MODES = ("auto", "expr", "arrow")


def _use_arrow_assign(centers: "list[list[float]]", mode: str) -> bool:
    if mode not in _ASSIGN_MODES:
        raise ValueError(f"assign_mode must be one of {_ASSIGN_MODES}")
    if mode == "expr":
        return False
    if mode == "arrow":
        return True
    return len(centers) * len(centers[0]) > ARROW_ASSIGN_KDIM


def _arrow_assign(centers: "list[list[float]]"):
    """[cluster, dist] pair column via one Arrow matmul per batch —
    centers ship in the task closure like ``similarity._assign_cells``
    (cited shape: one n x dim @ dim x k BLAS call, |M|^2+|C|^2-2MC^T
    expansion). np.argmin takes the FIRST minimum, the same
    lowest-index tie rule as the expression arm. Returned as
    ``array<double>`` (cluster ids are exact in a double) because the
    scalar pandas_udf signature has no struct form."""
    C = np.array(centers, dtype=np.float64)
    Cn = (C * C).sum(axis=1)

    @F.pandas_udf("array<double>")
    def assign(embs: pd.Series) -> pd.Series:
        if len(embs) == 0:
            return pd.Series([], dtype=object)
        M = np.array(embs.tolist(), dtype=np.float64)
        D = (M * M).sum(axis=1)[:, None] + Cn[None, :] - 2.0 * (M @ C.T)
        c = D.argmin(axis=1)
        d = D[np.arange(len(M)), c]
        # the expansion form can dip epsilon-negative on exact matches
        return pd.Series(
            np.stack([c.astype(np.float64), np.maximum(d, 0.0)], axis=1)
            .tolist()
        )

    return assign


def _kmeanspar_init(
    base: DataFrame,
    k: int,
    id_col: str,
    seed: int,
    rounds: int = 2,
    oversample: "int | None" = None,
    assign_mode: str = "auto",
) -> "list[list[float]]":
    """Fixed-seed k-means|| initialization (Bahmani et al. 2012,
    VLDB): oversample candidates in ``rounds`` distributed passes —
    each point joins the candidate set with probability
    ``min(1, l * d²(x,C) / φ(C))`` — then weight every candidate by
    the points nearest it and reduce to ``k`` driver-side with
    weighted k-means++. DETERMINISM: the per-point coin is
    ``xxhash64(id, seed, round)`` mapped to [0,1) (portable, no RNG
    state on executors) and the driver reduction uses
    ``random.Random(seed)`` — the same (corpus, k, seed) always
    yields the same centers, which is what keeps downstream
    IVF/SemDeDup builds reproducible. Candidate sets stay O(l·rounds)
    rows (l defaults to 2k) — the only collects are those vectors and
    one scalar cost per round."""
    import random

    l = oversample or 2 * k
    # NULL/empty vectors can't seed or weight candidates (the lowest-id
    # arm tolerates them by assigning NULL clusters; this arm must
    # too, by leaving them out of initialization entirely)
    base = base.filter(F.col("__e").isNotNull() & (F.size("__e") > 0))
    first = (
        base.orderBy(id_col).limit(1).select("__e").collect()
    )
    if not first:
        raise ValueError("kmeans_assign needs a non-empty input")
    cands: "list[list[float]]" = [list(first[0]["__e"])]
    seen = {tuple(cands[0])}  # O(1) dedup, not O(|cands|) list scans
    cur = base.withColumn("__d2", _dist_to(cands[0]))
    for r in range(rounds):
        phi = cur.agg(F.sum("__d2").alias("s")).collect()[0]["s"]
        if not phi or phi <= 0:
            break  # every point sits on a candidate already
        u = (
            F.pmod(
                F.xxhash64(F.col(id_col), F.lit(seed), F.lit(r)),
                F.lit(1_000_000_007),
            ).cast("double")
            / 1_000_000_007.0
        )
        p = F.least(F.lit(1.0), F.lit(float(l)) * F.col("__d2") / phi)
        new = []
        for row in cur.filter(u < p).select("__e").collect():
            t = tuple(row["__e"])
            if t not in seen:
                seen.add(t)
                new.append(list(t))
        if not new:
            continue
        cands += new
        # the per-round d² update is itself SIZE-GATED like assignment:
        # ~2k new candidates per round would otherwise splice a
        # |new| x dim expression array into the plan — the exact
        # codegen bomb the module docstring warns about at large k.
        # The Arrow kernel's dist output IS min-over-these-centers.
        if _use_arrow_assign(new, assign_mode):
            dmin_new = F.element_at(_arrow_assign(new)(F.col("__e")), 2)
        else:
            dmin_new = F.array_min(F.array(*[_dist_to(c) for c in new]))
        cur = cur.withColumn(
            "__d2", F.least(F.col("__d2"), dmin_new)
        )
    # weight candidates by nearest-point counts (one assignment pass;
    # the Arrow kernel above the expression bound, like assignment)
    if _use_arrow_assign(cands, assign_mode):
        acol = F.element_at(
            _arrow_assign(cands)(F.col("__e")), 1
        ).cast("int")
    else:
        acol = _assign_expr(cands)
    wrows = (
        base.withColumn("__c", acol)
        .groupBy("__c")
        .agg(F.count(F.lit(1)).alias("w"))
        .collect()
    )
    weights = [0.0] * len(cands)
    for row in wrows:
        if row["__c"] is not None:
            weights[row["__c"]] = float(row["w"])

    # driver-side weighted k-means++ reduction to k (standard tail of
    # k-means||) — all in Python over O(l·rounds) candidate vectors
    rng = random.Random(seed)

    def d2(a: "list[float]", b: "list[float]") -> float:
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    chosen = [max(range(len(cands)), key=lambda i: (weights[i], -i))]
    dist = [d2(c, cands[chosen[0]]) for c in cands]
    while len(chosen) < min(k, len(cands)):
        total = sum(w * d for w, d in zip(weights, dist))
        if total <= 0:
            # remaining candidates coincide with chosen ones: fill by
            # weight order for determinism
            rest = [i for i in range(len(cands)) if i not in chosen]
            rest.sort(key=lambda i: (-weights[i], i))
            chosen += rest[: k - len(chosen)]
            break
        pick = rng.random() * total
        acc = 0.0
        idx = len(cands) - 1
        for i in range(len(cands)):
            acc += weights[i] * dist[i]
            if acc >= pick:
                idx = i
                break
        if idx in chosen:
            idx = max(
                range(len(cands)),
                key=lambda i: (weights[i] * dist[i], -i),
            )
        chosen.append(idx)
        dist = [
            min(dist[i], d2(cands[i], cands[idx]))
            for i in range(len(cands))
        ]
    return [cands[i] for i in chosen]


def kmeans_assign(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assign_mode: str = "auto",
    init: str = "lowest",
    seed: int = 42,
) -> DataFrame:
    """Cluster the vectors and return (id, cluster, dist) — the
    assignment against the centers after ``iters`` Lloyd's updates,
    with ``dist`` the squared distance (rounded to 6) to the assigned
    center. See module docstring for the determinism contract, the
    100 TB plan shape, and the ``assign_mode`` size gate (large k
    assigns via the Arrow matmul kernel instead of a k x dim
    expression array).

    ``init``: "lowest" (default — the k lowest-id vectors; what the
    bit-for-bit DuckDB oracles replay) or "kmeanspar" — fixed-seed
    k-means|| (``_kmeanspar_init``): still fully deterministic for a
    given ``seed``, but SQL-inexpressible, so use it where cluster
    QUALITY matters more than an oracle twin (SemDeDup/IVF builds at
    large k, where lowest-id init can start k centers inside one
    blob)."""
    base, centers, arrow = _fit(
        df, k, iters, vec_col, id_col, assign_mode, init, seed
    )
    if arrow:
        s = _arrow_assign(centers)(F.col("__e"))
        return base.select(
            id_col,
            F.element_at(s, 1).cast("int").alias("cluster"),
            F.round(F.element_at(s, 2), 6).alias("dist"),
        )
    # dist to the assigned (= nearest) center IS the array minimum, so
    # both outputs derive from the one materialized distance array
    return _with_dist_array(base, centers).select(
        id_col,
        _cluster_of_darr().alias("cluster"),
        F.round(F.array_min("__darr"), 6).alias("dist"),
    )


def _fit(
    df: DataFrame,
    k: int,
    iters: int,
    vec_col: str,
    id_col: str,
    assign_mode: str,
    init: str,
    seed: int,
    extra_cols: tuple = (),
):
    """Shared Lloyd's fit behind ``kmeans_assign`` and
    ``semantic_near_dup_pairs``: returns (base, centers, arrow) where
    ``base`` is the localCheckpointed projection (id, __e rounded
    [, extra_cols]) every consumer re-reads instead of re-scanning the
    source, ``centers`` the post-``iters`` centers, and ``arrow`` the
    resolved assignment arm."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    if init not in ("lowest", "kmeanspar"):
        raise ValueError(
            f"init must be lowest|kmeanspar, got {init!r}"
        )
    # materialize the rounded projection ONCE (localCheckpoint): every
    # iteration (and the final assignment) re-reads these partitions
    # instead of re-scanning and re-rounding the source — the "persist
    # the projected vectors" a real iterative deployment does
    base = df.select(
        F.col(id_col), _rounded_vec(vec_col).alias("__e"), *extra_cols
    ).localCheckpoint()
    if init == "kmeanspar":
        centers = _kmeanspar_init(
            base, k, id_col, seed, assign_mode=assign_mode
        )
        if not centers:
            raise ValueError("kmeans_assign needs a non-empty input")
    else:
        init_rows = (
            base.orderBy(id_col).limit(k).select("__e").collect()
        )
        if not init_rows:
            raise ValueError("kmeans_assign needs a non-empty input")
        centers = [list(r["__e"]) for r in init_rows]  # k_eff <= k
    dim = len(centers[0])
    arrow = _use_arrow_assign(centers, assign_mode)
    for _ in range(iters):
        if arrow:
            assigned = base.withColumn(
                "__c",
                F.element_at(
                    _arrow_assign(centers)(F.col("__e")), 1
                ).cast("int"),
            )
        else:
            assigned = _with_dist_array(base, centers).select(
                _cluster_of_darr().alias("__c"), "__e"
            )
        # exact decimal element means per (cluster, dim): map-side
        # partial sums; k x dim rows reach the driver
        means = (
            assigned.select(
                "__c", F.posexplode("__e").alias("__d", "__v")
            )
            .groupBy("__c", "__d")
            .agg(
                F.round(
                    F.sum(F.col("__v").cast("decimal(20,8)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1)),
                    6,
                ).alias("__m")
            )
            .collect()
        )
        by_cluster: dict[int, list[float]] = {}
        for r in means:
            by_cluster.setdefault(r["__c"], [0.0] * dim)[r["__d"]] = r["__m"]
        # empty cluster -> keep its previous center (deterministic)
        centers = [
            by_cluster.get(ci, centers[ci]) for ci in range(len(centers))
        ]
    return base, centers, arrow


def cluster_sizes(assignments: DataFrame) -> DataFrame:
    """(cluster, n_vecs, mean_dist) rollup of a ``kmeans_assign``
    result — the balance/quality report (a dominant cluster means the
    embedding space is collapsed or k is too small; a huge mean_dist
    cluster is the junk drawer worth inspecting)."""
    return (
        assignments.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.round(
                F.sum(F.col("dist").cast("decimal(20,8)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_dist"),
        )
        .orderBy("cluster")
    )


def semantic_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster_size: int | None = 4_000,
    drop_stats: "dict | None" = None,
    assign_mode: str = "auto",
    init: str = "lowest",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate PAIRS
    found by clustering the embeddings (``kmeans_assign``) and
    comparing cosines only WITHIN each cluster — the k-means cells are
    the blocking structure, so the quadratic pair space shrinks from
    n^2 to sum of cluster sizes squared (~n^2/k for balanced cells;
    SemDeDup's insight is that semantic duplicates land in the same
    cell at any reasonable k). Returns (id_a, id_b, cluster, cosine
    rounded 4) with id_a < id_b.

    This is deliberately a different recall/cost point than
    ``similarity.embedding_near_dup_pairs`` (LSH-banded blocking): LSH
    guarantees a collision-probability floor per pair; cluster blocking
    guarantees intra-cell exhaustiveness and gives the cluster id as a
    free grouping key for downstream keep-one-per-group policies.

    Scale guard: a degenerate embedding space can collapse into one
    giant cell, whose scoring is a quadratic bomb — the per-cell matmul
    materializes an n x n cosine matrix, so a 4k cell costs ~128 MB of
    task memory and the default cap sits there; cells over
    ``max_cluster_size`` are EXCLUDED from pairing, observably
    (``drop_stats['n_dropped_clusters']`` / ``['n_dropped_rows']``),
    the same accounting contract as the dedup tiers' bucket caps.
    The self-join shuffles on the cluster id; the kmeans assignment
    itself is a narrow map (see ``kmeans_assign``).
    """
    # the RAW vector (scoring input) rides the fit's checkpoint as an
    # extra column, so assignment output feeds the pair stage directly
    # — r15: the previous shape joined a separate (id, vector)
    # projection back onto the assignment on id, paying a full
    # vector-width shuffle join for data the fit already materialized
    base, centers, arrow = _fit(
        df, k, iters, vec_col, id_col, assign_mode, init, seed=42,
        extra_cols=(F.col(vec_col).alias("__v"),),
    )
    if arrow:
        ccol = F.element_at(
            _arrow_assign(centers)(F.col("__e")), 1
        ).cast("int")
        clustered = base.select(
            F.col(id_col).alias("__id"), "__v", ccol.alias("cluster")
        )
    else:
        clustered = _with_dist_array(base, centers).select(
            F.col(id_col).alias("__id"), "__v",
            _cluster_of_darr().alias("cluster"),
        )
    if max_cluster_size is not None:
        if drop_stats is not None:
            rows = (
                clustered.groupBy("cluster")
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > max_cluster_size)
                .agg(
                    F.count(F.lit(1)).alias("c"),
                    F.coalesce(F.sum("__n"), F.lit(0)).alias("r"),
                )
                .collect()[0]
            )
            drop_stats["n_dropped_clusters"] = int(rows["c"])
            drop_stats["n_dropped_rows"] = int(rows["r"])
        # window count over the SAME partitioning the pair stage needs:
        # the one cluster-keyed exchange serves both the cap filter and
        # applyInPandas (r15: previously a size aggregate + left-anti
        # join re-evaluated the assignment subtree and added two more
        # exchanges). NULL clusters pass the cap unconditionally — the
        # exact behavior of the old anti-join, whose null keys never
        # matched the over-cap list.
        w = Window.partitionBy("cluster")
        clustered = (
            clustered.withColumn("__n", F.count(F.lit(1)).over(w))
            .filter(
                F.col("cluster").isNull()
                | (F.col("__n") <= max_cluster_size)
            )
            .drop("__n")
        )
    # per-cell exact scoring as ONE Arrow matmul per cluster
    # (applyInPandas + numpy — the same kernel shape as
    # ``similarity.embedding_near_dup_pairs``'s blocked matmul): the
    # JVM per-pair fold alternative re-evaluates a 16-element lambda
    # per candidate pair — measured ~5x slower at sf0.1 — while the
    # matmul scores a whole cell in one BLAS call. Filtering happens
    # on the ROUNDED cosine, matching an oracle that rounds before
    # comparing to the threshold.
    import numpy as np
    import pandas as pd

    def pair_cluster(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
                "cluster": pd.Series([], dtype="int32"),
                "cosine": pd.Series([], dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        ids = pdf["__id"].to_numpy()
        M = np.array(pdf["__v"].tolist(), dtype=np.float64)
        norms = np.sqrt((M * M).sum(axis=1))
        C = (M @ M.T) / np.outer(norms, norms)
        iu, ju = np.triu_indices(len(ids), k=1)
        rounded = np.round(C[iu, ju], 4)
        keep = rounded >= threshold
        if not keep.any():
            return empty
        a, b = ids[iu[keep]], ids[ju[keep]]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {
                "id_a": lo.astype("int64"),
                "id_b": hi.astype("int64"),
                "cluster": np.full(keep.sum(), pdf["cluster"].iloc[0],
                                   dtype="int32"),
                "cosine": rounded[keep],
            }
        )

    return clustered.groupBy("cluster").applyInPandas(
        pair_cluster,
        "id_a long, id_b long, cluster int, cosine double",
    )
