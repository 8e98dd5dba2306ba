"""Similarity search over embedding columns (array<float>).

North-star operator (no reference analog). Two tiers:

- ``cosine_topk``: brute-force top-k against a query vector — a single
  narrow scan (dot product via ``F.zip_with``/``F.aggregate``, JVM-side)
  + a small top-k. The correct baseline at any scale: no shuffle until
  the final k-row ordering.
- ``lsh_bucketed_topk``: random-hyperplane LSH (signed projections packed
  into a bit signature) pre-filters candidates to matching buckets before
  exact scoring — the 100 TB path where scanning every vector per query
  is wasteful. Hyperplanes are derived deterministically from a seed.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import store
from .dedup import _cap_then_localize

# LSH and IVF indexes share one layout: ``vectors``/``vectors-<N>``
# data dirs and (IVF only) ``centroids.json``/``centroids-<N>.json``;
# a delete records its own tombstone key (``lsh_delete``'s id_col)
_LAYOUT = store.Layout(("vectors",), key="vec_id", sidecar="centroids")


def _dot_lit(vec_col: Column, q: list[float]) -> Column:
    """dot(vec, literal query) — zip_with + aggregate, stays in codegen."""
    qarr = F.array(*[F.lit(float(x)) for x in q])
    return F.aggregate(
        F.zip_with(vec_col, qarr, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(vec_col: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            vec_col,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def cosine_scores(
    df: DataFrame,
    query: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    qnorm = math.sqrt(sum(float(x) * float(x) for x in query)) or 1.0
    v = F.col(vec_col)
    cos = _dot_lit(v, query) / (_norm(v) * F.lit(qnorm))
    return df.select(F.col(id_col), cos.alias("cosine"))


def cosine_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k by cosine, deterministic tie-break on id. orderBy+limit over
    scored rows: Spark executes this as a per-partition top-k (TakeOrdered)
    — no full sort, no shuffle of the scored set."""
    return (
        cosine_scores(df, query, vec_col, id_col)
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rnd = random.Random(seed)
    return [[rnd.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_signature_col(
    vec_col: Column, planes: list[list[float]]
) -> Column:
    """Pack sign(dot(v, plane_i)) bits into a bigint bucket id."""
    sig = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        bit = F.when(_dot_lit(vec_col, p) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig.bitwiseOR(F.shiftleft(bit, i))
    return sig


def lsh_bucketed_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    n_planes: int = 8,
    probe_hamming: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    n_tables: int = 1,
) -> DataFrame:
    """ANN: score only vectors whose LSH bucket is within ``probe_hamming``
    bits of the query's bucket (multi-probe). At scale, write the data
    partitioned by bucket so this prunes parquet partitions instead of
    filtering post-scan.

    ``n_tables > 1`` is classic multi-table LSH (the E2LSH structure): L
    INDEPENDENT ``n_planes``-bit tables, a vector is a candidate if ANY
    table places it within ``probe_hamming`` of the query — recall is
    1 - (1 - p_table)^L, the knob that reaches >= 0.9 even on isotropic
    embeddings where one table's multi-probe saturates near its scanned
    fraction. All L signatures come from ONE Arrow matmul per batch
    (``random_band_values``), the table conditions OR in codegen, and
    exact scoring runs once on the candidate union — still a single scan
    of the corpus, no shuffle before the final top-k."""
    if n_tables <= 1:
        dim = len(query)
        planes = _hyperplanes(dim, n_planes, seed)
        qsig = _query_signature(query, planes)
        sig = lsh_signature_col(F.col(vec_col), planes)
        probe = F.bit_count(sig.bitwiseXOR(F.lit(qsig))) <= probe_hamming
        cands = df.filter(probe)
    else:
        qsigs = _band_query_signatures(query, n_tables, n_planes, seed)
        sigs = random_band_values(F.col(vec_col), n_tables, n_planes, seed)
        banded = df.withColumn("__sigs", sigs)
        probe = None
        for t, qs in enumerate(qsigs):
            cond = (
                F.bit_count(
                    F.element_at("__sigs", t + 1).bitwiseXOR(F.lit(int(qs)))
                )
                <= probe_hamming
            )
            probe = cond if probe is None else (probe | cond)
        cands = banded.filter(probe).drop("__sigs")
    return (
        cosine_scores(cands, query, vec_col, id_col)
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def _band_query_signatures(
    query: list[float], bands: int, bits_per_band: int, seed: int
) -> list[int]:
    """Per-table signatures of a query vector under the SAME plane
    generation and bit packing as ``random_band_values`` (shared
    convention — the vectorized corpus path and the driver-side query
    path can never diverge)."""
    n_planes = bands * bits_per_band
    qv = np.asarray(query, dtype=np.float64)
    planes = np.random.RandomState(seed).standard_normal((n_planes, len(qv)))
    bits = (planes @ qv) > 0.0
    weights = (1 << np.arange(bits_per_band)).astype(np.int64)
    return [int(v) for v in bits.reshape(bands, bits_per_band) @ weights]


def _sq_dists(X: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """n x k squared Euclidean distances via the dot trick (one matmul)."""
    return (
        (X * X).sum(axis=1)[:, None]
        - 2.0 * (X @ C.T)
        + (C * C).sum(axis=1)[None, :]
    )


def _kmeans_fit(
    X: "np.ndarray", k: int, seed: int, max_iter: int
) -> "np.ndarray":
    """Deterministic Lloyd's k-means with k-means++ init, pure numpy.

    Runs on the DRIVER over the bounded training sample (<= max_train_rows
    x dim doubles — megabytes). Replaces the MLlib fit, which launches
    dozens of tiny Spark jobs per iteration: for a sample this size the
    numpy fit is milliseconds of driver CPU and zero cluster scheduling,
    which is exactly the faiss IVF train shape. Empty clusters re-seed at
    the point farthest from its current center."""
    rng = np.random.RandomState(seed)
    n = len(X)
    centers = np.empty((k, X.shape[1]), dtype=np.float64)
    centers[0] = X[rng.randint(n)]
    d2 = ((X - centers[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        total = d2.sum()
        if total <= 0:  # all points identical / fewer points than cells
            centers[j] = X[rng.randint(n)]
            continue
        centers[j] = X[rng.choice(n, p=d2 / total)]
        d2 = np.minimum(d2, ((X - centers[j]) ** 2).sum(axis=1))
    for _ in range(max_iter):
        lab = _sq_dists(X, centers).argmin(axis=1)
        new = centers.copy()
        for j in range(k):
            members = lab == j
            if members.any():
                new[j] = X[members].mean(axis=0)
            else:
                new[j] = X[((X - centers[lab]) ** 2).sum(axis=1).argmax()]
        if np.allclose(new, centers):
            return new
        centers = new
    return centers


def ivf_build(
    df: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_iter: int = 10,
    max_train_rows: int = 10_000,
    n_assign: int = 1,
) -> tuple[DataFrame, list[list[float]]]:
    """Build an IVF index: KMeans the vectors into cells, return the
    cell-assigned table and the centroid list.

    At 100 TB the assigned table is written ``partitionBy("cell")`` so a
    probe query scans only the probed cells' files (partition pruning);
    here it stays a DataFrame. Training fits on a BOUNDED sample
    (standard IVF practice — faiss trains on ~max(10k, 39*n_cells)
    points): centroid quality saturates long before the corpus size, and
    an unbounded fit makes index build the scale bottleneck. The sample
    is one TakeOrdered pass (per-partition top-K by a seeded random key —
    no shuffle, no extra count; rand(seed) is partition-position seeded,
    fine since the sample only steers centroid quality), the fit is
    driver-side numpy (``_kmeans_fit`` — the MLlib fit's per-iteration
    job storm was the whole cost of this operator on a busy scheduler),
    and the single full-data assignment pass is one Arrow ``pandas_udf``
    (centroids ship in the task closure — k x dim doubles, kilobytes).

    ``n_assign > 1`` is multi-assignment replication (the SPANN closure-
    assignment idea): each vector is stored in its ``n_assign`` nearest
    cells, so a probe finds it if ANY of those cells is probed — the
    recall knob for boundary vectors, at ``n_assign``x storage. The
    replicated frame still partitions by ``cell``; ``ivf_search``
    dedupes candidates by id before the top-k."""
    sample = df.select(F.col(vec_col).cast("array<double>")).orderBy(
        F.rand(seed)
    ).limit(max_train_rows).collect()
    if not sample:
        raise ValueError(
            "cannot build IVF index on empty input (no training vectors)"
        )
    X = np.array([r[0] for r in sample], dtype=np.float64)
    # fewer distinct points than requested cells degenerates k-means++
    # (zero total mass); clamp k to the sample size
    C = _kmeans_fit(X, min(n_cells, len(X)), seed, max_iter)
    assigned = _assign_cells(df, C, vec_col, n_assign)
    return assigned, [list(map(float, c)) for c in C]


def _assign_cells(
    df: DataFrame, C: "np.ndarray", vec_col: str, n_assign: int
) -> DataFrame:
    """Attach ``cell`` — each row's ``n_assign`` nearest centroids, one
    output row per (vector, cell). One Arrow pass; centroids ship in the
    task closure."""
    r = max(1, min(int(n_assign), len(C)))

    @F.pandas_udf("array<int>")
    def cells_of(embs: pd.Series) -> pd.Series:
        if len(embs) == 0:
            return pd.Series([], dtype=object)
        M = np.array(embs.tolist(), dtype=np.float64)
        D = _sq_dists(M, C)
        # argpartition bounds the per-row sort cost at O(k); the r kept
        # cells are then exactly ordered for determinism
        near = np.argpartition(D, r - 1, axis=1)[:, :r]
        order = np.take_along_axis(D, near, axis=1).argsort(axis=1)
        return pd.Series(
            np.take_along_axis(near, order, axis=1)
            .astype(np.int32)
            .tolist()
        )

    if r == 1:
        # common path: no replication, keep the plan explode-free
        return df.withColumn(
            "cell", F.element_at(cells_of(F.col(vec_col)), 1)
        )
    return df.withColumn(
        "cell", F.explode(cells_of(F.col(vec_col)))
    )


def _apply_probe_filters(
    pruned: DataFrame,
    where,
    allowed: "DataFrame | None",
    id_col: str,
) -> DataFrame:
    """Shared filtered-ANN hook: restrict probe candidates BEFORE the
    exact scoring. ``where`` is a SQL predicate string (or Column) over
    columns the index/frame carries; ``allowed`` is an id frame
    semi-joined in (AQE picks the strategy — an allowed set can be most
    of the corpus, so it is never force-broadcast). The honest filtered
    -ANN caveat applies: filtering AFTER a pruned probe lowers recall
    in proportion to the filter's selectivity inside the probed cells —
    with a FULL probe (n_probes = n_cells / probe_hamming = n_planes)
    the result is exact top-k under the filter, which is what the
    oracle checks."""
    if where is not None:
        pruned = pruned.filter(
            where if isinstance(where, Column) else F.expr(where)
        )
    if allowed is not None:
        pruned = pruned.join(
            allowed.select(id_col).distinct(), id_col, "left_semi"
        )
    return pruned


def ivf_search(
    assigned: DataFrame,
    centroids: list[list[float]],
    query: list[float],
    k: int = 10,
    n_probes: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    where=None,
    allowed: "DataFrame | None" = None,
) -> DataFrame:
    """Probe the ``n_probes`` cells whose centroids are closest to the
    query (cosine), then exact-score only those cells' vectors. A
    multi-assigned index (``ivf_build(n_assign>1)``) can surface the
    same vector from several probed cells — candidates dedupe by id
    before the top-k (replica rows are bit-identical, so the dedupe is
    value-stable). ``where``/``allowed`` restrict candidates before
    scoring (filtered ANN — see ``_apply_probe_filters`` for the
    recall contract)."""
    qnorm = math.sqrt(sum(x * x for x in query)) or 1.0

    def cos_to_query(c: list[float]) -> float:
        dot = sum(a * b for a, b in zip(c, query))
        cn = math.sqrt(sum(x * x for x in c)) or 1.0
        return dot / (cn * qnorm)

    probe_cells = [
        cell
        for cell, _ in sorted(
            enumerate(cos_to_query(c) for c in centroids),
            key=lambda t: -t[1],
        )[:n_probes]
    ]
    pruned = _apply_probe_filters(
        assigned.filter(F.col("cell").isin(probe_cells)),
        where, allowed, id_col,
    )
    return (
        cosine_scores(pruned, query, vec_col, id_col)
        .dropDuplicates([id_col])
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def lsh_delete(spark, path: str, ids, id_col: str = "vec_id") -> None:
    """Takedown/opt-out verb for the persisted ANN stores (VERDICT r12
    #4): record ``ids`` as TOMBSTONES so no probe ever returns them
    again (commit protocol and semantics: ``store.delete``). Probes
    (``lsh_topk_from_index``) exclude them immediately; ``lsh_compact``
    drops their rows, and the tombstones with them, physically."""
    meta = store.read_manifest(path, missing="nothing to delete from")
    store.delete(
        spark, path, {**meta, "tombstone_id_col": id_col}, _LAYOUT, ids
    )


def ivf_delete(spark, path: str, ids, id_col: str = "vec_id") -> None:
    """Tombstone ``ids`` in an ``ivf_write`` index — see ``lsh_delete``
    (the two indexes share one store layout). ``ivf_load`` (hence every
    probe and the streaming semantic gate) excludes them immediately;
    ``ivf_compact`` drops their rows physically."""
    lsh_delete(spark, path, ids, id_col)


def lsh_write(
    df: DataFrame,
    path: str,
    n_planes: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    n_tables: int = 1,
) -> None:
    """Persist an LSH index: vectors written parquet
    ``partitionBy("bucket")`` with the hyperplane-signature bucket id.
    The plane count and seed are stored alongside so probes re-derive
    the same hyperplanes. Multi-probe search then enumerates the bucket
    ids within the Hamming radius (``(n_planes choose <=h)`` values — 9
    for 8 planes at h=1) and prunes to exactly those directories.

    ``n_tables > 1`` stores the classic multi-table layout: every vector
    appears once per table (``n_tables``x storage — the standard E2LSH
    space/recall trade), laid out ``partitionBy("table", "bucket")`` so
    a probe prunes to exactly the (table, bucket) directories within the
    Hamming radius of each table's query signature. Signatures come from
    ONE Arrow matmul per batch (``random_band_values``)."""
    # rebuild over an existing store bumps the generation (ADVICE r10):
    # data lands in a fresh generation dir while the old manifest still
    # points at the complete old one; the manifest commit below is the
    # only commit point. Read first: a remote path is refused before any
    # Spark job runs.
    generation = _LAYOUT.next_generation(store.read_manifest(path))
    if n_tables <= 1:
        planes = _hyperplanes_for(df, vec_col, n_planes, seed)
        dim = len(planes[0])
        banded = df.withColumn(
            "bucket", lsh_signature_col(F.col(vec_col), planes)
        )
        part_cols = ["bucket"]
    else:
        first = df.select(vec_col).first()
        if first is None or first[0] is None:
            raise ValueError(
                "cannot build LSH index on empty input (no vectors to "
                "derive the embedding dimension from)"
            )
        dim = len(first[0])
        banded = df.select(
            "*",
            F.posexplode(
                random_band_values(F.col(vec_col), n_tables, n_planes, seed)
            ).alias("table", "bucket"),
        )
        part_cols = ["table", "bucket"]
    banded.write.mode("overwrite").partitionBy(*part_cols).parquet(
        _LAYOUT.data_dir(path, "vectors", generation)
    )
    # manifest LAST — the commit point
    store.commit_manifest(
        path,
        {
            "n_planes": n_planes,
            "seed": seed,
            "dim": dim,
            "n_tables": int(n_tables),
            "generation": generation,
        },
        _LAYOUT,
    )


def lsh_append(df: DataFrame, path: str, vec_col: str = "embedding") -> None:
    """Append vectors to an existing ``lsh_write`` index.

    The hyperplanes are RE-DERIVED from the stored (n_planes, seed, dim)
    — the whole point of meta.json — so appended vectors land in exactly
    the buckets a fresh full rebuild would give them; probes over the
    grown index stay correct with no re-train step (hyperplane LSH is
    data-independent, unlike IVF). Appends add one file per touched
    bucket directory; run ``lsh_compact`` periodically. Dimension is
    validated against the stored index — a mismatched append would
    silently truncate every future probe's ``zip_with`` dot product."""
    meta = store.read_manifest(path, missing="build it with lsh_write first")
    dim = int(meta["dim"])
    df = _checked_vectors(df, vec_col, dim)
    if df.first() is None:
        return  # nothing to append
    n_planes, seed = int(meta["n_planes"]), int(meta["seed"])
    n_tables = int(meta.get("n_tables", 1))
    if n_tables <= 1:
        planes = _hyperplanes(dim, n_planes, seed)
        banded = df.withColumn(
            "bucket", lsh_signature_col(F.col(vec_col), planes)
        )
        part_cols = ["bucket"]
    else:
        banded = df.select(
            "*",
            F.posexplode(
                random_band_values(F.col(vec_col), n_tables, n_planes, seed)
            ).alias("table", "bucket"),
        )
        part_cols = ["table", "bucket"]
    banded.write.mode("append").partitionBy(*part_cols).parquet(
        _LAYOUT.live_dir(path, "vectors", meta)
    )


def _checked_vectors(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Null-vector rows dropped, every REMAINING row's dimension
    enforced IN the plan (``raise_error`` fires on the first mismatched
    row wherever it hides in the batch — a first-row peek would both
    skip a whole append when row 0 happens to be null and wave through
    mixed-dimension batches, silently truncating every future probe's
    ``zip_with`` dot product)."""
    vec = F.col(vec_col)
    checked = F.when(F.size(vec) == dim, vec).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"append dimension != index dimension {dim}: got "),
                F.size(vec).cast("string"),
            )
        )
    )
    return df.filter(vec.isNotNull()).withColumn(vec_col, checked)


def _one_file_per_dir(*cols: str):
    """A ``store.compact`` rewrite that leaves one file per
    partition-value directory: hash-repartition on the partition
    column(s), so each value lands in exactly ONE task and the
    partitionBy writer emits exactly one file per directory. This is
    the standard lakehouse small-file compaction (Delta OPTIMIZE /
    Iceberg rewrite_data_files); partition pruning is untouched because
    the directory layout is reproduced exactly."""
    return lambda family, rows: rows.repartition(*cols).write.partitionBy(
        *cols
    )


def lsh_compact(spark, path: str) -> None:
    """Rewrite the LSH index to one file per bucket directory (appends
    leave one file per bucket per batch), dropping tombstoned rows;
    commit protocol: ``store.compact``."""
    meta = store.read_manifest(path, missing="build it with lsh_write first")
    cols = (
        ["table", "bucket"] if int(meta.get("n_tables", 1)) > 1 else ["bucket"]
    )
    store.compact(spark, path, meta, _LAYOUT, _one_file_per_dir(*cols))


def _hyperplanes_for(
    df: DataFrame, vec_col: str, n_planes: int, seed: int
) -> list[list[float]]:
    """Hyperplanes for the frame's embedding dimension (one cheap
    first-row peek — the dim is a schema-level fact the array type does
    not carry)."""
    first = df.select(vec_col).first()
    if first is None or first[0] is None:
        raise ValueError(
            "cannot build LSH index on empty input (no vectors to derive "
            "the embedding dimension from)"
        )
    return _hyperplanes(len(first[0]), n_planes, seed)


def _query_signature(query: list[float], planes: list[list[float]]) -> int:
    """Bucket id of a query vector — the same sign convention as
    ``lsh_signature_col`` (shared by the in-memory and on-disk probes so
    the two can never diverge)."""
    sig = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(query, p)) > 0:
            sig |= 1 << i
    return sig


def _buckets_within_hamming(sig: int, n_planes: int, h: int) -> list[int]:
    """All bucket ids within Hamming distance ``h`` of ``sig``."""
    from itertools import combinations

    out = [sig]
    for r in range(1, h + 1):
        for bits in combinations(range(n_planes), r):
            flipped = sig
            for b in bits:
                flipped ^= 1 << b
            out.append(flipped)
    return out


def lsh_topk_from_index(
    spark,
    path: str,
    query: list[float],
    k: int = 10,
    probe_hamming: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    where=None,
    allowed: "DataFrame | None" = None,
) -> DataFrame:
    """ANN over an index written by ``lsh_write``: enumerate the probe
    buckets driver-side, ``isin``-filter on the partition column (the
    scan prunes to those directories — same mechanism as
    ``test_ivf_probe_prunes_partitions``), exact-score only those
    vectors. ``where``/``allowed`` restrict candidates before scoring
    (filtered ANN — see ``_apply_probe_filters``)."""
    meta = store.read_manifest(path, missing="build it with lsh_write first")
    n_planes, seed = int(meta["n_planes"]), int(meta["seed"])
    n_tables = int(meta.get("n_tables", 1))
    dim = meta.get("dim")
    if dim is not None and len(query) != dim:
        # zip_with would silently truncate a mismatched query against the
        # stored vectors AND the hyperplanes would differ — fail loudly
        raise ValueError(
            f"query dimension {len(query)} != index dimension {dim}"
        )
    vectors = store.live(spark, path, meta, _LAYOUT, "vectors")
    if n_tables <= 1:
        planes = _hyperplanes(len(query), n_planes, seed)
        qsig = _query_signature(query, planes)
        probes = _buckets_within_hamming(qsig, n_planes, probe_hamming)
        pruned = vectors.filter(F.col("bucket").isin(probes))
    else:
        qsigs = _band_query_signatures(query, n_tables, n_planes, seed)
        cond = None
        for t, qs in enumerate(qsigs):
            probes = _buckets_within_hamming(int(qs), n_planes, probe_hamming)
            c = (F.col("table") == t) & F.col("bucket").isin(probes)
            cond = c if cond is None else (cond | c)
        # the OR-of-partition-predicates prunes to exactly the probed
        # (table, bucket) directories; a vector found in several tables
        # dedupes by id before scoring
        pruned = vectors.filter(cond).dropDuplicates([id_col])
    pruned = _apply_probe_filters(pruned, where, allowed, id_col)
    return (
        cosine_scores(pruned, query, vec_col, id_col)
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def ivf_write(
    assigned: DataFrame,
    centroids: list[list[float]],
    path: str,
    vec_col: str = "embedding",
    n_assign: int = 1,
    compact_cells: bool = False,
) -> None:
    """Persist an IVF index: the cell-assigned vectors as parquet
    ``partitionBy("cell")`` plus the centroid list as JSON alongside.
    This is THE 100 TB layout: a probe query filters on ``cell`` and the
    scan touches only the probed cells' directories (partition pruning —
    see ``test_plans.test_ivf_probe_prunes_partitions``), so search cost
    scales with n_probes/n_cells of the corpus, not the corpus.

    A drift BASELINE (mean squared nearest-centroid distance over a
    bounded sample) is stored in meta.json so ``ivf_append`` can refuse
    batches whose distribution the centroids no longer describe. The
    sample is ``limit()``-bounded (first partitions, not uniform) — it
    sets the SCALE of normal quantization error, which is all the drift
    ratio needs; an extra full-corpus pass at write time would double
    the cost of building a 100 TB index for a statistic."""
    # rebuild over an existing store bumps the generation (ADVICE r10):
    # vectors AND centroids land under generation-unique names so the
    # old manifest keeps describing a complete, param-consistent store
    # until the new meta.json commits
    generation = _LAYOUT.next_generation(store.read_manifest(path))
    if compact_cells:
        # one file per cell instead of one per (task, cell): a
        # trigger-bounded store (streaming gate births the index from
        # ONE micro-batch) otherwise fragments into tasks x cells tiny
        # files, paying commit overhead now and open overhead at every
        # later probe/load. Callers with corpus-sized builds keep the
        # default (a cell of a 100 TB store must not collapse to one
        # task).
        assigned = assigned.repartition("cell")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        _LAYOUT.data_dir(path, "vectors", generation)
    )
    store.commit_json(_LAYOUT.sidecar_file(path, generation), centroids)
    C = np.array(centroids, dtype=np.float64)
    qerr = _sample_quantization_error(assigned, C, vec_col)
    # manifest LAST — the commit point
    store.commit_manifest(
        path,
        {
            "dim": int(C.shape[1]),
            "mean_sq_qerr": qerr,
            # replication factor the index was built with — appends
            # re-apply it so probe recall stays uniform across the
            # original corpus and every appended batch
            "n_assign": int(n_assign),
            "generation": generation,
        },
        _LAYOUT,
    )


_DRIFT_SAMPLE_ROWS = 10_000


def _sample_quantization_error(
    df: DataFrame, C: "np.ndarray", vec_col: str
) -> float:
    """Mean squared nearest-centroid distance over a bounded sample
    (driver-side numpy — ``_DRIFT_SAMPLE_ROWS`` x dim doubles)."""
    rows = df.select(F.col(vec_col).cast("array<double>")).limit(
        _DRIFT_SAMPLE_ROWS
    ).collect()
    if not rows:
        return 0.0
    X = np.array([r[0] for r in rows], dtype=np.float64)
    return float(_sq_dists(X, C).min(axis=1).mean())


def ivf_append(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    max_drift: float = 4.0,
    compact_cells: bool = False,
) -> None:
    """Append vectors to an existing ``ivf_write`` index, guarded against
    centroid drift.

    Unlike hyperplane LSH, IVF cells are DATA-DEPENDENT: centroids
    trained on the original corpus can describe a new batch badly (new
    language, new embedding model revision), and silently appending then
    degrades recall for every future probe — vectors land in cells whose
    centroid is far away, and ``n_probes`` cells no longer cover the true
    neighbors. The guard compares the batch's mean squared
    nearest-centroid distance (bounded sample) against the baseline
    stored at write time and REFUSES the append past ``max_drift``x —
    the fix is a re-train (``ivf_build`` + ``ivf_write``), which the
    error message names. faiss leaves this check to the caller; an
    engine should not.

    Appends add one file per touched cell directory; run ``ivf_compact``
    periodically."""
    meta = store.read_manifest(
        path, missing="no drift baseline; rebuild it with ivf_write "
        "before appending"
    )
    centroids = store.read_json(
        _LAYOUT.sidecar_file(path, store.generation(meta))
    )
    C = np.array(centroids, dtype=np.float64)
    df = _checked_vectors(df, vec_col, int(meta["dim"]))
    if df.first() is None:
        return  # nothing to append
    batch_qerr = _sample_quantization_error(df, C, vec_col)
    baseline = float(meta["mean_sq_qerr"])
    if baseline > 0 and batch_qerr > max_drift * baseline:
        raise ValueError(
            f"appended batch drifts from the stored centroids (mean sq "
            f"quantization error {batch_qerr:.4g} > {max_drift}x baseline "
            f"{baseline:.4g}): re-train with ivf_build + ivf_write "
            "instead of appending"
        )

    appended = _assign_cells(df, C, vec_col, int(meta.get("n_assign", 1)))
    if compact_cells:
        # trigger-bounded appends write one file per touched cell per
        # batch instead of one per (task, cell) — see ivf_write; the
        # periodic ivf_compact story is for corpus-sized appends
        appended = appended.repartition("cell")
    appended.write.mode("append").partitionBy("cell").parquet(
        _LAYOUT.live_dir(path, "vectors", meta)
    )


def ivf_compact(spark, path: str) -> None:
    """Rewrite the IVF index to one file per cell directory (appends
    leave one file per cell per batch), dropping tombstoned rows and
    carrying the centroids forward; commit protocol: ``store.compact``."""
    store.compact(
        spark, path, store.read_manifest(path), _LAYOUT,
        _one_file_per_dir("cell"),
    )


def ivf_load(
    spark, path: str
) -> tuple[DataFrame, list[list[float]]]:
    """Load an index written by ``ivf_write``; pair with ``ivf_search``."""
    meta = store.read_manifest(path, missing="build it with ivf_write first")
    centroids = store.read_json(
        _LAYOUT.sidecar_file(path, store.generation(meta))
    )
    return store.live(spark, path, meta, _LAYOUT, "vectors"), centroids


def random_band_values(
    vec_col: Column, bands: int, bits_per_band: int, seed: int = 42
) -> Column:
    """array<int> of length ``bands`` — band *b* packs the sign bits of
    ``bits_per_band`` Gaussian random projections into one small bucket id.

    Arrow-vectorized (one pandas_udf, a single ``n x dim @ dim x planes``
    matmul per batch) — the codegen'd ``lsh_signature_col`` evaluates one
    interpreted higher-order dot product per plane per row, which is fine
    for 8 planes but ~100x slower at the 128-plane counts multi-band
    blocking needs. Hyperplanes are regenerated per batch from the seed
    (deterministic across batches/executors/retries; generation cost is
    microseconds)."""
    n_planes = bands * bits_per_band

    @F.pandas_udf("array<int>")
    def bandvals(embs: pd.Series) -> pd.Series:
        if len(embs) == 0:
            return pd.Series([], dtype=object)
        M = np.array(embs.tolist(), dtype=np.float64)
        planes = np.random.RandomState(seed).standard_normal((n_planes, M.shape[1]))
        bits = (M @ planes.T) > 0.0
        weights = (1 << np.arange(bits_per_band)).astype(np.int64)
        vals = bits.reshape(len(M), bands, bits_per_band) @ weights
        return pd.Series(vals.astype(np.int32).tolist())

    return bandvals(vec_col)


def _banded_rows(
    df: DataFrame,
    key_cols: list[str],
    bands: int,
    bits_per_band: int,
    seed: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    return df.select(
        *key_cols,
        F.col(id_col).alias("__bid"),
        F.col(vec_col).alias("__bvec"),
        F.posexplode(
            random_band_values(F.col(vec_col), bands, bits_per_band, seed)
        ).alias("__band", "__bval"),
    )


def auto_bits_per_band(n_rows: int, target_block_size: int = 1000) -> int:
    """Bucket width that caps EXPECTED block size at ``target_block_size``
    per band: ``ceil(log2(n / target))``, min 1. The knob VERDICT r3 asked
    to auto-derive — at 1000x the data the caller no longer has to
    remember to widen the buckets by hand."""
    return max(1, math.ceil(math.log2(max(2.0, n_rows / target_block_size))))


def _resolve_bits(df: DataFrame, bits_per_band: int | None) -> int:
    """``bits_per_band=None`` -> derive from the corpus size (one count
    job — parquet-metadata cheap on a plain scan)."""
    if bits_per_band is not None:
        return bits_per_band
    return auto_bits_per_band(df.count())


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    key_cols: list[str] | None = None,
    bands: int = 64,
    bits_per_band: int | None = 2,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_block_size: int | None = None,
    drop_stats: dict | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH-bucket blocking.

    Every vector lands in ``bands`` blocks (one per band, keyed by
    ``key_cols + (band, bucket)``); each block runs an exact blocked
    matmul (applyInPandas, Arrow-batched); the per-band pair sets are
    unioned and deduped. Unlike blocking on a data column (e.g. a label),
    block size is a TUNING KNOB, not a data property: expected block size
    is n_key / 2^bits_per_band per band, so at corpus scale you raise
    ``bits_per_band`` (16 bits -> 65k-way splits) instead of praying no
    label is hot.

    Recall is probabilistic but engineered: a pair at angle theta collides
    in one band with p = (1 - theta/pi)^bits_per_band, so
    miss <= (1 - p)^bands. The defaults (64 bands x 2 bits) give miss
    ~1e-7 even for cosine 0 pairs — empirically exact at test scale (the
    oracle-parity gate diffs against a brute-force SQL twin). Exact
    duplicates always share every bucket; run exact dedup first so they
    don't concentrate (same guidance as the MinHash bucket cap).

    ``max_block_size`` drops oversized (key, band, bucket) blocks before
    the matmul (broadcast anti-join) as a last-resort quadratic guard;
    pass ``drop_stats`` to receive n_dropped_buckets / n_dropped_rows.
    With the cap enabled the result is materialized EAGERLY: pair sets
    within the broadcast limit come back as a LocalRelation (zero cached
    blocks survive), bigger ones persisted (release with ``.unpersist()``
    / ``operators.cache.released`` — see ``dedup._cap_then_localize``);
    without the cap the plan stays fully lazy. ``bits_per_band=None``
    auto-derives the bucket width from the corpus size
    (``auto_bits_per_band``).
    """
    key_cols = list(key_cols or [])
    bits_per_band = _resolve_bits(df, bits_per_band)
    banded = _banded_rows(
        df, key_cols, bands, bits_per_band, seed, vec_col, id_col
    )

    def pair_block(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
                "cosine": pd.Series([], dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        ids = pdf["__bid"].to_numpy()
        M = np.array(pdf["__bvec"].tolist(), dtype=np.float64)
        norms = np.sqrt((M * M).sum(axis=1))
        C = (M @ M.T) / np.outer(norms, norms)
        iu, ju = np.triu_indices(len(ids), k=1)
        # filter on the ROUNDED value — matches an oracle that rounds
        # before comparing to the threshold
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
                "cosine": rounded[keep],
            }
        )

    def build(capped: DataFrame) -> DataFrame:
        pairs = capped.groupBy(*key_cols, "__band", "__bval").applyInPandas(
            pair_block, "id_a long, id_b long, cosine double"
        )
        # the same pair surfaces from every band it collides in, with a
        # bit-identical cosine (same two vectors, deterministic numpy) —
        # distinct() dedupes across bands
        return pairs.distinct()

    if max_block_size is None:
        return build(banded)
    pairs, _ = _cap_then_localize(
        banded, [*key_cols, "__band", "__bval"], max_block_size, drop_stats,
        build,
    )
    return pairs


def embedding_blocked_nn(
    df: DataFrame,
    key_cols: list[str] | None = None,
    bands: int = 64,
    bits_per_band: int | None = 2,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_block_size: int | None = None,
    drop_stats: dict | None = None,
) -> DataFrame:
    """Nearest neighbor (cosine) per vector via the same LSH-bucket
    blocking as ``embedding_near_dup_pairs``: each block emits its local
    best per member (max cosine, ties -> min neighbor id), a window
    reduce picks the global best across bands. The true NN is found iff
    it shares at least one bucket — miss <= (1 - p_band)^bands with
    p_band = (1 - theta/pi)^bits_per_band, ~1e-8 at the defaults even for
    cosine ~0 neighbors. Exact NN is inherently all-pairs; at corpus
    scale this IS the honest structure (bounded blocks, tunable recall),
    and the ivf/lsh_topk operators are the sublinear alternative.

    ``max_block_size`` / ``drop_stats`` are the same quadratic guard as
    ``embedding_near_dup_pairs`` — with the cap enabled the result is
    eagerly materialized and returned persisted (see
    ``dedup._cap_then_localize``); members of a dropped block can still
    find their NN through their other ``bands - 1`` buckets; a vector
    dropped from ALL its blocks yields no NN row — the drop counts make
    that observable. ``bits_per_band=None`` auto-derives the bucket
    width from the corpus size."""
    key_cols = list(key_cols or [])
    bits_per_band = _resolve_bits(df, bits_per_band)
    banded = _banded_rows(
        df, key_cols, bands, bits_per_band, seed, vec_col, id_col
    )

    def nn_block(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "vec_id": pd.Series([], dtype="int64"),
                "nn_id": pd.Series([], dtype="int64"),
                "cosine": pd.Series([], dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        ids = pdf["__bid"].to_numpy()
        M = np.array(pdf["__bvec"].tolist(), dtype=np.float64)
        norms = np.sqrt((M * M).sum(axis=1))
        C = (M @ M.T) / np.outer(norms, norms)
        np.fill_diagonal(C, -np.inf)
        out = []
        for i in range(len(ids)):
            m = C[i].max()
            cand = ids[C[i] == m]
            out.append((int(ids[i]), int(cand.min()), float(m)))
        return pd.DataFrame(out, columns=["vec_id", "nn_id", "cosine"])

    from pyspark.sql import Window

    def build(capped: DataFrame) -> DataFrame:
        cands = capped.groupBy(*key_cols, "__band", "__bval").applyInPandas(
            nn_block, "vec_id long, nn_id long, cosine double"
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.desc("cosine"), F.col("nn_id")
        )
        return (
            cands.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    if max_block_size is None:
        return build(banded)
    nn, _ = _cap_then_localize(
        banded, [*key_cols, "__band", "__bval"], max_block_size, drop_stats,
        build, localize=False,
    )
    return nn


def cosine_pairs_exact(
    df: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_size: int = 1024,
    n_blocks: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """EXACT all-pairs cosine pairs above ``threshold`` (compared on the
    value ROUNDED to 4 decimals, matching the oracle convention of the
    other pair tiers) via a BLOCKED matmul: rows hash into ``n_blocks``
    blocks, and every block PAIR (i <= j) becomes ONE Arrow task that
    scores its slab of the cosine matrix in a single BLAS call. Every
    row pair falls in exactly one block pair, so exactness is
    structural — this is the exact sibling of
    ``embedding_near_dup_pairs`` (LSH blocking, probabilistic recall
    floor) and ``kmeans.semantic_near_dup_pairs`` (cluster blocking,
    intra-cell only).

    Cost is the honest O(n^2) FLOPs of exact all-pairs, organized as
    (n/B choose 2) + n/B tasks of O(B^2 d) each with shuffle volume
    n x n_blocks rows (each row is replicated to every block pair that
    touches its block). That is the right SHAPE for exactness-contract
    workloads (split-leakage audits, brute-force recall twins,
    oracle baselines) — at corpus scale prefer the LSH/SemDeDup tiers.
    The JVM alternative (cross join + per-pair ``zip_with`` fold)
    re-evaluates a d-element lambda chain per candidate — measured
    ~25x slower at sf0.1 (68 s -> 2.6 s for cluster_safe_split).

    Returns (id_a, id_b, cosine) with id_a < id_b; ids must be unique
    int64. ``n_blocks=None`` derives ceil(n / block_size) via one
    count job."""
    if n_blocks is None:
        n_blocks = max(1, math.ceil(df.count() / float(block_size)))
    rows = df.select(
        F.col(id_col).cast("long").alias("__pid"),
        F.col(vec_col).alias("__pv"),
        F.pmod(
            F.xxhash64(F.concat_ws(":", F.lit(int(seed)),
                                   F.col(id_col).cast("string"))),
            F.lit(int(n_blocks)),
        ).cast("int").alias("__blk"),
    )
    # each row explodes DIRECTLY to its n_blocks block pairs — as the
    # left member of (b, j>=b) and the right member of (i<b, b) — a
    # pure-codegen sequence/transform, never a nested-loop join whose
    # predicate scan would cost n x n_blocks^2/2 evaluations at scale
    nb = int(n_blocks)
    pair_list = F.expr(
        f"concat("
        f"  transform(sequence(__blk, {nb - 1}),"
        f"            j -> struct(__blk as __bi, j as __bj)),"
        f"  CASE WHEN __blk = 0 THEN array()"
        f"       ELSE transform(sequence(0, __blk - 1),"
        f"                      i -> struct(i as __bi, __blk as __bj))"
        f"  END)"
    )
    rep = rows.select(
        "__pid", "__pv", "__blk",
        F.explode(pair_list).alias("__bp"),
    ).select("__pid", "__pv", "__blk", "__bp.__bi", "__bp.__bj")

    def pair_slab(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
                "cosine": pd.Series([], dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        bi = int(pdf["__bi"].iloc[0])
        bj = int(pdf["__bj"].iloc[0])
        ids = pdf["__pid"].to_numpy()
        M = np.array(pdf["__pv"].tolist(), dtype=np.float64)
        norms = np.sqrt((M * M).sum(axis=1))
        if bi == bj:
            C = (M @ M.T) / np.outer(norms, norms)
            iu, ju = np.triu_indices(len(ids), k=1)
            a_ids, b_ids = ids[iu], ids[ju]
            vals = C[iu, ju]
        else:
            lmask = (pdf["__blk"] == bi).to_numpy()
            L, R = M[lmask], M[~lmask]
            if not len(L) or not len(R):
                return empty
            C = (L @ R.T) / np.outer(norms[lmask], norms[~lmask])
            a_ids = np.repeat(ids[lmask], len(R))
            b_ids = np.tile(ids[~lmask], len(L))
            vals = C.ravel()
        rounded = np.round(vals, 4)
        keep = rounded >= threshold
        if not keep.any():
            return empty
        a, b = a_ids[keep], b_ids[keep]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame(
            {
                "id_a": lo.astype("int64"),
                "id_b": hi.astype("int64"),
                "cosine": rounded[keep],
            }
        )

    return rep.groupBy("__bi", "__bj").applyInPandas(
        pair_slab, "id_a long, id_b long, cosine double"
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid of an embedding column, one row per (label,
    dim): the building block for nearest-centroid classification, class
    drift monitoring, and IVF-style seeding from labels.

    Returns (label, dim, centroid, n_vecs) — the exploded layout is the
    honest distributed shape (a groupBy on (label, dim) with map-side
    partial sums; re-assembling arrays would force every dimension of a
    label through one reducer) and is directly comparable to a SQL
    oracle. Elementwise means are computed ORDER-INDEPENDENTLY: each
    float32 element is cast to double (exact), rounded to 7 places, and
    summed as DECIMAL(20,8) — exact arithmetic, so any engine
    reproduces the centroid bit-for-bit regardless of partitioning
    (same trick as corpus_summary's decimal quality means).
    """
    ex = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "__v"),
    ).withColumn("dim", F.col("dim").cast("long"))
    return (
        ex.groupBy("label", "dim")
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("__v").cast("double"), 7).cast(
                        "decimal(20,8)"
                    )
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("centroid"),
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
        )
        .orderBy("label", "dim")
    )


def ivf_knn_join(
    queries: DataFrame,
    assigned: DataFrame,
    centroids: "list[list[float]]",
    k: int = 10,
    n_probes: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: "str | None" = None,
    min_cosine: "float | None" = None,
    unique_candidates: bool = False,
) -> DataFrame:
    """Batch kNN JOIN through the IVF structure: top-``k`` corpus
    neighbors for EVERY query row — the missing shape next to the
    single-vector probes (``ivf_search`` enumerates one query's cells
    driver-side; a million-query batch needs the assignment to stay in
    the cluster). Semantic retrieval eval sets, cross-corpus semantic
    dedup, and embedding-join enrichment are all this operator.

    ``min_cosine`` filters scored candidates BEFORE the per-query
    ranking window: when the caller only wants matches above a
    threshold (the semantic-gate shape — "is anything accepted this
    close?"), the window's shuffle input shrinks from every candidate
    to the qualifying few, which at scale is the difference between
    ranking the probed corpus and ranking the answer. Top-k semantics
    become "top-k among candidates at or above the threshold";
    queries with none emit no rows.

    Scale shape: the query side gets its ``n_probes`` nearest cells
    from the SAME Arrow assignment kernel the index build uses
    (centroids ship in the task closure — one batch pass, no shuffle)
    and cogroups with the cell-partitioned corpus on ``cell``; each
    cell scores as ONE Arrow matmul (queries-in-cell x vectors-in-cell
    — the ``cosine_pairs_exact`` kernel shape, ~25x the throughput of
    the per-pair ``zip_with`` fold it replaced in r15), so the engine
    moves each corpus vector once per probing query CELL and each
    side's vectors cross the Python boundary once — never per pair.
    A pruned probe (``n_probes < n_cells``) semi-joins the store
    against the batch's distinct probed cells first, which reaches the
    parquet scan as dynamic partition pruning (pinned by plan test);
    a full probe touches every cell by definition and skips that step.
    Rounding to 4 stays JVM-side (``F.round`` on the raw double), and
    the per-query top-k window runs over each query's candidates
    (bounded by its probed cells' sizes — the IVF contract), never
    over the corpus. Multi-assigned replicas (``ivf_build(n_assign>1)``)
    dedupe by (query, candidate) before ranking, keeping the MINIMUM
    raw cosine — replicas carry cosines identical to the last ulp
    (independent per-cell matmuls), so the min makes the kept value
    deterministic even at an exact round-4 boundary (ADVICE r15).
    Ties break (cosine DESC, candidate id ASC).

    Exactness contract mirrors ``ivf_search``: with ``n_probes =
    n_cells`` the result is exact brute-force kNN per query; pruned
    probes trade recall for the probed fraction. The matmul sums in
    blocked (BLAS) order where the old fold summed left-to-right —
    both are f64 with ~1e-15 relative agreement, far inside the
    round-4 quantum (the same contract `cosine_pairs_exact` and the
    gate's `pair_cell` already carry against the DuckDB oracle). One
    edge moves: a zero-norm vector's 0/0 cosine was JVM NaN (sorts
    FIRST in Spark's desc order) and is now Arrow NaN -> SQL NULL
    (sorts last, never passes ``min_cosine``) — a strictly saner
    answer for "how close is nothing", and unreachable from
    ``ivf_write`` stores, whose vectors are dimension-checked floats.

    ``unique_candidates=True`` asserts each (query, candidate) pair can
    only arise once — true whenever the index was built single-assigned
    (``n_assign=1``: the cells PARTITION the corpus) — and skips the
    replica-dedup exchange, which at scale shuffles the full candidate
    set for nothing. Leave False for multi-assigned indexes."""
    import numpy as np

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    qid = query_id_col or id_col
    C = np.array(centroids, dtype=np.float64)
    probes = _assign_cells(
        queries.select(
            F.col(qid).alias("query_id"), F.col(vec_col).alias("__qv")
        ),
        C,
        "__qv",
        n_probes,
    )
    corpus = assigned.select(
        "cell",
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__cv"),
    )
    if n_probes < len(C):
        # pruned probe: restrict the store scan to the cells the batch
        # actually probes — the broadcast semi-join reaches the parquet
        # scan as dynamic partition pruning on `cell`
        corpus = corpus.join(
            F.broadcast(probes.select("cell").distinct()),
            "cell",
            "left_semi",
        )

    # conservative IN-KERNEL prefilter when the caller thresholds:
    # round(x, 4) >= t implies x > t - 5.1e-5, so masking at t - 1e-3
    # can never drop a row the exact JVM-side `F.round(...) >= t`
    # filter would keep — but it shrinks the Arrow return from every
    # candidate pair to the qualifying few (the gate shape: ~200 rows
    # instead of ~900k at sf0.1)
    pre_thr = None if min_cosine is None else float(min_cosine) - 1e-3

    def score_cell(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        # empty columns are object-dtyped so Arrow casts them to
        # whatever id type the declared schema carries (ADVICE r15:
        # the id columns keep the caller's types — string ids included)
        empty = pd.DataFrame(
            {
                "query_id": pd.Series([], dtype=object),
                "__cid": pd.Series([], dtype=object),
                "__cos": pd.Series([], dtype="float64"),
            }
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        qi = left["query_id"].to_numpy()
        Q = np.array(left["__qv"].tolist(), dtype=np.float64)
        ci = right["__cid"].to_numpy()
        V = np.array(right["__cv"].tolist(), dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            qn = np.sqrt((Q * Q).sum(axis=1))
            vn = np.sqrt((V * V).sum(axis=1))
            out = []
            # block the matmul so per-task scratch stays ~O(block x cell)
            step = max(1, 4_000_000 // max(len(ci), 1))
            for s in range(0, len(qi), step):
                S = (Q[s : s + step] @ V.T) / np.outer(qn[s : s + step], vn)
                if pre_thr is not None:
                    r_idx, c_idx = np.nonzero(S >= pre_thr)
                    out.append(
                        pd.DataFrame(
                            {
                                "query_id": qi[s + r_idx],
                                "__cid": ci[c_idx],
                                "__cos": S[r_idx, c_idx],
                            }
                        )
                    )
                else:
                    out.append(
                        pd.DataFrame(
                            {
                                "query_id": np.repeat(qi[s : s + step], len(ci)),
                                "__cid": np.tile(ci, len(S)),
                                "__cos": S.ravel(),
                            }
                        )
                    )
        return pd.concat(out, ignore_index=True)

    # the output id columns keep the CALLER's id types (ADVICE r15:
    # the public API allows arbitrary id_col — string record ids
    # included; numpy fancy-indexing and repeat/tile work on object
    # arrays, so the kernel is type-agnostic already)
    qid_dt = queries.schema[qid].dataType.simpleString()
    cid_dt = assigned.schema[id_col].dataType.simpleString()
    scored = (
        probes.groupBy("cell")
        .cogroup(corpus.groupBy("cell"))
        .applyInPandas(
            score_cell, f"query_id {qid_dt}, __cid {cid_dt}, __cos double"
        )
    )
    if not unique_candidates:
        # replicas of a multi-assigned pair were scored by INDEPENDENT
        # per-cell matmuls, which can disagree in the last ulp — dedupe
        # on the RAW cosine with a deterministic min() tie-break before
        # rounding (ADVICE r15: dropDuplicates kept an arbitrary
        # replica, nondeterministic exactly at a round-4 boundary);
        # same single hash-aggregate exchange, now partial-agg friendly
        scored = scored.groupBy("query_id", "__cid").agg(
            F.min("__cos").alias("__cos")
        )
    scored = scored.select(
        "query_id",
        F.col("__cid").alias(id_col),
        F.round(F.col("__cos"), 4).alias("cosine"),
    )
    if min_cosine is not None:
        scored = scored.filter(F.col("cosine") >= float(min_cosine))
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", F.col("rank").cast("int"))
        .orderBy("query_id", "rank")
    )


def _arrow_centroid_assign(C: "np.ndarray"):
    """Cosine-argmax tagging as ONE numpy matmul per Arrow batch —
    the ``kmeans._arrow_assign`` shape (centers in the task closure,
    narrow shuffle-free map). Vector elements round to 7 first (the
    expression arm's decimal input), the cosine matrix rounds to 6
    BEFORE the argmax, and ``np.argmax`` takes the FIRST maximum —
    rows of ``C`` are label-ascending, so ties break label-ascending
    exactly like the expression arm's window. float64 dot/norm sums
    can differ from the decimal-exact arm in the last ulp, so the two
    arms agree except on values sitting exactly on a round-6
    boundary (the ``kmeans_assign`` Arrow-arm contract).

    ZERO-NORM GUARD (r12 ADVICE): the join arm's decimal divide
    returns NULL on a zero divisor, so a zero-norm centroid gets NULL
    cosine for every row and sorts LAST in its window (desc, NULLs
    last) — it can never win. Here the same centroid's column is
    pinned to -inf pre-argmax (never wins), and a zero-norm VECTOR
    (all columns -inf, argmax=0) returns label index 0 with NaN
    cosine — Arrow maps the NaN to SQL NULL, which is exactly the
    join arm's (first-label-ascending, NULL cosine) row."""
    Cn = (C * C).sum(axis=1)

    @F.pandas_udf("struct<label_idx: int, cosine: double>")
    def assign(embs: pd.Series) -> pd.DataFrame:
        if len(embs) == 0:
            return pd.DataFrame({"label_idx": [], "cosine": []}).astype(
                {"label_idx": "int32", "cosine": "float64"}
            )
        M = np.round(np.array(embs.tolist(), dtype=np.float64), 7)
        Mn = (M * M).sum(axis=1)
        denom = np.sqrt(np.outer(Mn, Cn))
        with np.errstate(divide="ignore", invalid="ignore"):
            S = np.where(
                denom > 0,
                np.round((M @ C.T) / np.where(denom > 0, denom, 1.0), 6),
                -np.inf,
            )
        idx = S.argmax(axis=1)
        cos = S[np.arange(len(M)), idx]
        return pd.DataFrame(
            {
                "label_idx": idx.astype("int32"),
                "cosine": np.where(np.isfinite(cos), cos, np.nan),
            }
        )

    return assign


def nearest_centroid_assign(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assign_mode: str = "auto",
) -> DataFrame:
    """Tag every vector with its nearest LABEL CENTROID by cosine —
    the apply side of ``label_centroids`` (the weak-supervision move:
    label a seed set, fit centroids, tag the corpus; also the class
    side of drift monitoring). ``centroids`` is the exploded
    (label, dim, centroid) frame ``label_centroids`` returns.

    Returns (id, label, cosine) — argmax label per vector, cosine
    rounded 6, ties broken label-ascending. ORDER-INDEPENDENT
    arithmetic: elements round to 7 and sum as exact decimals (the
    label_centroids discipline), the cosine computed once in double
    from exact sums — any engine reproduces every assignment.

    Assignment is SIZE-GATED (``assign_mode``, default "auto" —
    mirroring ``kmeans_assign``): the join arm posexplodes the corpus
    and dim-joins the broadcast (labels x dims) centroid frame — an
    n·dim·n_labels intermediate before the map-side combine, exact
    decimal arithmetic, perfect for the tens of classes it was built
    for; above ``kmeans.ARROW_ASSIGN_KDIM`` (labels x dims) "auto"
    routes to an Arrow matmul kernel (centroids in the task closure,
    one BLAS call per batch, still a narrow shuffle-free map) that
    avoids the volume blow-up at SemDeDup/retrieval-scale label
    counts, trading decimal-exactness for float64 (last-ulp
    differences only surface on exact round-6 boundaries; ties break
    label-ascending in both arms). "join"/"arrow" force an arm."""
    from pyspark.sql import Window

    from .kmeans import ARROW_ASSIGN_KDIM

    modes = ("auto", "join", "arrow")
    if assign_mode not in modes:
        raise ValueError(f"assign_mode must be one of {modes}")
    crows = None
    if assign_mode != "join":
        # COLLECT the centroid frame once (it is broadcast-small by
        # contract — labels x dims rows): the routing decision, the
        # Arrow kernel, AND the join arm's broadcast side all come
        # from this one materialization. A count()-based probe would
        # re-run the upstream centroid FIT (typically an aggregate
        # over the corpus) once for the probe and again for the
        # chosen arm — at 100 TB that doubles the fit.
        proj = centroids.select("label", "dim", "centroid")
        crows = proj.collect()
        if assign_mode == "auto" and len(crows) <= ARROW_ASSIGN_KDIM:
            # join arm, but from the already-collected rows: a local
            # relation broadcasts without recomputing the fit
            centroids = centroids.sparkSession.createDataFrame(
                crows, proj.schema
            )
    use_arrow = assign_mode == "arrow" or (
        assign_mode == "auto" and len(crows) > ARROW_ASSIGN_KDIM
    )
    if use_arrow:
        if not crows:
            raise ValueError(
                "nearest_centroid_assign got an EMPTY centroid frame "
                "(did the label_centroids seed set filter to zero "
                "rows?) — there is no label to assign"
            )
        by_label: dict = {}
        for r in crows:
            by_label.setdefault(r["label"], {})[int(r["dim"])] = (
                float(r["centroid"]) if r["centroid"] is not None else 0.0
            )
        labels = sorted(by_label)
        dim = 1 + max(d for dims in by_label.values() for d in dims)
        C = np.array(
            [
                [by_label[lb].get(d, 0.0) for d in range(dim)]
                for lb in labels
            ],
            dtype=np.float64,
        )
        label_type = dict(centroids.dtypes)["label"]
        assign = _arrow_centroid_assign(C)
        tagged = (
            df.filter(
                F.col(vec_col).isNotNull() & (F.size(vec_col) > 0)
            )
            .select(
                F.col(id_col), assign(F.col(vec_col)).alias("__a")
            )
        )
        label_arr = F.array(*[F.lit(lb) for lb in labels])
        return tagged.select(
            id_col,
            F.element_at(label_arr, F.col("__a.label_idx") + 1)
            .cast(label_type)
            .alias("label"),
            F.col("__a.cosine").alias("cosine"),
        )

    ev = df.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("dim", "__v"),
    ).select(
        id_col,
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("__v").cast("double"), 7)
        .cast("decimal(20,8)")
        .alias("__v"),
    )
    c = centroids.select(
        "label",
        "dim",
        F.col("centroid").cast("decimal(18,6)").alias("__c"),
    )
    scored = (
        ev.join(F.broadcast(c), "dim")
        .groupBy(id_col, "label")
        .agg(
            F.sum(F.col("__v") * F.col("__c")).alias("__dot"),
            F.sum(F.col("__v") * F.col("__v")).alias("__vn"),
            F.sum(F.col("__c") * F.col("__c")).alias("__cn"),
        )
        .select(
            F.col(id_col),
            "label",
            # try_divide: a zero-norm vector or centroid yields NULL
            # cosine (sorts last in the window below) instead of an
            # ANSI DIVIDE_BY_ZERO abort — the semantics the Arrow
            # arm's -inf/NaN guard mirrors (r12 ADVICE)
            F.round(
                F.try_divide(
                    F.col("__dot").cast("double"),
                    F.sqrt(
                        F.col("__vn").cast("double")
                        * F.col("__cn").cast("double")
                    ),
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("cosine").desc(), F.col("label").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
