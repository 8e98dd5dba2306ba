"""Streaming SEMANTIC near-duplicate ingest gate — embedding cosine
against a persisted IVF index.

The third stage of the corpus front door (VERDICT r10 ask #6):
``streaming/dedup.py`` gates exact duplicates, ``streaming/neardup.py``
gates MinHash text near-dups, and this module gates SEMANTIC
duplicates — arriving embedded documents that say the same thing as an
already-accepted one (paraphrases, translations, re-crawls through a
different template) without sharing enough n-grams for MinHash to see.
No reference analog (dbqt has no streaming surface); the shape is the
same ``foreachBatch`` + state-directory pattern as the MinHash gate,
because a similarity join is inexpressible in built-in stateful
operators.

Per micro-batch (``semantic_gate_batch``):

1. WITHIN-batch pairs: batch vectors are cell-blocked (the stored IVF
   centroids via the same Arrow assignment kernel as the index build —
   ``similarity._assign_cells`` — or, on the very first batch, a fresh
   ``kmeans.semantic_near_dup_pairs`` clustering) and each cell scores
   as ONE Arrow matmul; pairs at or above ``threshold`` feed a greedy
   first-wins walk (earlier ids live — the exact-dedup contract).
2. CROSS-corpus probe: the within-survivors kNN-join THROUGH the index
   (``similarity.ivf_knn_join`` — query cells from the Arrow kernel,
   cell equi-join against the partition-pruned store, per-query
   bounded top-k). A nearest accepted neighbor at or above
   ``threshold`` drops the arrival.
3. Survivors are APPENDED to the index (``similarity.ivf_append``) —
   which HONORS THE DRIFT GUARD: a batch whose distribution the stored
   centroids no longer describe is refused with the retrain message
   rather than silently degrading every future probe's recall. A
   streaming deployment that hits it rebuilds offline (``ivf_build`` +
   ``ivf_write``) and resumes; the gate deliberately does not hide
   that decision.

Scale notes: per-batch state is the batch itself plus O(probed cells)
of the store — the store is cell-partitioned parquet, so the probe
scan prunes to the probed cells' directories at any index size; the
within-batch matmul is capped per cell (``max_cell_size``, drop
accounting) exactly like the batch SemDeDup operator. The index holds
VECTORS for accepted docs only (ids + embeddings — the minimum any
cosine verifier can hold; text never enters the store, mirroring the
MinHash gate's pointer mode). Appends add one file per touched cell;
run ``similarity.ivf_compact`` between ingest windows.

Retry safety mirrors the MinHash gate: self-matches (a doc probing its
own already-appended copy after a mid-batch crash) are excluded by id,
so a re-executed batch keeps the same survivors; duplicate appended
vectors only add self-candidates that the id exclusion discards.
Exactly-once OUTPUT is the marker protocol's job
(``streaming_semantic_dedup``).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import store
from ..operators.dedup import _cap_buckets
from ..operators.similarity import (
    _assign_cells,
    ivf_append,
    ivf_build,
    ivf_knn_join,
    ivf_load,
    ivf_write,
)


def _cell_blocked_pairs(
    vecs: DataFrame,
    centroids: "list[list[float]] | None",
    threshold: float,
    max_cell_size: "int | None",
    k: int,
    drop_stats: "dict | None" = None,
    known_small: bool = False,
) -> DataFrame:
    """(id_a, id_b) within-batch pairs at cosine >= threshold.
    With stored centroids: one Arrow cell assignment + one matmul per
    cell (the ``kmeans.semantic_near_dup_pairs`` scoring kernel).
    Without (first batch): a bounded probe decides — a batch within
    ``max_cell_size`` scores as ONE cell (exact, one matmul — a
    micro-batch is trigger-bounded by construction); a bigger backfill
    batch falls back to the full SemDeDup operator clustering the
    batch itself (cell-capped with the standard drop semantics)."""
    from ..operators.kmeans import semantic_near_dup_pairs

    if centroids is None:
        bound = max_cell_size or 4_000
        # known_small: the caller already ran the bounded count (the
        # exhaustive_within guard) — don't pay the probe job twice
        small = known_small or (
            vecs.limit(bound + 1).count() <= bound
        )
        if not small:
            inner: "dict | None" = {} if drop_stats is not None else None
            pairs = semantic_near_dup_pairs(
                vecs, threshold=threshold, k=k, iters=2,
                vec_col="__v", id_col="__id",
                max_cluster_size=max_cell_size,
                drop_stats=inner,
            ).select("id_a", "id_b")
            if drop_stats is not None:
                # one drop_stats contract per gate, whichever arm ran:
                # the SemDeDup operator reports clusters, this module
                # reports cells — same thing here (its clusters ARE the
                # blocking cells)
                drop_stats["n_dropped_cells"] = inner.get(
                    "n_dropped_clusters", 0
                )
                drop_stats["n_dropped_rows"] = inner.get(
                    "n_dropped_rows", 0
                )
            return pairs
        clustered = vecs.withColumn("cell", F.lit(0))
    else:
        # multi-probe blocking (n_assign=2): each batch vector lands in
        # its TWO nearest cells, so a near-dup pair straddling a cell
        # boundary — the classic single-probe recall hole, and the
        # common case when the index was born from a small first batch
        # whose centroids don't span new directions — still shares a
        # cell; duplicate pairs from the replication dedupe below
        C = np.array(centroids, dtype=np.float64)
        clustered = _assign_cells(vecs, C, "__v", min(2, len(C)))
    if max_cell_size is not None:
        # the shared bucket cap keyed on the cell: one bounded probe job
        # collects the over-cap cells (at most n_cells rows) and their
        # drop counts — an over-cap cell that skips verification must be
        # VISIBLE — and the pair plan anti-joins them as a LocalRelation
        stats = None if drop_stats is None else {}
        clustered = _cap_buckets(clustered, ["cell"], max_cell_size, stats)
        if stats is not None:
            drop_stats["n_dropped_cells"] = stats["n_dropped_buckets"]
            drop_stats["n_dropped_rows"] = stats["n_dropped_rows"]

    def pair_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
            }
        )
        if len(pdf) < 2:
            return empty
        ids = pdf["__id"].to_numpy()
        M = np.array(pdf["__v"].tolist(), dtype=np.float64)
        norms = np.sqrt((M * M).sum(axis=1))
        S = (M @ M.T) / np.outer(norms, norms)
        iu, ju = np.triu_indices(len(ids), k=1)
        keep = np.round(S[iu, ju], 4) >= threshold
        if not keep.any():
            return empty
        a, b = ids[iu[keep]], ids[ju[keep]]
        return pd.DataFrame(
            {
                "id_a": np.minimum(a, b).astype("int64"),
                "id_b": np.maximum(a, b).astype("int64"),
            }
        )

    pairs = clustered.groupBy("cell").applyInPandas(
        pair_cell, "id_a long, id_b long"
    )
    if centroids is None:
        # single-cell arm: every pair comes from one triu pass, so the
        # frame is unique by construction — the dedup exchange would
        # be pure overhead (r15 optimization round)
        return pairs
    # multi-assignment replication can emit the same pair from two
    # shared cells — dedupe
    return pairs.dropDuplicates(["id_a", "id_b"])


def semantic_gate_batch(
    batch_df: DataFrame,
    index_dir: str,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    n_probes: int = 3,
    n_cells: int = 16,
    max_cell_size: "int | None" = 4_000,
    max_drift: float = 4.0,
    exhaustive_within: bool = False,
    drop_stats: "dict | None" = None,
) -> DataFrame:
    """Run one micro-batch through the semantic gate; returns the KEPT
    rows (eagerly — the index append must happen inside the batch) and
    appends their vectors to the IVF index at ``index_dir``. Usable
    directly on batch frames for backfills, or inside ``foreachBatch``.

    First batch (no index yet): within-batch SemDeDup only, then
    ``ivf_build`` + ``ivf_write`` on the survivors — the index is born
    from the first accepted corpus, with the drift baseline stored for
    every later append. Later batches: within-batch pairs block on the
    STORED centroids (no re-clustering), survivors probe the index
    (top-1 accepted neighbor via ``ivf_knn_join``; cosine >= threshold
    drops the arrival), and the final keepers ``ivf_append`` — which
    REFUSES drifted batches (see module docstring).

    Within-batch semantics: greedy first-wins over the verified pairs,
    driver-side over the bounded pair set (pairs only — never
    vectors). ``exhaustive_within=True`` forces the single-cell exact
    arm for the within-batch pairs regardless of the index (one matmul
    over the whole batch — bounded by ``max_cell_size``, refused
    above it): exact semantics for trigger-bounded micro-batches, and
    what makes the gate's DuckDB oracle an exact twin when paired with
    a full probe (``n_probes = n_cells``)."""
    spark = batch_df.sparkSession
    vecs = batch_df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).filter(F.col("__v").isNotNull())
    meta = store.read_manifest(index_dir)
    has_index = bool(meta)
    centroids = None
    assigned = None
    single_assign = True
    if has_index:
        assigned, centroids = ivf_load(spark, index_dir)
        # single-assigned index => cells PARTITION the corpus, so the
        # probe join can never emit a (query, candidate) pair twice —
        # tell the kNN join to skip its replica-dedup exchange
        single_assign = int(meta.get("n_assign", 1)) == 1

    # 1. within-batch first-wins over cell-blocked cosine pairs
    if exhaustive_within:
        bound = max_cell_size or 4_000
        if vecs.limit(bound + 1).count() > bound:
            raise ValueError(
                f"exhaustive_within needs the batch inside "
                f"max_cell_size={bound} rows — shrink the trigger or "
                "use the blocked default"
            )
        pairs = _cell_blocked_pairs(
            vecs, None, threshold, max_cell_size, k=min(n_cells, 8),
            drop_stats=drop_stats, known_small=True,
        ).collect()
    else:
        pairs = _cell_blocked_pairs(
            vecs, centroids, threshold, max_cell_size, k=min(n_cells, 8),
            drop_stats=drop_stats,
        ).collect()
    dropped: set = set()
    for r in sorted(pairs, key=lambda r: (r["id_a"], r["id_b"])):
        if r["id_a"] not in dropped:
            dropped.add(r["id_b"])
    survivors = vecs.filter(~F.col("__id").isin(list(dropped)))

    # 2. cross-corpus probe through the index (skip on first batch)
    if has_index:
        hits = (
            ivf_knn_join(
                survivors.select(
                    F.col("__id").alias("query_id"),
                    F.col("__v").alias("embedding"),
                ),
                assigned,
                centroids,
                # k covers the retried batch's own stored copy (excluded
                # below) plus one genuine neighbor; min_cosine prunes
                # everything below the gate threshold BEFORE the
                # ranking window — the window then shuffles matches,
                # not the probed corpus
                k=2,
                n_probes=n_probes,
                query_id_col="query_id",
                min_cosine=threshold,
                unique_candidates=single_assign,
            )
            # self-match exclusion: a retried batch's own appended copy
            .filter(F.col("query_id") != F.col("vec_id"))
            .select(F.col("query_id").alias("__hit"))
        )
        survivors = survivors.join(
            hits, survivors["__id"] == hits["__hit"], "left_anti"
        )

    kept = batch_df.join(
        survivors.select(F.col("__id").alias(id_col)), id_col
    ).localCheckpoint()

    # 3. index maintenance: first batch births the index, later ones
    #    append under the drift guard
    kept_vecs = kept.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    )
    if not has_index:
        if kept_vecs.first() is not None:
            built, cents = ivf_build(kept_vecs, n_cells=n_cells)
            # compact_cells: the batch is trigger-bounded, so one file
            # per cell is the right layout at any scale (r15)
            ivf_write(built, cents, index_dir, compact_cells=True)
    else:
        ivf_append(
            kept_vecs, index_dir, max_drift=max_drift, compact_cells=True
        )
    return kept


def streaming_semantic_dedup(
    stream_df: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    n_probes: int = 3,
):
    """Wire the semantic gate into a stream: every micro-batch flows
    through ``semantic_gate_batch``; survivors publish to ``out_dir``.
    Returns the StreamingQuery (caller awaits termination).

    Same exactly-once contract as ``streaming_minhash_dedup``:
    survivors land per-batch via the manifest-marker publish protocol
    (``publish.publish_batch`` — data first, marker last, no renames),
    a gate marker short-circuits fully-processed batches on retry, and
    the gate's self-match exclusion keeps a partially-appended index
    from changing a re-run's survivors."""
    from .publish import publish_batch

    store.require_local(index_dir, out_dir)

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        marker = (os.path.join(index_dir, "_batches"), f"{batch_id}.done")
        if store.has_marker(*marker):
            return
        kept = semantic_gate_batch(
            batch_df, index_dir, threshold, vec_col, id_col, n_probes
        )
        publish_batch(kept, out_dir, batch_id)
        store.write_marker(*marker)

    return (
        stream_df.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
