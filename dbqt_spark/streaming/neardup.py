"""Streaming NEAR-duplicate ingest gate — MinHash against an index of
the accepted docs.

``streaming/dedup.py`` gates exact duplicates; this module is the next
stage of the corpus front door: drop arriving documents that are
*near*-duplicates of anything already accepted, across micro-batches.
No reference analog (dbqt has no streaming surface); the shape follows
the standard ``foreachBatch`` + state-directory pattern used by
Kafka-to-lakehouse ingest pipelines, because Structured Streaming's
built-in stateful operators cannot express a similarity join.

Per micro-batch (``minhash_gate_batch``):

1. band-hash the batch's documents (ONE Arrow pandas_udf —
   ``operators.dedup.minhash_band_hashes``),
2. equi-join those bands against the index's live bands (only
   documents sharing an LSH bucket are candidates — never all-pairs),
3. exact-verify candidates with n-gram Jaccard against the stored
   texts (broadcast of the candidate ids only),
4. greedily keep batch survivors: within the batch, earlier ids win
   (driver-side greedy over the bounded verified pair set — the same
   first-wins contract ``dropDuplicates`` gives exact dedup),
5. append the survivors' bands (and, in stored-text mode, texts) to
   the store.

The gate's state is a MinHash index (``operators/minhash_index.py``):
the first batch commits the index manifest with the gate's banding
parameters, every batch appends its survivors' bands, and the index
helpers own the store layout and the parameter check. In stored-text
mode the accepted texts are the index's second family (``docs-<N>``,
``(corpus_id, text)``), read and filtered by the same tombstones as the
bands; pointer mode (``corpus=``) stores no text. So the index verbs
work on a gate store: ``minhash_index_query`` probes it,
``minhash_index_delete`` takes accepted docs down (bands and text are
hidden at once), and ``minhash_index_compact`` (offline, between gate
invocations) rewrites the per-batch append files, dropping a deleted
doc's bands and text from disk.

Scale notes: step 2's candidate join BROADCASTS the arriving batch's
band keys (micro-batch x bands rows of two longs — megabytes at any
realistic trigger size), so the store side is scanned in place with NO
shuffle at any store size (``test_neardup_store_join_no_store_exchange``).
A catalog-registered bucketed table also avoids the store-side
exchange, but pays seconds of metastore/commit overhead PER micro-batch
append (measured 4.5-35 s per ``saveAsTable`` vs 0.2 s for a plain
append); if micro-batches ever grow past broadcastable, it is the right
alternative and ``partitioning.write_bucketed`` provides it. State
grows with ACCEPTED (unique) docs only, the minimum any exact-verify
near-dup gate can hold. The within-batch greedy pulls only verified
pairs (not docs) to the driver, bounded by the bucket cap.
"""

from __future__ import annotations

import os

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import store
from ..operators.dedup import BROADCAST_PAIR_LIMIT, jaccard_shingle_udf
from ..operators.minhash_index import _LAYOUT, _band_key_rows, _open_index

# The verify kernel is SHARED with the batch operator
# (``operators.dedup.jaccard_shingle_udf``) so the gate's verdicts, the
# batch tier's, and the DuckDB oracles' can never diverge.


def minhash_gate_batch(
    batch_df: DataFrame,
    store_dir: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = 1000,
    driver_pair_limit: int | None = None,
    corpus: "DataFrame | None" = None,
) -> DataFrame:
    """Run one micro-batch through the near-dup gate; returns the KEPT
    rows (eagerly — the store append must happen inside the batch) and
    appends their bands + texts to ``store_dir``. Usable directly on
    batch frames for backfills, or inside ``foreachBatch``.

    ``corpus`` switches the store to POINTER mode (the minhash-index
    contract, r10): verify texts for store-side candidates come from
    the supplied (id_col, text_col) frame — which must cover every
    previously ACCEPTED doc — and the store keeps ONLY bands, never a
    second copy of the corpus text (at 100 TB the text store would
    duplicate the accepted corpus the caller already persists; the
    streaming wiring points at its own published output). Candidates
    whose text the corpus cannot supply drop at the verify's inner
    join — the streaming wiring's marker protocol guarantees coverage
    (an uncovered id can only belong to the CURRENT batch's crashed
    attempt, whose pairs the within-batch candidates already carry);
    standalone callers own that coverage contract.

    Fused shape (r7): the batch is band-hashed ONCE (one Arrow pass,
    persisted) and that frame feeds (a) the within-batch candidate
    self-join, (b) the cross-store broadcast candidate join, and (c) the
    survivor band append; within- and cross-store candidates are then
    exact-Jaccard-verified in ONE job (union tagged ``from_store``, both
    text attachments ride the same broadcast). The first gate shape ran
    ``minhash_near_duplicates`` for (a) and re-banded the survivors for
    (b)/(c) — three Arrow passes over the texts per micro-batch;
    per-batch LATENCY is the operative cost of a streaming gate, so the
    passes are fused. The fused gate runs 8 Spark jobs on a first batch
    and 20 on a batch against a stored index, appends included, before
    the caller's own action on the result (measured on perfbench's
    curation_store corpus, 300- and 372-doc batches, local[4]).
    Cross-store candidates are drawn from the FULL batch (not the
    within-batch survivors): the extra pairs belong to docs the
    within-greedy already dropped, so the kept set is identical and no
    ordering between the two phases is needed.

    Within-batch semantics: verified (id_a < id_b) pairs feed a greedy
    first-wins walk (earlier ids live — the same contract
    ``dropDuplicates`` gives exact dedup); cross-store matches then drop
    any batch doc near-duplicating an already-accepted one. The walk is
    HYBRID (same contract as ``clusters.connected_components``): pair
    sets within ``driver_pair_limit`` (default
    ``dedup.BROADCAST_PAIR_LIMIT``) resolve driver-side — instant, one
    bounded ids-only collect; a pathologically self-similar batch that
    overflows the limit switches to the distributed wavefront
    (``clusters.first_wins_dropped``) with identical semantics instead
    of aborting — pairs then never leave the cluster.

    Retry-safe: self-pairs (a doc matching its own already-appended copy
    after a mid-batch failure) are excluded from the cross-store
    candidates, so a re-executed batch keeps the same survivors; the
    duplicate band/doc rows a partial retry leaves in the store are
    harmless (duplicate candidate pairs re-verify idempotently and the
    greedy/store-match resolution walks SETS — r16 dropped the explicit
    pair distinct for exactly this reason). Exactly-once delivery of
    the OUTPUT is the caller's job via the batch-id marker
    (``streaming_minhash_dedup``)."""
    from ..operators.dedup import _candidate_pair_plan, _cap_buckets

    spark = batch_df.sparkSession
    meta = _open_index(
        store_dir, num_hashes, bands, shingle_n, max_bucket_size
    )
    external_texts = corpus is not None
    # NOT spread (measured, r16): fanning a single-partition micro-batch
    # out before the band hash (the r15 item-8 treatment) made the gate
    # 5x SLOWER warm (10.4 -> 53 s solo) — the gate runs 8-20 jobs per
    # batch (see above), and every one of them then schedules cores x
    # tasks + Arrow workers for ~1000-row inputs; the kernel itself is
    # not the bottleneck at trigger-bounded sizes. At corpus-scale
    # triggers the batch already arrives in many splits.
    docs = batch_df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )

    # 1. band-hash the batch once (persisted; the bucket-cap probe is
    #    the action that materializes the cache, so every later job
    #    reads the cached bands and the Arrow pass runs once). With no
    #    hot bucket the capped frame IS the cached one.
    batch_bands = _band_key_rows(
        docs, "id", "text", "id", num_hashes, bands, shingle_n
    ).persist()
    capped = batch_bands
    if max_bucket_size is not None:
        capped = _cap_buckets(batch_bands, ["band_key"], max_bucket_size)
    within_cand = _candidate_pair_plan(
        capped,
        ["band_key"],
        lambda a, b: [
            F.col("a.id").alias("qid"),
            F.col("b.id").alias("cid"),
        ],
        # the batch side is trigger-bounded (the same bound the
        # cross-store join broadcasts on), so the self-join can
        # broadcast one side — two shuffle stages fewer per
        # micro-batch; pairs never surface raw from the gate (verify
        # verdicts are per-pair idempotent, the greedy walks SETS), so
        # the cross-band dedup exchange goes too (r16, VERDICT #3)
        broadcast_self=True,
        distinct_pairs=False,
    )

    # 2. candidate pairs: within-batch (qid < cid, both batch-side) plus
    #    cross-store (qid batch-side, cid an accepted store doc) — the
    #    batch's band keys BROADCAST against the store scan, so the store
    #    is never shuffled at any size. The CAPPED frame feeds the cross
    #    join too (and the append below): capping symmetrically on every
    #    path is what keeps a retried batch's survivor set identical —
    #    an uncapped store side would resurrect exactly the pairs the
    #    within-batch cap suppressed. qid != cid excludes the self-pairs
    #    a retried batch's own store rows would produce. The union is
    #    persisted and COUNTED (it feeds both text joins; the verify
    #    broadcast is gated on the measured count, mirroring
    #    dedup.BROADCAST_PAIR_LIMIT).
    cands = within_cand.withColumn("from_store", F.lit(False))
    # both families are read live (tombstoned docs are invisible). A
    # stored-text first-batch retry after the bands append landed but
    # the docs append did not has no texts yet: it skips the
    # cross-store step (the store holds only this batch's own rows,
    # which the self-pair exclusion discards anyway).
    store_bands = store.live(spark, store_dir, meta, _LAYOUT, "bands")
    if external_texts:
        store_docs = corpus.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("text")
        )
    else:
        store_docs = store.live(spark, store_dir, meta, _LAYOUT, "docs")
        if store_docs is not None:
            store_docs = store_docs.withColumnRenamed("corpus_id", "id")
    has_store = store_bands is not None and store_docs is not None
    if has_store:
        cross_cand = (
            F.broadcast(capped.select(F.col("id").alias("qid"), "band_key"))
            .join(store_bands, "band_key")
            .filter(F.col("qid") != F.col("corpus_id"))
            .select("qid", F.col("corpus_id").alias("cid"))
            # no cross-band distinct (r16): duplicate pairs re-verify
            # idempotently and the store-match set dedupes; the saved
            # exchange is one stage-job per micro-batch. Duplicates
            # only inflate the broadcast-gate count conservatively.
            .withColumn("from_store", F.lit(True))
        )
        cands = cands.unionByName(cross_cand)
        # the candidate count gates the verify broadcasts when a store
        # participates (the store side must never shuffle, so cands is
        # measured before it is broadcast). The no-store first batch
        # skips this whole job: its verify joins broadcast the DOCS
        # side, which is trigger-bounded by construction.
        cands = cands.persist()
        n_cand = cands.count()
        bcast = F.broadcast if n_cand <= BROADCAST_PAIR_LIMIT else (
            lambda d: d
        )

    # 3. ONE exact-Jaccard verify job over the union: qid texts come
    #    from the batch; cid texts from the batch or the store according
    #    to the tag. The store side is pre-filtered by a semi-join on
    #    the candidate ids BEFORE its texts join anything — the store's
    #    documents are never moved in bulk (the r4 contract: texts stay
    #    off the broadcast path AND off any store-sized shuffle; only
    #    candidate-involved store rows travel).
    jac = jaccard_shingle_udf(shingle_n)
    if has_store:
        with_q = bcast(cands).join(
            docs.select(
                F.col("id").alias("qid"), F.col("text").alias("__tq")
            ),
            "qid",
        )
        c_sources = docs.select("id", "text").withColumn(
            "from_store", F.lit(False)
        )
        store_needed = store_docs.join(
            bcast(
                cands.filter("from_store")
                .select(F.col("cid").alias("id"))
                .distinct()
            ),
            "id",
            "left_semi",
        )
        c_sources = c_sources.unionByName(
            store_needed.select("id", "text").withColumn(
                "from_store", F.lit(True)
            )
        )
        with_qc = with_q.join(
            c_sources.select(
                F.col("id").alias("cid"),
                "from_store",
                F.col("text").alias("__tc"),
            ),
            ["cid", "from_store"],
        )
    else:
        # no-store fast path (stream's first batch / backfill start):
        # both text attachments broadcast the micro-batch itself, so the
        # candidate pipeline, text joins, and Jaccard verify fuse into
        # the single probe job below — no separate count job.
        with_qc = cands.join(
            F.broadcast(
                docs.select(
                    F.col("id").alias("qid"), F.col("text").alias("__tq")
                )
            ),
            "qid",
        ).join(
            F.broadcast(
                docs.select(
                    F.col("id").alias("cid"), F.col("text").alias("__tc")
                )
            ),
            "cid",
        )
    verified = (
        with_qc.withColumn("__j", jac("__tq", "__tc"))
        .filter(F.col("__j") >= threshold)
        .select("qid", "cid", "from_store")
    )
    # 4. first-wins resolution, HYBRID: the verified pair set (pairs,
    #    never docs; bucket-capped upstream) is limit-probed — within
    #    the driver limit it resolves as a driver-side greedy (instant);
    #    an over-limit (pathologically self-similar) batch switches to
    #    the distributed wavefront with identical semantics. No abort.
    limit = (
        BROADCAST_PAIR_LIMIT if driver_pair_limit is None
        else driver_pair_limit
    )
    verified = verified.persist()
    probe = verified.limit(limit + 1).collect()
    if len(probe) <= limit:
        verified.unpersist()
        vrows = [(r["qid"], r["cid"], r["from_store"]) for r in probe]
        within_rows = [(q, c) for q, c, s in vrows if not s]
        store_matched = {q for q, c, s in vrows if s}
        neighbors: dict = {}
        for a, b in within_rows:
            neighbors.setdefault(b, set()).add(a)
            neighbors.setdefault(a, set()).add(b)
        dropped_within: set = set()
        for did in sorted({i for pair in within_rows for i in pair}):
            # ascending: earlier ids decided first
            if any(
                n < did and n not in dropped_within
                for n in neighbors.get(did, ())
            ):
                dropped_within.add(did)
        dropped = dropped_within | store_matched
        dropped_df = None
        if dropped:
            # left-anti on a broadcast frame, not a literal isin()
            # IN-list: the dropped set is bounded but an IN-list grows
            # the PLAN with it; the anti-join keeps the plan
            # constant-size.
            dropped_df = F.broadcast(
                spark.createDataFrame(
                    [(i,) for i in sorted(dropped)],
                    schema=docs.select("id").schema,
                )
            )
    else:
        from ..operators.clusters import first_wins_dropped

        # distributed path: pairs stay on the cluster. The dropped
        # frame is localCheckpoint-ed (first_wins_dropped does so
        # internally per round; the union here is one more) so nothing
        # downstream references the verified lineage, then the caches
        # release. No broadcast hint on the anti-joins — the dropped
        # set is over-limit by construction, AQE picks the strategy.
        dropped_df = (
            first_wins_dropped(verified.filter(~F.col("from_store")),
                               id_a="qid", id_b="cid")
            .unionByName(
                verified.filter("from_store").select(
                    F.col("qid").alias("id")
                )
            )
            .distinct()
            .localCheckpoint()
        )
        verified.unpersist()

    batch_kept = docs
    band_append = capped
    if dropped_df is not None:
        batch_kept = docs.join(dropped_df, "id", "left_anti")
        band_append = capped.join(dropped_df, "id", "left_anti")
    if has_store:
        cands.unpersist()

    # 5. append the survivors' bands + texts to the store. The appended
    #    bands come from the cached CAPPED frame anti-joined to the
    #    dropped ids — no second band-hash pass over the texts, and the
    #    store only ever holds capped bands (symmetric with step 2, so a
    #    retry reproduces the same candidate set); the docs append
    #    executes ``batch_kept`` (one bounded micro-batch scan — document
    #    bytes never route through the driver; the survivor set is a
    #    deterministic anti-join, so the caller's later action on the
    #    returned frame re-derives the same rows). The two appends touch
    #    DISJOINT directories from independent cached inputs, so they
    #    run as CONCURRENT jobs — per-batch latency pays one append's
    #    scheduling + commit latency, not two (measured ~0.5 s/batch).
    #    Both land in the live generation's family dirs; the submits
    #    carry the caller's job group into the pool threads.
    from concurrent.futures import ThreadPoolExecutor

    def _do_bands() -> None:
        band_append.select(
            F.col("id").alias("corpus_id"), "band_key"
        ).write.mode("append").parquet(
            _LAYOUT.live_dir(store_dir, "bands", meta)
        )

    def _do_docs() -> None:
        batch_kept.select(
            F.col("id").alias("corpus_id"), "text"
        ).write.mode("append").parquet(
            _LAYOUT.live_dir(store_dir, "docs", meta)
        )

    if external_texts:
        _do_bands()  # pointer mode: bands are the whole store
    else:
        inherit = inheritable_thread_target(spark)
        with ThreadPoolExecutor(max_workers=2) as pool:
            futs = [
                pool.submit(inherit(_do_bands)),
                pool.submit(inherit(_do_docs)),
            ]
            for f in futs:
                f.result()
    batch_bands.unpersist()
    return batch_kept


def streaming_minhash_dedup(
    stream_df: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    store_texts: bool = True,
):
    """Wire the gate into a stream: every micro-batch flows through
    ``minhash_gate_batch``; survivors append to ``out_dir``. Returns the
    StreamingQuery (caller awaits termination).

    Idempotent under micro-batch retries (the foreachBatch contract):
    each batch's survivors land in their own ``out_dir/batch_id=N``
    partition, committed by the manifest marker
    (``publish.publish_batch`` — crash-safe on local filesystems, no
    renames), so a retry REPLACES a half-published batch instead of
    appending next to it — no duplicate output rows in any failure
    window. The per-batch
    marker then short-circuits fully-processed batches, and the gate
    itself excludes self-pairs so a partially-appended store does not
    change a re-run's survivors. Read the output with
    ``publish.read_published`` (crash-consistent) or plain
    ``spark.read.parquet(out_dir)`` after a clean finish — both surface
    ``batch_id`` as a lineage column.

    ``store_texts=False`` switches the gate store to POINTER mode: the
    accepted corpus already lives in ``out_dir``, so verify texts come
    from the committed batches there (``read_published``) and the store
    keeps only bands — no second copy of the corpus text. Coverage is
    the marker protocol's guarantee: every accepted doc outside the
    current batch belongs to a committed batch (a crashed attempt's
    uncommitted docs can only collide with the retry of the SAME batch,
    whose pairs the within-batch candidates already carry)."""
    from .publish import committed_batches, publish_batch, read_published

    store.require_local(store_dir, out_dir)

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        marker = (os.path.join(store_dir, "_batches"), f"{batch_id}.done")
        if store.has_marker(*marker):
            return  # retried batch already fully processed
        corpus = None
        if not store_texts:
            corpus = (
                read_published(batch_df.sparkSession, out_dir)
                if committed_batches(out_dir)
                # first batch: nothing published yet — an EMPTY corpus
                # keeps the gate in pointer mode (no docs dir is ever
                # created); there is nothing to verify against anyway
                else batch_df.select(id_col, text_col).limit(0)
            )
        kept = minhash_gate_batch(
            batch_df, store_dir, threshold, text_col, id_col,
            corpus=corpus,
        )
        # publish the output, THEN write the gate marker: every crash
        # window re-runs into the same final state.
        publish_batch(
            kept.withColumnRenamed("id", id_col).withColumnRenamed(
                "text", text_col
            ),
            out_dir,
            batch_id,
        )
        store.write_marker(*marker)

    return (
        stream_df.writeStream.foreachBatch(gate)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
