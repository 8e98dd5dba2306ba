"""Persisted MinHash band index — dedup-against-corpus as a LIFECYCLE.

Beyond the reference surface (north star). ``minhash_cross_near_duplicates``
needs both frames live, so deduping every new crawl against a 100 TB
corpus would re-band the corpus per crawl. This module bands the corpus
ONCE into an on-disk index and lets every future crawl probe it, as a
write/append/query/compact/delete lifecycle (mirroring the ANN stores'
``lsh_write``/``ivf_append`` contracts in ``operators/similarity.py``).

It is the only code that knows the MinHash store layout (``_LAYOUT``).
The streaming near-dup gate (``streaming/neardup.py``) keeps its state
in a MinHash index through ``_open_index``, ``_band_key_rows`` and
``_LAYOUT``, so a gate store is an index: ``minhash_index_query``
probes it, ``minhash_index_delete`` tombstones it and
``minhash_index_compact`` compacts it.

Layout at ``path`` (v2)::

    meta.json       banding parameters + format tag + generation N +
                    optional corpus_location + tombstone generation —
                    the MANIFEST: readers resolve data dirs through it
    bands-<N>/      parquet (corpus_id, band_key)
    docs-<N>/       parquet (corpus_id, text) — a stored-text gate's
                    accepted texts; an index built by
                    ``minhash_index_write`` and a pointer-mode gate
                    have none

plus the live tombstone set of ``minhash_index_delete`` (``store.delete``):
probes and the gate read both families without its ids, and compaction
physically drops their bands AND texts and retires it.

An index built by ``minhash_index_write`` stores NO corpus content
(only a stored-text gate keeps ``docs-<N>``). v1 kept a ``docs/`` dir of
``(corpus_id, text)`` for the exact-Jaccard verify — a second copy of
the ENTIRE corpus inside the index (~100 TB against a 100 TB corpus).
Storing per-doc shingle-hash sets instead was measured WORSE for
prose-length docs (64-bit hashes of ~1 distinct shingle per token cost
~8 B/token; parquet-compressed text costs ~2-3 B/token — the hash
arrays came out ~3x the text bytes on the synthetic corpus). The
scale-correct representation is a POINTER: the verify reads texts from
the corpus the caller already stores exactly once — either a frame
passed to ``minhash_index_query(corpus=...)`` or the parquet path
recorded in the manifest at write time (``corpus_location``). The
index itself holds just ``bands`` per doc — a fixed ~(16 bands x 16 B)
per doc, independent of document length, a vanishing fraction of any
real corpus. The caller's contract: the corpus at that pointer still
contains every indexed (id, text) row — the same immutability
data lakes already guarantee for any derived artifact.

Commit protocol (``dbqt_spark.store``, crash-safe on local
filesystems): data is only ever written under generation-unique
directory names; ``meta.json`` is committed LAST (atomic temp-file
replace) and is the single commit point. Data directories are never
renamed. A crash at any point, the manifest commit included, leaves
the old manifest pointing at the old (complete) generation; orphan
``bands-*``/``docs-*`` dirs from crashed writes/compactions are garbage, not
corruption, and are swept by the next commit. Store I/O is
local-filesystem only.

Scale shape of a query: the crawl is band-hashed in ONE Arrow pass
(``dedup.minhash_band_hashes``), its (id, band_key) rows BROADCAST
against the band scan — the index side is read in place with no shuffle
at any index size (the same plan property as the streaming gate's
candidate join) — and the verify is ``dedup._attach_texts_and_verify``,
the SAME Jaccard kernel as the live-frames operator and the streaming
gate (verdict parity by construction): only candidate-involved docs' texts
ever move, via id-pruned scans of the crawl and the corpus pointer.
Bucket caps apply symmetrically: the stored bands are capped per
append batch, the query side per probe, with drops observable through
``drop_stats`` ({'query': ..., 'index': ...} — the same accounting
parity as ``minhash_cross_near_duplicates``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import store
from .dedup import (
    _attach_texts_and_verify,
    _cap_buckets,
    _spread,
    minhash_band_hashes,
)

MINHASH_INDEX_BUCKETS = 32
_FORMAT = "minhash_index_v2"
# one tombstone key for both families: a takedown hides a doc's bands
# and its stored text, and compaction drops both
_LAYOUT = store.Layout(("bands", "docs"), key="corpus_id", legacy=False)


def _band_key_rows(
    df: DataFrame,
    out_id: str,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> DataFrame:
    """(out_id, band_key) rows — one Arrow pass, band id folded into a
    single join key (a cross-band xxhash64 collision only adds a
    candidate the exact verify discards). The caller decides whether to
    ``_spread`` ``df`` first: the index verbs do, the gate does not."""
    return df.select(
        F.col(id_col).alias(out_id),
        F.posexplode(
            minhash_band_hashes(text_col, num_hashes, bands, shingle_n)
        ).alias("band_id", "band_hash"),
    ).select(out_id, F.xxhash64("band_id", "band_hash").alias("band_key"))


def _manifest(
    num_hashes: int,
    bands: int,
    shingle_n: int,
    max_bucket_size: int | None,
    generation: int,
    corpus_location: str | None = None,
) -> dict:
    return {
        "num_hashes": num_hashes,
        "bands": bands,
        "shingle_n": shingle_n,
        "max_bucket_size": max_bucket_size,
        "store_format": _FORMAT,
        "generation": generation,
        "corpus_location": corpus_location,
    }


def _load_meta(path: str) -> dict:
    """The manifest of the index at ``path``, after the format checks.
    Every refusal happens here, before any Spark job and before any
    commit: a commit sweeps unreferenced ``docs`` entries, so a store
    with a plain ``docs/`` dir must never reach one."""
    meta = store.read_manifest(
        path, missing="build a MinHash index with minhash_index_write first"
    )
    fmt = meta.get("store_format")
    regate = (
        "re-run minhash_gate_batch over the accepted docs into a fresh "
        "store_dir"
    )
    if fmt != _FORMAT:
        rebuild = (
            f"{regate} (gate stores now keep their state in a MinHash index)"
            if fmt == "plain_bands_v3"
            else "rebuild with minhash_index_write (v1 duplicated corpus "
            "text into the index; v2 stores bands only and resolves texts "
            "through a corpus pointer)"
        )
        raise ValueError(
            f"MinHash index at {path} has store_format={fmt!r}, expected "
            f"{_FORMAT!r} — {rebuild}"
        )
    if os.path.isdir(os.path.join(path, "docs")):
        raise ValueError(
            f"MinHash index at {path} holds gate texts in a plain docs/ "
            f"dir that no takedown can remove — {regate} (texts now live "
            "in generation-named docs-<N> dirs)"
        )
    return meta


def _open_index(
    path: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
    max_bucket_size: int | None,
) -> dict:
    """The manifest of the index at ``path``, committing an empty
    index's manifest first when there is none. Refuses an index built
    with other banding parameters: bands computed under different
    (num_hashes, bands, shingle_n) never equi-join each other, so a
    parameter drift would silently miss every near-duplicate across
    batches."""
    if not store.read_manifest(path):
        meta = _manifest(
            num_hashes, bands, shingle_n, max_bucket_size,
            _LAYOUT.next_generation({}),
        )
        store.commit_manifest(path, meta, _LAYOUT)
        return meta
    meta = _load_meta(path)
    params = {"num_hashes": num_hashes, "bands": bands, "shingle_n": shingle_n}
    stored = {k: meta.get(k) for k in params}
    if stored != params:
        raise ValueError(
            f"MinHash index at {path} was built with {stored}; refusing "
            f"to gate with {params} — matching would silently fail"
        )
    return meta


def _write_capped(
    banded: DataFrame,
    band_path: str,
    mode: str,
    cap: int | None,
    drop_stats: dict | None,
) -> None:
    if cap is None:
        banded.write.mode(mode).parquet(band_path)
        return
    banded = banded.persist()
    _cap_buckets(banded, ["band_key"], cap, drop_stats).write.mode(
        mode
    ).parquet(band_path)
    banded.unpersist()


def minhash_index_write(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = 1000,
    drop_stats: dict | None = None,
    corpus_location: str | None = None,
) -> None:
    """Build the index from a corpus: band rows + manifest. Overwrites
    an existing index at ``path`` by committing a NEW generation (the
    old one becomes an orphan and is swept). Oversized band buckets are
    dropped (observable via ``drop_stats``) so no stored bucket is ever
    a quadratic candidate bomb for future probes.

    ``corpus_location`` (optional) records where the corpus parquet
    lives so ``minhash_index_query`` can resolve verify texts without
    the caller re-passing the frame. The index never copies the texts."""
    generation = _LAYOUT.next_generation(store.read_manifest(path))
    banded = _band_key_rows(
        _spread(df), "corpus_id", text_col, id_col, num_hashes, bands,
        shingle_n,
    )
    _write_capped(
        banded, _LAYOUT.data_dir(path, "bands", generation), "overwrite",
        max_bucket_size,
        drop_stats,
    )
    # COMMIT POINT: the manifest write publishes the new generation. A
    # crash before this line leaves the previous manifest (if any)
    # pointing at its own complete generation — never new-parameter
    # bands under old-parameter meta.
    store.commit_manifest(
        path,
        _manifest(
            num_hashes, bands, shingle_n, max_bucket_size, generation,
            corpus_location,
        ),
        _LAYOUT,
    )


def minhash_index_append(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    drop_stats: dict | None = None,
) -> None:
    """Append a corpus batch's bands to the CURRENT generation. The
    banding parameters come from meta.json — bands computed under
    different (num_hashes, bands, shingle_n) never equi-join each
    other, so the stored ones are the only safe choice. The per-batch
    bucket cap is re-applied; note a band_key can still accrue up to
    cap x n_batches rows across appends. Bands are the ONLY stored
    artifact, so a partial append cannot leave bands without texts;
    the corpus pointer is the caller's, updated on their side before
    or after, and an indexed id missing from it fails the probe loudly
    via ``verify_missing`` accounting in minhash_index_query."""
    meta = _load_meta(path)
    banded = _band_key_rows(
        _spread(df),
        "corpus_id",
        text_col,
        id_col,
        int(meta["num_hashes"]),
        int(meta["bands"]),
        int(meta["shingle_n"]),
    )
    cap = meta.get("max_bucket_size")
    _write_capped(
        banded,
        _LAYOUT.live_dir(path, "bands", meta),
        "append",
        None if cap is None else int(cap),
        drop_stats,
    )


def minhash_index_delete(spark: SparkSession, path: str, ids) -> None:
    """Takedown/opt-out verb (VERDICT r12 #4): record corpus ids as
    TOMBSTONES so ``minhash_index_query`` (and a gate over the index)
    never returns a pair involving them again; the next
    ``minhash_index_compact`` physically drops their band rows, and on
    a stored-text gate store their texts (and the tombstones with
    them). ``ids`` is a DataFrame (first column) or an iterable of id
    values. Commit protocol and semantics: ``store.delete``."""
    store.delete(spark, path, _load_meta(path), _LAYOUT, ids)


def minhash_index_compact(spark: SparkSession, path: str) -> None:
    """Rewrite bands into ``MINHASH_INDEX_BUCKETS`` band_key-clustered,
    key-sorted files, and a gate store's texts into as many
    corpus_id-clustered ones (appends leave files per batch).
    Tombstoned ids are dropped PHYSICALLY from both families, the
    storage reclaim of the takedown verb. Offline maintenance — run it
    between gate invocations, not concurrently with one — with the
    commit protocol of ``store.compact``. An index with no bands yet
    is left as it is."""

    def rewrite(family: str, rows: DataFrame):
        key = "band_key" if family == "bands" else "corpus_id"
        return (
            rows.repartition(MINHASH_INDEX_BUCKETS, key)
            .sortWithinPartitions(key)
            .write
        )

    store.compact(spark, path, _load_meta(path), _LAYOUT, rewrite)


def minhash_index_query(
    query_df: DataFrame,
    path: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = 1000,
    drop_stats: dict | None = None,
    broadcast_query: bool = True,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs of a new crawl against the index: (query_id,
    corpus_id, jaccard) — the ``minhash_cross_near_duplicates`` result
    contract, computed WITHOUT re-banding the corpus. Ids are
    independent keyspaces (no self-pair exclusion); disjointness is the
    caller's contract, exactly as in the live-frames operator.

    ``corpus`` supplies the verify texts (the index stores none): a
    frame with (``id_col``, ``text_col``) covering every indexed doc.
    When omitted, the manifest's ``corpus_location`` (recorded by
    ``minhash_index_write``) is read as parquet. Candidates whose
    corpus_id is missing from the supplied corpus would otherwise
    vanish in the verify's inner join — they are counted instead and
    reported via ``drop_stats['verify_missing']``; a non-zero value
    means the corpus pointer is stale (fail loudly upstream, don't
    trust the pair set).

    ``broadcast_query=True`` (the default, and the point of an index —
    crawls are batch-sized, the corpus is the big side) broadcasts the
    crawl's band keys against the band scan so the index never
    shuffles. For a corpus-sized crawl pass ``False``: the candidate
    join becomes a band_key shuffle on both sides (at that scale
    ``minhash_cross_near_duplicates`` over live frames is usually the
    better tool).

    The result is localCheckpoint-ed (no lineage back to the probe
    caches, which are released before returning)."""
    meta = _load_meta(path)
    spark = query_df.sparkSession
    if corpus is None:
        loc = meta.get("corpus_location")
        if not loc:
            raise ValueError(
                "minhash_index_query needs verify texts: pass corpus=... "
                "or build the index with corpus_location set — the index "
                "stores bands only, never corpus text"
            )
        corpus = spark.read.parquet(loc)
    q_bands = _band_key_rows(
        _spread(query_df),
        "query_id",
        text_col,
        id_col,
        int(meta["num_hashes"]),
        int(meta["bands"]),
        int(meta["shingle_n"]),
    )
    q_capped = q_bands
    if max_bucket_size is not None:
        q_bands = q_bands.persist()
        stats = None if drop_stats is None else {}
        q_capped = _cap_buckets(
            q_bands, ["band_key"], max_bucket_size, stats
        )
        if drop_stats is not None:
            drop_stats["query"] = stats
            # stored-side drops happened at write/append time; surface
            # the cap so callers know the symmetric guard was applied
            drop_stats["index"] = {
                "max_bucket_size": meta.get("max_bucket_size")
            }
    # tombstoned corpus ids never become candidates (deleted docs are
    # invisible the moment the delete commits, pre-compaction); a gate
    # store before its first append has no bands and so no candidates
    store_bands = store.live(spark, path, meta, _LAYOUT, "bands")
    if store_bands is None:
        store_bands = q_bands.select(
            F.col("query_id").alias("corpus_id"), "band_key"
        ).limit(0)
    q_side = F.broadcast(q_capped) if broadcast_query else q_capped
    cands = (
        q_side.join(store_bands, "band_key")
        .select("query_id", "corpus_id")
        .distinct()
        .persist()
    )
    n_cand = cands.count()
    corpus_docs = corpus.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__t")
    )
    if drop_stats is not None and n_cand > 0:
        # stale-pointer guard: candidates whose text the corpus pointer
        # can no longer supply (left anti join moves only candidate ids)
        drop_stats["verify_missing"] = (
            cands.select(F.col("corpus_id").alias("__id"))
            .distinct()
            .join(corpus_docs.select("__id"), "__id", "left_anti")
            .count()
        )
    verified = _attach_texts_and_verify(
        cands,
        n_cand,
        query_df.select(
            F.col(id_col).alias("__id"), F.col(text_col).alias("__t")
        ),
        corpus_docs,
        "query_id",
        "corpus_id",
        int(meta["shingle_n"]),
        threshold,
    )
    result = verified.localCheckpoint()
    cands.unpersist()
    if max_bucket_size is not None:
        q_bands.unpersist()
    return result
