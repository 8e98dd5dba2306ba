"""Deduplication operators — exact and near-duplicate, designed for the
100 TB training-data path (BASELINE.json north star; no reference analog).

- Exact: hash-groupBy on a normalized fingerprint — one shuffle on the
  hash, map-side partial aggregation.
- MinHash + LSH: ONE Arrow ``pandas_udf`` computes each doc's band hashes
  straight from the text (numpy signature + band fold — a narrow map, no
  shingle explode, no window sort, no 32-MIN shuffle), candidate pairs
  come from a self-join on (band, band_hash) over capped buckets, and
  exact Jaccard on the candidates' shingle sets verifies. The only
  shuffles are the band-bucket join and the final pair dedup. This is the
  standard scalable near-dup pipeline (shingle/minhash/band from Broder's
  resemblance work, as used by web-scale corpora dedup).
- SimHash: 64-bit token-hash sign-aggregation per doc (one Arrow
  ``pandas_udf`` pass); near-dups are pairs within Hamming distance k
  (verified on banded buckets).

Tokenization note: every Python-side tokenizer here splits on ASCII
whitespace (``_ascii_tokens``) to match the Java/RE2 ``\\s+`` semantics of
``normalize_text``/``shingle_rows`` and the DuckDB oracles — Python's
``str.split()`` would also split on Unicode whitespace (\\xa0, \\u2028,
\\x85, ...) and silently diverge on non-ASCII input.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Mersenne prime 2^31-1 for the universal-hash permutations: with a 31-bit
# hash domain, a*h+b < 2^62 stays inside int64 (Spark ANSI mode forbids
# silent overflow; 128-bit modular math isn't available JVM-side).
_P = (1 << 31) - 1

# Java/RE2 \s — ASCII whitespace only. See module docstring.
_ASCII_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _ascii_tokens(text: str | None) -> list[str]:
    """lower + ASCII-whitespace split — the Python twin of
    ``normalize_text`` + split-on-space (same tokens, since empty edge
    tokens are dropped)."""
    return [t for t in _ASCII_WS.split((text or "").lower()) if t]


def normalize_text(text_col: str = "text") -> "F.Column":
    return F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))


def _spread(df: DataFrame) -> DataFrame:
    """See ``utils.spread_small_scan`` — promoted there in r15 so the
    other heavy narrow-map operators (textstats, classifier, url
    canonicalization, synth parse chains) share the same small-input
    fan-out the dedup tiers have used since r7."""
    from ..utils import spread_small_scan

    return spread_small_scan(df)


def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(fingerprint, dup_count, min_id) for groups with >1 member."""
    return (
        df.select(F.col(id_col), F.md5(normalize_text(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("dup_count") > 1)
    )


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the min-id row per exact-duplicate group. Implemented as a
    groupBy + semi-join on (fingerprint, min_id) rather than a window: the
    aggregation combines map-side and avoids a full per-group sort."""
    with_fp = df.withColumn("__fp", F.md5(normalize_text(text_col)))
    keepers = with_fp.groupBy("__fp").agg(F.min(id_col).alias("__keep"))
    return (
        with_fp.join(
            keepers,
            (with_fp["__fp"] == keepers["__fp"])
            & (with_fp[id_col] == keepers["__keep"]),
            "left_semi",
        )
    ).drop("__fp")


def shingles_col(text_col: str, n: int = 3) -> "F.Column":
    """Distinct word n-gram shingles of the normalized text, as an array.

    NOTE: per-row higher-order functions (transform/slice/concat) run
    interpreted — fine for small row counts, but the hot paths use
    ``shingle_rows`` (codegen'd) instead."""
    toks = F.filter(F.split(normalize_text(text_col), " "), lambda t: t != "")
    k = F.size(toks) - (n - 1)
    grams = F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))  # short doc -> one shingle
    return F.array_distinct(grams)


def shingle_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingle) rows — same shingles as ``shingles_col`` but built
    with posexplode + window ``lead``, which stays inside whole-stage
    codegen (the array formulation was measured ~6 s per evaluation on
    5k docs; this is sub-second). Duplicates are NOT removed here; use
    collect_set downstream when set semantics matter."""
    from pyspark.sql import Window

    # Split on \s+ directly (one regex pass) — same tokens as
    # normalize_text + split-on-space, since the empty edge tokens a
    # leading/trailing blank would produce are filtered out anyway.
    # The tokens expression is referenced exactly once (posexplode): a
    # second reference (e.g. a size() column) makes Catalyst inline and
    # evaluate the whole tokenize twice per row — measured ~2x the
    # shingle cost at sf0.1.
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    exploded = _spread(df).select(
        F.col(id_col).alias("id"), F.posexplode(toks).alias("pos", "tok")
    )
    w = Window.partitionBy("id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
    with_sh = exploded.select(
        "id",
        "pos",
        F.concat_ws(" ", *parts).alias("shingle"),
        parts[-1].isNotNull().alias("__full"),
    )
    # __full rows are complete n-grams (implies the doc has >= n tokens);
    # for shorter docs only pos==0 survives, and its concat_ws of the
    # non-null leads is exactly the whole-doc shingle.
    return with_sh.filter(F.col("__full") | (F.col("pos") == 0)).select(
        "id", "shingle"
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    seed: int = 42,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, sig: array<bigint>) — sig[i] = min over shingles of the i-th
    universal hash (a_i*h + b_i mod 2^31-1) of xxhash64(shingle).

    Shape: explode shingles -> one hash column -> groupBy(id) with
    ``num_hashes`` MIN aggregates. The N mins are scalar codegen'd
    aggregates with map-side partial aggregation (each partition combines
    to one row per doc before the shuffle). The per-row nested
    higher-order-function formulation (array_min over transform, xN)
    falls out of whole-stage codegen into interpreted evaluation and was
    measured ~50x slower.
    """
    import random

    rnd = random.Random(seed)
    params = [(rnd.randrange(1, _P), rnd.randrange(0, _P)) for _ in range(num_hashes)]

    if shingles is None:
        shingles = shingle_rows(df, text_col, id_col, shingle_n)
    exploded = shingles.withColumn(
        "h", F.pmod(F.xxhash64("shingle"), F.lit(_P))
    )
    aggs = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(_P))).alias(f"s_{i}")
        for i, (a, b) in enumerate(params)
    ]
    sigs = exploded.groupBy("id").agg(*aggs)
    return sigs.select(
        "id", F.array(*[F.col(f"s_{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_band_hashes(
    text_col: str,
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> "F.Column":
    """array<long> of length ``bands`` — the LSH band hashes of the text's
    MinHash signature, computed in ONE Arrow ``pandas_udf`` pass (null for
    zero-token docs, mirroring the explode path that drops them).

    This is the vectorized replacement for the relational pipeline
    (shingle explode -> window lead -> xxhash64 -> groupBy with
    ``num_hashes`` MIN aggregates): a narrow map with NO shuffle, no
    window sort, and no rows x shingles blowup. Per batch, each doc is
    tokenized (lower + whitespace split, same tokens as
    ``normalize_text``); the batch's shingles are hashed in ONE
    vectorized pass (pandas' keyed siphash — fixed key, deterministic
    across executors/retries on the standard PySpark deployment where
    every executor runs the same Python environment; a cluster mixing
    pandas builds across nodes is outside Spark's own support envelope
    for Python UDFs and would silently cost candidate recall here) and
    the signature mins + band fold happen
    as whole-batch numpy array ops (``np.minimum.reduceat`` over doc
    boundaries). Same pattern as ``similarity.random_band_values``. The
    hash family differs from the relational path (siphash vs xxhash64) —
    irrelevant to the contract, since banding only steers RECALL and the
    near-dup output is verified with exact Jaccard on the shingle strings.

    Band fold: with 31-bit signature values, a 2-row band packs exactly
    into ``sig[0] * P + sig[1] < 2^62`` (collision-free); wider bands fold
    with wraparound uint64 polynomial accumulation.
    """
    import random

    if num_hashes % bands:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a multiple of bands "
            f"({bands}) — the signature is folded into equal-width bands"
        )
    rnd = random.Random(seed)
    A = np.array(
        [rnd.randrange(1, _P) for _ in range(num_hashes)], dtype=np.int64
    )
    B = np.array(
        [rnd.randrange(0, _P) for _ in range(num_hashes)], dtype=np.int64
    )
    rows_per_band = num_hashes // bands

    @F.pandas_udf("array<long>")
    def bandhashes(texts: pd.Series) -> pd.Series:
        # Flatten every doc's shingles into ONE array so the whole batch
        # is hashed in a single vectorized pass (pandas' keyed siphash —
        # deterministic across executors/retries, unlike builtin hash();
        # replaces the per-shingle hashlib.md5 loop that dominated this
        # UDF: ~1.5M Python-level digest calls per sf0.1 run) and the
        # per-doc signature mins come from np.minimum.reduceat instead of
        # one tiny matmul per doc. Hash-family choice steers only recall:
        # the near-dup output is verified with exact Jaccard downstream.
        shingles: list[str] = []
        counts: list[int] = []  # shingles per non-empty doc
        empties: list[bool] = []
        for text in texts:
            toks = _ascii_tokens(text)
            if not toks:
                empties.append(True)
                continue
            empties.append(False)
            if len(toks) >= shingle_n:
                sh = [
                    " ".join(toks[i : i + shingle_n])
                    for i in range(len(toks) - shingle_n + 1)
                ]
            else:
                sh = [" ".join(toks)]
            shingles.extend(sh)
            counts.append(len(sh))
        if not shingles:
            return pd.Series([None] * len(texts), dtype=object)

        hs = (
            pd.util.hash_array(np.array(shingles, dtype=object)) % np.uint64(_P)
        ).astype(np.int64)
        starts = np.zeros(len(counts), dtype=np.int64)
        np.cumsum(counts[:-1], out=starts[1:])
        n_docs = len(counts)
        sig = np.empty((num_hashes, n_docs), dtype=np.int64)
        # chunk the (num_hashes x n_shingles) permutation matrix so a big
        # batch stays ~tens of MB of transient numpy, not O(batch) x 32
        budget = 1 << 19  # shingle-columns per chunk
        doc_edges = np.concatenate([starts, [len(hs)]])
        d0 = 0
        while d0 < n_docs:
            d1 = d0 + 1
            while d1 < n_docs and doc_edges[d1 + 1] - doc_edges[d0] < budget:
                d1 += 1
            seg = hs[doc_edges[d0] : doc_edges[d1]]
            perm = (A[:, None] * seg[None, :] + B[:, None]) % _P
            sig[:, d0:d1] = np.minimum.reduceat(
                perm, doc_edges[d0:d1] - doc_edges[d0], axis=1
            )
            d0 = d1
        # fold rows b*rpb .. b*rpb+rpb-1 into one value per band
        sig_b = sig.reshape(bands, rows_per_band, n_docs).astype(np.uint64)
        folded = np.zeros((bands, n_docs), dtype=np.uint64)
        for r in range(rows_per_band):
            folded = folded * np.uint64(_P) + sig_b[:, r, :]
        folded_cols = folded.astype(np.int64).T  # n_docs x bands
        out: list = []
        j = 0
        for is_empty in empties:
            if is_empty:
                out.append(None)
            else:
                out.append(folded_cols[j].tolist())
                j += 1
        return pd.Series(out, dtype=object)

    return bandhashes(F.col(text_col))


# Oversized-bucket key sets up to this many rows are COLLECTED (keys only —
# a handful of ints per row) so drop accounting costs zero extra jobs and
# the downstream plan anti-joins a LocalRelation instead of embedding a
# second aggregate of the banded frame. The bound is generous: oversized
# buckets number at most n_banded_rows / max_bucket_size, so hitting it
# means >10M rows sit in hot buckets — the pathological corpus the
# cluster-side fallback exists for.
MAX_LOCAL_OVERSIZED = 10_000


def _cap_buckets(
    banded: DataFrame,
    keys: list[str],
    max_bucket_size: int,
    drop_stats: dict | None = None,
) -> DataFrame:
    """``banded`` without the rows whose bucket (``keys``) holds more than
    ``max_bucket_size`` members — the engine's one LSH skew guard.

    A hot bucket (boilerplate/empty docs whose band chunks all collide)
    makes the pair-generating self-join quadratic — the classic LSH
    blowup at corpus scale. Capping is the standard guard: members of an
    over-full bucket are so densely similar that exact dedup (or a
    cheaper fingerprint pass) should own them; near-dup banding is for
    the sparse tail. Silently skipping the densest clusters is a
    correctness trap, so ``drop_stats`` (when given) receives
    n_dropped_buckets / n_dropped_rows.

    EAGER: one bounded probe (``limit(MAX_LOCAL_OVERSIZED + 1).collect()``
    over the oversized-bucket aggregate) yields both the drop stats and
    the oversized key list. With zero oversized buckets — the common
    corpus — ``banded`` comes back unchanged (no anti-join in the
    consuming plan); otherwise the keys come back as a broadcast
    LocalRelation to anti-join. Only a corpus with more than
    ``MAX_LOCAL_OVERSIZED`` hot buckets keeps the aggregate cluster-side
    (broadcast anti-join, plus one stats job when ``drop_stats`` is
    requested). Callers persist ``banded`` first: the probe materializes
    it, and the consuming plan reads it again."""
    sizes = (
        banded.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_bucket_size)
    )
    over_rows = sizes.limit(MAX_LOCAL_OVERSIZED + 1).collect()
    if len(over_rows) > MAX_LOCAL_OVERSIZED:
        if drop_stats is not None:
            row = sizes.agg(
                F.count(F.lit(1)).alias("b"), F.sum("__n").alias("r")
            ).collect()[0]
            drop_stats["n_dropped_buckets"] = int(row["b"])
            drop_stats["n_dropped_rows"] = int(row["r"])
        return banded.join(F.broadcast(sizes.select(*keys)), keys, "left_anti")
    if drop_stats is not None:
        drop_stats["n_dropped_buckets"] = len(over_rows)
        drop_stats["n_dropped_rows"] = int(sum(r["__n"] for r in over_rows))
    if not over_rows:
        return banded
    over_local = banded.sparkSession.createDataFrame(
        [tuple(r[k] for k in keys) for r in over_rows],
        schema=banded.select(*keys).schema,
    )
    return banded.join(F.broadcast(over_local), keys, "left_anti")


def minhash_candidate_pairs(
    sigs: DataFrame,
    bands: int = 16,
    rows_per_band: int = 2,
    max_bucket_size: int | None = 1000,
    drop_stats: dict | None = None,
) -> DataFrame:
    """LSH banding: hash each band of the signature, self-join on
    (band_id, band_hash), emit (id_a < id_b) candidate pairs.

    Shuffle profile: one explode (narrow) + one shuffle on band_hash. Skew
    guard: buckets larger than ``max_bucket_size`` ids would blow up the
    self-join quadratically, so they are dropped (``_cap_buckets``)
    before pairing; pass ``None`` to disable, pass a ``drop_stats`` dict to
    receive n_dropped_buckets / n_dropped_rows (computed eagerly).

    The banded frame is persisted for the duration of the (eager) pair
    materialization — the cap probe and both self-join sides consume it;
    unpersisted, the signature pipeline would re-run per consumer — then
    released. The returned pair frame is small (bucket-capped): a
    LocalRelation when it fits the broadcast limit (no cached blocks
    survive), else persisted — see ``_cap_then_localize``.
    """
    banded = sigs.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("sig", b * rows_per_band + r + 1).cast(
                                    "string"
                                )
                                for r in range(rows_per_band)
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_id", "band_hash"),
    )
    keys = ["band_id", "band_hash"]
    pairs, _ = _cap_then_localize(
        banded,
        keys,
        max_bucket_size,
        drop_stats,
        lambda capped: _candidate_pair_plan(capped, keys, _id_pair),
    )
    return pairs


def _candidate_pair_plan(
    capped: DataFrame,
    keys: list[str],
    select_pair,
    pair_filter: "F.Column | None" = None,
    broadcast_self: bool = False,
    distinct_pairs: bool = True,
) -> DataFrame:
    """The LAZY candidate-pair plan: equi-self-join on the bucket keys
    (never a cartesian product), pair columns, cross-band distinct.
    Split out so plan tests can assert the join shape that
    ``_cap_then_localize`` executes.

    ``broadcast_self=True`` broadcasts one side of the self-join —
    ONLY valid when the caller can bound the banded frame (the
    streaming gate's micro-batch: trigger x bands rows of two longs,
    the same bound its cross-store join already relies on). It removes
    the band-key exchange pair that otherwise costs a trigger-bounded
    batch two shuffle stages per micro-batch. Corpus-scale callers
    must leave it False.

    ``distinct_pairs=False`` drops the cross-band dedup exchange —
    ONLY valid when the caller never surfaces raw pairs (the gate:
    pairs feed a verify whose verdicts are per-pair idempotent, then
    driver-side SET semantics; a duplicate (a, b) from two shared
    bands re-verifies one pair, never changes the kept set). Callers
    whose OUTPUT is the pair list must keep the distinct."""
    a = capped.alias("a")
    b = capped.alias("b")
    if broadcast_self:
        a = F.broadcast(a)
    cond = (F.col("a.id") < F.col("b.id"))
    for k in keys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    joined = a.join(b, cond)
    if pair_filter is not None:
        joined = joined.filter(pair_filter)
    out = joined.select(*select_pair(a, b))
    return out.distinct() if distinct_pairs else out


def _id_pair(a: DataFrame, b: DataFrame) -> list:
    """``select_pair`` of the plain (id_a, id_b) candidate plans."""
    return [F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")]


def _cap_then_localize(
    banded: DataFrame,
    keys: list[str],
    max_bucket_size: int | None,
    drop_stats: dict | None,
    build,
    localize: bool = True,
) -> tuple[DataFrame, int]:
    """``build(capped_banded)`` MATERIALIZED eagerly, with hot buckets
    (``keys``) capped by ``_cap_buckets`` first, so the banded frame can
    be released before returning. Returns (result, n_rows).

    The banded frame feeds the cap probe and the built plan (both sides
    of a self-join), so it is persisted for the duration; holding it
    cached across the caller's (arbitrarily late) terminal action would
    leak O(n_docs x bands) cached blocks per invocation. The result is
    persisted BEFORE its probe, so the over-limit fallback's count()
    finishes from cache instead of re-executing the plan.

    With ``localize`` (right for results bounded small by construction:
    candidate or thresholded pairs), a result within
    ``BROADCAST_PAIR_LIMIT`` rows is COLLECTED and rebuilt as a
    LocalRelation: zero cached blocks survive the call and downstream
    joins broadcast the local frame without an extra exchange job. A
    bigger result, or any result with ``localize=False`` (corpus-sized
    outputs), comes back persisted — callers release it with
    ``.unpersist()`` / ``operators.cache.released``."""
    banded = banded.persist()
    capped = banded
    if max_bucket_size is not None:
        capped = _cap_buckets(banded, keys, max_bucket_size, drop_stats)
    result = build(capped).persist()
    if localize:
        rows = result.limit(BROADCAST_PAIR_LIMIT + 1).collect()
        if len(rows) <= BROADCAST_PAIR_LIMIT:
            schema = result.schema
            result.unpersist()
            banded.unpersist()
            return banded.sparkSession.createDataFrame(rows, schema), len(rows)
    n_rows = result.count()
    banded.unpersist()
    return result, n_rows


# Above this many candidate pairs the verify-side broadcasts fall back to
# shuffle joins: the broadcast of the involved docs' shingle sets is a
# driver/executor memory bet that only pays while the candidate set is
# small (ADVICE r3: forced broadcasts must be gated, not assumed).
BROADCAST_PAIR_LIMIT = 100_000


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = 1000,
    drop_stats: dict | None = None,
) -> DataFrame:
    """Full pipeline: candidates from LSH, verified with exact Jaccard on
    the shingle sets. Returns (id_a, id_b, jaccard >= threshold).

    Vectorized shape (r4): ONE Arrow ``pandas_udf`` computes each doc's
    band hashes directly from the text (``minhash_band_hashes`` — numpy
    signature + band fold, no shingle explode, no window sort, no 32-MIN
    shuffle), a posexplode lands each doc in its ``bands`` buckets, and
    the capped self-join emits candidates. Verification attaches both
    texts to each candidate pair (ids-only pair frame broadcast, texts
    shuffled) and computes exact Jaccard over the two shingle sets in one
    Arrow ``pandas_udf``, so the full corpus is never shingle-exploded at
    all — only candidate-involved docs are tokenized twice.

    Banding default is 32 hashes x 16 bands x 2 rows/band: 2-row bands
    RAISE recall — a pair at Jaccard j collides per band with j^2, so
    miss <= (1 - j^2)^16 (~1e-11 at j = 0.89, the lowest true near-dup in
    the synthetic corpus; the brute-force oracle check is exact). The cost
    is a looser candidate filter (band false-positive rate j^2), which the
    exact-Jaccard verification absorbs.

    The candidate phase runs eagerly (one job; drop stats on request);
    no intermediate cache outlives the call. On the common path the
    candidate set localizes (``_cap_then_localize``) and the
    returned verification frame is LAZY with zero cached blocks; only
    when the candidate set exceeds ``BROADCAST_PAIR_LIMIT`` does the
    result come back persisted — release that with ``.unpersist()`` or
    ``operators.cache.released``."""
    banded = _spread(df).select(
        F.col(id_col).alias("id"),
        F.posexplode(
            minhash_band_hashes(text_col, num_hashes, bands, shingle_n)
        ).alias("band_id", "band_hash"),
    )
    keys = ["band_id", "band_hash"]
    pairs, n_pairs = _cap_then_localize(
        banded,
        keys,
        max_bucket_size,
        drop_stats,
        lambda capped: _candidate_pair_plan(capped, keys, _id_pair),
    )

    # Exact-Jaccard verification via the shared stage (see
    # ``_attach_texts_and_verify`` for the broadcast invariant and set
    # semantics — both self-join and cross-corpus paths run the same
    # code, so their verdicts and the DuckDB oracles' cannot diverge).
    docs = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    verified = _attach_texts_and_verify(
        pairs, n_pairs, docs, docs, "id_a", "id_b", shingle_n, threshold
    )
    if pairs.is_cached:
        # fallback path (candidate set too big to localize): materialize
        # the verified set so the candidate-pair cache — consumed by BOTH
        # text joins above — can be released here; the returned frame is
        # persisted and the caller releases it (VERDICT r5 ask #8)
        verified = verified.persist()
        verified.count()
        pairs.unpersist()
    return verified


def _attach_texts_and_verify(
    pairs: DataFrame,
    n_pairs: int,
    a_docs: DataFrame,
    b_docs: DataFrame,
    a_key: str,
    b_key: str,
    shingle_n: int,
    threshold: float,
) -> DataFrame:
    """THE shared exact-Jaccard verification stage: attach each side's
    text to the candidate pairs with two joins, score with the canonical
    ``jaccard_shingle_udf``, keep (a_key, b_key, jaccard >= threshold).

    Broadcast invariant (ADVICE r4): ONLY the ids-only ``pairs`` frame
    may broadcast, gated on the measured ``n_pairs`` — the text-carrying
    intermediates always join by shuffle, moving just 2 x n_pairs text
    rows; broadcasting a text-carrying frame would turn 100k pairs of
    multi-KB docs into a driver/executor memory bet. Only candidate-
    involved docs ever reach the UDF; no corpus is shingle-exploded.
    ``a_docs``/``b_docs`` must be (``__id``, ``__t``) projections; the
    self-join path passes the same frame twice, the cross-corpus path
    its two sides. Rounding stays JVM-side (F.round, HALF_UP like the
    oracle's round()).
    """
    bcast = F.broadcast if n_pairs <= BROADCAST_PAIR_LIMIT else (lambda d: d)
    jaccard_udf = jaccard_shingle_udf(shingle_n)
    with_a = a_docs.join(
        bcast(pairs), a_docs["__id"] == pairs[a_key]
    ).select(a_key, b_key, F.col("__t").alias("__ta"))
    with_b = b_docs.join(
        bcast(pairs), b_docs["__id"] == pairs[b_key]
    ).select(
        F.col(a_key).alias("__pa"),
        F.col(b_key).alias("__pb"),
        F.col("__t").alias("__tb"),
    )
    with_ab = with_a.join(
        with_b,
        (with_a[a_key] == with_b["__pa"]) & (with_a[b_key] == with_b["__pb"]),
    ).select(a_key, b_key, "__ta", "__tb")
    return (
        with_ab.withColumn("jaccard", jaccard_udf("__ta", "__tb"))
        .filter(F.col("jaccard") >= threshold)
        .select(a_key, b_key, F.round("jaccard", 4).alias("jaccard"))
    )


def jaccard_shingle_udf(shingle_n: int):
    """Arrow pandas_udf: exact shingle-set Jaccard of two text columns.
    THE canonical verify kernel — ``minhash_near_duplicates`` and the
    streaming gate (``streaming/neardup.py``) both use it, so their
    verdicts (and the DuckDB oracles') can never diverge: lower +
    ASCII-whitespace split, distinct word n-grams, whole-doc shingle for
    short docs, 0.0 on empty union."""

    @F.pandas_udf("double")
    def jaccard_udf(ta: pd.Series, tb: pd.Series) -> pd.Series:
        def sh_set(text: str) -> set:
            toks = _ascii_tokens(text)
            if len(toks) >= shingle_n:
                return {
                    " ".join(toks[i : i + shingle_n])
                    for i in range(len(toks) - shingle_n + 1)
                }
            return {" ".join(toks)}

        out = []
        for a_txt, b_txt in zip(ta, tb):
            sa, sb = sh_set(a_txt), sh_set(b_txt)
            union = len(sa | sb)
            out.append(len(sa & sb) / union if union else 0.0)
        return pd.Series(out, dtype="float64")

    return jaccard_udf


PORTABLE_HASH_BITS = 60


def portable_token_hash(tok_col) -> "F.Column":
    """First 60 bits of md5(token) as a non-negative bigint — the
    engine-portable token hash: md5 is identical everywhere, 15 hex chars
    (< 2^60) dodge signed-overflow differences, so a DuckDB/Trino/etc
    oracle can reproduce SimHash fingerprints bit-for-bit
    (``('0x' || substr(md5(tok), 1, 15))::UBIGINT`` on the DuckDB side).
    ``simhash_fingerprints`` uses the same md5-prefix family (60 bits
    portable, 64 bits otherwise) inside its vectorized UDF."""
    return F.conv(F.substring(F.md5(tok_col), 1, 15), 16, 10).cast("long")


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    portable: bool = False,
) -> DataFrame:
    """64-bit SimHash per doc: sum ±1 per bit over token hashes, sign ->
    bit. ONE Arrow ``pandas_udf`` pass (r4): per doc the token hashes and
    the bits x tokens ±1 matrix are numpy ops — a narrow map with no
    explode, no shuffle, and no ``bits``-SUM aggregate (the relational
    formulation was the #2 wall-clock cost of the dedup family).

    Token hash is an md5 prefix (engine-stable, executor-deterministic —
    the salted builtin ``hash`` would break cross-partition bucketing):
    ``portable=True`` keeps 60 bits (15 hex chars), the exact
    ``portable_token_hash`` construction, so an external SQL engine
    reproduces every fingerprint bit-for-bit (bits 60-63 constant 0);
    ``portable=False`` uses the full 64-bit prefix. Zero-token docs yield
    no fingerprint (null, filtered), mirroring the explode semantics and
    the DuckDB oracle's unnest.

    COMPAT (r4): ``portable=False`` fingerprints changed hash family from
    xxhash64 to the 64-bit md5 prefix when this moved into the vectorized
    UDF — fingerprints persisted from pre-r4 runs do NOT match r4+ values
    and must be recomputed. ``portable=True`` values are unchanged."""
    hex_chars = 15 if portable else 16
    shifts = np.arange(bits, dtype=np.uint64)

    @F.pandas_udf("long")
    def simhash64(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            toks = _ascii_tokens(text)
            if not toks:
                out.append(None)
                continue
            hs = np.array(
                [
                    int(hashlib.md5(t.encode("utf-8")).hexdigest()[:hex_chars], 16)
                    for t in toks
                ],
                dtype=np.uint64,
            )
            # bit k of the fingerprint: sign of sum over tokens of
            # (+1 if hash bit k set else -1)
            bit_set = ((hs[:, None] >> shifts[None, :]) & np.uint64(1)).astype(
                np.int64
            )
            sums = (2 * bit_set - 1).sum(axis=0)
            fp = 0
            for k in np.nonzero(sums > 0)[0]:
                fp |= 1 << int(k)
            out.append(fp - (1 << 64) if fp >= (1 << 63) else fp)
        return pd.Series(out, dtype=object)

    return _spread(df).select(
        F.col(id_col), simhash64(F.col(text_col)).alias("simhash")
    ).filter(F.col("simhash").isNotNull())


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int | None = 1000,
    portable: bool = False,
    drop_stats: dict | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs whose 64-bit SimHash fingerprints are
    within ``max_hamming`` bits.

    Pigeonhole banding (Manku/Jain/Sarma, WWW'07 "Detecting Near-Duplicates
    for Web Crawling"): split the fingerprint into ``bands`` equal chunks —
    any pair at distance <= bands-1 agrees exactly on at least one chunk, so
    candidates come from ``bands`` exact-match hash buckets (one shuffle
    join), never a cross join. Requires ``max_hamming < bands``. Exact
    Hamming distance then filters candidates via bit_count(xor), all
    JVM-side. Banding is EXHAUSTIVE (pigeonhole, not probabilistic), so
    with the cap disabled the result equals brute force — which is what
    the ``portable=True`` + DuckDB-oracle pairing verifies. ``drop_stats``
    receives n_dropped_buckets / n_dropped_rows when the cap fires.

    Eagerly materialized with intermediates released: the returned pair
    frame is a LocalRelation on the common path (nothing cached), or a
    persisted frame when the candidate set exceeds the broadcast limit —
    release that with ``.unpersist()`` / ``operators.cache.released``."""
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole banding needs max_hamming < bands "
            f"({max_hamming} >= {bands})"
        )
    fp = simhash_fingerprints(df, text_col, id_col, portable=portable)
    width = 64 // bands
    mask = (1 << width) - 1
    banded = fp.select(
        F.col(id_col).alias("id"),
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", b * width).bitwiseAND(
                        F.lit(mask)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "chunk"),
    )
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    keys = ["band", "chunk"]
    pairs, _ = _cap_then_localize(
        banded,
        keys,
        max_bucket_size,
        drop_stats,
        lambda capped: _candidate_pair_plan(
            capped,
            keys,
            lambda a, b: [*_id_pair(a, b), hamming.alias("hamming")],
            pair_filter=hamming <= max_hamming,
        ),
    )
    return pairs


def ngram_jaccard(
    df: DataFrame,
    id_a: int,
    id_b: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> float:
    """Exact n-gram Jaccard between two docs (driver-returned scalar)."""
    sh = df.filter(F.col(id_col).isin([id_a, id_b])).select(
        F.col(id_col), shingles_col(text_col, shingle_n).alias("sh")
    )
    rows = {r[0]: set(r[1]) for r in sh.collect()}
    a, b = rows.get(id_a, set()), rows.get(id_b, set())
    return len(a & b) / len(a | b) if a | b else 0.0


def ngram_jaccard_near_duplicates(
    df: DataFrame,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    max_shingle_df: int | None = None,
    drop_stats: dict | None = None,
) -> DataFrame:
    """EXACT word n-gram Jaccard near-duplicate pairs via an
    inverted-index set-similarity join — the third dedup tier next to
    MinHash (approximate candidates, exact verify) and SimHash
    (Hamming): (id_a, id_b, jaccard >= threshold), no approximation
    anywhere.

    Shape: distinct (id, shingle) posting list -> self-equi-join on the
    shingle (the inverted index: only docs SHARING a shingle ever meet —
    never an all-pairs product) -> count shared shingles per pair ->
    ``|A∩B| / (|A| + |B| - |A∩B|)`` from the exact set sizes. One
    explode, one shuffle on shingle, one aggregation on the pair key.

    Scale guard: a shingle appearing in ``d`` docs contributes d^2/2
    join rows, so boilerplate text is quadratic — ``max_shingle_df``
    drops shingles whose document frequency exceeds the cap (the
    standard stopword-style guard in set-similarity joins; pass
    ``drop_stats`` to receive n_dropped_shingles / n_dropped_postings).
    NOTE unlike the MinHash bucket cap this changes the measured metric
    (dropped shingles leave the similarity domain) — leave it None where
    exactness matters and run exact dedup first so identical docs don't
    concentrate.

    Eager like the other near-dup ops: pair sets within
    ``BROADCAST_PAIR_LIMIT`` localize (zero cached blocks survive),
    bigger ones come back persisted (release via ``.unpersist()`` /
    ``operators.cache.released``)."""
    # r16 examined, REJECTED: pre-clustering the posting list on
    # `shingle` before the distinct (so the cached frame would feed
    # both self-join sides exchange-free) does NOT work — an
    # InMemoryRelation under AQE reports unknown output partitioning,
    # so ENSURE_REQUIREMENTS re-exchanges both join sides over the
    # cache reads regardless and the repartition is a third, pure-cost
    # shuffle of the posting list (plans/r16/ngram_jaccard_dups_*).
    sh = (
        shingle_rows(df, text_col, id_col, shingle_n)
        .select("id", "shingle")
        .distinct()
    )

    def build(sh_kept: DataFrame) -> DataFrame:
        # set sizes AFTER the df-cap so the Jaccard denominator matches
        # the (possibly reduced) similarity domain
        sizes = sh_kept.groupBy("id").agg(F.count(F.lit(1)).alias("__sz"))
        a, b = sh_kept.alias("a"), sh_kept.alias("b")
        shared = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("__shared"))
        )
        jac = F.col("__shared") / (
            F.col("__sa") + F.col("__sb") - F.col("__shared")
        )
        return (
            shared.join(
                sizes.select(
                    F.col("id").alias("id_a"), F.col("__sz").alias("__sa")
                ),
                "id_a",
            )
            .join(
                sizes.select(
                    F.col("id").alias("id_b"), F.col("__sz").alias("__sb")
                ),
                "id_b",
            )
            # threshold on the UNROUNDED ratio (one IEEE division of two
            # exact ints — engines agree bit-for-bit); round only for
            # display
            .filter(jac >= threshold)
            .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        )

    # the df-cap is the bucket cap keyed on the shingle: a hot shingle's
    # postings are a hot bucket's rows
    stats = None if drop_stats is None else {}
    pairs, _ = _cap_then_localize(
        sh, ["shingle"], max_shingle_df, stats, build
    )
    if stats:
        drop_stats["n_dropped_shingles"] = stats["n_dropped_buckets"]
        drop_stats["n_dropped_postings"] = stats["n_dropped_rows"]
    return pairs


def minhash_cross_near_duplicates(
    query_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = 1000,
    drop_stats: dict | None = None,
) -> DataFrame:
    """CROSS-corpus near-dup pairs: for each ``query_df`` doc, the
    ``corpus_df`` docs it near-duplicates — (query_id, corpus_id,
    jaccard). The batch analog of the streaming ingest gate
    (streaming/neardup.py): dedup a NEW crawl against an EXISTING
    corpus without the N^2 self-join over their union, and without the
    gate's per-batch store machinery. Ids may overlap between the two
    frames (they are independent keyspaces); no self-pair exclusion is
    applied — disjointness is the caller's contract.

    Shape mirrors ``minhash_near_duplicates``: each side is band-hashed
    in its own single Arrow pass, candidates come from an equi-join on
    (band_id, band_hash) — query side x corpus side, never within a
    side — and candidates verify with exact Jaccard over the shingle
    sets. The bucket cap applies per side (a hot boilerplate bucket is
    quadratic in the CROSS product too), with drops observable via
    ``drop_stats`` ({'query': {...}, 'corpus': {...}}).
    """

    to_release: "list[DataFrame]" = []

    def banded(df: DataFrame, side: str) -> DataFrame:
        frame = _spread(df).select(
            F.col(id_col).alias(f"{side}_id"),
            F.posexplode(
                minhash_band_hashes(text_col, num_hashes, bands, shingle_n)
            ).alias("band_id", "band_hash"),
        )
        if max_bucket_size is not None:
            stats: dict = {}
            frame = frame.persist()
            to_release.append(frame)
            frame = _cap_buckets(
                frame, ["band_id", "band_hash"], max_bucket_size, stats
            )
            if drop_stats is not None:
                drop_stats[side] = stats
        return frame

    q_bands = banded(query_df, "query")
    c_bands = banded(corpus_df, "corpus")
    cands = (
        q_bands.join(c_bands, ["band_id", "band_hash"])
        .select("query_id", "corpus_id")
        .distinct()
    )
    n_cand = cands.persist().count()
    verified = _attach_texts_and_verify(
        cands,
        n_cand,
        query_df.select(
            F.col(id_col).alias("__id"), F.col(text_col).alias("__t")
        ),
        corpus_df.select(
            F.col(id_col).alias("__id"), F.col(text_col).alias("__t")
        ),
        "query_id",
        "corpus_id",
        shingle_n,
        threshold,
    )
    # eager checkpoint: materializes the verified pairs so every cached
    # band/candidate frame can be released before returning (the result
    # carries no lineage back to them)
    result = verified.localCheckpoint()
    cands.unpersist()
    for frame in to_release:
        frame.unpersist()
    return result


def _deletion_neighborhood_expr(col: str, d: int) -> "F.Column":
    """Array of every string reachable from ``col`` by deleting up to
    ``d`` characters (FastSS / Bocek et al. 2007 deletion
    neighborhood), duplicates removed. For d <= 2 this is the exact
    candidate generator for edit distance: edit(s, t) <= d implies the
    two neighborhoods intersect — so an equi-join on neighborhood
    members misses NOTHING, and the verify step discards the extras.
    Sizes: 1 + len at d=1; + len*(len-1)/2 at d=2 — bounded by the
    caller's max_len gate."""
    s = f"coalesce({col}, '')"
    parts = [f"array({s})"]
    if d >= 1:
        parts.append(
            f"CASE WHEN length({s}) < 1 THEN array() ELSE "
            f"transform(sequence(1, length({s})), i -> "
            f"concat(substring({s}, 1, i - 1), "
            f"substring({s}, i + 1, length({s})))) END"
        )
    if d >= 2:
        parts.append(
            f"CASE WHEN length({s}) < 2 THEN array() ELSE "
            f"flatten(transform(sequence(1, length({s}) - 1), i -> "
            f"transform(sequence(i + 1, length({s})), j -> "
            f"concat(substring({s}, 1, i - 1), "
            f"substring({s}, i + 1, j - i - 1), "
            f"substring({s}, j + 1, length({s})))))) END"
        )
    return F.expr(f"array_distinct(concat({', '.join(parts)}))")


def edit_distance_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 1,
    max_len: int = 64,
    max_bucket_size: int | None = 1000,
    drop_stats: dict | None = None,
) -> DataFrame:
    """Near-duplicate SHORT-STRING pairs within Levenshtein distance
    ``max_distance`` — the record-linkage tier (titles, names,
    addresses, product SKUs) the token-level tiers can't serve:
    MinHash/SimHash see word sets, but "iPhone 15 Pro" vs
    "iPhone 15 Prq" is a CHARACTER edit. Returns (id_a, id_b,
    distance), id_a < id_b, exact distances (0 = identical strings).

    Candidates via FastSS deletion neighborhoods: each string expands
    to every <= d-deletion variant (an exact generator — candidate
    recall 1.0 by the neighborhood-intersection property), variants
    hash to 8-byte xxhash64 join keys (collisions only ADD candidates;
    the verify filters), and the same capped equi-self-join machinery
    as the MinHash tier emits candidate pairs (hot variants — e.g. a
    ubiquitous title — hit ``max_bucket_size`` caps with
    ``drop_stats`` accounting, never a quadratic bucket). Verification
    attaches both strings and runs JVM ``levenshtein(a, b, threshold)``
    — with the threshold the JVM computation is O(d * len) banded, and
    -1 marks above-threshold pairs for the filter. No Python in either
    phase.

    ``max_distance`` is gated to 1-2: the neighborhood is len+1
    variants at d=1 and O(len^2/2) at d=2 — exactness has a cost
    ceiling; beyond d=2 use token-level tiers. Strings LONGER than
    ``max_len`` are excluded from pairing (edit distance on documents
    is the wrong tool — near-dup docs belong to MinHash) and counted
    in ``drop_stats['n_too_long']`` so the exclusion is observable.
    NULL strings pair as empty strings."""
    if not 1 <= max_distance <= 2:
        raise ValueError(
            f"max_distance must be 1 or 2, got {max_distance} — beyond "
            "2 the deletion neighborhood is super-quadratic; use the "
            "token-level tiers (minhash/simhash/ngram) for looser "
            "matching"
        )
    if max_len < 1:
        raise ValueError(f"max_len must be positive, got {max_len}")
    eligible = df.filter(
        F.length(F.coalesce(F.col(text_col), F.lit(""))) <= max_len
    )
    if drop_stats is not None:
        n_all = df.count()
        n_ok = eligible.count()
        drop_stats["n_too_long"] = int(n_all - n_ok)
    banded = _spread(eligible).select(
        F.col(id_col).alias("id"),
        F.explode(
            _deletion_neighborhood_expr(text_col, max_distance)
        ).alias("__v"),
    ).select("id", F.xxhash64("__v").alias("__vh"))
    pairs, n_pairs = _cap_then_localize(
        banded,
        ["__vh"],
        max_bucket_size,
        drop_stats,
        lambda capped: _candidate_pair_plan(capped, ["__vh"], _id_pair),
    )
    docs = eligible.select(
        F.col(id_col).alias("__id"),
        F.coalesce(F.col(text_col), F.lit("")).alias("__t"),
    )
    small = n_pairs <= BROADCAST_PAIR_LIMIT
    pair_side = F.broadcast(pairs) if small else pairs
    ta = docs.select(
        F.col("__id").alias("id_a"), F.col("__t").alias("__ta")
    )
    tb = docs.select(
        F.col("__id").alias("id_b"), F.col("__t").alias("__tb")
    )
    dist = F.levenshtein(F.col("__ta"), F.col("__tb"), max_distance)
    verified = (
        pair_side.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            dist.alias("distance"),
        )
        .filter(F.col("distance") >= 0)
        .select(
            "id_a", "id_b", F.col("distance").cast("int").alias("distance")
        )
    )
    if pairs.is_cached:
        verified = verified.persist()
        verified.count()
        pairs.unpersist()
    return verified


def corpus_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """ONE-ROW corpus-level overlap report: distinct-text counts of
    each side, their exact intersection, and the Jaccard — the triage
    question ("how much of crawl B is already in corpus A?") answered
    BEFORE committing to a full near-dup pass. Output: (n_a, n_b,
    n_common, jaccard).

    Exact by content fingerprint (md5 of the raw text — the
    ``dedup_exact`` key): each side collapses map-side to distinct
    16-byte hashes (the only corpus-sized shuffle, hash-keyed), the
    intersection is one equi-join of two fingerprint sets, and the
    output is a single row. Near-dup-aware overlap needs the MinHash
    tiers; this is the exact-dup ceiling on containment (a LOWER bound
    on true overlap)."""
    fp = F.md5(F.coalesce(F.col(text_col), F.lit("")))
    a = df_a.select(fp.alias("__fp")).distinct()
    b = df_b.select(fp.alias("__fp")).distinct()
    n_a = a.count()
    n_b = b.count()
    n_common = a.join(b, "__fp").count()
    union = n_a + n_b - n_common
    jacc = round(n_common / union, 6) if union else 0.0
    return df_a.sparkSession.createDataFrame(
        [(n_a, n_b, n_common, float(jacc))],
        "n_a long, n_b long, n_common long, jaccard double",
    )


def pair_tier_eval(
    truth_pairs: DataFrame,
    candidate_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Precision / recall / F1 of one near-dup TIER against another —
    the tuning report for threshold, band, and bit choices (e.g. "at
    64 bands x 2 bits, what fraction of the exact-Jaccard pairs does
    SimHash find, and how much of what it finds is noise?"). Compares
    the pair SETS as unordered edges: both frames canonicalize to
    (min, max) before the set algebra, so orientation differences
    never count as misses.

    One row: (n_truth, n_candidates, n_common, precision, recall,
    f1), ratios rounded 6 with the house 0/0 -> 0 rule. Scale shape:
    pair frames are output-sized (the tiers' own caps bound them);
    two distinct-aggregates feeding ONE full-outer join on the
    canonical edge, all three counts from a single aggregate of the
    join — each tier's (expensive) upstream pipeline executes exactly
    once. (r16, VERDICT r15 #5: the previous three separate count
    actions re-ran BOTH tiers' full band+verify pipelines twice —
    measured 32 sequential jobs / 8.6 s warm solo for tier_eval; the
    single-action shape is 2 pipeline executions total instead of 4.)"""

    def canon(df: DataFrame, tag: str) -> DataFrame:
        lo = F.least(F.col(id_a), F.col(id_b))
        hi = F.greatest(F.col(id_a), F.col(id_b))
        return (
            df.select(lo.alias("__ea"), hi.alias("__eb"))
            .distinct()
            .withColumn(tag, F.lit(1))
        )

    t = canon(truth_pairs, "__t")
    c = canon(candidate_pairs, "__c")
    row = (
        t.join(c, ["__ea", "__eb"], "full_outer")
        .agg(
            F.coalesce(F.sum("__t"), F.lit(0)).alias("n_t"),
            F.coalesce(F.sum("__c"), F.lit(0)).alias("n_c"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("__t").isNotNull() & F.col("__c").isNotNull(),
                        1,
                    )
                ),
                F.lit(0),
            ).alias("n_common"),
        )
        .collect()[0]
    )
    n_t, n_c, n_common = int(row["n_t"]), int(row["n_c"]), int(row["n_common"])
    spark = truth_pairs.sparkSession
    base = spark.createDataFrame(
        [(n_t, n_c, n_common)],
        "n_truth long, n_candidates long, n_common long",
    )
    # ratios in ENGINE round() semantics (half away from zero), not
    # Python's half-even round — the one place they disagree is the
    # exact .5e-6 boundary an oracle diff would catch
    prec = F.when(
        F.col("n_candidates") > 0,
        F.round(F.col("n_common") / F.col("n_candidates"), 6),
    ).otherwise(F.lit(0.0))
    rec = F.when(
        F.col("n_truth") > 0,
        F.round(F.col("n_common") / F.col("n_truth"), 6),
    ).otherwise(F.lit(0.0))
    scored = base.select(
        "*", prec.alias("precision"), rec.alias("recall")
    )
    f1 = F.when(
        (F.col("precision") + F.col("recall")) > 0,
        F.round(
            2 * F.col("precision") * F.col("recall")
            / (F.col("precision") + F.col("recall")),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return scored.select("*", f1.alias("f1"))


def pair_source_matrix(
    pairs: DataFrame,
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    broadcast_pairs: bool = True,
) -> DataFrame:
    """Cross-SOURCE duplication attribution — which corpus slices
    duplicate into which: any tier's (id_a, id_b) pair frame joins
    both sides to their ``group_col`` and rolls up to one row per
    unordered group pair, (source_a, source_b, n_pairs) with
    source_a <= source_b. The corpus-forensics report behind "drop
    the mirror crawl, not the original" decisions — a heavy diagonal
    is within-slice duplication (re-posts), a heavy off-diagonal a
    mirrored/aggregator slice.

    Scale shape (VERDICT r12 #7): attribution costs O(pairs), never
    O(corpus). The pair-id set (<= 2x the tier-capped pair frame)
    BROADCASTS into a semi-join that shrinks the two-column
    doc->group projection to pair participants as a narrow map fused
    into the corpus scan — the full ``docs`` frame is never
    shuffled; the shrunken projection (<= 2·pairs rows) then
    broadcasts into the two pair joins, and the rollup is one
    map-side-combinable groupBy over at most n_groups^2 keys.
    ``broadcast_pairs=False`` drops the hints for the rare
    uncapped-pair-frame caller (shuffle joins, corpus-sized — but
    correct at any pair count). Pairs whose ids are MISSING
    from ``docs`` (no row at all) group under a NULL side rather than
    vanishing (a pair the attribution cannot place is a finding, not
    noise) — detected on the join KEY, so a placed doc whose
    ``group_col`` VALUE is NULL is not confused with a missing doc
    (such values flow through least/greatest, which skip NULLs —
    normalize a nullable source column upstream if that matters).
    Precondition: ``docs`` is unique on ``id_col`` (a duplicate id
    would multiply its pairs through the 1:N join)."""
    g = docs.select(
        F.col(id_col).alias("__gid"), F.col(group_col).alias("__g")
    )
    pair_ids = (
        pairs.select(F.col("id_a").alias("__pid"))
        .unionByName(pairs.select(F.col("id_b").alias("__pid")))
        .distinct()
    )
    if broadcast_pairs:
        pair_ids = F.broadcast(pair_ids)
    g = g.join(pair_ids, g["__gid"] == pair_ids["__pid"], "left_semi")
    a = g.withColumnRenamed("__gid", "__ga_id").withColumnRenamed(
        "__g", "__ga"
    )
    b = g.withColumnRenamed("__gid", "__gb_id").withColumnRenamed(
        "__g", "__gb"
    )
    if broadcast_pairs:
        a, b = F.broadcast(a), F.broadcast(b)
    # unplaceable = the JOIN missed (key NULL), not a NULL group value
    missed = F.col("__ga_id").isNull() | F.col("__gb_id").isNull()
    tagged = (
        pairs.join(a, pairs["id_a"] == a["__ga_id"], "left")
        .join(b, pairs["id_b"] == b["__gb_id"], "left")
        .select(
            F.when(missed, F.coalesce("__ga", "__gb"))
            .otherwise(F.least("__ga", "__gb"))
            .alias("source_a"),
            F.when(missed, F.lit(None))
            .otherwise(F.greatest("__ga", "__gb"))
            .alias("source_b"),
        )
    )
    return (
        tagged.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy(
            F.desc("n_pairs"), "source_a", "source_b"
        )
    )
