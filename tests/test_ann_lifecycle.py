"""ANN index lifecycle: append + compaction + drift guard (VERDICT r6
ask #7). An index that can only be rebuilt from scratch is not a 100 TB
index — ingest appends, maintenance compacts, and data-dependent (IVF)
indexes must notice when the stored centroids stop describing the data."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from dbqt_spark.plans import formatted_plan

from dbqt_spark.catalog import load_table
from dbqt_spark.operators.similarity import (
    _vectors_dir,
    ivf_append,
    ivf_build,
    ivf_compact,
    ivf_load,
    ivf_search,
    ivf_write,
    lsh_append,
    lsh_compact,
    lsh_topk_from_index,
    lsh_write,
)


def _files_per_dir(vectors_path: str) -> dict[str, int]:
    out = {}
    for d in glob.glob(os.path.join(vectors_path, "*=*")):
        out[os.path.basename(d)] = len(
            [f for f in os.listdir(d) if f.endswith(".parquet")]
        )
    return out


def test_lsh_append_matches_full_rebuild(spark, sf_dir, tmp_path):
    """write(half) + append(half) must equal write(full): hyperplanes are
    re-derived from the stored seed, so appended vectors land in exactly
    the buckets a fresh build gives them, and probes stay correct."""
    emb = load_table(spark, sf_dir, "embeddings")
    half_a = emb.filter("vec_id % 2 = 0")
    half_b = emb.filter("vec_id % 2 = 1")

    grown, full = str(tmp_path / "grown"), str(tmp_path / "full")
    lsh_write(half_a, grown, n_planes=8, seed=42)
    lsh_append(half_b, grown)
    lsh_write(emb, full, n_planes=8, seed=42)

    q = list(emb.filter("vec_id = 1").select("embedding").first()[0])
    got = [
        r["vec_id"]
        for r in lsh_topk_from_index(spark, grown, q, k=5).collect()
    ]
    want = [
        r["vec_id"]
        for r in lsh_topk_from_index(spark, full, q, k=5).collect()
    ]
    assert got == want and got[0] == 1


def test_lsh_compact_one_file_per_bucket_prunes(spark, sf_dir, tmp_path):
    """After append + compact: one parquet file per bucket directory, and
    the probe scan still prunes partitions."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "lsh")
    lsh_write(emb.filter("vec_id % 2 = 0"), path, n_planes=8, seed=42)
    lsh_append(emb.filter("vec_id % 2 = 1"), path)
    vectors = _vectors_dir(path)
    assert max(_files_per_dir(vectors).values()) > 1  # appends fragment

    lsh_compact(spark, path)
    # compaction commits a NEW generation through the manifest
    vectors2 = _vectors_dir(path)
    assert vectors2 != vectors and not os.path.exists(vectors)
    assert set(_files_per_dir(vectors2).values()) == {1}

    q = list(emb.filter("vec_id = 0").select("embedding").first()[0])
    topk = lsh_topk_from_index(spark, path, q, k=5)
    plan = formatted_plan(topk)
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines and "bucket" in part_lines[0]
    assert topk.collect()[0]["vec_id"] == 0


def test_lsh_append_dim_mismatch_raises(spark, sf_dir, tmp_path):
    """Per-row in-plan enforcement: a mismatched row fails the append
    wherever it hides in the batch (not just row 0), and nothing lands
    in the index."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "lsh")
    lsh_write(emb, path, n_planes=8, seed=42)
    n_before = spark.read.parquet(_vectors_dir(path)).count()
    # only ONE late row is truncated — a first-row peek would miss it
    truncated = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 400, F.slice("embedding", 1, 3)).otherwise(
            F.col("embedding")
        ),
    )
    with pytest.raises(
        (SparkRuntimeException, Py4JJavaError), match="dimension"
    ):
        lsh_append(truncated, path)
    n_after = spark.read.parquet(_vectors_dir(path)).count()
    assert n_after == n_before


def test_lsh_append_skips_null_vectors_keeps_rest(spark, sf_dir, tmp_path):
    """A null first row must not silently skip the whole append: null
    vectors are dropped, every valid vector still lands."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "lsh")
    lsh_write(emb.filter("vec_id >= 100"), path, n_planes=8, seed=42)
    batch = emb.filter("vec_id < 100").withColumn(
        "embedding",
        F.when(F.col("vec_id") < 5, F.lit(None)).otherwise(
            F.col("embedding")
        ),
    )
    lsh_append(batch, path)
    got = (
        spark.read.parquet(_vectors_dir(path))
        .filter("vec_id < 100")
        .count()
    )
    assert got == 95  # 100 minus the 5 nulls, not 0


def test_ivf_append_within_drift_then_compact(spark, sf_dir, tmp_path):
    """Same-distribution append passes the drift gate, appended ids are
    findable, compaction restores one file per cell and pruning holds."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_build(emb, n_cells=8)
    path = str(tmp_path / "ivf")
    ivf_write(assigned, centroids, path)

    clones = emb.withColumn("vec_id", F.col("vec_id") + 1_000_000)
    ivf_append(clones, path)

    loaded, c2 = ivf_load(spark, path)
    q = list(emb.filter("vec_id = 7").select("embedding").first()[0])
    top2 = {
        r["vec_id"]
        for r in ivf_search(loaded, c2, q, k=2, n_probes=8).collect()
    }
    assert top2 == {7, 1_000_007}  # original and its appended clone

    vectors = _vectors_dir(path)
    assert max(_files_per_dir(vectors).values()) > 1
    ivf_compact(spark, path)
    vectors2 = _vectors_dir(path)
    assert vectors2 != vectors and not os.path.exists(vectors)
    assert set(_files_per_dir(vectors2).values()) == {1}

    probe = ivf_search(*ivf_load(spark, path), q, k=2, n_probes=3)
    plan = formatted_plan(probe)
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines and "cell" in part_lines[0]


def test_ivf_append_refuses_drifted_batch(spark, sf_dir, tmp_path):
    """A batch far from every stored centroid must be refused with a
    re-train instruction, not silently appended into the wrong cells."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_build(emb, n_cells=8)
    path = str(tmp_path / "ivf")
    ivf_write(assigned, centroids, path)

    drifted = emb.withColumn(
        "embedding",
        F.transform("embedding", lambda x: x * F.lit(100.0) + F.lit(50.0)),
    )
    with pytest.raises(ValueError, match="re-train"):
        ivf_append(drifted, path)
    # and nothing was written
    n = ivf_load(spark, path)[0].count()
    assert n == emb.count()


def test_ivf_append_requires_baseline(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_build(emb, n_cells=4)
    path = str(tmp_path / "ivf")
    ivf_write(assigned, centroids, path)
    os.remove(os.path.join(path, "meta.json"))
    with pytest.raises(ValueError, match="meta.json"):
        ivf_append(emb, path)


def test_lsh_compact_crash_recovery(spark, sf_dir, tmp_path):
    """A compaction that crashed after writing the next generation but
    before the manifest commit leaves the old index fully live; the
    next compaction sweeps the orphan — no os.rename anywhere (object
    stores have no atomic directory rename)."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "lsh")
    lsh_write(emb, path, n_planes=8, seed=42)
    vectors = _vectors_dir(path)
    # simulate the crash window: orphan next-gen dir, manifest unchanged
    os.makedirs(os.path.join(path, "vectors-1"), exist_ok=True)
    lsh_compact(spark, path)
    new_vectors = _vectors_dir(path)
    assert os.path.exists(new_vectors) and not os.path.exists(vectors)
    leftover = {
        d for d in os.listdir(path)
        if d == "vectors" or d.startswith("vectors-")
    }
    assert leftover == {os.path.basename(new_vectors)}
    q = list(emb.filter("vec_id = 0").select("embedding").first()[0])
    assert lsh_topk_from_index(spark, path, q, k=1).collect()[0]["vec_id"] == 0


@pytest.mark.slow
def test_lsh_multitable_index_lifecycle(spark, sf_dir, tmp_path):
    """Multi-table LSH index (n_tables>1): write replicates each vector
    once per table under table=/bucket= directories; append matches a
    full rebuild (planes re-derived from the stored seed); the probe
    prunes on BOTH partition columns and dedupes cross-table hits; and
    compaction restores one file per (table, bucket) directory."""
    emb = load_table(spark, sf_dir, "embeddings")
    half_a = emb.filter("vec_id % 2 = 0")
    half_b = emb.filter("vec_id % 2 = 1")

    grown, full = str(tmp_path / "grown"), str(tmp_path / "full")
    lsh_write(half_a, grown, n_planes=12, seed=42, n_tables=4)
    lsh_append(half_b, grown)
    lsh_write(emb, full, n_planes=12, seed=42, n_tables=4)

    # replication factor: every vector appears once per table
    n = emb.count()
    stored = spark.read.parquet(os.path.join(full, "vectors"))
    assert stored.count() == 4 * n
    assert stored.select("table").distinct().count() == 4

    q = list(emb.filter("vec_id = 1").select("embedding").first()[0])
    topk = lsh_topk_from_index(spark, grown, q, k=5, probe_hamming=2)
    from dbqt_spark.plans import formatted_plan

    plan = formatted_plan(topk)
    part_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_lines and "bucket" in part_lines[0] and "table" in part_lines[0]
    got = [r["vec_id"] for r in topk.collect()]
    want = [
        r["vec_id"]
        for r in lsh_topk_from_index(
            spark, full, q, k=5, probe_hamming=2
        ).collect()
    ]
    assert got == want and got[0] == 1
    # no duplicate ids despite cross-table candidate overlap
    assert len(got) == len(set(got))

    # appends left >1 file in touched dirs; compact restores one each
    vectors = os.path.join(grown, "vectors")
    lsh_compact(spark, grown)
    for tdir in glob.glob(os.path.join(vectors, "table=*")):
        for bdir in glob.glob(os.path.join(tdir, "bucket=*")):
            files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
            assert len(files) == 1


def test_ivf_multiassign_append_and_dedupe(spark, sf_dir, tmp_path):
    """n_assign=2 lifecycle: write stores each vector in its 2 nearest
    cells, append re-applies the stored replication factor, and a
    full-probe search (which sees both replicas of everything) still
    returns each id once and equals brute force."""
    from dbqt_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_build(emb, n_cells=8, n_assign=2)
    path = str(tmp_path / "ivf2")
    ivf_write(assigned, centroids, path, n_assign=2)

    n = emb.count()
    loaded, c2 = ivf_load(spark, path)
    assert loaded.count() == 2 * n  # replicated storage

    clones = emb.withColumn("vec_id", F.col("vec_id") + 1_000_000)
    ivf_append(clones, path)
    loaded, c2 = ivf_load(spark, path)
    assert loaded.count() == 4 * n  # append replicated too

    q = list(emb.filter("vec_id = 0").select("embedding").first()[0])
    got = [
        r["vec_id"]
        for r in ivf_search(loaded, c2, q, k=4, n_probes=8).collect()
    ]
    assert len(got) == len(set(got)) == 4
    # originals and clones interleave at the top (identical vectors)
    assert set(got[:2]) == {0, 1_000_000}


# ---------------------------------------------------------------------------
# Persisted MinHash band index (operators/minhash_index.py): the batch
# dedup-against-corpus lifecycle — band once, probe every crawl.
# ---------------------------------------------------------------------------


def _mh_docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_minhash_index_query_matches_live_frames(spark, sf_dir, tmp_path):
    """write(half) + append(half) then probe == the live-frames
    cross-corpus operator on identical sides: the index changes where
    the corpus bands live, never the pair set."""
    from dbqt_spark.operators.dedup import minhash_cross_near_duplicates
    from dbqt_spark.operators.minhash_index import (
        minhash_index_append,
        minhash_index_query,
        minhash_index_write,
    )
    from pyspark.sql import functions as F

    docs = _mh_docs(spark, sf_dir)
    corpus = docs.filter("doc_id % 2 = 0")
    crawl = docs.filter("doc_id % 2 = 1")
    path = str(tmp_path / "mhidx")
    stats_w, stats_q = {}, {}
    minhash_index_write(
        corpus.filter("doc_id % 4 = 0"), path, drop_stats=stats_w
    )
    minhash_index_append(corpus.filter("doc_id % 4 = 2"), path)
    got = sorted(
        map(
            tuple,
            minhash_index_query(
                crawl, path, threshold=0.5, drop_stats=stats_q,
                corpus=corpus,
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            minhash_cross_near_duplicates(
                crawl, corpus, threshold=0.5
            ).collect(),
        )
    )
    assert got == want
    # drop accounting parity: both sides observable, pointer not stale
    assert "n_dropped_buckets" in stats_w
    assert "query" in stats_q and "index" in stats_q
    assert stats_q["verify_missing"] == 0


def test_minhash_index_param_drift_refused(spark, sf_dir, tmp_path):
    from dbqt_spark.operators.minhash_index import (
        minhash_index_query,
        minhash_index_write,
    )

    docs = _mh_docs(spark, sf_dir).limit(50)
    path = str(tmp_path / "mhidx")
    with pytest.raises(ValueError, match="minhash_index_write first"):
        minhash_index_query(docs, path)
    minhash_index_write(docs, path)
    # meta drives the probe banding: a probe can never drift because it
    # has no banding parameters of its own — assert meta round-trips
    import json
    import os as _os

    with open(_os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    assert meta["num_hashes"] == 32 and meta["bands"] == 16


def test_minhash_index_compact_and_crash_recovery(spark, sf_dir, tmp_path):
    """Compaction rewrites bands into clustered files under a NEW
    generation, committed by the manifest rewrite — no os.rename
    anywhere (object stores don't honor atomic renames). A crash that
    wrote data dirs but not the manifest leaves orphans the next
    write/compact sweeps, while the manifest keeps pointing at a
    complete generation."""
    import json

    from dbqt_spark.operators.minhash_index import (
        minhash_index_append,
        minhash_index_compact,
        minhash_index_query,
        minhash_index_write,
    )

    docs = _mh_docs(spark, sf_dir)
    path = str(tmp_path / "mhidx")
    minhash_index_write(docs.filter("doc_id % 4 = 0"), path)
    minhash_index_append(docs.filter("doc_id % 4 = 2"), path)
    with open(os.path.join(path, "meta.json")) as f:
        gen0 = int(json.load(f)["generation"])
    bands0 = os.path.join(path, f"bands-{gen0}")
    n_before = spark.read.parquet(bands0).count()
    assert len(glob.glob(os.path.join(bands0, "*.parquet"))) > 1

    # simulate a crashed compaction: an orphan next-generation dir
    # exists but the manifest still points at gen0
    os.makedirs(os.path.join(path, f"bands-{gen0 + 1}"))

    minhash_index_compact(spark, path)
    with open(os.path.join(path, "meta.json")) as f:
        gen1 = int(json.load(f)["generation"])
    assert gen1 == gen0 + 1
    bands1 = os.path.join(path, f"bands-{gen1}")
    assert spark.read.parquet(bands1).count() == n_before
    # old generation and orphans swept; only the committed gen remains
    leftover = {d for d in os.listdir(path) if d.startswith("bands-")}
    assert leftover == {f"bands-{gen1}"}

    # probe resolves through the manifest after compaction
    got = minhash_index_query(
        docs.filter("doc_id % 2 = 1").limit(20), path, threshold=0.5,
        corpus=docs,
    )
    got.collect()


def test_minhash_index_stores_no_corpus_content(spark, tmp_path):
    """The index must NOT duplicate corpus content: only (corpus_id,
    band_key) rows are stored — a fixed ~bands x 16 B per doc — so for
    real (KB-sized) documents the index is a small fraction of the
    corpus bytes."""
    import json

    from dbqt_spark.operators.minhash_index import minhash_index_write

    # long docs: ~3000 chars each, the shape where storing text (or
    # per-shingle hashes) would blow the index up
    rows = [
        (i, " ".join(f"w{i}_{j} tok{j} common word" for j in range(100)))
        for i in range(300)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    corpus_path = str(tmp_path / "corpus")
    docs.write.parquet(corpus_path)
    path = str(tmp_path / "mhidx")
    minhash_index_write(docs, path, corpus_location=corpus_path)
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    assert meta["corpus_location"] == corpus_path
    gen = int(meta["generation"])
    stored = spark.read.parquet(os.path.join(path, f"bands-{gen}"))
    assert dict(stored.dtypes) == {"corpus_id": "bigint",
                                   "band_key": "bigint"}

    def _dir_bytes(d):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(d) for f in fs
        )

    assert _dir_bytes(path) < 0.5 * _dir_bytes(corpus_path)


def test_minhash_index_corpus_pointer_and_stale_guard(spark, sf_dir, tmp_path):
    """corpus_location recorded at write time resolves verify texts
    with no corpus= argument; a stale pointer (indexed docs missing
    from it) is surfaced through drop_stats['verify_missing'] instead
    of silently dropping candidates in the verify's inner join."""
    from dbqt_spark.operators.minhash_index import (
        minhash_index_query,
        minhash_index_write,
    )

    docs = _mh_docs(spark, sf_dir)
    corpus = docs.filter("doc_id % 2 = 0")
    crawl = docs.filter("doc_id % 2 = 1")
    corpus_path = str(tmp_path / "corpus")
    corpus.write.parquet(corpus_path)
    path = str(tmp_path / "mhidx")
    minhash_index_write(corpus, path, corpus_location=corpus_path)
    via_pointer = sorted(
        map(tuple, minhash_index_query(crawl, path, threshold=0.5).collect())
    )
    via_frame = sorted(
        map(
            tuple,
            minhash_index_query(
                crawl, path, threshold=0.5, corpus=corpus
            ).collect(),
        )
    )
    assert via_pointer == via_frame and len(via_pointer) > 0

    # stale pointer: drop half the corpus docs from the supplied frame
    stats: dict = {}
    partial = corpus.filter("doc_id % 4 = 0")
    out = minhash_index_query(
        crawl, path, threshold=0.5, corpus=partial, drop_stats=stats
    )
    out.collect()
    assert stats["verify_missing"] > 0

    # no pointer recorded and no corpus passed -> loud error
    path2 = str(tmp_path / "mhidx2")
    minhash_index_write(corpus, path2)
    with pytest.raises(ValueError, match="stores bands only"):
        minhash_index_query(crawl, path2, threshold=0.5)


def test_minhash_index_rebuild_crash_keeps_old_generation(
    spark, sf_dir, tmp_path
):
    """A REBUILD that crashed after writing its new generation's bands
    but before the manifest commit leaves the OLD index fully live
    (same probe results), and the next successful write sweeps the
    orphan."""
    import json

    from dbqt_spark.operators.minhash_index import (
        minhash_index_query,
        minhash_index_write,
    )

    docs = _mh_docs(spark, sf_dir)
    corpus = docs.filter("doc_id % 2 = 0")
    crawl = docs.filter("doc_id % 2 = 1")
    path = str(tmp_path / "mhidx")
    minhash_index_write(corpus, path)
    with open(os.path.join(path, "meta.json")) as f:
        gen = int(json.load(f)["generation"])
    before = sorted(
        map(tuple, minhash_index_query(
            crawl, path, threshold=0.5, corpus=corpus).collect())
    )
    # simulate the crash: next-generation data exists, manifest doesn't
    os.makedirs(os.path.join(path, f"bands-{gen + 1}"))
    after = sorted(
        map(tuple, minhash_index_query(
            crawl, path, threshold=0.5, corpus=corpus).collect())
    )
    assert after == before  # probes resolve through the manifest only
    minhash_index_write(corpus, path)  # successful rebuild
    leftover = {d for d in os.listdir(path) if d.startswith("bands-")}
    with open(os.path.join(path, "meta.json")) as f:
        gen2 = int(json.load(f)["generation"])
    assert leftover == {f"bands-{gen2}"}  # orphan + old gen swept


def test_minhash_index_probe_never_shuffles_index(spark, sf_dir, tmp_path):
    """The probe's candidate join must be a BroadcastHashJoin whose
    ONLY exchange is the broadcast of the crawl's band keys — the index
    band scan is read in place with no shuffle at any index size (the
    same plan property as the streaming gate's store join)."""
    import json
    import re

    from dbqt_spark.operators.minhash_index import (
        _band_key_rows,
        _bands_dir,
        minhash_index_write,
    )
    from pyspark.sql import functions as F

    docs = _mh_docs(spark, sf_dir)
    path = str(tmp_path / "mhidx")
    minhash_index_write(docs.filter("doc_id % 2 = 0"), path)
    with open(os.path.join(path, "meta.json")) as f:
        gen = int(json.load(f)["generation"])
    store_bands = spark.read.parquet(_bands_dir(path, gen))
    crawl = docs.filter("doc_id % 2 = 1")
    q_bands = _band_key_rows(crawl, "query_id", "text", "doc_id", 32, 16, 3)
    plan = formatted_plan(
        F.broadcast(q_bands).join(store_bands, "band_key")
    )
    assert "BroadcastHashJoin" in plan
    # the only shuffle is the crawl-side Arrow spread (RoundRobin);
    # NOTHING hash-partitions on band_key — the index side would
    # otherwise shuffle with the index's size
    shuffle_specs = [
        blk for blk in plan.split("\n\n")
        if re.match(r"\(\d+\) Exchange", blk)
    ]
    assert all("RoundRobinPartitioning" in blk for blk in shuffle_specs)
    assert "hashpartitioning(band_key" not in plan


def test_rebuild_bumps_generation_no_inplace_overwrite(
    spark, sf_dir, tmp_path
):
    """Rebuilding an EXISTING lsh/ivf store must bump the generation
    (ADVICE r11): data + centroids land under generation-unique names
    before meta.json commits, so a crash mid-rebuild can never leave the
    live manifest pointing at a half-overwritten dir or at new-param
    vectors under old params. After a clean rebuild the old generation
    is swept and probes serve the NEW params."""
    import json


    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "lsh")
    lsh_write(emb, path, n_planes=8, seed=42)
    assert os.path.exists(os.path.join(path, "vectors"))
    # rebuild with DIFFERENT params — the stale-params hazard case
    lsh_write(emb, path, n_planes=12, seed=7)
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    assert meta["generation"] == 1 and meta["n_planes"] == 12
    assert os.path.exists(os.path.join(path, "vectors-1"))
    assert not os.path.exists(os.path.join(path, "vectors"))
    q = list(emb.filter("vec_id = 3").select("embedding").first()[0])
    assert (
        lsh_topk_from_index(spark, path, q, k=1).collect()[0]["vec_id"] == 3
    )

    ipath = str(tmp_path / "ivf")
    assigned, cents = ivf_build(emb, n_cells=4)
    ivf_write(assigned, cents, ipath)
    assert os.path.exists(os.path.join(ipath, "centroids.json"))
    assigned2, cents2 = ivf_build(emb, n_cells=8)
    ivf_write(assigned2, cents2, ipath)
    with open(os.path.join(ipath, "meta.json")) as f:
        imeta = json.load(f)
    assert imeta["generation"] == 1
    # centroids travel with the generation: the new file exists, the
    # old plain name was swept, and the loader resolves via meta
    assert os.path.exists(os.path.join(ipath, "centroids-1.json"))
    assert not os.path.exists(os.path.join(ipath, "centroids.json"))
    loaded, loaded_cents = ivf_load(spark, ipath)
    assert len(loaded_cents) == len(cents2)
    n_before = loaded.count()  # materialize BEFORE compaction sweeps
    # compaction after a rebuild carries the centroids forward again
    ivf_compact(spark, ipath)
    assert os.path.exists(os.path.join(ipath, "centroids-2.json"))
    loaded2, loaded_cents2 = ivf_load(spark, ipath)
    assert loaded_cents2 == loaded_cents
    assert loaded2.count() == n_before


def _dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def test_lsh_delete_probe_excludes_and_compact_reclaims(
    spark, sf_dir, tmp_path
):
    """VERDICT r12 #4, LSH arm: delete -> probes never return the id
    (even if it is appended again — takedown wins); compact ->
    tombstoned rows physically gone, store bytes shrink, tombstone
    dirs retired; post-compact append re-admits."""
    import json

    from dbqt_spark.operators.similarity import lsh_delete

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "lsh")
    lsh_write(emb, path, n_planes=8, seed=42)
    q = list(emb.filter("vec_id = 1").select("embedding").first()[0])
    assert lsh_topk_from_index(spark, path, q, k=1).collect()[0][
        "vec_id"
    ] == 1

    lsh_delete(spark, path, [1, 3])
    got = [
        r["vec_id"]
        for r in lsh_topk_from_index(spark, path, q, k=5).collect()
    ]
    assert 1 not in got and 3 not in got and len(got) == 5
    # a second delete unions into ONE live tombstone dir
    lsh_delete(spark, path, [5])
    got = [
        r["vec_id"]
        for r in lsh_topk_from_index(spark, path, q, k=5).collect()
    ]
    assert not {1, 3, 5} & set(got)
    tomb_dirs = [
        d for d in os.listdir(path) if d.startswith("tombstones-")
    ]
    assert tomb_dirs == ["tombstones-2"]

    # takedown wins over a later append of the same id
    lsh_append(emb.filter("vec_id = 1"), path)
    got = [
        r["vec_id"]
        for r in lsh_topk_from_index(spark, path, q, k=5).collect()
    ]
    assert 1 not in got

    # compact: physical drop + tombstone retirement + bytes shrink
    n_all = emb.count()
    bytes_before = _dir_bytes(path)
    lsh_compact(spark, path)
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    assert "tombstone_generation" not in meta
    assert not any(
        d.startswith("tombstones-") for d in os.listdir(path)
    )
    stored = spark.read.parquet(_vectors_dir(path))
    assert stored.count() == n_all - 3  # 1 (x2 rows), 3, 5 dropped
    assert stored.filter("vec_id in (1, 3, 5)").count() == 0
    assert _dir_bytes(path) < bytes_before
    got = [
        r["vec_id"]
        for r in lsh_topk_from_index(spark, path, q, k=5).collect()
    ]
    assert not {1, 3, 5} & set(got)

    # post-compact append genuinely re-admits
    lsh_append(emb.filter("vec_id = 1"), path)
    assert lsh_topk_from_index(spark, path, q, k=1).collect()[0][
        "vec_id"
    ] == 1


def test_lsh_delete_crash_safe_commit(spark, sf_dir, tmp_path):
    """A delete that crashed after writing its tombstone dir but before
    the manifest commit leaves the store fully live (nothing deleted);
    the next delete overwrites/sweeps the orphan."""
    from dbqt_spark.operators.similarity import lsh_delete

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "lsh")
    lsh_write(emb, path, n_planes=8, seed=42)
    # simulate the crash window: orphan tombstone dirs, manifest unchanged
    os.makedirs(os.path.join(path, "tombstones-1"), exist_ok=True)
    os.makedirs(os.path.join(path, "tombstones-7"), exist_ok=True)
    q = list(emb.filter("vec_id = 1").select("embedding").first()[0])
    # unreferenced tombstones are invisible: nothing is deleted
    assert lsh_topk_from_index(spark, path, q, k=1).collect()[0][
        "vec_id"
    ] == 1
    # the next delete re-lands on tombstones-1 (overwrite) and sweeps
    lsh_delete(spark, path, [1])
    tomb_dirs = sorted(
        d for d in os.listdir(path) if d.startswith("tombstones-")
    )
    assert tomb_dirs == ["tombstones-1"]
    got = [
        r["vec_id"]
        for r in lsh_topk_from_index(spark, path, q, k=3).collect()
    ]
    assert 1 not in got


def test_ivf_delete_lifecycle(spark, sf_dir, tmp_path):
    """VERDICT r12 #4, IVF arm: ivf_delete hides ids from ivf_load
    (hence every probe and the semantic gate); ivf_compact drops the
    rows physically and retires the tombstones; DataFrame-valued ids
    work; empty delete is a no-op; delete on a missing store fails
    loudly."""
    import json

    from dbqt_spark.operators.similarity import ivf_delete

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, cents = ivf_build(emb, n_cells=8)
    path = str(tmp_path / "ivf")
    ivf_write(assigned, cents, path)
    n_all = emb.count()

    with pytest.raises(ValueError, match="meta.json missing"):
        ivf_delete(spark, str(tmp_path / "nope"), [1])

    ivf_delete(spark, path, [])  # no-op
    loaded, _ = ivf_load(spark, path)
    assert loaded.count() == n_all

    # DataFrame-valued ids (takedown lists arrive as frames at scale)
    ids_df = emb.filter("vec_id in (2, 4)").select("vec_id")
    ivf_delete(spark, path, ids_df)
    loaded, _ = ivf_load(spark, path)
    assert loaded.count() == n_all - 2
    assert loaded.filter("vec_id in (2, 4)").count() == 0
    q = list(emb.filter("vec_id = 2").select("embedding").first()[0])
    top = ivf_search(loaded, cents, q, k=3, n_probes=8).collect()
    assert 2 not in [r["vec_id"] for r in top]

    ivf_compact(spark, path)
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    assert "tombstone_generation" not in meta
    stored = spark.read.parquet(_vectors_dir(path))
    assert stored.count() == n_all - 2
    assert stored.filter("vec_id in (2, 4)").count() == 0


def test_minhash_index_delete_lifecycle(spark, tmp_path):
    """VERDICT r12 #4, MinHash arm: deleted corpus ids stop appearing
    in probe pairs immediately; compact physically drops their band
    rows and retires the tombstones; a rebuild (write) clears any
    live tombstones."""
    import json

    from dbqt_spark.operators.minhash_index import (
        minhash_index_compact,
        minhash_index_delete,
        minhash_index_query,
        minhash_index_write,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the band plays on through the long summer evening hours"
    )
    corpus = spark.createDataFrame(
        [
            (1, base + " alpha"),
            (2, base + " beta"),
            (3, "a completely different text about spark shuffles and "
                "partition pruning strategies for columnar scan engines"),
        ],
        "doc_id long, text string",
    )
    crawl = spark.createDataFrame(
        [(101, base + " gamma")], "doc_id long, text string"
    )
    path = str(tmp_path / "mhidx")
    minhash_index_write(corpus, path)

    def probe_ids():
        return {
            r["corpus_id"]
            for r in minhash_index_query(
                crawl, path, threshold=0.5, corpus=corpus
            ).collect()
        }

    assert probe_ids() == {1, 2}
    minhash_index_delete(spark, path, [1])
    assert probe_ids() == {2}

    from dbqt_spark.operators.minhash_index import _bands_dir

    with open(os.path.join(path, "meta.json")) as f:
        gen = json.load(f)["generation"]
    rows_before = spark.read.parquet(_bands_dir(path, gen)).count()
    minhash_index_compact(spark, path)
    with open(os.path.join(path, "meta.json")) as f:
        meta = json.load(f)
    assert "tombstone_generation" not in meta
    bands = spark.read.parquet(_bands_dir(path, meta["generation"]))
    assert bands.count() < rows_before
    assert bands.filter("corpus_id = 1").count() == 0
    assert probe_ids() == {2}

    # a rebuild clears tombstones (fresh manifest, swept dirs)
    minhash_index_delete(spark, path, [2])
    assert probe_ids() == set()
    minhash_index_write(corpus, path)
    assert not any(
        d.startswith("tombstones-") for d in os.listdir(path)
    )
    assert probe_ids() == {1, 2}


def test_torn_manifest_commit_keeps_previous_generation(
    spark, tmp_path, monkeypatch
):
    """A crash midway through a manifest write (``json.dump`` dies after
    half its text) must leave the previous manifest committed, for every
    store kind: it still parses, probes and the gate answer exactly as
    before the crash, and the next rebuild commits generation old+1
    (not a fresh generation 1)."""
    import json
    import random
    import shutil

    from dbqt_spark.operators.minhash_index import (
        minhash_index_compact,
        minhash_index_query,
        minhash_index_write,
    )
    from dbqt_spark.operators.similarity import lsh_delete
    from dbqt_spark.streaming.neardup import minhash_gate_batch

    def torn_dump(obj, fp, *args, **kwargs):
        text = json.dumps(obj, *args, **kwargs)
        fp.write(text[: len(text) // 2])
        raise OSError("simulated crash mid manifest write")

    def crash(fn, *args):
        with monkeypatch.context() as m:
            m.setattr(json, "dump", torn_dump)
            with pytest.raises(OSError, match="simulated crash"):
                fn(*args)

    def manifest(path):
        with open(os.path.join(path, "meta.json")) as f:
            return json.load(f)

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the band plays on through the long summer evening hours"
    )
    corpus = spark.createDataFrame(
        [(1, base + " alpha"), (2, "spark shuffles and partition pruning "
                                   "strategies for columnar scan engines")],
        "doc_id long, text string",
    )
    crawl = spark.createDataFrame(
        [(101, base + " gamma")], "doc_id long, text string"
    )

    # MinHash index: a torn rebuild commit
    idx = str(tmp_path / "mhidx")
    minhash_index_write(corpus, idx)
    minhash_index_write(corpus, idx)

    def probe():
        return sorted(
            map(tuple, minhash_index_query(
                crawl, idx, threshold=0.5, corpus=corpus).collect())
        )

    before = probe()
    assert [r[:2] for r in before] == [(101, 1)]
    crash(minhash_index_write, corpus, idx)
    assert manifest(idx)["generation"] == 2
    assert probe() == before
    # a temp file left by a writer killed mid-commit is swept
    open(os.path.join(idx, ".meta.json.killed.tmp"), "w").close()
    minhash_index_write(corpus, idx)
    assert manifest(idx)["generation"] == 3
    assert sorted(os.listdir(idx)) == ["bands-3", "meta.json"]
    assert probe() == before

    # LSH index: a torn delete commit deletes nothing
    rng = random.Random(7)
    vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(40)]
    emb = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )
    lsh = str(tmp_path / "lsh")
    lsh_write(emb, lsh, n_planes=4, seed=42)

    def top():
        return [
            r["vec_id"]
            for r in lsh_topk_from_index(spark, lsh, vecs[1], k=3).collect()
        ]

    before = top()
    assert before[0] == 1
    crash(lsh_delete, spark, lsh, [1])
    assert "tombstone_generation" not in manifest(lsh)
    assert top() == before

    # near-dup gate store: a torn compaction commit
    gate = str(tmp_path / "gate")
    minhash_gate_batch(
        spark.createDataFrame([(1, base + " alpha")], ["doc_id", "text"]),
        gate,
        threshold=0.5,
    )
    arrivals = spark.createDataFrame(
        [(2, base + " beta"), (3, "entirely different fresh content " * 8)],
        ["doc_id", "text"],
    )
    twin = str(tmp_path / "gate_twin")
    shutil.copytree(gate, twin)
    want = sorted(
        r["id"]
        for r in minhash_gate_batch(arrivals, twin, threshold=0.5).collect()
    )
    assert want == [3]
    gen = manifest(gate)["generation"]
    crash(minhash_index_compact, spark, gate)
    assert manifest(gate)["generation"] == gen
    got = sorted(
        r["id"]
        for r in minhash_gate_batch(arrivals, gate, threshold=0.5).collect()
    )
    assert got == want


def test_store_path_with_uri_scheme_is_refused(spark, tmp_path, monkeypatch):
    """Store I/O is local-filesystem only: a store path with a URI scheme
    is refused before any Spark job runs, instead of landing the
    manifest in a local ``./s3a:`` directory while Hadoop writes the
    parquet elsewhere."""
    from dbqt_spark.operators.minhash_index import minhash_index_write
    from dbqt_spark.streaming.neardup import minhash_gate_batch
    from dbqt_spark.streaming.publish import publish_batch

    monkeypatch.chdir(tmp_path)
    docs = spark.createDataFrame([(1, "some text here")], ["doc_id", "text"])
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0], 0)], "vec_id long, embedding array<float>, cell int"
    )
    sc = spark.sparkContext
    sc.setJobGroup("uri-scheme-refusal", "store path validation")
    try:
        for call in (
            lambda: minhash_index_write(docs, "s3a://b/idx"),
            lambda: lsh_write(vecs, "s3a://b/lsh"),
            lambda: ivf_write(vecs, [[1.0, 0.0]], "hdfs://nn/ivf"),
            lambda: minhash_gate_batch(docs, "s3a://b/gate"),
            lambda: publish_batch(docs, "s3a://b/out", 0),
        ):
            with pytest.raises(ValueError, match="local-filesystem only"):
                call()
        assert sc.statusTracker().getJobIdsForGroup("uri-scheme-refusal") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not (tmp_path / "s3a:").exists()
    assert not (tmp_path / "hdfs:").exists()


def test_gate_store_is_a_minhash_index(spark, tmp_path):
    """The near-dup gate keeps its state in a MinHash index: after two
    gate batches, ``minhash_index_query`` over the gate's store finds a
    crawl's near-dup of an accepted doc, and ``minhash_index_delete``
    takes an accepted doc down for the gate too (its near-dup is
    admitted afterwards). A gate store whose first append never landed
    probes as empty."""
    from dbqt_spark.operators.minhash_index import (
        _open_index,
        minhash_index_delete,
        minhash_index_query,
    )
    from dbqt_spark.streaming.neardup import minhash_gate_batch

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    other = "completely different content about other things entirely " * 5
    near = base.replace("kappa", "kappaX", 1)
    crawl = spark.createDataFrame([(101, near)], ["doc_id", "text"])
    gate = str(tmp_path / "gate")
    b1 = spark.createDataFrame([(1, base), (2, other)], ["doc_id", "text"])
    b2 = spark.createDataFrame(
        [(3, "fresh independent words here now " * 5)], ["doc_id", "text"]
    )
    accepted = b1.unionByName(b2)
    # the state a first gate batch leaves if it dies before its append
    _open_index(gate, 32, 16, 3, 1000)
    assert minhash_index_query(
        crawl, gate, threshold=0.5, corpus=accepted
    ).collect() == []

    kept = [
        r["id"]
        for b in (b1, b2)
        for r in minhash_gate_batch(b, gate, threshold=0.5).collect()
    ]
    assert sorted(kept) == [1, 2, 3]
    hits = minhash_index_query(crawl, gate, threshold=0.5, corpus=accepted)
    assert [(r["query_id"], r["corpus_id"]) for r in hits.collect()] == [
        (101, 1)
    ]

    minhash_index_delete(spark, gate, [1])
    assert minhash_index_query(
        crawl, gate, threshold=0.5, corpus=accepted
    ).collect() == []
    kept = minhash_gate_batch(
        spark.createDataFrame([(4, near)], ["doc_id", "text"]),
        gate,
        threshold=0.5,
    ).collect()
    assert [r["id"] for r in kept] == [4]


def test_gate_refuses_pre_index_store_before_any_job(spark, tmp_path):
    """A gate store in the layout that predates the MinHash index
    (its own ``bands`` directory of ``old_id`` rows under a
    ``plain_bands_v3`` manifest) is refused with a ValueError naming
    the rebuild, before any Spark job runs — gating against it would
    read a layout no code writes any more."""
    import json

    from dbqt_spark.streaming.neardup import minhash_gate_batch

    gate = tmp_path / "gate"
    (gate / "bands").mkdir(parents=True)
    (gate / "meta.json").write_text(json.dumps({
        "num_hashes": 32, "bands": 16, "shingle_n": 3,
        "store_format": "plain_bands_v3",
    }))
    docs = spark.createDataFrame([(1, "some text here")], ["doc_id", "text"])
    sc = spark.sparkContext
    sc.setJobGroup("pre-index-gate-refusal", "gate store format check")
    try:
        with pytest.raises(ValueError, match="re-run minhash_gate_batch"):
            minhash_gate_batch(docs, str(gate))
        assert (
            sc.statusTracker().getJobIdsForGroup("pre-index-gate-refusal")
            == []
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(os.listdir(gate)) == ["bands", "meta.json"]
