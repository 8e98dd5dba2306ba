"""Operator semantics tests on synthetic frames (reference contracts:
null-rejection, guard rails, dedup true-positives, combine gating)."""

import os

import pytest
from pyspark.sql import functions as F


# -- keyfinder ---------------------------------------------------------------


def test_keyfinder_null_rejection(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], ["k", "v"]
    )
    from dbqt_spark.operators.keyfinder import find_composite_keys

    # v has a NULL -> rejected even though distinct; k is the only key
    keys = find_composite_keys(df, approx_prefilter=False)
    assert keys == [("k",)]


def test_keyfinder_minimal_only(spark):
    df = spark.createDataFrame(
        [(1, 1, "x"), (1, 2, "x"), (2, 1, "y")], ["a", "b", "c"]
    )
    from dbqt_spark.operators.keyfinder import find_composite_keys

    keys = find_composite_keys(df, approx_prefilter=False)
    # no single column unique; (a,b) is the designed pair; supersets pruned
    assert ("a", "b") in keys
    assert all(len(k) == 2 for k in keys)


def test_keyfinder_guard():
    from dbqt_spark.operators.keyfinder import calculate_total_combinations

    assert calculate_total_combinations(3) == 7
    assert calculate_total_combinations(5, 2) == 15


def test_keyfinder_guard_raises(spark):
    from dbqt_spark.operators.keyfinder import find_composite_keys

    df = spark.range(5).select(
        *[(F.col("id") + i).alias(f"c{i}") for i in range(17)]
    )
    with pytest.raises(ValueError, match="combinations"):
        find_composite_keys(df, max_combinations=1000)


def test_id_prioritization():
    from dbqt_spark.operators.keyfinder import prioritize_id_columns

    assert prioritize_id_columns(["name", "user_id", "id", "x"]) == [
        "user_id",
        "id",
        "name",
        "x",
    ]


# -- dedup -------------------------------------------------------------------


def test_exact_dedup_synthetic(spark):
    rows = [
        (1, "the quick brown fox"),
        (2, "THE  QUICK   brown FOX"),  # same after normalization
        (3, "something else entirely"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    from dbqt_spark.operators.dedup import dedup_exact, exact_duplicate_groups

    groups = exact_duplicate_groups(df).collect()
    assert len(groups) == 1
    assert groups[0]["dup_count"] == 2
    assert groups[0]["keep_id"] == 1

    kept = sorted(r["doc_id"] for r in dedup_exact(df).collect())
    assert kept == [1, 3]


def test_minhash_finds_near_dups(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    perturbed = base.replace("gamma", "GAMMA2", 1)
    rows = [(1, base), (2, perturbed), (3, "totally unrelated words here xyzzy " * 6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    from dbqt_spark.operators.dedup import minhash_near_duplicates

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_duplicates(df, threshold=0.5).collect()
    }
    assert (1, 2) in pairs
    assert pairs[(1, 2)] > 0.5
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_similar_docs_close(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    rows = [
        (1, base),
        (2, base.replace("kappa", "kappax", 1)),
        (3, "completely different content " * 10),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    from dbqt_spark.operators.dedup import simhash_fingerprints

    fp = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(df).collect()}

    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert hamming(fp[1], fp[2]) < hamming(fp[1], fp[3])


def test_simhash_near_duplicates_banded(spark):
    import pytest

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    rows = [
        (1, base),
        (2, base.replace("kappa", "kappax", 1)),
        (3, "completely different content words here " * 10),
        (4, base),  # identical to 1 -> hamming 0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    from dbqt_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_near_duplicates,
    )

    # ground truth from the fingerprints themselves
    fp = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(df).collect()}

    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    k = 3
    expected = {
        (a, b)
        for a in fp
        for b in fp
        if a < b and hamming(fp[a], fp[b]) <= k
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_duplicates(df, max_hamming=k).collect()
    }
    # banding with bands > max_hamming guarantees NO false negatives and
    # the explicit hamming filter removes false positives -> exact set
    assert got == expected
    assert (1, 4) in got  # identical docs always within any threshold

    with pytest.raises(ValueError):
        simhash_near_duplicates(df, max_hamming=4, bands=4)


# -- combine / parquetizer ---------------------------------------------------


def test_combine_schema_gating(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p1, p2, p3 = (str(tmp_path / f"f{i}.parquet") for i in range(3))
    pq.write_table(pa.table({"a": [1, 2]}), p1)
    pq.write_table(pa.table({"a": [3]}), p2)
    pq.write_table(pa.table({"b": ["x"]}), p3)
    bad = str(tmp_path / "bad.parquet")
    with open(bad, "w") as f:
        f.write("not parquet")

    from dbqt_spark.operators.combine import combine_parquet

    res = combine_parquet(spark, [p1, p2, p3, bad])
    assert len(res.included) == 2
    assert {r for _, r in res.skipped} == {"schema mismatch", "not a parquet file"}
    assert sorted(r["a"] for r in res.combined.collect()) == [1, 2, 3]


def test_parquetizer(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    noext = str(tmp_path / "datafile")
    pq.write_table(pa.table({"a": [1]}), noext)
    with open(tmp_path / "textfile", "w") as f:
        f.write("hello world")

    from dbqt_spark.operators.combine import add_parquet_extension, is_parquet_file

    assert is_parquet_file(noext)
    assert not is_parquet_file(str(tmp_path / "textfile"))
    renamed = add_parquet_extension(str(tmp_path))
    assert renamed == [noext + ".parquet"]
    assert os.path.exists(noext + ".parquet")


# -- config / report ---------------------------------------------------------


def test_read_tables_csv(tmp_path):
    from dbqt_spark.config import read_tables_csv

    single = tmp_path / "single.csv"
    single.write_text("table_name\nlineitem\norders\n")
    mode, rows = read_tables_csv(str(single))
    assert mode == "single"
    assert [r["table_name"] for r in rows] == ["lineitem", "orders"]

    dual = tmp_path / "dual.csv"
    dual.write_text("source_table,target_table\norders,orders\nlineitem,li2\n")
    mode, rows = read_tables_csv(str(dual))
    assert mode == "dual"
    assert rows[1]["target_table"] == "li2"


def test_discover_common_tables():
    from dbqt_spark.config import discover_common_tables

    out = discover_common_tables(
        ["ORDERS", "LINEITEM", "SRC_ONLY"], ["orders", "lineitem", "TGT_ONLY"]
    )
    by_status = {}
    for r in out:
        by_status.setdefault(r["_discovery_status"], []).append(r)
    assert len(by_status["common"]) == 2
    assert by_status["source_only"][0]["source_table"] == "SRC_ONLY"
    assert by_status["target_only"][0]["target_table"] == "TGT_ONLY"


def test_nullcheck_markdown_golden():
    from dbqt_spark.report.markdown import format_nullcheck_report

    results = {
        "T1": {"A": 0, "B": 3, "C": 100},
        "T2": {},
    }
    md = format_nullcheck_report(results)
    assert "## T1" in md
    assert "NULL columns (1): A" in md
    assert "Low distinct counts: {'B': 3}" in md
    assert "ERROR: No columns found" in md
    assert "Total NULL columns: 1" in md
    assert "NULL columns: T1.A" in md


def test_html_report(spark, tmp_path):
    from dbqt_spark.report.html import HTMLReport

    df = spark.createDataFrame([(1, "a", float("nan"))], ["n", "s", "f"])
    rep = HTMLReport("t")
    rep.add_dataframe_tab("Tab1", df)
    out = rep.save(str(tmp_path / "r.html"))
    html = open(out).read()
    assert "Tabulator" in html and "Tab1" in html
    assert "NaN" not in html  # NaN sanitized to null
    # column-feature parity with the reference's Tabulator defs
    # (dbqt/tools/utils.py:481-523): per-dtype headerFilter + sorter +
    # plaintext formatter, numeric flags carried per column
    assert 'headerFilter: c.numeric ? "number" : "input"' in html
    assert 'sorter: c.numeric ? "number" : "string"' in html
    assert 'formatter: "plaintext"' in html
    import json as _json

    tabs = _json.loads(
        html.split("const TABS = ", 1)[1].split(";\n", 1)[0]
    )
    numeric = {c["name"]: c["numeric"] for c in tabs[0]["columns"]}
    assert numeric == {"n": True, "s": False, "f": True}


# -- multimodal plumbing -----------------------------------------------------


def test_multimodal_features(spark):
    rows = [(1, b"hello world"), (2, b"\x00\x01\x02" * 100), (3, None)]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    from dbqt_spark.operators.multimodal import extract_features, sample_frames

    feats = {r["media_id"]: r for r in extract_features(df).collect()}
    assert feats[1]["size_bytes"] == 11
    assert len(feats[1]["features"]) == 8
    assert abs(sum(feats[1]["features"]) - 1.0) < 1e-6
    assert feats[3]["features"] is None

    frames = sample_frames(df, every_n_bytes=100).collect()
    assert sum(1 for r in frames if r["media_id"] == 2) == 3


def test_multimodal_real_image_decode_needs_pillow(spark):
    """decode_stub=False resolves a REAL decoder; with pillow absent the
    failure is immediate and driver-side (no job launched)."""
    df = spark.createDataFrame([(1, b"x")], "media_id long, content binary")
    from dbqt_spark.operators.multimodal import extract_features

    try:
        import PIL  # noqa: F401

        has_pil = True
    except ImportError:
        has_pil = False
    if has_pil:
        pytest.skip("pillow available: real image decode path active")
    with pytest.raises(NotImplementedError, match="pillow"):
        extract_features(df, decode_stub=False, media_type="image")


def test_multimodal_custom_decoder(spark):
    """The decode step is pluggable: a user decoder runs inside the
    mapInPandas batches."""
    df = spark.createDataFrame(
        [(1, b"abc"), (2, b"defg")], "media_id long, content binary"
    )
    from dbqt_spark.operators.multimodal import extract_features

    got = {
        r["media_id"]: r["features"]
        for r in extract_features(
            df, decoder=lambda p: [float(len(p))] * 2
        ).collect()
    }
    assert got == {1: [3.0, 3.0], 2: [4.0, 4.0]}


def test_multimodal_real_wav_decode(spark):
    """Real audio decode end-to-end: generate WAV bytes (stdlib), decode
    through the resolved audio decoder inside Spark, check the stats."""
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    rate, n = 8000, 800
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        samples = [
            int(10_000 * math.sin(2 * math.pi * 440 * i / rate))
            for i in range(n)
        ]
        w.writeframes(struct.pack(f"<{n}h", *samples))
    payload = buf.getvalue()

    df = spark.createDataFrame(
        [(7, payload)], "media_id long, content binary"
    )
    from dbqt_spark.operators.multimodal import extract_features

    row = extract_features(
        df, decode_stub=False, media_type="audio"
    ).collect()[0]
    f = row["features"]
    assert len(f) == 8
    mean, std, mean_abs, fmax, fmin, length, ch, frate = f
    assert abs(mean) < 0.01          # sine wave: zero mean
    assert 0.15 < std < 0.35         # amplitude 10000/32768 ~ 0.305 rms/sqrt2
    assert fmax > 0.25 and fmin < -0.25
    assert (length, ch, frate) == (800.0, 1.0, 8000.0)


# -- as-of join --------------------------------------------------------------


def test_asof_join_semantics(spark):
    from dbqt_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, "p1"), (1, 200, "p2"), (2, 50, "p3"), (3, 10, "p4")],
        ["user_id", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [(1, 100, "c1"), (1, 150, "c2"), (2, 60, "c3")],
        ["user_id", "ts", "name"],
    )
    out = {
        r["tag"]: (r["right_name"], r["right_ts"])
        for r in asof_join(left, right, ts_col="ts", by="user_id").collect()
    }
    assert out["p1"] == ("c1", 100)  # tie: right at exactly left.ts matches
    assert out["p2"] == ("c2", 150)  # latest of several earlier rights
    assert out["p3"] == (None, None)  # right exists but only AFTER left
    assert out["p4"] == (None, None)  # key has no right rows at all
    # left columns survive untouched
    rows = asof_join(left, right, ts_col="ts", by="user_id").columns
    assert set(rows) == {"user_id", "ts", "tag", "right_ts", "right_name"}


def test_asof_join_tolerance(spark):
    """A match further back than the tolerance window is voided to NULL
    (pandas merge_asof contract), inclusive at the boundary; timestamp
    columns measure in seconds, numeric columns in their own units."""
    import datetime as dt

    from dbqt_spark.operators.asof import asof_join

    # numeric ts: tolerance in native units
    left = spark.createDataFrame(
        [(1, 200, "p1"), (1, 130, "p2")], ["user_id", "ts", "tag"]
    )
    right = spark.createDataFrame(
        [(1, 100, "c1")], ["user_id", "ts", "name"]
    )
    got = {
        r["tag"]: r["right_name"]
        for r in asof_join(
            left, right, ts_col="ts", by="user_id", tolerance_seconds=50
        ).collect()
    }
    assert got == {"p1": None, "p2": "c1"}  # 100 > 50 voided; 30 kept
    # timestamp ts: tolerance in seconds, inclusive boundary
    T = lambda h, m=0: dt.datetime(2026, 1, 1, h, m)  # noqa: E731
    lts = spark.createDataFrame(
        [(1, T(10), "x"), (1, T(12), "y")], "user_id long, ts timestamp, tag string"
    )
    rts = spark.createDataFrame(
        [(1, T(9), "c")], "user_id long, ts timestamp, name string"
    )
    got = {
        r["tag"]: r["right_name"]
        for r in asof_join(
            lts, rts, ts_col="ts", by="user_id", tolerance_seconds=3600
        ).collect()
    }
    assert got == {"x": "c", "y": None}  # exactly 1h in; 3h out


def test_asof_join_composite_key(spark):
    from dbqt_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", 1, 100), ("b", 1, 100)], ["region", "user_id", "ts"]
    )
    right = spark.createDataFrame(
        [("a", 1, 90, 7.0)], ["region", "user_id", "ts", "score"]
    )
    got = {
        (r["region"], r["user_id"]): r["right_score"]
        for r in asof_join(
            left, right, ts_col="ts", by=["region", "user_id"]
        ).collect()
    }
    assert got[("a", 1)] == 7.0
    assert got[("b", 1)] is None  # same user_id, different region -> no match


def test_range_join_binned(spark):
    from dbqt_spark.operators.rangejoin import range_join_binned

    fact = spark.createDataFrame(
        [(1, 0.5), (2, 10.0), (3, 15.0), (4, 99.0), (5, -3.0)],
        ["fid", "v"],
    )
    ivl = spark.createDataFrame(
        [("a", 0.0, 10.0), ("b", 10.0, 20.0), ("c", -5.0, -1.0)],
        ["name", "lo", "hi"],
    )
    got = {
        (r["fid"], r["name"])
        for r in range_join_binned(fact, "v", ivl, bin_width=4.0).collect()
    }
    # v=10.0 is on the shared inclusive boundary -> matches BOTH intervals
    assert got == {(1, "a"), (2, "a"), (2, "b"), (3, "b"), (5, "c")}

    left = range_join_binned(fact, "v", ivl, bin_width=4.0, how="left")
    rows = {r["fid"]: r for r in left.collect() if r["name"] is None}
    assert set(rows) == {4}  # unmatched fact row kept with NULL interval

    import pytest

    with pytest.raises(ValueError):
        range_join_binned(fact, "v", ivl, bin_width=0)
    with pytest.raises(ValueError):
        range_join_binned(fact, "v", ivl, how="full")


# -- LSH bucket cap: pathological hot buckets --------------------------------


def _hot_bucket_docs(spark, n_hot=300):
    """``n_hot`` identical docs (every LSH bucket they touch goes hot)
    plus one planted near-dup pair of distinct docs."""
    blob = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 4
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    rows = [(i, blob) for i in range(n_hot)]
    rows += [(10_000, base), (10_001, base.replace("gamma", "GAMMA2", 1))]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_bucket_cap_drops_hot_bucket(spark, monkeypatch):
    """The bucket-size cap must (a) fire on a hot bucket, (b) report what
    it dropped, and (c) keep the pair join sub-quadratic while still
    finding the planted near-dup pair — on the collected-keys path and
    on the cluster-side path a corpus with more than
    ``MAX_LOCAL_OVERSIZED`` hot buckets takes."""
    from dbqt_spark.operators import dedup
    from dbqt_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_near_duplicates,
        minhash_signatures,
    )

    # 300 identical docs: 3x the cap — fires identically to the old
    # 2000-doc form at a fraction of the signature cost (suite-wall
    # item, VERDICT r15 #6)
    df = _hot_bucket_docs(spark, n_hot=300)
    stats = {}
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(
            df, threshold=0.5, max_bucket_size=100, drop_stats=stats
        ).collect()
    }
    # identical docs form one hot bucket per band: all 16 dropped
    assert stats["n_dropped_buckets"] == 16
    assert stats["n_dropped_rows"] == 300 * 16
    # the hot cluster is excluded (exact dedup's job), the sparse tail kept
    assert pairs == {(10_000, 10_001)}

    # over-limit fallback: 16 hot buckets > 1 keeps the oversized keys
    # cluster-side (broadcast anti-join + stats job) — same stats, pairs
    monkeypatch.setattr(dedup, "MAX_LOCAL_OVERSIZED", 1)
    stats_far = {}
    pairs_far = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(
            df, threshold=0.5, max_bucket_size=100, drop_stats=stats_far
        ).collect()
    }
    assert stats_far == stats
    assert pairs_far == pairs
    monkeypatch.undo()

    # sub-quadratic: without the cap the candidate join would emit
    # n_hot*(n_hot-1)/2 pairs per band (300 hot docs); with it, only the
    # planted pair survives
    sigs = minhash_signatures(df)
    n_cand = minhash_candidate_pairs(sigs, max_bucket_size=100).count()
    assert n_cand == 1


def test_simhash_bucket_cap_drops_hot_bucket(spark):
    from dbqt_spark.operators.dedup import simhash_near_duplicates

    df = _hot_bucket_docs(spark, n_hot=300)
    stats = {}
    pairs = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_duplicates(
            df, max_hamming=3, max_bucket_size=100, drop_stats=stats
        ).collect()
    }
    # identical fingerprints: one hot (band, chunk) bucket per band
    assert stats["n_dropped_buckets"] == 4
    assert stats["n_dropped_rows"] == 300 * 4
    assert (0, 1) not in pairs  # hot cluster excluded
    # cap off -> hot cluster pairs come back and stats stay zeroed
    stats2 = {}
    all_pairs = simhash_near_duplicates(
        df.limit(50), max_hamming=3, max_bucket_size=None, drop_stats=stats2
    ).count()
    assert all_pairs == 50 * 49 / 2
    assert stats2 == {}


def test_minhash_jaccard_ascii_whitespace_matches_relational(spark):
    """Non-ASCII whitespace (\\xa0) must NOT split tokens in the
    pandas-UDF paths: the vectorized Jaccard has to agree with the
    relational shingles_col/ngram_jaccard (Java \\s+ semantics) and the
    SQL oracles (ADVICE r4)."""
    from dbqt_spark.operators.dedup import (
        minhash_near_duplicates,
        ngram_jaccard,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "w1 w2 " + base),   # \xa0 glues w1+w2 into ONE token
        (2, "w1 w2 " + base),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = minhash_near_duplicates(df, threshold=0.1, max_bucket_size=None)
    [(a, b, j)] = [(r["id_a"], r["id_b"], r["jaccard"]) for r in got.collect()]
    want = round(ngram_jaccard(df, 1, 2), 4)
    assert (a, b) == (1, 2)
    assert abs(j - want) < 1e-9, f"UDF jaccard {j} != relational {want}"
    # sanity: Unicode-splitting tokenizers would see identical docs (j=1.0)
    assert j < 1.0


def test_simhash_ascii_whitespace_tokens(spark):
    """portable simhash fingerprints: \\xa0-glued tokens hash as one
    token, bit-identical to what the DuckDB oracle's ASCII regexp split
    would produce (doc pair differs, so fingerprints differ)."""
    from dbqt_spark.operators.dedup import simhash_fingerprints

    rows = [(1, "aa bb cc"), (2, "aa bb cc")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {r["doc_id"]: r["simhash"] for r in
          simhash_fingerprints(df, portable=True).collect()}
    assert fp[1] != fp[2]


def test_minhash_band_width_validation():
    from dbqt_spark.operators.dedup import minhash_band_hashes

    import pytest

    with pytest.raises(ValueError, match="multiple of bands"):
        minhash_band_hashes("text", num_hashes=33, bands=16)


def test_near_dup_cache_contract(spark):
    """On the common path (candidate set within BROADCAST_PAIR_LIMIT) the
    minhash/simhash near-dup calls leave ZERO cached blocks behind — the
    candidate set localizes — and `released` stays a safe no-op wrapper
    (VERDICT r5 ask #8: no cached blocks outlive the contract)."""
    from dbqt_spark.operators.cache import released
    from dbqt_spark.operators.dedup import (
        minhash_near_duplicates,
        simhash_near_duplicates,
    )

    def cached_ids():
        return {
            info.id()
            for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    rows = [
        (1, base),
        (2, base.replace("gamma", "GAMMA2", 1)),
        (3, "totally unrelated words here xyzzy " * 6),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    for op in (
        lambda d: minhash_near_duplicates(d, threshold=0.5),
        lambda d: simhash_near_duplicates(d, max_hamming=6, bands=8),
    ):
        before = cached_ids()
        out = op(df)
        assert cached_ids() - before == set()  # nothing left cached
        with released(out) as out:
            assert out.count() >= 1
        assert cached_ids() - before == set()


def test_near_dup_localize_fallback_persists(spark):
    """When the candidate set exceeds BROADCAST_PAIR_LIMIT the pair frame
    stays cluster-side (persisted) and the caller releases it."""
    from dbqt_spark.operators import dedup as dd

    rows = [(i, f"tok{i % 3} common words here shared") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    orig = dd.BROADCAST_PAIR_LIMIT
    dd.BROADCAST_PAIR_LIMIT = 5  # force the fallback on a tiny corpus
    try:
        out = dd.simhash_near_duplicates(df, max_hamming=6, bands=8)
        assert out.is_cached
        out.unpersist()
    finally:
        dd.BROADCAST_PAIR_LIMIT = orig


def test_ngram_jaccard_near_duplicates_exact(spark):
    """Known-answer: shared-shingle counting must reproduce brute-force
    set Jaccard exactly, and non-overlapping docs never pair."""
    from dbqt_spark.operators.dedup import ngram_jaccard_near_duplicates

    base = "one two three four five six seven eight nine ten"
    near = "one two three four five six seven eight nine eleven"
    rows = [(1, base), (2, near), (3, "totally different words entirely here")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_near_duplicates(df, threshold=0.5).collect()
    }
    # 8 shingles each, 7 shared -> 7 / (8 + 8 - 7) = 7/9 = 0.7778
    assert got == {(1, 2): round(7 / 9, 4)}


def test_ngram_jaccard_shingle_df_cap(spark):
    """max_shingle_df drops boilerplate shingles observably and shrinks
    the similarity domain (documented semantics change)."""
    from dbqt_spark.operators.dedup import ngram_jaccard_near_duplicates

    boiler = "lorem ipsum dolor sit amet"
    rows = [(i, f"{boiler} unique{i} tail{i} words{i}") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    stats: dict = {}
    out = ngram_jaccard_near_duplicates(
        df, threshold=0.9, max_shingle_df=3, drop_stats=stats
    )
    # the boilerplate shingles appear in all 6 docs -> dropped
    assert stats["n_dropped_shingles"] >= 3
    assert stats["n_dropped_postings"] >= 18
    # with the shared prefix gone, no pair reaches 0.9
    assert out.count() == 0


def test_ngram_jaccard_random_corpus_matches_python_model(spark):
    """Seeded random corpus: the inverted-index shared-count Jaccard must
    equal a pure-Python set model exactly (threshold on the unrounded
    ratio, 4-digit rounding on output)."""
    import random

    from dbqt_spark.operators.dedup import ngram_jaccard_near_duplicates

    rnd = random.Random(7)
    # small vocabulary so trigram shingles actually collide across docs
    vocab = [f"w{i}" for i in range(5)]
    rows = [
        (i, " ".join(rnd.choice(vocab) for _ in range(rnd.randint(1, 25))))
        for i in range(40)
    ]

    def sh_set(text):
        toks = text.split()
        if len(toks) >= 3:
            return {
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            }
        return {" ".join(toks)}

    threshold = 0.2
    expected = {}
    for (ia, ta) in rows:
        for (ib, tb) in rows:
            if ia < ib:
                a, b = sh_set(ta), sh_set(tb)
                j = len(a & b) / len(a | b) if a | b else 0.0
                if j >= threshold:
                    expected[(ia, ib)] = round(j, 4)

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_near_duplicates(df, threshold=threshold).collect()
    }
    assert got == expected and len(expected) > 0


def test_rolling_hash_matches_python_model(spark):
    """The portable rolling fingerprint must reproduce a from-scratch
    Python model (md5-prefix token hash, (acc*B + h) mod P fold) on a
    seeded random corpus — the same independence the DuckDB oracle
    provides, but pinned at unit-test speed."""
    import hashlib
    import random
    import re

    from dbqt_spark.operators.textstats import _ROLL_B, _ROLL_P, fingerprint

    rnd = random.Random(11)
    vocab = ["Alpha", "BETA", "gamma", "Delta9", "x"]
    rows = [
        (i, "  ".join(rnd.choice(vocab) for _ in range(rnd.randint(0, 12))))
        for i in range(30)
    ]

    def model(text):
        acc = 0
        for tok in [t for t in re.split(r"\s+", text.lower()) if t]:
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            acc = (acc * _ROLL_B + h) % _ROLL_P
        return acc

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["fingerprint_roll"] for r in fingerprint(df).collect()
    }
    assert got == {i: model(t) for i, t in rows}


def test_profile_numeric_nulls_and_selection(spark):
    """Null counting, mean over non-null only, non-numeric columns
    excluded, empty selection yields an empty typed frame."""
    from dbqt_spark.operators.profile import profile_numeric

    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, None, "b"), (3, 20.0, "c")],
        "k int, v double, s string",
    )
    rows = {r["col_name"]: r for r in profile_numeric(df, "t").collect()}
    assert set(rows) == {"k", "v"}  # string column excluded
    assert rows["v"]["non_null_count"] == 2
    assert rows["v"]["null_count"] == 1
    assert rows["v"]["mean_value"] == 15.0
    assert rows["v"]["p50"] == 15.0
    assert rows["k"]["min_value"] == 1.0 and rows["k"]["max_value"] == 3.0

    empty = profile_numeric(df.select("s"), "t")
    assert empty.count() == 0
    assert "mean_value" in empty.columns


def test_first_wins_dropped_matches_driver_greedy(spark):
    """The distributed wavefront must equal the driver greedy (the
    lexicographically-first maximal independent set) on seeded random
    graphs, a decreasing chain (the NOT-connected-components case), and
    degenerate inputs."""
    import random

    from dbqt_spark.operators.clusters import first_wins_dropped

    def driver_greedy(pairs):
        neighbors = {}
        for a, b in pairs:
            neighbors.setdefault(b, set()).add(a)
            neighbors.setdefault(a, set()).add(b)
        dropped = set()
        for did in sorted({i for p in pairs for i in p}):
            if any(
                n < did and n not in dropped
                for n in neighbors.get(did, ())
            ):
                dropped.add(did)
        return dropped

    rnd = random.Random(7)
    for _ in range(4):
        n = rnd.randint(5, 40)
        m = rnd.randint(1, 80)
        pairs = list(
            {
                (min(a, b), max(a, b))
                for _ in range(m)
                for a, b in [(rnd.randint(0, n), rnd.randint(0, n))]
                if a != b
            }
        )
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        stats = {}
        got = {r["id"] for r in first_wins_dropped(df, stats=stats).collect()}
        assert got == driver_greedy(pairs)
        assert stats["rounds"] >= 1

    # chain 1-2-3-4-5: greedy keeps {1,3,5} — component-min would keep
    # only {1}; this is the semantic the wavefront must preserve
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    assert sorted(
        r["id"] for r in first_wins_dropped(chain).collect()
    ) == [2, 4]

    # empty input -> empty output, zero rounds
    empty = spark.createDataFrame([], "id_a long, id_b long")
    stats = {}
    assert first_wins_dropped(empty, stats=stats).count() == 0
    assert stats["rounds"] == 0

    # round cap with a bounded residual -> exact driver finish, SAME
    # answer (the residual is self-contained by the wavefront
    # invariant); only a residual wider than the fallback bound raises
    stats = {}
    assert sorted(
        r["id"]
        for r in first_wins_dropped(chain, max_rounds=1, stats=stats)
        .collect()
    ) == [2, 4]
    assert stats["driver_fallback_edges"] > 0

    # a long decreasing chain past the cap: fallback result equals the
    # unbounded wavefront's (and the driver greedy's)
    long_chain_pairs = [(i, i + 1) for i in range(1, 60)]
    long_chain = spark.createDataFrame(
        long_chain_pairs, "id_a long, id_b long"
    )
    want = driver_greedy(long_chain_pairs)
    got = {
        r["id"]
        for r in first_wins_dropped(long_chain, max_rounds=3).collect()
    }
    assert got == want

    # round cap is an observable error, not a hang, when the residual
    # is still too wide for the driver
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        first_wins_dropped(chain, max_rounds=1, driver_fallback_edges=1)


def test_resize_images_stub_and_contract(spark):
    """Resize plumbing: deterministic stub payloads carry the target
    dims + md5; NULL payloads pass through as NULL rows; a custom
    resizer runs inside the batches; missing pillow fails loudly on
    the driver for the real path."""
    import hashlib

    from dbqt_spark.operators.multimodal import resize_images

    df = spark.createDataFrame(
        [(1, b"imagebytes"), (2, None)], "media_id long, content binary"
    )
    rows = {r["media_id"]: r for r in resize_images(df, 64, 48).collect()}
    want = b"RSZ:64x48:" + hashlib.md5(b"imagebytes").hexdigest().encode()
    assert bytes(rows[1]["content"]) == want
    assert rows[1]["width"] == 64 and rows[1]["height"] == 48
    assert rows[2]["content"] is None and rows[2]["width"] == 64

    got = {
        r["media_id"]: bytes(r["content"])
        for r in resize_images(
            df.filter("media_id = 1"), 8, 8,
            decode_stub=False, resizer=lambda p: p[::-1],
        ).collect()
    }
    assert got == {1: b"setybegami"}

    with pytest.raises(ValueError, match="target dims"):
        resize_images(df, 0, 8)
    try:
        import PIL  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="pillow"):
            resize_images(df, 8, 8, decode_stub=False)


def test_fingerprints_exact_when_null_shares_arrow_batch(spark):
    """Regression: a NULL payload in the SAME Arrow batch as real
    payloads made pandas infer float64 for the fingerprint column
    (None -> NaN), silently rounding every int64 fingerprint past
    2^53 in that batch. coalesce(1) forces the null to share a batch;
    fingerprints must still equal the driver-side pure function."""
    from dbqt_spark.operators.multimodal import (
        _stub_audio_fp,
        _stub_phash,
        audio_fingerprints,
        image_fingerprints,
    )

    # payloads chosen so fingerprints exceed 2^53 (float64-lossy range)
    payloads = {i: bytes((i * 37 + j * 11) % 256 for j in range(400))
                for i in range(6)}
    df = spark.createDataFrame(
        [(k, v) for k, v in payloads.items()] + [(999, None)],
        "media_id long, content binary",
    ).coalesce(1)
    got_img = {r["media_id"]: r["phash"]
               for r in image_fingerprints(df).collect()}
    assert got_img == {k: _stub_phash(v) for k, v in payloads.items()}
    got_aud = {r["media_id"]: r["afp"]
               for r in audio_fingerprints(df).collect()}
    assert got_aud == {k: _stub_audio_fp(v) for k, v in payloads.items()}


def test_image_near_dup_matches_brute_force(spark):
    """VERDICT r10 ask #3: pHash/dHash image content-dedup tier.
    Pigeonhole banding is exhaustive — with the cap off the banded
    pairs must equal brute-force Hamming over the fingerprints, and
    near-identical payloads (small edits) must land within the
    threshold while unrelated ones stay far."""
    import itertools
    import random

    from dbqt_spark.operators.multimodal import (
        _stub_phash,
        image_fingerprints,
        image_near_duplicates,
    )

    random.seed(23)
    payloads = {}
    mid = 0
    for _ in range(12):
        base = bytes(random.randrange(256) for _ in range(400))
        payloads[mid] = base
        mid += 1
        # a near-duplicate: flip a few bytes
        edited = bytearray(base)
        for _ in range(3):
            edited[random.randrange(len(edited))] = random.randrange(256)
        payloads[mid] = bytes(edited)
        mid += 1
    df = spark.createDataFrame(
        [(k, v) for k, v in payloads.items()] + [(999, None)],
        "media_id long, content binary",
    )
    fps = {
        r["media_id"]: r["phash"]
        for r in image_fingerprints(df).collect()
    }
    assert 999 not in fps  # NULL payload filtered
    assert fps == {k: _stub_phash(v) for k, v in payloads.items()}

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    got = sorted(
        tuple(r)
        for r in image_near_duplicates(
            df, max_hamming=3, bands=4, max_bucket_size=None
        ).collect()
    )
    brute = sorted(
        (a, b, ham(fps[a], fps[b]))
        for a, b in itertools.combinations(sorted(fps), 2)
        if ham(fps[a], fps[b]) <= 3
    )
    assert got == brute
    # every edited twin was caught
    caught = {(a, b) for a, b, _ in got}
    assert all((2 * i, 2 * i + 1) in caught for i in range(12))


def test_image_near_dup_cap_and_contract(spark):
    from dbqt_spark.operators.multimodal import (
        image_fingerprints,
        image_near_duplicates,
    )

    # identical payloads -> one hot bucket; cap drops it observably
    df = spark.createDataFrame(
        [(i, b"same payload bytes") for i in range(10)],
        "media_id long, content binary",
    )
    stats: dict = {}
    got = image_near_duplicates(
        df, max_hamming=3, bands=4, max_bucket_size=5, drop_stats=stats
    ).collect()
    assert got == []
    assert stats["n_dropped_buckets"] >= 1
    assert stats["n_dropped_rows"] >= 10

    with pytest.raises(ValueError, match="max_hamming < bands"):
        image_near_duplicates(df, max_hamming=4, bands=4)
    with pytest.raises(ValueError, match="divide 64"):
        image_near_duplicates(df, max_hamming=2, bands=5)
    with pytest.raises(ValueError, match="phash|dhash"):
        image_fingerprints(df, method="md5")
    try:
        import PIL  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError, match="pillow"):
            image_fingerprints(df, decode_stub=False)
    # custom hasher plugs in (the real-codec seam, like resize's
    # resizer=): constant hash -> all pairs at hamming 0 via banding
    small = spark.createDataFrame(
        [(1, b"x"), (2, b"y"), (3, b"z")], "media_id long, content binary"
    )
    got = sorted(
        tuple(r)
        for r in image_near_duplicates(
            small, max_hamming=1, bands=2, hasher=lambda p: 7
        ).collect()
    )
    assert got == [(1, 2, 0), (1, 3, 0), (2, 3, 0)]


# -- repair ------------------------------------------------------------------


def test_impute_nulls_strategies(spark):
    from dbqt_spark.operators.repair import impute_nulls

    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", None), (3, "a", 20.0),
         (4, "b", None), (5, "b", 100.0),
         (6, None, None), (7, None, 7.0),
         (8, "empty", None)],  # all-NULL group
        "id long, g string, v double",
    )
    med = {r["id"]: r["v"] for r in impute_nulls(
        df, ["v"], strategy="median", group_col="g").collect()}
    assert med[2] == 15.0        # median of {10, 20}
    assert med[4] == 100.0
    assert med[6] == 7.0         # NULL group is its own group
    assert med[8] is None        # all-NULL group: no fabrication

    mean = {r["id"]: r["v"] for r in impute_nulls(
        df, ["v"], strategy="mean").collect()}
    # global mean of {10, 20, 100, 7} = 34.25
    assert mean[2] == 34.25 and mean[4] == 34.25

    const = {r["id"]: r["v"] for r in impute_nulls(
        df, ["v"], strategy="constant", fill_value=-1).collect()}
    assert const[2] == -1.0 and const[1] == 10.0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="strategy"):
        impute_nulls(df, ["v"], strategy="mode")
    with _pytest.raises(ValueError, match="fill_value"):
        impute_nulls(df, ["v"], strategy="constant")


def test_clip_outliers(spark):
    from dbqt_spark.operators.repair import clip_outliers

    rows = [(i, float(i)) for i in range(101)] + [(200, None)]
    df = spark.createDataFrame(rows, "id long, v double")
    out = {r["id"]: r["v"] for r in clip_outliers(
        df, ["v"], lower_q=0.1, upper_q=0.9).collect()}
    assert out[0] == 10.0 and out[100] == 90.0  # capped
    assert out[50] == 50.0                      # interior untouched
    assert out[200] is None                     # NULL stays NULL

    import pytest as _pytest

    with _pytest.raises(ValueError, match="lower_q"):
        clip_outliers(df, ["v"], lower_q=0.9, upper_q=0.1)


def test_safe_cast_and_report(spark):
    from dbqt_spark.operators.repair import cast_report, safe_cast

    df = spark.createDataFrame(
        [(1, "12"), (2, "x"), (3, None), (4, "3.5")],
        "id long, s string",
    )
    got = {r["id"]: r["s"] for r in safe_cast(df, {"s": "double"}).collect()}
    assert got == {1: 12.0, 2: None, 3: None, 4: 3.5}
    rep = cast_report(df, {"s": "double"}).collect()[0]
    assert rep["n_rows"] == 4 and rep["n_nonnull"] == 3
    assert rep["n_failed"] == 1  # only 'x' was present and lost


def test_repair_rejects_non_numeric(spark):
    import pytest as _pytest

    from dbqt_spark.operators.repair import clip_outliers, impute_nulls

    df = spark.createDataFrame([(1, "x")], "id long, s string")
    with _pytest.raises(ValueError, match="numeric"):
        impute_nulls(df, ["s"], strategy="median")
    with _pytest.raises(ValueError, match="numeric"):
        clip_outliers(df, ["s"])
    with _pytest.raises(ValueError, match="not found"):
        impute_nulls(df, ["missing"], strategy="mean")


def test_export_jsonl_guards(spark, tmp_path):
    import pytest as _pytest

    from dbqt_spark.operators.export import export_jsonl, read_jsonl

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "text"])
    with _pytest.raises(ValueError, match="compression"):
        export_jsonl(df, str(tmp_path / "x"), compression="zip")
    with _pytest.raises(ValueError, match="n_shards"):
        export_jsonl(df, str(tmp_path / "x"), n_shards=0)
    bin_df = df.select("id", F.col("text").cast("binary").alias("b"))
    with _pytest.raises(ValueError, match="binary"):
        export_jsonl(bin_df, str(tmp_path / "x"))
    # NESTED binary must be refused too (ADVICE r11): struct field,
    # array element, and map value were silently base64'd before
    nested_struct = df.select(
        "id",
        F.struct(F.col("text").cast("binary").alias("raw")).alias("payload"),
    )
    with _pytest.raises(ValueError, match=r"payload\.raw.*binary"):
        export_jsonl(nested_struct, str(tmp_path / "x"))
    nested_arr = df.select(
        "id", F.array(F.col("text").cast("binary")).alias("blobs")
    )
    with _pytest.raises(ValueError, match=r"blobs\[\].*binary"):
        export_jsonl(nested_arr, str(tmp_path / "x"))
    nested_map = df.select(
        "id",
        F.create_map(F.lit("k"), F.col("text").cast("binary")).alias("m"),
    )
    with _pytest.raises(ValueError, match="binary"):
        export_jsonl(nested_map, str(tmp_path / "x"))
    # plain write + schema'd read-back (no inference scan)
    p = str(tmp_path / "ok")
    export_jsonl(df, p, n_shards=1)
    back = read_jsonl(spark, p, schema=df.schema)
    assert sorted(r["id"] for r in back.collect()) == [1, 2]


def _brute_lev(a, b):
    a, b = a or "", b or ""
    dp = list(range(len(b) + 1))
    for i in range(1, len(a) + 1):
        prev, dp[0] = dp[0], i
        for j in range(1, len(b) + 1):
            cur = dp[j]
            dp[j] = min(dp[j] + 1, dp[j - 1] + 1,
                        prev + (a[i - 1] != b[j - 1]))
            prev = cur
    return dp[len(b)]


def test_edit_distance_near_duplicates_exact_vs_brute_force(spark):
    import itertools

    from dbqt_spark.operators.dedup import edit_distance_near_duplicates

    rows = [
        (1, "iphone 15 pro"), (2, "iphone 15 prq"), (3, "iphone 15"),
        (4, "iphone 15 pro"), (5, ""), (6, None), (7, "x" * 100),
        (8, "a"), (9, "ab"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for d in (1, 2):
        st: dict = {}
        got = sorted(
            (r["id_a"], r["id_b"], r["distance"])
            for r in edit_distance_near_duplicates(
                df, max_distance=d, drop_stats=st
            ).collect()
        )
        want = sorted(
            (i, j, _brute_lev(a, b))
            for (i, a), (j, b) in itertools.combinations(rows, 2)
            if len(a or "") <= 64 and len(b or "") <= 64
            and _brute_lev(a, b) <= d
        )
        assert got == want
        assert st["n_too_long"] == 1  # the 100-char row is excluded


def test_edit_distance_near_duplicates_validation_and_caps(spark):
    import pytest as _pytest

    from dbqt_spark.operators.dedup import edit_distance_near_duplicates

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="max_distance"):
        edit_distance_near_duplicates(df, max_distance=3)
    with _pytest.raises(ValueError, match="max_len"):
        edit_distance_near_duplicates(df, max_len=0)
    # a ubiquitous identical title floods one bucket: the cap drops it
    # with accounting instead of a quadratic self-join
    hot = spark.createDataFrame(
        [(i, "same title") for i in range(50)] + [(100, "uniq")],
        ["doc_id", "text"],
    )
    st: dict = {}
    got = edit_distance_near_duplicates(
        hot, max_distance=1, max_bucket_size=10, drop_stats=st
    ).collect()
    assert got == []  # every bucket holding the hot title was capped
    assert st["n_dropped_buckets"] > 0 and st["n_dropped_rows"] > 0


def test_edit_distance_candidates_equi_join_never_cartesian(spark, sf_dir):
    """The deletion-neighborhood self-join must be a hash-keyed
    equi-join on the variant hash — a cartesian/nested-loop here would
    be quadratic at corpus scale."""
    from dbqt_spark.operators.dedup import (
        _candidate_pair_plan,
        _deletion_neighborhood_expr,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    banded = docs.selectExpr(
        "doc_id as id", "substring(text, 1, 12) as title"
    ).select(
        "id",
        F.explode(_deletion_neighborhood_expr("title", 1)).alias("__v"),
    ).select("id", F.xxhash64("__v").alias("__vh"))
    plan = banded.sparkSession._jvm.PythonSQLUtils.explainString(
        _candidate_pair_plan(
            banded, ["__vh"],
            lambda a, b: [F.col("a.id").alias("id_a"),
                          F.col("b.id").alias("id_b")],
        )._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_deletion_neighborhood_completeness_randomized(spark):
    """FastSS completeness, randomized: for 150 random (s, t) pairs
    with edit(s, t) <= 2, the <=2-deletion neighborhoods must
    intersect — one Spark batch, seeded."""
    import random

    from dbqt_spark.operators.dedup import _deletion_neighborhood_expr

    random.seed(23)
    alphabet = "abcde"

    def mutate(s, n_edits):
        for _ in range(n_edits):
            ops = ["del", "ins", "sub"] if s else ["ins"]
            op = random.choice(ops)
            i = random.randrange(len(s) + (op == "ins"))
            if op == "del":
                s = s[:i] + s[i + 1:]
            elif op == "ins":
                s = s[:i] + random.choice(alphabet) + s[i:]
            else:
                s = s[:i] + random.choice(alphabet) + s[i + 1:]
        return s

    rows = []
    for i in range(150):
        s = "".join(random.choice(alphabet)
                    for _ in range(random.randint(0, 10)))
        rows.append((i, s, mutate(s, random.randint(0, 2))))
    df = spark.createDataFrame(rows, ["pid", "s", "t"])
    nd_s = _deletion_neighborhood_expr("s", 2)
    nd_t = _deletion_neighborhood_expr("t", 2)
    bad = df.select(
        "pid", F.size(F.array_intersect(nd_s, nd_t)).alias("n")
    ).filter(F.col("n") == 0).collect()
    assert bad == [], bad


def test_overwrite_partitions_rewrites_only_present(spark, tmp_path):
    from dbqt_spark.operators.export import overwrite_partitions

    path = str(tmp_path / "part")
    full = spark.createDataFrame(
        [(1, "2024-01-01", "a"), (2, "2024-01-02", "b"),
         (3, "2024-01-03", "c")],
        ["id", "day", "v"],
    )
    overwrite_partitions(full, path, "day")
    # backfill day 2 only, with corrected values and a NEW row
    fix = spark.createDataFrame(
        [(2, "2024-01-02", "B"), (9, "2024-01-02", "B2")],
        ["id", "day", "v"],
    )
    overwrite_partitions(fix, path, "day")
    back = {(r["id"], r["v"]) for r in spark.read.parquet(path).collect()}
    # days 1 and 3 untouched; day 2 fully replaced (old row 2 gone)
    assert back == {(1, "a"), (3, "c"), (2, "B"), (9, "B2")}
    # idempotent re-run
    overwrite_partitions(fix, path, "day")
    back2 = {(r["id"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert back2 == back
    # the session conf is restored
    assert spark.conf.get(
        "spark.sql.sources.partitionOverwriteMode"
    ).lower() != "dynamic"


def test_corpus_overlap_exact_counts(spark):
    from dbqt_spark.operators.dedup import corpus_overlap

    a = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "y"), (4, None)], ["doc_id", "text"]
    )  # distinct texts: {x, y, ''} -> 3
    b = spark.createDataFrame(
        [(5, "y"), (6, "z")], ["doc_id", "text"]
    )  # {y, z} -> 2; common {y} -> 1; union 4
    r = corpus_overlap(a, b).collect()[0]
    assert (r["n_a"], r["n_b"], r["n_common"]) == (3, 2, 1)
    assert r["jaccard"] == 0.25
    # disjoint corpora -> 0
    r2 = corpus_overlap(a, b.select("doc_id", F.lit("q").alias("text")))
    assert r2.collect()[0]["jaccard"] == 0.0


def test_audio_near_dup_matches_brute_force(spark):
    """VERDICT r11 ask #4: acoustic-fingerprint audio content-dedup
    tier. With the cap off the banded pairs equal brute-force Hamming
    over the fingerprints; small byte edits stay within threshold."""
    import itertools
    import random

    from dbqt_spark.operators.multimodal import (
        _stub_audio_fp,
        audio_fingerprints,
        audio_near_duplicates,
    )

    random.seed(29)
    payloads = {}
    mid = 0
    for _ in range(12):
        base = bytes(random.randrange(256) for _ in range(400))
        payloads[mid] = base
        mid += 1
        edited = bytearray(base)
        for _ in range(3):
            edited[random.randrange(len(edited))] = random.randrange(256)
        payloads[mid] = bytes(edited)
        mid += 1
    df = spark.createDataFrame(
        [(k, v) for k, v in payloads.items()]
        + [(998, None), (999, b"")],
        "media_id long, content binary",
    )
    fps = {
        r["media_id"]: r["afp"]
        for r in audio_fingerprints(df).collect()
    }
    assert 998 not in fps and 999 not in fps  # NULL/empty filtered
    assert fps == {k: _stub_audio_fp(v) for k, v in payloads.items()}

    def ham(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    got = sorted(
        tuple(r)
        for r in audio_near_duplicates(
            df, max_hamming=3, bands=4, max_bucket_size=None
        ).collect()
    )
    brute = sorted(
        (a, b, ham(fps[a], fps[b]))
        for a, b in itertools.combinations(sorted(fps), 2)
        if ham(fps[a], fps[b]) <= 3
    )
    assert got == brute


def test_audio_near_dup_cap_contract_and_real_wav(spark):
    import io
    import math
    import wave

    from dbqt_spark.operators.multimodal import (
        _wav_spectral_fp,
        audio_near_duplicates,
    )

    df = spark.createDataFrame(
        [(i, b"same audio payload") for i in range(10)],
        "media_id long, content binary",
    )
    stats: dict = {}
    got = audio_near_duplicates(
        df, max_hamming=3, bands=4, max_bucket_size=5, drop_stats=stats
    ).collect()
    assert got == []
    assert stats["n_dropped_buckets"] >= 1
    assert stats["n_dropped_rows"] >= 10

    with pytest.raises(ValueError, match="max_hamming < bands"):
        audio_near_duplicates(df, max_hamming=4, bands=4)
    with pytest.raises(ValueError, match="divide 64"):
        audio_near_duplicates(df, max_hamming=2, bands=5)

    # the REAL arm (stdlib wave + rfft, no optional dep): a loudness
    # change scales every band energy by the same factor, so the
    # GRADIENT bits — hence the fingerprint — are identical; a
    # different tone lands far away
    def tone(freq: float, amp: float) -> bytes:
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            frames = bytearray()
            for i in range(4000):
                # a little chirp so frame energies actually vary
                v = int(
                    amp * 30000
                    * math.sin(2 * math.pi * freq * i * (1 + i / 8000) / 8000)
                )
                frames += int(v).to_bytes(2, "little", signed=True)
            w.writeframes(bytes(frames))
        return buf.getvalue()

    fp = _wav_spectral_fp()
    a, quiet, other = (
        fp(tone(440, 1.0)), fp(tone(440, 0.25)), fp(tone(1900, 1.0))
    )
    assert a == quiet

    # r12 ADVICE: 8-bit PCM is UNSIGNED (silence = 0x80) and 24-bit
    # has no numpy dtype — both must decode, and the decoded samples
    # must match the 16-bit rendering of the same tone (gradient bits
    # are scale-invariant, so the fingerprints agree exactly)
    import numpy as np

    from dbqt_spark.operators.multimodal import _wav_samples

    def tone_w(width: int) -> bytes:
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(width)
            w.setframerate(8000)
            frames = bytearray()
            full = (1 << (8 * width - 1)) - 1
            for i in range(4000):
                v = int(
                    0.9 * full
                    * math.sin(2 * math.pi * 440 * i * (1 + i / 8000) / 8000)
                )
                if width == 1:
                    frames += bytes([v + 128])
                else:
                    frames += int(v).to_bytes(width, "little", signed=True)
            w.writeframes(bytes(frames))
        return buf.getvalue()

    x16, _, _ = _wav_samples(tone_w(2))
    for width in (1, 3, 4):
        xw, ch, rate = _wav_samples(tone_w(width))
        assert ch == 1 and rate == 8000
        # same waveform at different bit depths: samples agree to
        # the coarser depth's quantization step
        assert np.abs(xw - x16).max() < 2.0 / (1 << 7)
        assert fp(tone_w(width)) == fp(tone_w(2))
    # 8-bit silence decodes to exactly zero (unsigned, 128-centered)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(bytes([128] * 100))
    xs, _, _ = _wav_samples(buf.getvalue())
    assert np.all(xs == 0.0)
    with pytest.raises(ValueError, match="sample width"):
        _wav_samples_bad = bytearray(tone_w(2))
        # forge an unsupported 5-byte width in the fmt chunk
        _wav_samples_bad[32:34] = (5).to_bytes(2, "little")
        _wav_samples_bad[34:36] = (40).to_bytes(2, "little")
        _wav_samples(bytes(_wav_samples_bad))

    def ham(x, y):
        return bin((x ^ y) & (2**64 - 1)).count("1")

    assert ham(a, other) > 8

    # custom hasher seam
    small = spark.createDataFrame(
        [(1, b"x"), (2, b"y"), (3, b"z")], "media_id long, content binary"
    )
    got = sorted(
        tuple(r)
        for r in audio_near_duplicates(
            small, max_hamming=1, bands=2, hasher=lambda p: 7
        ).collect()
    )
    assert got == [(1, 2, 0), (1, 3, 0), (2, 3, 0)]
