"""The benchmark workloads: what one pass runs and how its outputs are checked.

A pass is a list of operations. An operation is one tool call plus the
action that materializes its output, on one table or batch; its latency
is one ``query`` sample. Inside an operation, every call into a
dbqt_spark layer is wrapped in ``tracer.call(layer, function)``.

Each workload class provides:

- ``register(spark)``: resolve the generated inputs (set-up time);
- ``run_pass(spark, record)``: run one pass, handing each operation to
  ``record(name, fn)``, which times it and keeps its output;
- ``expect()``: the expected outputs, computed by DuckDB after the timed
  passes (``oracle.py``);
- ``check(name, output, expected)``: True when an output is correct.
"""

from __future__ import annotations

import os
import shutil
import statistics

from pyspark.sql import functions as F

from dbqt_spark.catalog import load_table, load_tables
from dbqt_spark.operators.checks import Check, run_checks
from dbqt_spark.operators.colcompare import compare_columns
from dbqt_spark.operators.datadiff import diff_summary
from dbqt_spark.operators.dedup import (
    minhash_candidate_pairs,
    minhash_near_duplicates,
    minhash_signatures,
)
from dbqt_spark.operators.keyfinder import find_composite_keys
from dbqt_spark.operators.minhash_index import (
    minhash_index_query,
    minhash_index_write,
)
from dbqt_spark.operators.pipeline import CurateConfig, curate
from dbqt_spark.operators.profile import profile_tables
from dbqt_spark.operators.rowcount import count_compare, df_row_counts
from dbqt_spark.operators.textstats import quality_scores
from dbqt_spark.report.html import HTMLReport
from dbqt_spark.schema_df import build_schema_df
from dbqt_spark.streaming.neardup import minhash_gate_batch

import oracle
from spans import Tracer

NEAR_DUP_THRESHOLD = 0.8
# lowest recall an approximate near-dup output may have: the LSH banding
# (32 hashes, 16 bands of 2 rows) misses a pair at Jaccard 0.8 with
# probability (1 - 0.8**2)**16 < 1e-7, and every planted pair is above it
RECALL_FLOOR = 1.0
CURATE = CurateConfig(dedup="exact")
# layer ratios beyond the counters (traced runs; 0 where a workload
# bypasses the layer)
EXTRA_METRICS = {
    "operators.dedup.pairs_per_candidate": "ratio",
    "operators.minhash_index.bytes_written": "B",
    "streaming.neardup.kept_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def _tuples(rows, cols: list[str]) -> list[tuple]:
    return [tuple(r[c] for c in cols) for r in rows]


class DqSuite:
    """One closed-loop client running dbqt's tool set over a star schema
    and its drifted copy."""

    name = "dq_suite"
    KEY_COLS = ["l_orderkey", "l_linenumber"]
    KEYFINDER_COLS = ["l_orderkey", "l_linenumber", "l_returnflag"]
    CHECKS = [
        {"name": "li_orderkey_not_null", "table": "lineitem", "kind": "not_null", "column": "l_orderkey"},
        {"name": "li_discount_not_null", "table": "lineitem", "kind": "not_null", "column": "l_discount"},
        {"name": "orders_key_unique", "table": "orders", "kind": "unique", "column": "o_orderkey"},
        {"name": "li_orderkey_unique", "table": "lineitem", "kind": "unique", "column": "l_orderkey"},
        {"name": "li_discount_range", "table": "lineitem", "kind": "range", "column": "l_discount", "params": {"min": 0.0, "max": 0.08}},
        {"name": "li_flag_set", "table": "lineitem", "kind": "in_set", "column": "l_returnflag", "params": {"values": ["A", "N"]}},
        {"name": "li_order_fk", "table": "lineitem", "kind": "ref_integrity", "column": "l_orderkey", "params": {"ref_table": "orders", "ref_column": "o_orderkey"}},
        {"name": "orders_cust_fk", "table": "orders", "kind": "ref_integrity", "column": "o_custkey", "params": {"ref_table": "customer", "ref_column": "c_custkey"}},
    ]

    def __init__(self, layout: dict, tmp: str, tracer: Tracer):
        self.layout, self.tmp, self.t = layout, tmp, tracer

    def _tables(self, spark, side: str) -> dict:
        with self.t.call("catalog", "load_tables"):
            return load_tables(spark, self.layout[side], self.layout["tables"])

    def register(self, spark) -> None:
        self._tables(spark, "src")
        self._tables(spark, "tgt")

    def run_pass(self, spark, record) -> None:
        t = self.t
        out: dict[str, list] = {}

        def rowcount():
            src, tgt = self._tables(spark, "src"), self._tables(spark, "tgt")
            with t.call("operators.rowcount", "count_compare"):
                rows = count_compare(
                    df_row_counts(spark, src), df_row_counts(spark, tgt)
                ).collect()
            return _tuples(rows, ["table_name", "source_row_count", "target_row_count", "difference", "percentage_difference"])

        def colcompare():
            src, tgt = self._tables(spark, "src"), self._tables(spark, "tgt")
            with t.call("schema_df", "build_schema_df"):
                s, g = build_schema_df(spark, src), build_schema_df(spark, tgt)
            with t.call("operators.colcompare", "compare_columns"):
                rows = compare_columns(s, g).collect()
            return _tuples(rows, ["table_name", "col_name", "source_type", "target_type", "status"])

        def profile():
            src = self._tables(spark, "src")
            with t.call("operators.profile", "profile_tables"):
                rows = profile_tables({k: src[k] for k in ("lineitem", "orders")}).collect()
            return _tuples(rows, ["table_name", "col_name", "ordinal", "total_rows", "null_count", "distinct_count", "status"])

        def keyfinder():
            li = self._tables(spark, "src")["lineitem"]
            with t.call("operators.keyfinder", "find_composite_keys"):
                return find_composite_keys(li, columns=self.KEYFINDER_COLS)

        def checks():
            src = self._tables(spark, "src")
            suite = [Check.from_dict(c) for c in self.CHECKS]
            with t.call("operators.checks", "run_checks"):
                rows = run_checks(spark, src, suite).collect()
            return _tuples(rows, ["check_name", "total_rows", "violations"])

        def datadiff():
            s, g = self._tables(spark, "src")["lineitem"], self._tables(spark, "tgt")["lineitem"]
            with t.call("operators.datadiff", "diff_summary"):
                rows = diff_summary(s, g, self.KEY_COLS).collect()
            return _tuples(rows, ["item", "n_rows"])

        def report():
            with t.call("report", "render"):
                rep = HTMLReport("dq_suite")
                for tab, rows in out.items():
                    cols = [f"c{i}" for i in range(len(rows[0]))] if rows else []
                    rep.add_tab(tab, [(c, False) for c in cols], [dict(zip(cols, r)) for r in rows])
                html = rep.render()
            return [(tab, f'"name": "{tab}"' in html) for tab in out]

        for name, fn in [
            ("rowcount", rowcount), ("colcompare", colcompare),
            ("profile_tables", profile), ("keyfinder", keyfinder),
            ("checks", checks), ("table_diff", datadiff),
        ]:
            result = record(name, fn)
            out[name] = [tuple(map(str, r)) for r in result] if result else []
        record("report", report)

    def expect(self) -> dict:
        lay = self.layout
        src, tgt = lay["src"], lay["tgt"]
        tables = lay["tables"]
        con = oracle.connect({t: oracle._pq(src, t) for t in tables})
        li_s, li_t = oracle._pq(src, "lineitem"), oracle._pq(tgt, "lineitem")
        shared = [c for c, _ in oracle.table_columns(con, "lineitem")]
        tgt_cols = {c for c, _ in oracle.table_columns(con, f"'{li_t}'")}
        diff_cols = [c for c in shared if c in tgt_cols and c not in self.KEY_COLS]
        return {
            "rowcount": oracle.expect_count_compare(src, tgt, tables),
            "colcompare": oracle.expect_colcompare(src, tgt, tables),
            "profile_tables": oracle.expect_profile(con, "lineitem") + oracle.expect_profile(con, "orders"),
            "keyfinder": oracle.expect_keys(con, "lineitem", self.KEYFINDER_COLS),
            "checks": oracle.expect_checks(con, self.CHECKS),
            "table_diff": oracle.expect_diff_summary(li_s, li_t, self.KEY_COLS, diff_cols),
        }

    def layer_extras(self, spark) -> dict:
        return {}

    def recall(self, outputs: dict, expected: dict) -> dict:
        return {}

    def check(self, name: str, got, expected: dict) -> bool:
        if name == "report":
            return bool(got) and all(ok for _, ok in got)
        if name == "keyfinder":
            return {frozenset(k) for k in got} == {frozenset(k) for k in expected[name]}
        return oracle.same_rows(got, expected[name])


class CurationStore:
    """One client running the LLM-curation path: quality signals, near-dup
    detection, a MinHash index written then queried, a two-batch
    streaming gate into a fresh store, and the ``curate`` chain."""

    name = "curation_store"

    def __init__(self, layout: dict, tmp: str, tracer: Tracer):
        self.layout, self.tmp, self.t = layout, tmp, tracer
        self.store_bytes: list[int] = []
        self.kept: list[tuple[int, int]] = []  # (kept, batch rows) per gate call

    def _docs(self, spark, ids: tuple[int, int] | None = None):
        with self.t.call("catalog", "load_table"):
            df = load_table(spark, self.layout["dir"], "documents")
        if ids is not None:
            df = df.filter((F.col("doc_id") >= ids[0]) & (F.col("doc_id") < ids[1]))
        return df

    def register(self, spark) -> None:
        self._docs(spark)

    def run_pass(self, spark, record) -> None:
        t, lay = self.t, self.layout
        pass_dir = os.path.join(self.tmp, f"stores-{t.pass_no}")
        index, gate_dir = os.path.join(pass_dir, "index"), os.path.join(pass_dir, "gate")

        def quality():
            docs = self._docs(spark)
            with t.call("operators.textstats", "quality_scores"):
                rows = quality_scores(docs).collect()
            return _tuples(rows, ["doc_id", "n_tokens", "punct_ratio", "alpha_ratio", "stopword_ratio", "quality_score"])

        def neardup():
            docs = self._docs(spark)
            with t.call("operators.dedup", "minhash_near_duplicates"):
                rows = minhash_near_duplicates(docs, threshold=NEAR_DUP_THRESHOLD).collect()
            return _tuples(rows, ["id_a", "id_b"])

        def index_write():
            base = self._docs(spark, lay["base"])
            with t.call("operators.minhash_index", "minhash_index_write"):
                minhash_index_write(base, index)
            self.store_bytes.append(_dir_bytes(index))
            return [("written", os.path.isdir(index))]

        def index_query():
            q, base = self._docs(spark, lay["queries"]), self._docs(spark, lay["base"])
            with t.call("operators.minhash_index", "minhash_index_query"):
                rows = minhash_index_query(q, index, threshold=NEAR_DUP_THRESHOLD, corpus=base).collect()
            return _tuples(rows, ["query_id", "corpus_id"])

        def gate(ids: tuple[int, int]):
            def run():
                batch = self._docs(spark, ids)
                with t.call("streaming.neardup", "minhash_gate_batch"):
                    rows = minhash_gate_batch(batch, gate_dir, threshold=NEAR_DUP_THRESHOLD).select("id").collect()
                self.kept.append((len(rows), ids[1] - ids[0]))
                return sorted(r["id"] for r in rows)
            return run

        def curated():
            docs = self._docs(spark)
            with t.call("operators.pipeline", "curate"):
                rows = curate(docs, CURATE).select("doc_id").collect()
            return sorted(r["doc_id"] for r in rows)

        g1, g2 = lay["gate_batches"]
        try:
            for name, fn in [
                ("quality_scores", quality), ("near_duplicates", neardup),
                ("index_write", index_write), ("index_query", index_query),
                ("gate_batch_1", gate(g1)), ("gate_batch_2", gate(g2)),
                ("curate", curated),
            ]:
                record(name, fn)
        finally:
            shutil.rmtree(pass_dir, ignore_errors=True)

    def layer_extras(self, spark) -> dict:
        """Final near-dup pairs over the LSH candidates of
        ``minhash_candidate_pairs`` on the same corpus; index bytes after
        the write; the gate's kept fraction over both batches."""
        docs = self._docs(spark)
        cand_df = minhash_candidate_pairs(minhash_signatures(docs))
        cands = cand_df.count()
        cand_df.unpersist()
        pairs = minhash_near_duplicates(docs, threshold=NEAR_DUP_THRESHOLD).count()
        last = self.kept[-2:]
        return {
            "operators.dedup.pairs_per_candidate": pairs / cands if cands else 0.0,
            "operators.minhash_index.bytes_written": statistics.median(self.store_bytes),
            "streaming.neardup.kept_frac": sum(k for k, _ in last) / sum(n for _, n in last),
        }

    def expect(self) -> dict:
        lay = self.layout
        con = oracle.connect({"documents": oracle._pq(lay["dir"], "documents")})
        true_pairs = oracle.near_duplicate_pairs(con, NEAR_DUP_THRESHOLD)
        base, queries = range(*lay["base"]), range(*lay["queries"])
        (a1, b1), (a2, b2) = lay["gate_batches"]
        kept_1 = _greedy(list(range(a1, b1)), set(), true_pairs)
        kept_2 = _greedy(list(range(a2, b2)), set(kept_1), true_pairs)
        return {
            "true_pairs": true_pairs,
            "quality_scores": oracle.expect_quality(con),
            "near_duplicates": true_pairs,
            "index_query": {(b, a) for a, b in true_pairs if a in base and b in queries},
            "gate_batch_1": kept_1,
            "gate_batch_2": kept_2,
            "curate": oracle.expect_curate_exact(con, CURATE.quality_quantile, CURATE.group_col),
        }

    def check(self, name: str, got, expected: dict) -> bool:
        if name == "quality_scores":
            return oracle.same_rows(got, expected[name], abs_tol=1.01e-4)
        if name in ("near_duplicates", "index_query"):
            # approximate (LSH) outputs: every reported pair must be true,
            # and at least RECALL_FLOOR of the true pairs reported
            want = expected[name]
            found = set(got)
            return found <= want and len(found) >= RECALL_FLOOR * len(want)
        if name.startswith("gate_batch") or name == "curate":
            return got == expected[name]
        return all(ok for _, ok in got)

    def recall(self, outputs: dict, expected: dict) -> dict:
        """Lowest recall over passes of each approximate near-dup output."""
        out = {}
        for name in ("near_duplicates", "index_query"):
            want = expected[name]
            got = [set(o) for o in outputs.get(name, [])]
            if want and got:
                out[name] = min(len(g & want) for g in got) / len(want)
        return out


def _greedy(batch: list[int], accepted: set[int], pairs: set) -> list[int]:
    """The gate's exact semantics: a first-wins walk over the batch's own
    pairs (earlier ids live), then every survivor that near-duplicates an
    already accepted doc is dropped."""
    partners: dict[int, set[int]] = {}
    for a, b in pairs:
        partners.setdefault(a, set()).add(b)
        partners.setdefault(b, set()).add(a)
    within: list[int] = []
    live: set[int] = set()
    for d in sorted(batch):
        if not partners.get(d, set()) & live:
            within.append(d)
            live.add(d)
    return [d for d in within if not partners.get(d, set()) & accepted]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path) for f in files
    )


WORKLOADS = {w.name: w for w in (DqSuite, CurationStore)}
