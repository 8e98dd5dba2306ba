"""Seeded input generators for the benchmark workloads.

Every input is synthesized from the seed alone (numpy ``default_rng``),
with the schemas of the engine's star-schema test data and its
``documents`` corpus, and written as single-file parquet tables under a
directory the caller owns. The same seed always yields byte-identical
tables, so two runs with one seed see the same inputs.

Sizes are module constants; each generator returns its row counts.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# dq_suite: a star schema at 1/20 of sf0.1 (lineitem ~30k rows).
DQ_ORDERS = 7_500
DQ_CUSTOMERS = 3_000
DQ_PARTS = 4_000
DQ_SUPPLIERS = 200
# drift applied to the target copy of lineitem / orders
DROP_FRAC = 0.01
ADD_FRAC = 0.005
PERTURB_FRAC = 0.01
# curation_store: a documents corpus plus planted near-duplicate copies
# and exact copies (equal once whitespace is normalized)
DOCS = 600
NEAR_DUP_FRAC = 0.1
EXACT_DUP_FRAC = 0.02

VOCAB = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream "
    "merge data join vector customer index shard store cache plan stage "
    "task driver worker commit"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
FLAGS = np.array(["A", "N", "R"])
STATUS = np.array(["F", "O"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _write(table: pa.Table, out_dir: str, name: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _dates(rng: np.random.Generator, n: int) -> np.ndarray:
    days = rng.integers(0, 7 * 365, n)
    return EPOCH_1995 + days.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _star_schema(rng: np.random.Generator) -> dict[str, pa.Table]:
    """Source side of dq_suite: region .. lineitem, keys unique where the
    TPC-H schema says so, (l_orderkey, l_linenumber) the lineitem key."""
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(DQ_SUPPLIERS, dtype=np.int64),
        "s_name": [f"Supplier#{i:06d}" for i in range(DQ_SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, DQ_SUPPLIERS), pa.int32()),
        "s_acctbal": _money(rng, DQ_SUPPLIERS, -999, 9999),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(DQ_CUSTOMERS, dtype=np.int64),
        "c_name": [f"Customer#{i:06d}" for i in range(DQ_CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, DQ_CUSTOMERS), pa.int32()),
        "c_acctbal": _money(rng, DQ_CUSTOMERS, -999, 9999),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, DQ_CUSTOMERS)],
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(DQ_PARTS, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(DQ_PARTS)],
        "p_brand": [f"Brand#{i % 5 + 1}{i % 7 + 1}" for i in range(DQ_PARTS)],
        "p_type": SEGMENTS[rng.integers(0, 5, DQ_PARTS)],
        "p_size": pa.array(rng.integers(1, 51, DQ_PARTS), pa.int32()),
        "p_retailprice": _money(rng, DQ_PARTS, 900, 2100),
    })
    n_lines = rng.integers(1, 8, DQ_ORDERS)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(DQ_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, DQ_CUSTOMERS, DQ_ORDERS),
        "o_orderstatus": STATUS[rng.integers(0, 2, DQ_ORDERS)],
        "o_totalprice": _money(rng, DQ_ORDERS, 1000, 400_000),
        "o_orderdate": pa.array(_dates(rng, DQ_ORDERS), pa.timestamp("us")),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, DQ_ORDERS)],
    })
    n = int(n_lines.sum())
    orderkey = np.repeat(np.arange(DQ_ORDERS, dtype=np.int64), n_lines)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    discount = np.round(rng.integers(0, 11, n) / 100.0, 2)
    # ~0.5% NULL discounts: the not_null check and the profiles see them
    discount_null = rng.random(n) < 0.005
    t["lineitem"] = pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, DQ_PARTS, n),
        "l_suppkey": rng.integers(0, DQ_SUPPLIERS, n),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900, 105_000),
        "l_discount": pa.array(discount, mask=discount_null),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": FLAGS[rng.integers(0, 3, n)],
        "l_linestatus": STATUS[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(_dates(rng, n), pa.timestamp("us")),
    })
    return t


def _drift_lineitem(rng: np.random.Generator, li: pa.Table) -> pa.Table:
    """Target copy of lineitem: rows dropped, added (new order keys) and
    perturbed; ``l_tax`` removed; ``l_quantity`` retyped DOUBLE -> BIGINT."""
    n = li.num_rows
    keep = rng.random(n) >= DROP_FRAC
    kept = li.filter(pa.array(keep))
    m = kept.num_rows
    perturb = rng.random(m) < PERTURB_FRAC
    price = kept["l_extendedprice"].to_numpy()
    price = np.where(perturb, np.round(price + 1.0, 2), price)
    qty = kept["l_quantity"].to_numpy()
    qty = np.where(perturb & (rng.random(m) < 0.5), qty + 1, qty)
    kept = kept.set_column(
        kept.schema.get_field_index("l_extendedprice"), "l_extendedprice",
        pa.array(price),
    ).set_column(
        kept.schema.get_field_index("l_quantity"), "l_quantity", pa.array(qty)
    )
    n_add = int(n * ADD_FRAC)
    src_rows = rng.integers(0, m, n_add)
    added = kept.take(pa.array(src_rows))
    added = added.set_column(
        0, "l_orderkey", pa.array(DQ_ORDERS + np.arange(n_add, dtype=np.int64))
    )
    out = pa.concat_tables([kept, added]).drop_columns(["l_tax"])
    qi = out.schema.get_field_index("l_quantity")
    return out.set_column(qi, "l_quantity", out["l_quantity"].cast(pa.int64()))


def gen_dq_suite(seed: int, out_dir: str) -> dict:
    """``src/`` and a drifted ``tgt/`` star schema; returns the layout."""
    rng = np.random.default_rng([seed, 1])
    src = _star_schema(rng)
    tgt = dict(src)
    tgt["lineitem"] = _drift_lineitem(rng, src["lineitem"])
    orders = src["orders"]
    tgt["orders"] = orders.filter(pa.array(rng.random(orders.num_rows) >= DROP_FRAC / 2))
    for side, tables in (("src", src), ("tgt", tgt)):
        for name, table in tables.items():
            _write(table, os.path.join(out_dir, side), name)
    return {
        "src": os.path.join(out_dir, "src"),
        "tgt": os.path.join(out_dir, "tgt"),
        "tables": list(src),
        "rows": {k: v.num_rows for k, v in src.items()},
    }


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(8, 70, n)
    words = np.array(VOCAB)
    return [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]


def _near_copy(rng: np.random.Generator, text: str) -> str:
    """One word substituted: 3-shingle Jaccard >= 0.8 for >= 40 tokens."""
    toks = text.split()
    i = int(rng.integers(0, len(toks)))
    toks[i] = "planted" if toks[i] != "planted" else "copy"
    return " ".join(toks)


def _exact_copy(text: str) -> str:
    """The same words, with wider and trailing whitespace: a duplicate
    once the text is normalized, but not byte-identical."""
    return "  ".join(text.split()) + " "


def gen_curation_store(seed: int, out_dir: str) -> dict:
    """``documents``: unique texts plus near-duplicate copies of long docs
    at ``NEAR_DUP_FRAC`` and exact copies at ``EXACT_DUP_FRAC`` (ids after
    the originals)."""
    rng = np.random.default_rng([seed, 3])
    texts = _texts(rng, DOCS)
    long_ids = [i for i, t in enumerate(texts) if len(t.split()) >= 40]
    n_copies = int(DOCS * NEAR_DUP_FRAC)
    sources = rng.choice(long_ids, n_copies, replace=False)
    copies = [_near_copy(rng, texts[i]) for i in sources]
    exact = rng.choice(DOCS, int(DOCS * EXACT_DUP_FRAC), replace=False)
    copies += [_exact_copy(texts[i]) for i in exact]
    all_texts = texts + copies
    n = len(all_texts)
    table = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": all_texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in all_texts], dtype=np.int64),
    })
    _write(table, out_dir, "documents")
    # doc_id ranges of the batches: the base corpus is indexed, the
    # copies query it; the gate sees the first half of the base, then
    # the second half together with every copy
    return {
        "dir": out_dir,
        "rows": {"documents": n},
        "base": (0, DOCS),
        "queries": (DOCS, n),
        "gate_batches": [(0, DOCS // 2), (DOCS // 2, n)],
    }


GENERATORS = {
    "dq_suite": gen_dq_suite,
    "curation_store": gen_curation_store,
}
