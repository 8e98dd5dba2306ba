"""Independent DuckDB computations of what each checked call must return.

Each ``expect_*`` function reads only the generated parquet files and
returns plain Python values; ``same_rows`` compares them with the rows a
Spark call collected. The profile oracles reuse the engine's own DuckDB
twins from ``dbqt_spark.queries`` (``_profile_sql``, ``SQL_TEXT_QUALITY``,
``SQL_DEDUP_EXACT``, ``_SQL_SHINGLES``), so a
benchmark check and the repository's oracle-parity suite agree on what
"correct" means.
"""

from __future__ import annotations

import math
import os
from itertools import combinations

import duckdb

from dbqt_spark.queries import (
    SQL_DEDUP_EXACT,
    SQL_TEXT_QUALITY,
    _SQL_SHINGLES,
    _profile_sql,
)
from dbqt_spark.typecompat import are_types_compatible


def connect(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with one view per ``name -> parquet path``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _rows(con, sql: str) -> list[tuple]:
    return [tuple(r) for r in con.execute(sql).fetchall()]


def _close(a, b, abs_tol: float) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=abs_tol)
    return a == b


def same_rows(got: list[tuple], want: list[tuple], abs_tol: float = 1e-6) -> bool:
    """Order-insensitive row-set equality; floats within 1e-9 relative or
    ``abs_tol`` absolute."""
    if len(got) != len(want):
        return False
    key = lambda r: tuple((x is None, str(x)) for x in r)  # noqa: E731
    return all(
        len(g) == len(w) and all(_close(x, y, abs_tol) for x, y in zip(g, w))
        for g, w in zip(sorted(got, key=key), sorted(want, key=key))
    )


def _pq(dir_: str, name: str) -> str:
    return os.path.join(dir_, f"{name}.parquet")


def table_columns(con, table: str) -> list[tuple[str, str]]:
    return [(r[0], r[1]) for r in con.execute(f"DESCRIBE SELECT * FROM {table}").fetchall()]


# -- dq ---------------------------------------------------------------------


def expect_count_compare(src: str, tgt: str, tables: list[str]) -> list[tuple]:
    """(table_name, source_rows, target_rows, difference, pct_difference)."""
    con = duckdb.connect()
    out = []
    for t in tables:
        s = con.execute(f"SELECT count(*) FROM '{_pq(src, t)}'").fetchone()[0]
        g = con.execute(f"SELECT count(*) FROM '{_pq(tgt, t)}'").fetchone()[0]
        pct = round((g - s) / s * 100, 2) if s else (0.0 if g == s else None)
        out.append((t, s, g, g - s, pct))
    return out


def expect_colcompare(src: str, tgt: str, tables: list[str]) -> list[tuple]:
    """(table_name, col_name, source_type, target_type, status) from
    DuckDB's view of both parquet schemas."""
    con = connect({})
    out = []
    for t in tables:
        s = dict(table_columns(con, f"'{_pq(src, t)}'"))
        g = dict(table_columns(con, f"'{_pq(tgt, t)}'"))
        for c in sorted(set(s) | set(g)):
            st, gt = s.get(c), g.get(c)
            if gt is None:
                status = "Source Only"
            elif st is None:
                status = "Target Only"
            elif are_types_compatible(st, gt):
                status = "Matching"
            else:
                status = "Different Types"
            out.append((t.upper(), c.upper(), st, gt, status))
    return out


def expect_profile(con, table: str) -> list[tuple]:
    cols = [c for c, _ in table_columns(con, table)]
    return _rows(con, _profile_sql(table, cols))


def expect_keys(con, table: str, cols: list[str]) -> list[tuple[str, ...]]:
    """Minimal unique, NULL-free column combinations: every valid combo
    of the smallest size that has one."""
    total = con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]
    for size in range(1, len(cols) + 1):
        found = []
        for cand in combinations(cols, size):
            cs = ", ".join(cand)
            nulls = " OR ".join(f"{c} IS NULL" for c in cand)
            n_null, n_distinct = con.execute(
                f"SELECT count(*) FILTER (WHERE {nulls}), "
                f"(SELECT count(*) FROM (SELECT DISTINCT {cs} FROM {table})) "
                f"FROM {table}"
            ).fetchone()
            if n_null == 0 and n_distinct == total:
                found.append(cand)
        if found:
            return found
    return []


def expect_checks(con, checks: list[dict]) -> list[tuple]:
    """(check_name, total_rows, violations) for the dq_suite check kinds."""
    out = []
    for c in checks:
        t, col, p = c["table"], c.get("column"), c.get("params", {})
        total = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        kind = c["kind"]
        if kind == "not_null":
            cond = f"count(*) FILTER (WHERE {col} IS NULL)"
        elif kind == "unique":
            cond = f"count({col}) - count(DISTINCT {col})"
        elif kind == "range":
            cond = (
                f"count(*) FILTER (WHERE {col} < {p['min']} OR {col} > {p['max']})"
            )
        elif kind == "in_set":
            vals = ", ".join(f"'{v}'" for v in p["values"])
            cond = f"count(*) FILTER (WHERE {col} IS NOT NULL AND {col} NOT IN ({vals}))"
        elif kind == "ref_integrity":
            ref, rc = p["ref_table"], p["ref_column"]
            cond = (
                f"count(*) FILTER (WHERE {col} IS NOT NULL AND {col} NOT IN "
                f"(SELECT {rc} FROM {ref} WHERE {rc} IS NOT NULL))"
            )
        else:
            raise ValueError(f"no oracle for check kind {kind}")
        v = con.execute(f"SELECT {cond} FROM {t}").fetchone()[0]
        out.append((c["name"], total, v))
    return out


def expect_diff_summary(
    src_path: str, tgt_path: str, keys: list[str], cols: list[str]
) -> list[tuple]:
    """(item, n_rows) of a keyed full-outer diff: one row per status with
    rows, one ``column:<name>`` row per column that changed anywhere."""
    con = duckdb.connect()
    on = " AND ".join(f"s.{k} = t.{k}" for k in keys)
    changed = " + ".join(
        f"CAST(s.{c} IS DISTINCT FROM t.{c} AS INTEGER)" for c in cols
    )
    per_col = ", ".join(
        f"count(*) FILTER (WHERE s.__in AND t.__in AND s.{c} IS DISTINCT FROM t.{c})"
        for c in cols
    )
    row = con.execute(f"""
        SELECT count(*) FILTER (WHERE t.__in IS NULL),
               count(*) FILTER (WHERE s.__in IS NULL),
               count(*) FILTER (WHERE s.__in AND t.__in AND ({changed}) > 0),
               count(*) FILTER (WHERE s.__in AND t.__in AND ({changed}) = 0),
               {per_col}
        FROM (SELECT *, true AS __in FROM '{src_path}') s
        FULL OUTER JOIN (SELECT *, true AS __in FROM '{tgt_path}') t ON {on}
    """).fetchone()
    out = [
        (item, n)
        for item, n in zip(["removed", "added", "changed", "identical"], row[:4])
        if n
    ]
    out += [(f"column:{c}", n) for c, n in zip(cols, row[4:]) if n]
    return out


# -- curation ---------------------------------------------------------------


def expect_quality(con) -> list[tuple]:
    return _rows(con, SQL_TEXT_QUALITY)


def expect_curate_exact(con, quantile: float, group_col: str) -> list[int]:
    """Sorted doc ids ``curate(dedup="exact")`` keeps: quality score at
    or above its group's interpolated ``quantile`` (NULL groups form
    their own group), then the min id per normalized-text md5."""
    return [r[0] for r in con.execute(f"""
        WITH q AS ({SQL_TEXT_QUALITY}),
        fp AS ({SQL_DEDUP_EXACT}),
        s AS (
          SELECT d.doc_id, d.{group_col} AS g, q.quality_score, fp.fingerprint
          FROM documents d JOIN q USING (doc_id) JOIN fp USING (doc_id)
        ),
        thr AS (SELECT g, quantile_cont(quality_score, {quantile}) AS thr FROM s GROUP BY g)
        SELECT min(s.doc_id) AS doc_id
        FROM s JOIN thr ON s.g IS NOT DISTINCT FROM thr.g
        WHERE s.quality_score >= thr.thr
        GROUP BY s.fingerprint
        ORDER BY doc_id
    """).fetchall()]


def near_duplicate_pairs(con, threshold: float) -> set[tuple[int, int]]:
    """Every (id_a < id_b) pair of ``documents`` with exact 3-shingle
    Jaccard >= ``threshold``. Shingle sets come from DuckDB on the
    engine's shingle definition (``_SQL_SHINGLES``); only pairs sharing
    a shingle can score above zero, so an inverted index enumerates the
    candidates and the Jaccard of each is computed exactly."""
    sets = {
        doc_id: frozenset(s)
        for doc_id, s in con.execute(f"WITH {_SQL_SHINGLES} SELECT doc_id, s FROM sh").fetchall()
    }
    postings: dict[str, list[int]] = {}
    for doc_id, s in sets.items():
        for sh in s:
            postings.setdefault(sh, []).append(doc_id)
    cands = {
        (a, b) for ids in postings.values() for a in ids for b in ids if a < b
    }
    return {
        (a, b) for a, b in cands
        if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= threshold
    }
