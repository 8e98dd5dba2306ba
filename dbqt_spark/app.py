"""CLI front door — mirrors the reference's tool surface.

``python -m dbqt_spark <tool> [args]`` with the reference's tool names
and aliases (dbqt/app.py:7-21, dbqt/tools/__init__.py:6-11): a user of
``dbqt dbstats --config c.yaml`` runs ``python -m dbqt_spark dbstats
--config c.yaml`` against Spark-readable sources instead.
"""

from __future__ import annotations

import argparse
import logging
import os
import sys
import time

logging.basicConfig(
    level=logging.INFO, format="%(asctime)s %(levelname)s %(name)s: %(message)s"
)
logger = logging.getLogger("dbqt_spark")

TOOL_ALIASES = {
    "compare": "colcompare",
    "rowcount": "dbstats",
    "stats": "dbstats",
    "findkey": "keyfinder",
}

TOOLS = [
    "dbstats",
    "colcompare",
    "nullcheck",
    "keyfinder",
    "combine",
    "parquetizer",
    "dynamic-query",
    "checks",
    "dedup",
    "textstats",
    "decontaminate",
    "split",
    "shuffle",
    "curate",
    "sample",
    "profile",
    "dedupindex",
    "statstore",
    "datadiff",
    "chunk",
    "cluster",
    "classify",
    "repair",
    "export",
    "layout",
    "search",
    "urls",
    "pack",
    "links",
    "cdx",
    "wet",
    "wat",
    "bpe",
    "unigram",
    "bloom",
]


def _spark():
    from .session import get_spark

    return get_spark(app_name="dbqt_spark_cli")


def _results_path(name: str, ext: str = "html") -> str:
    os.makedirs("results", exist_ok=True)
    return os.path.join("results", f"{name}_{int(time.time())}.{ext}")


def _load_db(config_path: str):
    from .config import EngineConfig
    from .sources.database import connect

    cfg = EngineConfig.load(config_path)
    return cfg, connect(_spark(), cfg.connection)


def _resolve_tables(cfg, db) -> list[str]:
    from .config import read_tables_csv
    from .patterns import filter_excluded_tables

    if cfg.tables_file:
        mode, rows = read_tables_csv(cfg.tables_file)
        names = [
            r.get("table_name") or r.get("source_table") for r in rows
        ]
        names = [n for n in names if n]
    else:
        names = db.list_tables()  # auto-discovery
    return filter_excluded_tables(names, cfg.excluded_tables)


def _dual_pairs(cfg, db, tcfg, tdb) -> "tuple[list[dict], list[str], list[str]]":
    """Resolve (source_table, target_table, _discovery_status) pairs:
    explicit dual CSV, or auto-discovery with case-insensitive
    intersection (FIXTURES.md F-12; reference utils.py:264-317).

    Returns (pairs, src_names, tgt_names) — the per-side resolved table
    lists ride along so downstream phases (``--mode both``'s colcompare
    tabs) reuse this ONE discovery pass instead of re-listing each
    database (the reference's dbstats orchestration contract,
    dbqt/tools/dbstats.py:334-390)."""
    from .config import discover_common_tables, read_tables_csv
    from .patterns import filter_excluded_tables

    # the UNION of both configs' exclusion patterns applies to BOTH
    # sides (reference utils.py:241-246 collects them into one set): a
    # table excluded by either config is excluded everywhere, so the
    # rowcount phase and the colcompare phase can never disagree on
    # which tables are in scope
    union_patterns = sorted(
        set(cfg.excluded_tables or []) | set(tcfg.excluded_tables or [])
    )
    if cfg.tables_file:
        mode, rows = read_tables_csv(cfg.tables_file)
        if mode == "dual":
            pairs = [dict(r, _discovery_status="common") for r in rows]
        else:
            pairs = [
                {
                    "source_table": r["table_name"],
                    "target_table": r["table_name"],
                    "_discovery_status": "common",
                }
                for r in rows
            ]
        # exclusion applies to the PAIR ROWS too, not just the per-side
        # name lists (reference utils.py:249-254) — otherwise the
        # counts phase would still count tables colcompare skips, the
        # exact inconsistency this function exists to prevent
        src = filter_excluded_tables(
            [p["source_table"] for p in pairs], union_patterns
        )
        tgt = filter_excluded_tables(
            [p["target_table"] for p in pairs], union_patterns
        )
        src_set, tgt_set = set(src), set(tgt)
        pairs = [
            p
            for p in pairs
            if p["source_table"] in src_set and p["target_table"] in tgt_set
        ]
        return pairs, src, tgt
    src_names = filter_excluded_tables(db.list_tables(), union_patterns)
    tgt_names = filter_excluded_tables(tdb.list_tables(), union_patterns)
    return discover_common_tables(src_names, tgt_names), src_names, tgt_names


def _db_row_counts(spark, db, named: list[tuple[str, str]]):
    """Count rows for (out_name, table) pairs THROUGH the connection kind:
    tables resolve via ``db.load`` (csv/json/orc/JDBC included), not by
    assuming ``<root>/<table>.parquet``. ``out_name`` lets dual mode key
    counts by an explicit pair id so duplicate table names can't collide."""
    from .operators.rowcount import df_row_counts

    dfs, errors = {}, []
    for out_name, table in named:
        try:
            dfs[out_name] = db.load(table)
        except Exception as exc:  # unreadable table -> note row
            errors.append((out_name, f"ERROR: {exc}"))
    return df_row_counts(db.spark, dfs, errors=errors)


def tool_dbstats(argv: list[str]) -> int:
    from pyspark.sql import functions as F

    from .operators.rowcount import count_compare
    from .report.html import HTMLReport

    p = argparse.ArgumentParser(prog="dbstats")
    p.add_argument("--config", required=True)
    p.add_argument("--target-config")
    p.add_argument(
        "--mode", choices=["rowcount", "colcompare", "both"], default="rowcount"
    )
    p.add_argument("--output")
    args = p.parse_args(argv)

    cfg, db = _load_db(args.config)
    spark = db.spark
    report = HTMLReport("dbstats")

    src_names = tgt_names = None
    if args.target_config:
        tcfg, tdb = _load_db(args.target_config)
        pairs, src_names, tgt_names = _dual_pairs(cfg, db, tcfg, tdb)
        # one-sided tables are skipped with a note, never counted
        # (reference dbstats.py:113-134)
        common = [p_ for p_ in pairs if p_["_discovery_status"] == "common"]
        # counts are keyed by an explicit pair id, NOT the table name: one
        # target table may pair with several source names (and vice versa)
        src_counts = _db_row_counts(
            spark, db,
            [(f"p{i}", p_["source_table"]) for i, p_ in enumerate(common)],
        ).withColumnRenamed("table_name", "pair_id")
        tgt_counts = _db_row_counts(
            tdb.spark, tdb,
            [(f"p{i}", p_["target_table"]) for i, p_ in enumerate(common)],
        ).withColumnRenamed("table_name", "pair_id")
        compared = count_compare(src_counts, tgt_counts, join_on="pair_id")
        id_names = spark.createDataFrame(
            [(f"p{i}", p_["source_table"]) for i, p_ in enumerate(common)]
            or [("__none__", None)],
            "pair_id string, source_table string",
        )
        result = (
            compared.join(F.broadcast(id_names), "pair_id")
            .drop("pair_id")
            .select(
                "source_table", "source_row_count", "target_row_count",
                "difference", "percentage_difference", "source_notes",
                "target_notes",
            )
        )
        skipped = [
            (
                p_["source_table"] or p_["target_table"],
                f"Only in {'source' if p_['_discovery_status'] == 'source_only' else 'target'},"
                " row count skipped",
            )
            for p_ in pairs
            if p_["_discovery_status"] != "common"
        ]
        if skipped:
            skipped_df = spark.createDataFrame(
                [(n, None, None, None, None, note, note) for n, note in skipped],
                result.schema,
            )
            result = result.unionByName(skipped_df)
        report.add_dataframe_tab("Row Counts", result)
    else:
        names = _resolve_tables(cfg, db)
        result = _db_row_counts(spark, db, [(n, n) for n in names])
        report.add_dataframe_tab("Row Counts", result)

    if args.mode in ("colcompare", "both") and args.target_config:
        # reuse the rowcount phase's discovery (ONE pass per database —
        # the reference's dbstats orchestration contract); colcompare
        # tabs see the same per-side table lists the counts saw
        _append_colcompare_tabs(
            report, cfg, db, tcfg, tdb, src_names, tgt_names
        )

    out = args.output or _results_path("dbstats")
    report.save(out)
    for row in result.collect():
        logger.info("%s", tuple(row))
    print(f"Report saved to {out}")
    return 0


def _append_colcompare_tabs(
    report, cfg, db, tcfg, tdb, src_names=None, tgt_names=None
) -> None:
    """Schema-comparison tabs. ``src_names``/``tgt_names`` carry an
    already-resolved discovery (dbstats --mode both passes the rowcount
    phase's lists so each database is listed exactly once); standalone
    colcompare leaves them None and resolves here."""
    from .operators.colcompare import (
        compare_columns,
        compare_table_sets,
        datatype_mismatches,
    )
    from .schema_df import build_schema_df

    if src_names is None:
        src_names = _resolve_tables(cfg, db)
    if tgt_names is None:
        tgt_names = _resolve_tables(tcfg, tdb)
    src_ir = build_schema_df(db.spark, {n: db.load(n) for n in src_names})
    tgt_ir = build_schema_df(tdb.spark, {n: tdb.load(n) for n in tgt_names})
    excluded = list({*cfg.excluded_cols, *tcfg.excluded_cols})
    cc = compare_columns(src_ir, tgt_ir, excluded_cols=excluded)
    report.add_dataframe_tab("Table Comparison", compare_table_sets(src_ir, tgt_ir))
    report.add_dataframe_tab("Column Comparison", cc)
    report.add_dataframe_tab("Datatype Mismatches", datatype_mismatches(cc))


def _schema_df_from_file(spark, path: str):
    from .schema_df import schema_df_from_csv, schema_df_from_parquet_file

    if path.endswith(".csv"):
        return schema_df_from_csv(spark, path)
    return schema_df_from_parquet_file(spark, path)


def tool_colcompare(argv: list[str]) -> int:
    from .report.html import HTMLReport

    p = argparse.ArgumentParser(prog="colcompare")
    p.add_argument("--source-config")
    p.add_argument("--target-config")
    p.add_argument("--source-file", help="schema-dump CSV or parquet file")
    p.add_argument("--target-file")
    p.add_argument("--output")
    p.add_argument(
        "--generate-config",
        nargs="?",
        const="colcompare_config.yaml",
        default=None,
        metavar="PATH",
        help="write the default type-mapping YAML and exit "
        "(reference colcompare.py:98)",
    )
    args = p.parse_args(argv)

    if args.generate_config:
        from .typecompat import generate_config_file

        if generate_config_file(args.generate_config):
            print(f"Default configuration saved to: {args.generate_config}")
            return 0
        print(
            f"Config file already exists at {args.generate_config}; "
            "delete it first to regenerate"
        )
        return 1

    report = HTMLReport("colcompare")
    if args.source_file and args.target_file:
        # file mode (reference colcompare.py:621-714): two schema dumps
        from .operators.colcompare import (
            compare_columns,
            compare_table_sets,
            datatype_mismatches,
        )

        spark = _spark()
        src_ir = _schema_df_from_file(spark, args.source_file)
        tgt_ir = _schema_df_from_file(spark, args.target_file)
        cc = compare_columns(src_ir, tgt_ir)
        report.add_dataframe_tab(
            "Table Comparison", compare_table_sets(src_ir, tgt_ir)
        )
        report.add_dataframe_tab("Column Comparison", cc)
        report.add_dataframe_tab("Datatype Mismatches", datatype_mismatches(cc))
    elif args.source_config and args.target_config:
        cfg, db = _load_db(args.source_config)
        tcfg, tdb = _load_db(args.target_config)
        _append_colcompare_tabs(report, cfg, db, tcfg, tdb)
    else:
        p.error("need --source-config/--target-config or --source-file/--target-file")
    out = args.output or _results_path("colcompare")
    report.save(out)
    print(f"Report saved to {out}")
    return 0


def tool_nullcheck(argv: list[str]) -> int:
    from .operators.profile import profile_columns
    from .report.markdown import write_nullcheck_report

    p = argparse.ArgumentParser(prog="nullcheck")
    p.add_argument("--config", required=True)
    p.add_argument("--output", default=None)
    args = p.parse_args(argv)

    cfg, db = _load_db(args.config)
    names = _resolve_tables(cfg, db)
    results: dict[str, dict[str, int]] = {}
    for t in names:
        try:
            prof = profile_columns(db.load(t), t).collect()
            results[t.upper()] = {
                r["col_name"].upper(): r["distinct_count"] for r in prof
            }
        except Exception as exc:
            logger.error("Error checking %s: %s", t, exc)
            results[t.upper()] = {}
    out = args.output or _results_path("nullcheck", "md")
    write_nullcheck_report(out, results)
    print(f"Report saved to {out}")
    return 0


def tool_keyfinder(argv: list[str]) -> int:
    from .operators.keyfinder import find_composite_keys

    p = argparse.ArgumentParser(prog="keyfinder")
    p.add_argument("--config", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--max-columns", type=int, default=20)
    p.add_argument("--max-size", type=int, default=None)
    p.add_argument("--include-only", nargs="*", default=None)
    p.add_argument("--exclude", nargs="*", default=[])
    p.add_argument("--force", action="store_true")
    args = p.parse_args(argv)

    _, db = _load_db(args.config)
    df = db.load(args.table)
    cols = args.include_only or [
        c for c in df.columns if c not in set(args.exclude)
    ]
    keys = find_composite_keys(
        df,
        columns=cols,
        max_size=args.max_size,
        max_columns=args.max_columns,
        force=args.force,
    )
    if keys:
        print(f"Found {len(keys)} minimal key(s) for {args.table}:")
        for k in keys:
            print("  " + " + ".join(k))
    else:
        print(f"No unique key found for {args.table}")
    return 0


def tool_combine(argv: list[str]) -> int:
    from .operators.combine import combine_parquet

    p = argparse.ArgumentParser(prog="combine")
    p.add_argument("--input-dir", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--single-file", action="store_true")
    args = p.parse_args(argv)

    paths = sorted(
        os.path.join(args.input_dir, f)
        for f in os.listdir(args.input_dir)
        if not f.startswith(".")
    )
    result = combine_parquet(
        _spark(), paths, args.output, single_file=args.single_file
    )
    print(
        f"Combined {len(result.included)} file(s) -> {args.output}; "
        f"skipped {len(result.skipped)}"
    )
    for path, reason in result.skipped:
        print(f"  skipped {path}: {reason}")
    return 0


def tool_parquetizer(argv: list[str]) -> int:
    from .operators.combine import add_parquet_extension

    p = argparse.ArgumentParser(prog="parquetizer")
    p.add_argument("--directory", required=True)
    p.add_argument("--dry-run", action="store_true")
    args = p.parse_args(argv)

    renamed = add_parquet_extension(args.directory, dry_run=args.dry_run)
    verb = "Would rename" if args.dry_run else "Renamed"
    print(f"{verb} {len(renamed)} file(s)")
    for r in renamed:
        print(f"  {r}")
    return 0


def tool_dynamic_query(argv: list[str]) -> int:
    from .config import read_csv_list
    from .operators.dynamic_query import format_query_log, run_dynamic_queries
    from .sources.database import connect

    p = argparse.ArgumentParser(prog="dynamic-query")
    p.add_argument("--config", required=True)
    p.add_argument("--template", required=True, help="SQL with {var_from_csv}")
    p.add_argument("--values-csv", required=True)
    p.add_argument("--column", default="var_from_csv")
    p.add_argument("--output")
    args = p.parse_args(argv)

    cfg, db = _load_db(args.config)
    spark = db.spark
    for t in db.list_tables():
        db.load(t).createOrReplaceTempView(t)
    values = read_csv_list(args.values_csv, args.column)
    results = run_dynamic_queries(spark, args.template, values)
    log = format_query_log(
        [(v, [tuple(r) for r in df.collect()]) for v, df in results]
    )
    out = args.output or _results_path("dynamic_query", "txt")
    with open(out, "w") as f:
        f.write(log)
    print(f"Results saved to {out}")
    return 0


def tool_checks(argv: list[str]) -> int:
    from .operators.checks import load_check_suite, run_checks
    from .report.html import HTMLReport

    p = argparse.ArgumentParser(prog="checks")
    p.add_argument("--config", required=True)
    p.add_argument("--suite", required=True, help="YAML check-suite file")
    p.add_argument("--output")
    args = p.parse_args(argv)

    cfg, db = _load_db(args.config)
    checks = load_check_suite(args.suite)
    needed = (
        {c.table for c in checks}
        | {
            c.params.get("ref_table")
            for c in checks
            if c.kind == "ref_integrity"
        }
        | {
            c.params.get("baseline_table")
            for c in checks
            if c.kind == "drift"
        }
    )
    tables = {}
    for t in needed:
        if not t:
            continue
        try:
            tables[t] = db.load(t)
        except Exception as exc:
            logger.error("cannot load %s: %s", t, exc)
    result = run_checks(db.spark, tables, checks)
    report = HTMLReport("dq checks")
    report.add_dataframe_tab("Check Results", result)
    out = args.output or _results_path("checks")
    report.save(out)
    rows = result.collect()
    failed = [r for r in rows if not r["passed"]]
    for r in rows:
        logger.info("%s", tuple(r))
    print(f"{len(rows) - len(failed)}/{len(rows)} checks passed")
    print(f"Report saved to {out}")
    return 1 if failed else 0


def tool_dedup(argv: list[str]) -> int:
    """Document dedup from the CLI: exact fingerprint groups or one of
    the near-dup tiers (minhash / simhash / ngram / embedding / edit)
    over a configured table's text column; pairs go to an HTML report
    and optionally to parquet; lines/spans rewrite the corpus."""
    from .report.html import HTMLReport

    p = argparse.ArgumentParser(prog="dedup")
    p.add_argument("--config", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--text-column", default="text")
    p.add_argument("--id-column", default="doc_id")
    p.add_argument(
        "--method",
        choices=["exact", "minhash", "simhash", "ngram", "embedding",
                 "embedding-exact", "lines", "spans", "edit"],
        default="exact",
    )
    p.add_argument("--threshold", type=float, default=0.8,
                   help="Jaccard threshold (minhash/ngram) or cosine "
                   "threshold (embedding)")
    p.add_argument("--max-hamming", type=int, default=3,
                   help="Hamming radius (simhash)")
    p.add_argument("--max-distance", type=int, default=1,
                   help="edit method: Levenshtein radius (1 or 2)")
    p.add_argument("--max-len", type=int, default=64,
                   help="edit method: strings longer than this are "
                   "excluded (short-string tier; docs belong to "
                   "minhash)")
    p.add_argument("--vec-column", default="embedding",
                   help="array<float> column (embedding method)")
    p.add_argument("--output")
    p.add_argument("--pairs-parquet", help="also write the pairs here")
    p.add_argument("--clusters", action="store_true",
                   help="resolve pair output into transitive clusters "
                   "(doc, cluster, size, representative) — pair methods "
                   "only")
    p.add_argument("--keep", choices=["min", "best"], default="min",
                   help="--clusters keep policy: min id (default) or "
                   "the highest --keep-score-column value per cluster")
    p.add_argument("--keep-score-column",
                   help="required with --keep best: per-doc quality "
                   "column resolved from the source table")
    p.add_argument("--line-policy", choices=["keep_first", "drop_frequent"],
                   default="keep_first",
                   help="lines method: first-occurrence-wins "
                   "(MassiveText) or remove every occurrence past "
                   "--line-min-count (C4)")
    p.add_argument("--line-min-count", type=int, default=3,
                   help="lines method, drop_frequent policy: remove "
                   "lines occurring at least this often")
    p.add_argument("--output-parquet",
                   help="lines/spans methods: write the rebuilt corpus "
                   "here")
    p.add_argument("--span-k", type=int, default=50,
                   help="spans method: span length in tokens (Lee et "
                   "al. ExactSubstr uses 50)")
    p.add_argument("--span-min-count", type=int, default=2,
                   help="spans method: remove spans occurring at least "
                   "this often corpus-wide")
    args = p.parse_args(argv)

    cfg, db = _load_db(args.config)
    df = db.load(args.table)
    from .operators import dedup as dd
    from .operators.cache import released

    stats: dict = {}
    if args.method == "exact":
        result = dd.exact_duplicate_groups(
            df, text_col=args.text_column, id_col=args.id_column
        )
    elif args.method == "minhash":
        result = dd.minhash_near_duplicates(
            df, text_col=args.text_column, id_col=args.id_column,
            threshold=args.threshold, drop_stats=stats,
        )
    elif args.method == "simhash":
        # pigeonhole banding needs max_hamming < bands and bands | 64:
        # pick the smallest qualifying divisor
        if not 0 <= args.max_hamming < 64:
            p.error("--max-hamming must be in [0, 63] for 64-bit simhash")
        bands = next(b for b in (2, 4, 8, 16, 32, 64) if b > args.max_hamming)
        result = dd.simhash_near_duplicates(
            df, text_col=args.text_column, id_col=args.id_column,
            max_hamming=args.max_hamming, bands=bands, drop_stats=stats,
        )
    elif args.method == "edit":
        result = dd.edit_distance_near_duplicates(
            df, text_col=args.text_column, id_col=args.id_column,
            max_distance=args.max_distance, max_len=args.max_len,
            drop_stats=stats,
        )
    elif args.method == "embedding":
        from .operators.similarity import embedding_near_dup_pairs

        result = embedding_near_dup_pairs(
            df, args.threshold, vec_col=args.vec_column,
            id_col=args.id_column, max_block_size=100_000,
            drop_stats=stats,
        )
    elif args.method == "embedding-exact":
        # the exactness-contract tier (audits, recall twins): blocked
        # all-pairs matmul — honest O(n^2) FLOPs, prefer `embedding`
        # (LSH) at corpus scale
        from .operators.similarity import cosine_pairs_exact

        result = cosine_pairs_exact(
            df, args.threshold, vec_col=args.vec_column,
            id_col=args.id_column,
        )
    elif args.method == "lines":
        from pyspark.sql import functions as F

        from .operators.linededup import line_level_dedup

        if args.clusters:
            p.error("--clusters applies to pair methods, not lines")
        rebuilt = line_level_dedup(
            df, text_col=args.text_column, id_col=args.id_column,
            mode=args.line_policy, min_count=args.line_min_count,
        )
        if args.output_parquet:
            rebuilt.write.mode("overwrite").parquet(args.output_parquet)
            rebuilt = df.sparkSession.read.parquet(args.output_parquet)
        # collect the (bounded) removal counts ONCE; the report tab and
        # the summary count both come from the local rows — without the
        # parquet round-trip the lazy two-shuffle pipeline would
        # otherwise execute twice
        removed_rows = (
            rebuilt.filter(F.col("n_removed_lines") > 0)
            .select(args.id_column, "n_removed_lines")
            .collect()
        )
        report = HTMLReport("dedup (lines)")
        # report the surgery, not the corpus: per-doc removal counts
        report.add_dataframe_tab(
            "Removed lines",
            df.sparkSession.createDataFrame(
                removed_rows,
                f"{args.id_column} long, n_removed_lines long",
            ),
        )
        out = args.output or _results_path("dedup")
        report.save(out)
        print(f"{len(removed_rows)} docs had lines removed")
        print(f"Report saved to {out}")
        return 0
    elif args.method == "spans":
        from pyspark.sql import functions as F

        from .operators.linededup import duplicate_span_removal

        if args.clusters:
            p.error("--clusters applies to pair methods, not spans")
        rebuilt = duplicate_span_removal(
            df, k=args.span_k, text_col=args.text_column,
            id_col=args.id_column, min_count=args.span_min_count,
        )
        if args.output_parquet:
            rebuilt.write.mode("overwrite").parquet(args.output_parquet)
            rebuilt = df.sparkSession.read.parquet(args.output_parquet)
        removed_rows = (
            rebuilt.filter(F.col("n_removed_tokens") > 0)
            .select(args.id_column, "n_removed_tokens")
            .collect()
        )
        report = HTMLReport("dedup (spans)")
        report.add_dataframe_tab(
            "Removed spans",
            df.sparkSession.createDataFrame(
                removed_rows,
                f"{args.id_column} long, n_removed_tokens long",
            ),
        )
        out = args.output or _results_path("dedup")
        report.save(out)
        print(f"{len(removed_rows)} docs had duplicated spans removed")
        print(f"Report saved to {out}")
        return 0
    else:
        result = dd.ngram_jaccard_near_duplicates(
            df, text_col=args.text_column, id_col=args.id_column,
            threshold=args.threshold,
        )
    if args.clusters:
        if args.method == "exact":
            p.error("--clusters applies to pair methods, not exact")
        from .operators.clusters import near_dup_clusters

        # honor --pairs-parquet's contract (it writes PAIRS) before the
        # cluster transform consumes and releases the pair frame; read
        # the written parquet back so the expensive pair pipeline (the
        # Arrow verify stage in particular) runs exactly once instead of
        # once for the write and again for the cluster pass
        if args.pairs_parquet:
            result.write.mode("overwrite").parquet(args.pairs_parquet)
            # the dedup operators return the pair frame persisted (the
            # over-limit contract); release those blocks before dropping
            # our handle to them, else repeated in-process main() calls
            # leak cached partitions until GC
            result.unpersist()
            result = df.sparkSession.read.parquet(args.pairs_parquet)
        # every pair method emits (id_a, id_b, ...)
        if args.keep == "best":
            if not args.keep_score_column:
                p.error("--keep best needs --keep-score-column")
            from .operators.clusters import best_quality_kept

            result = best_quality_kept(
                result,
                df.select(args.id_column, args.keep_score_column),
                id_col=args.id_column,
                score_col=args.keep_score_column,
            ).orderBy(args.id_column)
        else:
            result = near_dup_clusters(
                result, id_col=args.id_column
            ).orderBy(args.id_column)
    with released(result) as result:
        if args.pairs_parquet and not args.clusters:
            result.write.mode("overwrite").parquet(args.pairs_parquet)
        report = HTMLReport(f"dedup ({args.method})")
        report.add_dataframe_tab("Duplicates", result)
        out = args.output or _results_path("dedup")
        report.save(out)
        n = result.count()
    if stats:
        logger.info("drop accounting: %s", stats)
    kind = ("clustered docs" if args.clusters
            else "groups" if args.method == "exact" else "pairs")
    print(f"{n} {kind} found")
    print(f"Report saved to {out}")
    return 0


def tool_textstats(argv: list[str]) -> int:
    """Text-analysis report over a configured table: token stats, quality
    scores, language ID, and fingerprints in one tabbed HTML report
    (single scan per tab — each operator is one narrow
    pyspark.sql.functions pass)."""
    from .report.html import HTMLReport

    p = argparse.ArgumentParser(prog="textstats")
    p.add_argument("--config", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--text-column", default="text")
    p.add_argument("--id-column", default="doc_id")
    p.add_argument("--sample", type=int, default=1000,
                   help="rows per tab in the report (the full frames are "
                   "computed; the report shows the first N by id)")
    p.add_argument("--output")
    args = p.parse_args(argv)

    cfg, db = _load_db(args.config)
    df = db.load(args.table)
    from .operators.textstats import (
        c4_rules,
        char_entropy,
        fingerprint,
        gopher_rules,
        language_id,
        lm_score,
        quality_scores,
        readability,
        token_stats,
    )

    report = HTMLReport("textstats")
    tabs = [
        ("Token Stats", token_stats),
        ("Quality", quality_scores),
        ("Language ID", language_id),
        ("Fingerprints", fingerprint),
        ("LM Score", lm_score),
        ("Char Entropy", char_entropy),
        ("Readability", readability),
        ("Gopher Rules", gopher_rules),
        ("C4 Rules", c4_rules),
    ]
    for title, op in tabs:
        frame = op(df, text_col=args.text_column, id_col=args.id_column)
        report.add_dataframe_tab(
            title, frame.orderBy(args.id_column).limit(args.sample)
        )
    # corpus-level tab (rows per cutoff, not per doc)
    from .operators.textstats import vocab_coverage

    report.add_dataframe_tab(
        "Vocab Coverage", vocab_coverage(df, text_col=args.text_column)
    )
    out = args.output or _results_path("textstats")
    report.save(out)
    print(f"Report saved to {out}")
    return 0


def tool_search(argv: list[str]) -> int:
    """BM25 keyword retrieval from the CLI: rank a table's documents
    against query terms (operators/textstats.bm25_search) — results to
    stdout and optionally an HTML report."""
    p = argparse.ArgumentParser(prog="search")
    p.add_argument("--config", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--query", required=True,
                   help="space-separated query terms")
    p.add_argument("--text-column", default="text")
    p.add_argument("--id-column", default="doc_id")
    p.add_argument("-k", type=int, default=20)
    p.add_argument("--k1", type=float, default=1.2)
    p.add_argument("--b", type=float, default=0.75)
    p.add_argument("--output", help="optional HTML report path")
    args = p.parse_args(argv)

    cfg, db = _load_db(args.config)
    df = db.load(args.table)
    from .operators.textstats import bm25_search

    hits = bm25_search(
        df, args.query.split(), k=args.k, k1=args.k1, b=args.b,
        text_col=args.text_column, id_col=args.id_column,
    ).collect()
    for r in hits:
        print(f"{r[args.id_column]}\t{r['score']}")
    if args.output:
        from .report.html import HTMLReport

        report = HTMLReport("search")
        report.add_dataframe_tab(
            "BM25", db.spark.createDataFrame(
                hits, f"{args.id_column} long, score double"
            )
        )
        report.save(args.output)
        print(f"Report saved to {args.output}")
    return 0


def tool_decontaminate(argv: list[str]) -> int:
    """Benchmark decontamination from the CLI: flag corpus docs sharing
    a word n-gram with an eval table (13-gram default, GPT-3 appendix C);
    flagged docs go to an HTML report, clean rows optionally to
    parquet."""
    from .report.html import HTMLReport

    p = argparse.ArgumentParser(prog="decontaminate")
    p.add_argument("--config", required=True)
    p.add_argument("--table", required=True, help="corpus table")
    p.add_argument("--eval-table", required=True, help="benchmark table")
    p.add_argument("--text-column", default="text")
    p.add_argument("--id-column", default="doc_id")
    p.add_argument("--eval-text-column",
                   help="eval table's text column (default: --text-column)")
    p.add_argument("--ngram", type=int, default=13,
                   help="overlap window in word tokens")
    p.add_argument("--clean-parquet",
                   help="also write the DECONTAMINATED corpus here")
    p.add_argument("--output")
    args = p.parse_args(argv)

    from .operators.contamination import contamination_check, decontaminate

    cfg, db = _load_db(args.config)
    corpus = db.load(args.table)
    eval_df = db.load(args.eval_table)
    kw = dict(
        n=args.ngram,
        text_col=args.text_column,
        id_col=args.id_column,
        eval_text_col=args.eval_text_column,
    )
    hits = contamination_check(corpus, eval_df, **kw)
    report = HTMLReport(f"decontaminate ({args.ngram}-gram)")
    report.add_dataframe_tab("Contaminated", hits.orderBy(args.id_column))
    out = args.output or _results_path("decontaminate")
    report.save(out)
    n_flagged = hits.count()
    if args.clean_parquet:
        decontaminate(corpus, eval_df, **kw).write.mode(
            "overwrite"
        ).parquet(args.clean_parquet)
        print(f"clean corpus written to {args.clean_parquet}")
    print(f"{n_flagged} contaminated documents flagged")
    print(f"Report saved to {out}")
    return 0


def tool_split(argv: list[str]) -> int:
    """Deterministic train/val/test assignment from the CLI: hash-mod
    split on the id column — or on --by-column for a leakage-safe
    grouped split — stable across runs/engines/appends; split counts
    printed, assigned rows optionally written partitioned by split."""
    p = argparse.ArgumentParser(prog="split")
    p.add_argument("--config", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--id-column", default="doc_id")
    p.add_argument("--by-column", default=None,
                   help="leakage-safe grouping: hash this column "
                   "instead of the id, so every row sharing its value "
                   "(one domain/source/user) lands in the SAME split")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--weights", default="train=0.8,val=0.1,test=0.1",
                   help="name=weight[,name=weight...] — order fixes the "
                   "hash thresholds")
    p.add_argument("--output-parquet",
                   help="write assigned rows here, partitionBy(split)")
    args = p.parse_args(argv)

    try:
        weights = [
            (part.split("=")[0], float(part.split("=")[1]))
            for part in args.weights.split(",")
        ]
    except (IndexError, ValueError):
        p.error(f"cannot parse --weights {args.weights!r}")

    from pyspark.sql import functions as F

    from .operators.sampling import hash_split

    cfg, db = _load_db(args.config)
    df = db.load(args.table)
    assigned = hash_split(
        df, id_col=args.id_column, weights=weights, seed=args.seed,
        by_col=args.by_column,
    )
    counts = {
        r["split"]: r["n"]
        for r in assigned.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for name, _ in weights:
        print(f"{name}: {counts.get(name, 0)}")
    if args.output_parquet:
        assigned.write.mode("overwrite").partitionBy("split").parquet(
            args.output_parquet
        )
        print(f"assigned rows written to {args.output_parquet}")
    return 0


def tool_shuffle(argv: list[str]) -> int:
    """Deterministic sharded training-order shuffle from the CLI
    (operators/sampling.shuffle_shards): every row gets (shard, pos)
    from the portable hash of (seed, id) — a reproducible global
    permutation; rows optionally written partitioned by shard (one
    directory per training data shard, readable in pos order)."""
    p = argparse.ArgumentParser(prog="shuffle")
    p.add_argument("--config", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--id-column", default="doc_id")
    p.add_argument("--n-shards", type=int, default=64)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--output-parquet",
                   help="write shuffled rows here, partitionBy(shard)")
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from .operators.sampling import shuffle_shards

    cfg, db = _load_db(args.config)
    df = db.load(args.table)
    out = shuffle_shards(
        df, n_shards=args.n_shards, id_col=args.id_column, seed=args.seed
    )
    stats = out.groupBy("shard").agg(F.count(F.lit(1)).alias("n"))
    sizes = sorted(
        (r["shard"], r["n"]) for r in stats.collect()
    )
    total = sum(n for _, n in sizes)
    print(f"{total} rows -> {len(sizes)} shards "
          f"(min {min((n for _, n in sizes), default=0)}, "
          f"max {max((n for _, n in sizes), default=0)})")
    if args.output_parquet:
        out.write.mode("overwrite").partitionBy("shard").parquet(
            args.output_parquet
        )
        print(f"shuffled rows written to {args.output_parquet}")
    return 0


def _load_weights(path: "str | None") -> "dict[str, float] | None":
    """{token: weight} JSON model export -> dict (shared by the curate
    and classify tools)."""
    if not path:
        return None
    import json as _json

    with open(path) as fh:
        return {str(k): float(v) for k, v in _json.load(fh).items()}


def tool_curate(argv: list[str]) -> int:
    """The full curation chain from the CLI: per-group quality gate ->
    exact dedup -> PII redaction -> deterministic split, published
    partitionBy(split). One composed plan; per-split counts printed."""
    p = argparse.ArgumentParser(prog="curate")
    p.add_argument("--config")
    p.add_argument("--table")
    p.add_argument("--from-warc", metavar="PATH",
                   help="ingest directly from web-crawl archives: a "
                   "*.warc[.gz] file or directory (sources/warc). "
                   "Replaces --config/--table; the frame gets doc_id/"
                   "url/host/fetch_ts/text columns and the quality "
                   "group defaults to host")
    p.add_argument("--output-parquet", required=True)
    p.add_argument("--text-column", default="text")
    p.add_argument("--id-column", default="doc_id")
    p.add_argument("--group-column", default=None,
                   help="quality thresholds are computed per group "
                   "(default: lang, or host with --from-warc)")
    p.add_argument("--quality-quantile", type=float, default=0.5)
    p.add_argument("--dedup", choices=["exact", "minhash", "none"],
                   default="exact")
    p.add_argument("--minhash-threshold", type=float, default=0.8)
    p.add_argument("--eval-table",
                   help="optional benchmark table: docs sharing an "
                   "--decontam-ngram with it are removed")
    p.add_argument("--decontam-ngram", type=int, default=13)
    p.add_argument("--no-redact", action="store_true")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--weights", default="train=0.8,val=0.1,test=0.1")
    p.add_argument("--report", action="store_true",
                   help="also print stage-wise drop accounting "
                   "(one count job per stage boundary)")
    p.add_argument("--classifier-weights-json",
                   help="optional {token: weight} JSON model: docs "
                   "scoring below --classifier-threshold are dropped")
    p.add_argument("--classifier-threshold", type=float, default=0.5)
    p.add_argument("--classifier-bias", type=float, default=0.0)
    p.add_argument("--span-k", type=int,
                   help="optional ExactSubstr surgery: remove "
                   "k-token spans occurring >= 2 times corpus-wide "
                   "(after doc-level dedup)")
    p.add_argument("--blocklist", action="append", default=[],
                   metavar="WORD", help="C4-style bad-words pre-gate: "
                   "drop docs containing this word (repeatable; "
                   "token-boundary, case-insensitive)")
    p.add_argument("--blocklist-file",
                   help="newline-delimited blocklist words (merged "
                   "with --blocklist)")
    p.add_argument("--robots-gate", action="store_true",
                   help="with --from-warc: drop pages the corpus's own "
                   "robots.txt files disallow (operators/robots; the "
                   "crawl fetches /robots.txt per host), plus the "
                   "robots.txt rows themselves")
    p.add_argument("--robots-agent", default="*",
                   help="product token for --robots-gate")
    p.add_argument("--extract-main", action="store_true",
                   help="boilerplate removal pre-stage: raw HTML -> "
                   "main content before any gate (normalize."
                   "extract_main_content)")
    p.add_argument("--extract-main-min-chars", type=int, default=25)
    p.add_argument("--max-link-density", type=float, default=0.5)
    args = p.parse_args(argv)

    block = list(args.blocklist)
    if args.blocklist_file:
        with open(args.blocklist_file) as fh:
            block.extend(
                w.strip() for w in fh if w.strip()
            )

    try:
        weights = [
            (part.split("=")[0], float(part.split("=")[1]))
            for part in args.weights.split(",")
        ]
    except (IndexError, ValueError):
        p.error(f"cannot parse --weights {args.weights!r}")

    from .operators.pipeline import (
        CurateConfig,
        curate_and_write,
        curate_report,
    )

    if bool(args.from_warc) == bool(args.config and args.table):
        p.error("pass either --from-warc PATH or --config + --table")
    if args.from_warc:
        from .sources.warc import warc_text_corpus

        db = None
        if args.eval_table:
            if not args.config:
                p.error("--eval-table needs --config for its source")
            _, db = _load_db(args.config)
        df = warc_text_corpus(_spark(), args.from_warc)
        if args.robots_gate:
            from pyspark.sql import functions as F

            from .operators.robots import (
                parse_robots,
                robots_filter,
                robots_from_corpus,
            )

            rules = parse_robots(
                robots_from_corpus(df), user_agent=args.robots_agent
            )
            pathish = F.regexp_replace(
                F.col("url"), r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", ""
            )
            df = robots_filter(
                df.filter(pathish != "/robots.txt"), rules
            ).drop("allowed", "matched_rule")
        group_col = args.group_column or "host"
    else:
        cfg, db = _load_db(args.config)
        df = db.load(args.table)
        group_col = args.group_column or "lang"
    curate_cfg = CurateConfig(
        quality_quantile=args.quality_quantile,
        group_col=group_col,
        text_col=args.text_column,
        id_col=args.id_column,
        dedup=args.dedup,
        minhash_threshold=args.minhash_threshold,
        redact=not args.no_redact,
        seed=args.seed,
        split_weights=weights,
        eval_df=db.load(args.eval_table) if args.eval_table else None,
        decontam_n=args.decontam_ngram,
        classifier_weights=_load_weights(args.classifier_weights_json),
        classifier_threshold=args.classifier_threshold,
        classifier_bias=args.classifier_bias,
        span_k=args.span_k,
        blocklist=block or None,
        extract_main=(
            {
                "min_text_chars": args.extract_main_min_chars,
                "max_link_density": args.max_link_density,
            }
            if args.extract_main
            else None
        ),
    )
    if args.report:
        # one chain: the report path finishes redact+split and writes,
        # so the expensive stages (MinHash banding, component
        # resolution) run exactly once
        report = curate_report(df, curate_cfg, out_dir=args.output_parquet)
        for name, _ in weights:
            print(f"{name}: {report.get(f'split_{name}', 0)}")
        for stage, n in report.items():
            if not stage.startswith("split_"):
                print(f"{stage}: {n}")
    else:
        counts = curate_and_write(df, args.output_parquet, curate_cfg)
        for name, _ in weights:
            print(f"{name}: {counts.get(name, 0)}")
    print(f"curated corpus written to {args.output_parquet}")
    return 0


def tool_profile(argv: list[str]) -> int:
    """Column-profiling report over one table: distinct/null profile,
    numeric histograms, Pearson correlation matrix, frequent values,
    and |z|-score outlier rows, one tab each — every tab a single-scan
    (or single-scan + broadcast) plan from operators/profile.py."""
    from .operators.profile import (
        correlation_matrix,
        frequent_values,
        numeric_histogram,
        profile_columns,
        quantile_histogram,
        robust_outliers,
        zscore_outliers,
    )
    from .report.html import HTMLReport

    p = argparse.ArgumentParser(prog="profile")
    p.add_argument("--config", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--columns", help="comma list; default all numerics "
                   "for histogram/corr, all for profile/frequent")
    p.add_argument("--buckets", type=int, default=10)
    p.add_argument("--top-k", type=int, default=5,
                   help="frequent values per column")
    p.add_argument("--approx", action="store_true",
                   help="HLL distincts + double-sum correlation "
                   "(the 100 TB mode; exact is the default)")
    p.add_argument("--outlier-value-column",
                   help="also rank top-20 |z|-score outlier rows of "
                   "this column (requires --outlier-group-column and "
                   "--outlier-id-column)")
    p.add_argument("--outlier-group-column")
    p.add_argument("--outlier-id-column")
    p.add_argument("--output")
    args = p.parse_args(argv)

    # validate flag combinations BEFORE any tab renders: each tab
    # eagerly collects a full-table aggregate, so a usage error after
    # them would do all the expensive work and then exit
    if args.outlier_value_column and not (
        args.outlier_group_column and args.outlier_id_column
    ):
        p.error("--outlier-value-column needs --outlier-group-column "
                "and --outlier-id-column")

    cfg, db = _load_db(args.config)
    df = db.load(args.table)
    cols = args.columns.split(",") if args.columns else None
    report = HTMLReport(f"profile ({args.table})")
    report.add_dataframe_tab(
        "Columns", profile_columns(df, args.table, exact=not args.approx)
    )
    report.add_dataframe_tab(
        "Histograms",
        numeric_histogram(df, args.table, columns=cols,
                          n_buckets=args.buckets),
    )
    report.add_dataframe_tab(
        "Quantile histograms",
        quantile_histogram(df, args.table, columns=cols,
                           n_buckets=args.buckets,
                           exact=not args.approx),
    )
    report.add_dataframe_tab(
        "Correlations",
        correlation_matrix(df, args.table, columns=cols,
                           exact=not args.approx),
    )
    report.add_dataframe_tab(
        "Frequent values",
        frequent_values(df, args.table, columns=cols, k=args.top_k),
    )
    if args.outlier_value_column:
        report.add_dataframe_tab(
            "Outliers",
            zscore_outliers(
                df,
                value_col=args.outlier_value_column,
                group_col=args.outlier_group_column,
                id_col=args.outlier_id_column,
            ),
        )
        # the heavy-tail-safe twin: median/MAD robust z next to the
        # mean/stddev z, same columns, so divergence between the two
        # tabs IS the heavy-tail diagnosis
        report.add_dataframe_tab(
            "Robust outliers",
            robust_outliers(
                df,
                value_col=args.outlier_value_column,
                group_col=args.outlier_group_column,
                id_col=args.outlier_id_column,
            ),
        )
    out = args.output or _results_path("profile")
    report.save(out)
    print(f"Report saved to {out}")
    return 0


def tool_sample(argv: list[str]) -> int:
    """Deterministic corpus sampling from the CLI: per-group stratified
    cap, token-budget prefix, mixture reweighting (per-group rates),
    temperature rebalancing, or per-group top-k by score — all pure
    functions of (seed, corpus), rerun- and engine-stable (never
    rand())."""
    p = argparse.ArgumentParser(prog="sample")
    p.add_argument("--config", required=True)
    p.add_argument("--table", required=True)
    p.add_argument(
        "--method",
        choices=["stratified", "budget", "mixture", "temperature",
                 "topk", "weighted", "dsir"],
        required=True,
    )
    p.add_argument("--alpha", type=float, default=0.5,
                   help="temperature: smoothing exponent in [0, 1] "
                   "(1 = natural distribution, 0 = flatten to the "
                   "smallest group)")
    p.add_argument("--id-column", default="doc_id")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--group-column", default="lang",
                   help="stratified: group to cap")
    p.add_argument("--per-group", type=int, default=1000,
                   help="stratified/topk: rows kept per group")
    p.add_argument("--score-column", default=None,
                   help="topk: rank groups by this column (descending)")
    p.add_argument("--weight-column", default=None,
                   help="weighted: keep each row with probability = "
                   "this column's value (clamped to [0, 1])")
    p.add_argument("--text-column", default="text",
                   help="budget: tokens counted on this column")
    p.add_argument("--budget-tokens", type=int,
                   help="budget: whitespace-token budget")
    p.add_argument("--target-table",
                   help="dsir: table exemplifying the target "
                   "distribution (same connection)")
    p.add_argument("--k", type=int,
                   help="dsir: documents to keep (Gumbel top-k)")
    p.add_argument("--n-buckets", type=int, default=10000,
                   help="dsir: hashed n-gram feature buckets")
    p.add_argument("--rate", action="append", default=[],
                   metavar="GROUP=RATE",
                   help="mixture: per-group sampling rate, repeatable "
                   "(e.g. --rate en=0.5 --rate web=0.3)")
    p.add_argument("--default-rate", type=float, default=1.0,
                   help="mixture: rate for groups not named by --rate")
    p.add_argument("--output-parquet", required=True)
    args = p.parse_args(argv)

    # validate flag syntax BEFORE loading config/data — a malformed
    # --rate should be a usage error, not a traceback after real work
    rates: dict = {}
    for spec in args.rate:
        if "=" not in spec:
            p.error(f"--rate expects GROUP=RATE, got {spec!r}")
        g, _, r = spec.partition("=")
        try:
            rates[g] = float(r)
        except ValueError:
            p.error(f"--rate expects a numeric RATE, got {spec!r}")
    if args.method == "budget" and args.budget_tokens is None:
        p.error("--budget-tokens is required with --method budget")
    if args.method == "topk" and not args.score_column:
        p.error("--score-column is required with --method topk")
    if args.method == "weighted" and not args.weight_column:
        p.error("--weight-column is required with --method weighted")
    if args.method == "dsir" and not (args.target_table and args.k):
        p.error("--target-table and --k are required with "
                "--method dsir")

    cfg, db = _load_db(args.config)
    df = db.load(args.table)
    if args.method == "mixture":
        from .operators.sampling import mixture_sample

        out = mixture_sample(
            df, args.group_column, rates,
            default_rate=args.default_rate,
            id_col=args.id_column, seed=args.seed,
        )
    elif args.method == "temperature":
        from .operators.sampling import temperature_sample

        out = temperature_sample(
            df, args.group_column, alpha=args.alpha,
            id_col=args.id_column, seed=args.seed,
        )
    elif args.method == "weighted":
        from .operators.sampling import weighted_sample

        out = weighted_sample(
            df, args.weight_column, id_col=args.id_column, seed=args.seed
        )
    elif args.method == "topk":
        from .operators.sampling import topk_per_group

        out = topk_per_group(
            df, args.group_column, args.score_column, args.per_group,
            id_col=args.id_column, seed=args.seed,
        )
    elif args.method == "dsir":
        from .operators.dsir import dsir_select

        keep = dsir_select(
            df, db.load(args.target_table), k=args.k,
            text_col=args.text_column, id_col=args.id_column,
            n_buckets=args.n_buckets, seed=args.seed,
        ).select(args.id_column)
        # k can be most of the corpus — let AQE pick the join strategy
        out = df.join(keep, args.id_column, "left_semi")
    elif args.method == "stratified":
        from .operators.sampling import stratified_sample

        out = stratified_sample(
            df, args.group_column, args.per_group,
            id_col=args.id_column, seed=args.seed,
        )
    else:
        from .operators.sampling import token_budget_sample

        ids = token_budget_sample(
            df, args.budget_tokens, text_col=args.text_column,
            id_col=args.id_column, seed=args.seed,
        ).select(args.id_column)
        # the kept-id set can be most of the corpus — never broadcast
        # it; AQE picks the join strategy from the measured size
        out = df.join(ids, args.id_column, "left_semi")
    out.write.mode("overwrite").parquet(args.output_parquet)
    n = db.spark.read.parquet(args.output_parquet).count()
    print(f"{n} rows sampled to {args.output_parquet}")
    return 0


def tool_dedupindex(argv: list[str]) -> int:
    """Persisted MinHash band index lifecycle from the CLI
    (operators/minhash_index.py): band a corpus ONCE, then dedup every
    new crawl against it without re-banding — build / append / query /
    compact subcommands."""
    p = argparse.ArgumentParser(prog="dedupindex")
    p.add_argument("action", choices=["build", "append", "query", "compact"])
    p.add_argument("--index-path", required=True)
    p.add_argument("--config", help="required for build/append/query")
    p.add_argument("--table", help="required for build/append/query")
    p.add_argument("--text-column", default="text")
    p.add_argument("--id-column", default="doc_id")
    p.add_argument("--threshold", type=float, default=0.8,
                   help="query: exact-Jaccard verify threshold")
    p.add_argument("--output-parquet", help="query: write hit pairs here")
    p.add_argument("--output", help="query: HTML report path")
    p.add_argument(
        "--corpus-location",
        help="build: record where the corpus parquet lives so queries "
        "can resolve verify texts (the index stores bands only, never "
        "corpus text)",
    )
    p.add_argument(
        "--corpus-table",
        help="query: comma-separated table name(s) holding the indexed "
        "corpus texts (loaded via --config and unioned); defaults to "
        "the corpus_location recorded at build time",
    )
    args = p.parse_args(argv)

    from .operators.minhash_index import (
        minhash_index_append,
        minhash_index_compact,
        minhash_index_query,
        minhash_index_write,
    )

    if args.action == "compact":
        minhash_index_compact(_spark(), args.index_path)
        print(f"Index compacted at {args.index_path}")
        return 0
    if not (args.config and args.table):
        p.error(f"{args.action} needs --config and --table")
    cfg, db = _load_db(args.config)
    df = db.load(args.table)
    stats: dict = {}
    if args.action == "build":
        minhash_index_write(
            df, args.index_path, text_col=args.text_column,
            id_col=args.id_column, drop_stats=stats,
            corpus_location=args.corpus_location,
        )
        print(f"Index built at {args.index_path}")
    elif args.action == "append":
        minhash_index_append(
            df, args.index_path, text_col=args.text_column,
            id_col=args.id_column, drop_stats=stats,
        )
        print(f"Batch appended to {args.index_path}")
    else:
        from .report.html import HTMLReport

        corpus = None
        if args.corpus_table:
            from functools import reduce

            frames = [
                db.load(t.strip())
                for t in args.corpus_table.split(",") if t.strip()
            ]
            corpus = reduce(lambda a, b: a.unionByName(b), frames)
        hits = minhash_index_query(
            df, args.index_path, threshold=args.threshold,
            text_col=args.text_column, id_col=args.id_column,
            drop_stats=stats, corpus=corpus,
        )
        if args.output_parquet:
            hits.write.mode("overwrite").parquet(args.output_parquet)
        report = HTMLReport("dedupindex (query)")
        report.add_dataframe_tab("Near-dup hits", hits)
        out = args.output or _results_path("dedupindex")
        report.save(out)
        print(f"{hits.count()} near-dup pairs found")
        print(f"Report saved to {out}")
    if stats:
        logger.info("drop accounting: %s", stats)
    return 0


def tool_chunk(argv: list[str]) -> int:
    """Document chunking from the CLI (operators/chunking.py):
    overlapping token windows with (doc_id, chunk_id, start_token)
    provenance — the embedding/RAG unit — written to parquet."""
    p = argparse.ArgumentParser(prog="chunk")
    p.add_argument("--config", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--text-column", default="text")
    p.add_argument("--id-column", default="doc_id")
    p.add_argument("--chunk-tokens", type=int, default=256)
    p.add_argument("--overlap", type=int, default=32)
    p.add_argument("--output-parquet", required=True)
    args = p.parse_args(argv)

    from .operators.chunking import chunk_documents

    cfg, db = _load_db(args.config)
    df = db.load(args.table)
    out = chunk_documents(
        df, chunk_tokens=args.chunk_tokens, overlap=args.overlap,
        text_col=args.text_column, id_col=args.id_column,
    )
    out.write.mode("overwrite").parquet(args.output_parquet)
    n = db.spark.read.parquet(args.output_parquet).count()
    print(f"{n} chunks written to {args.output_parquet}")
    return 0




def tool_export(argv: list[str]) -> int:
    """JSONL delivery export from the CLI (operators/export.py): any
    configured table (or a column subset) written as JSON-Lines shards
    — the hand-off format LLM training loaders ingest."""
    p = argparse.ArgumentParser(prog="export")
    p.add_argument("--config", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--columns", default=None,
                   help="comma-separated column subset")
    p.add_argument("--compression", default=None,
                   choices=["gzip", "bzip2", "deflate", "lz4",
                            "snappy"])
    p.add_argument("--shards", type=int, default=None)
    p.add_argument("--shard-by", default=None)
    p.add_argument("--overwrite", action="store_true")
    args = p.parse_args(argv)

    from .operators.export import export_jsonl

    cfg, db = _load_db(args.config)
    df = db.load(args.table)
    if args.columns:
        df = df.select(*[c.strip() for c in args.columns.split(",")])
    export_jsonl(
        df, args.output, compression=args.compression,
        n_shards=args.shards, shard_by=args.shard_by,
        mode="overwrite" if args.overwrite else "error",
    )
    n = db.spark.read.json(args.output).count()
    print(f"{n} rows exported to {args.output}")
    return 0


def tool_layout(argv: list[str]) -> int:
    """Physical-layout tools from the CLI (operators/partitioning.py):
    Z-order clustered rewrite for multi-column file skipping, or a
    per-file layout report (small files / stragglers) over an existing
    parquet dataset."""
    p = argparse.ArgumentParser(prog="layout")
    p.add_argument("--config", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--mode", choices=["zorder", "filestats", "rowgroups"],
                   required=True)
    p.add_argument("--zorder-columns",
                   help="zorder: comma-separated cluster columns")
    p.add_argument("--files", type=int, default=32,
                   help="zorder: target file count")
    p.add_argument("--output-parquet",
                   help="zorder: rewrite destination")
    p.add_argument("--output", help="filestats: HTML report path")
    args = p.parse_args(argv)

    cfg, db = _load_db(args.config)
    df = db.load(args.table)
    if args.mode == "zorder":
        if not (args.zorder_columns and args.output_parquet):
            p.error("zorder needs --zorder-columns and --output-parquet")
        from .operators.partitioning import write_zordered

        cols = [c.strip() for c in args.zorder_columns.split(",")]
        write_zordered(df, args.output_parquet, cols, n_files=args.files)
        n = db.spark.read.parquet(args.output_parquet).count()
        print(f"{n} rows rewritten z-ordered on {cols} "
              f"to {args.output_parquet}")
        return 0
    from .report.html import HTMLReport

    if args.mode == "rowgroups":
        # footer-only: split granularity + pruning readiness per group
        from .operators.partitioning import rowgroup_stats

        stats = rowgroup_stats(db.spark, list(df.inputFiles()))
        report = HTMLReport("layout (row groups)")
        report.add_dataframe_tab("Row groups", stats)
        out = args.output or _results_path("layout")
        report.save(out)
        print(f"{stats.count()} row groups reported to {out}")
        return 0
    from .operators.partitioning import file_stats

    stats = file_stats(df)
    report = HTMLReport("layout (file stats)")
    report.add_dataframe_tab("Files", stats)
    out = args.output or _results_path("layout")
    report.save(out)
    n = stats.count()
    print(f"{n} files profiled")
    print(f"Report saved to {out}")
    return 0


def tool_cluster(argv: list[str]) -> int:
    """Distributed k-means over an embedding column from the CLI
    (operators/kmeans.py): assignments to parquet, cluster
    balance/quality rollup printed."""
    p = argparse.ArgumentParser(prog="cluster")
    p.add_argument("--config", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--vec-column", default="embedding")
    p.add_argument("--id-column", default="vec_id")
    p.add_argument("--k", type=int, default=8)
    p.add_argument("--iters", type=int, default=3)
    p.add_argument("--output-parquet", required=True)
    args = p.parse_args(argv)

    from .operators.kmeans import cluster_sizes, kmeans_assign

    cfg, db = _load_db(args.config)
    df = db.load(args.table)
    assigned = kmeans_assign(
        df, k=args.k, iters=args.iters,
        vec_col=args.vec_column, id_col=args.id_column,
    )
    assigned.write.mode("overwrite").parquet(args.output_parquet)
    stored = db.spark.read.parquet(args.output_parquet)
    print(f"{stored.count()} assignments written to {args.output_parquet}")
    for r in cluster_sizes(stored).collect():
        print(
            f"cluster {r['cluster']}: {r['n_vecs']} vecs, "
            f"mean_dist {r['mean_dist']}"
        )
    return 0


def tool_classify(argv: list[str]) -> int:
    """Linear classifier scoring/filtering from the CLI
    (operators/classifier.py): weights come from a JSON file of
    {token: weight} (the export shape of a trained linear model);
    scores or the kept corpus go to parquet."""
    p = argparse.ArgumentParser(prog="classify")
    p.add_argument("--config", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--weights-json",
                   help="JSON file: {token: weight, ...} (apply mode)")
    p.add_argument("--fit-label-column",
                   help="TRAIN instead of apply: fit a multinomial "
                   "Naive Bayes on this label column, print per-class "
                   "train accuracy, write the model (label, term, "
                   "log_prob) + per-class stats to --output-parquet "
                   "as model/ and class_stats/ subdirs")
    p.add_argument("--bias", type=float, default=0.0)
    p.add_argument("--text-column", default="text")
    p.add_argument("--id-column", default="doc_id")
    p.add_argument("--threshold", type=float,
                   help="keep docs scoring >= threshold (omit to just "
                   "write per-doc scores)")
    p.add_argument("--output-parquet", required=True)
    args = p.parse_args(argv)

    if bool(args.weights_json) == bool(args.fit_label_column):
        p.error("exactly one of --weights-json (apply) or "
                "--fit-label-column (train) is required")

    from .operators.classifier import classifier_filter, classifier_score

    cfg, db = _load_db(args.config)
    df = db.load(args.table)

    if args.fit_label_column:
        import os as _os

        from pyspark.sql import functions as F

        from .operators.classifier import nb_fit, nb_predict

        model, stats = nb_fit(
            df, label_col=args.fit_label_column, text_col=args.text_column
        )
        model_dir = _os.path.join(args.output_parquet, "model")
        stats_dir = _os.path.join(args.output_parquet, "class_stats")
        model.write.mode("overwrite").parquet(model_dir)
        stats.write.mode("overwrite").parquet(stats_dir)
        model_b = db.spark.read.parquet(model_dir)
        stats_b = db.spark.read.parquet(stats_dir)
        pred = nb_predict(
            df.select(F.col(args.id_column), F.col(args.text_column)),
            model_b, stats_b,
            text_col=args.text_column, id_col=args.id_column,
        )
        truth = df.select(
            F.col(args.id_column),
            F.col(args.fit_label_column).alias("__truth"),
        )
        per_class = (
            pred.join(truth, args.id_column)
            .groupBy("__truth")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.when(F.col("label") == F.col("__truth"), 1)
                    .otherwise(0)
                ).alias("hit"),
            )
            .orderBy("__truth")
            .collect()
        )
        total = sum(r["n"] for r in per_class)
        hits = sum(r["hit"] for r in per_class)
        for r in per_class:
            print(f"{r['__truth']}: {r['hit']}/{r['n']} train accuracy")
        print(f"overall: {hits}/{total} "
              f"({(hits / total if total else 0.0):.3f})")
        print(f"model written to {args.output_parquet}")
        return 0

    weights = _load_weights(args.weights_json)
    if args.threshold is None:
        out = classifier_score(
            df, weights, bias=args.bias,
            text_col=args.text_column, id_col=args.id_column,
        )
        what = "scores"
    else:
        out = classifier_filter(
            df, weights, threshold=args.threshold, bias=args.bias,
            text_col=args.text_column, id_col=args.id_column,
        )
        what = "kept docs"
    out.write.mode("overwrite").parquet(args.output_parquet)
    n = db.spark.read.parquet(args.output_parquet).count()
    print(f"{n} {what} written to {args.output_parquet}")
    return 0


def tool_repair(argv: list[str]) -> int:
    """Data repair from the CLI (operators/repair.py): impute NULLs,
    winsorize outliers, or report try_cast data loss for a type
    migration."""
    p = argparse.ArgumentParser(prog="repair")
    p.add_argument("action", choices=["impute", "clip", "castreport"])
    p.add_argument("--config", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--columns", required=True,
                   help="comma-separated; castreport expects "
                   "col:type pairs (e.g. value:int,props:double)")
    p.add_argument("--strategy", choices=["median", "mean", "constant"],
                   default="median")
    p.add_argument("--fill-value", type=float)
    p.add_argument("--group-column")
    p.add_argument("--lower-q", type=float, default=0.01)
    p.add_argument("--upper-q", type=float, default=0.99)
    p.add_argument("--output-parquet",
                   help="impute/clip: write the repaired table here")
    args = p.parse_args(argv)

    from .operators.repair import cast_report, clip_outliers, impute_nulls

    cfg, db = _load_db(args.config)
    df = db.load(args.table)
    if args.action == "castreport":
        casts = {}
        for part in args.columns.split(","):
            if ":" not in part:
                p.error(f"castreport expects col:type, got {part!r}")
            c, _, t = part.partition(":")
            casts[c.strip()] = t.strip()
        for r in cast_report(df, casts).collect():
            print(
                f"{r['column']} -> {r['target_type']}: "
                f"{r['n_failed']} of {r['n_nonnull']} present values lost"
            )
        return 0
    cols = [c.strip() for c in args.columns.split(",") if c.strip()]
    if args.action == "impute":
        out = impute_nulls(
            df, cols, strategy=args.strategy,
            group_col=args.group_column, fill_value=args.fill_value,
        )
    else:
        out = clip_outliers(
            df, cols, lower_q=args.lower_q, upper_q=args.upper_q,
            group_col=args.group_column,
        )
    if not args.output_parquet:
        p.error(f"{args.action} needs --output-parquet")
    out.write.mode("overwrite").parquet(args.output_parquet)
    n = db.spark.read.parquet(args.output_parquet).count()
    print(f"{n} repaired rows written to {args.output_parquet}")
    return 0


def tool_statstore(argv: list[str]) -> int:
    """Incremental profile store from the CLI
    (operators/statstore.py): `append` one segment of mergeable
    per-column statistics per ingest batch; `profile` merges all
    segments into the corpus profile without rescanning any data."""
    p = argparse.ArgumentParser(prog="statstore")
    p.add_argument("action", choices=["append", "profile", "trend"])
    p.add_argument("--store-path", required=True)
    p.add_argument("--config", help="required for append")
    p.add_argument("--table", help="required for append/trend")
    p.add_argument("--columns", help="comma-separated subset (append)")
    p.add_argument("--segment-id",
                   help="append: label this segment (ingest date / "
                   "batch id) so `trend` can chart it")
    p.add_argument("--z-threshold", type=float, default=3.0,
                   help="trend: |z| flag level")
    p.add_argument("--output", help="profile/trend: HTML report path")
    args = p.parse_args(argv)

    from .operators.statstore import (
        stats_store_append,
        stats_store_profile,
        stats_store_trend,
    )

    if args.action == "append":
        if not (args.config and args.table):
            p.error("append needs --config and --table")
        cfg, db = _load_db(args.config)
        df = db.load(args.table)
        cols = args.columns.split(",") if args.columns else None
        stats_store_append(
            df, args.store_path, args.table, columns=cols,
            segment_id=args.segment_id,
        )
        print(f"Segment appended to {args.store_path}")
        return 0
    from .report.html import HTMLReport

    if args.action == "trend":
        if not args.table:
            p.error("trend needs --table")
        chart = stats_store_trend(
            _spark(), args.store_path, args.table,
            z_threshold=args.z_threshold,
        )
        rows = chart.collect()
        flagged = [r for r in rows if r["is_anomaly"]]
        report = HTMLReport("statstore (trend)")
        report.add_dataframe_tab(
            "Per-segment metrics",
            _spark().createDataFrame(rows, chart.schema)
            if rows else chart,
        )
        out = args.output or _results_path("statstore")
        report.save(out)
        print(f"{len(flagged)} anomalous segment metrics flagged")
        print(f"Report saved to {out}")
        return 0
    merged = stats_store_profile(_spark(), args.store_path)
    report = HTMLReport("statstore (merged profile)")
    report.add_dataframe_tab("Merged profile", merged)
    out = args.output or _results_path("statstore")
    report.save(out)
    print(f"Report saved to {out}")
    return 0


def tool_datadiff(argv: list[str]) -> int:
    """Migration validation from the CLI (operators/datadiff.py):
    ``--mode agg`` is the cheap per-column checksum compare (run it
    first — one scan per side, O(cols) output); ``--mode summary`` the
    keyed row-diff report; ``--mode rows`` writes the full row-level
    diff to parquet. Source and target can live in different
    connections (parquet vs JDBC, etc.) — Spark reads both."""
    p = argparse.ArgumentParser(prog="datadiff")
    p.add_argument("--config", required=True, help="source connection")
    p.add_argument("--table", required=True)
    p.add_argument("--target-config",
                   help="target connection (default: same as --config)")
    p.add_argument("--target-table",
                   help="target table (default: same as --table)")
    p.add_argument("--keys", required=True,
                   help="comma-separated key columns")
    p.add_argument("--columns",
                   help="comma-separated columns to compare "
                   "(default: all shared non-key columns; agg mode: "
                   "required)")
    p.add_argument("--mode", choices=["summary", "rows", "agg"],
                   default="summary")
    p.add_argument("--output-parquet",
                   help="rows mode: where the row-level diff lands")
    p.add_argument("--output",
                   help="also write an HTML report (summary/agg modes)")
    args = p.parse_args(argv)

    keys = [k.strip() for k in args.keys.split(",") if k.strip()]
    cols = (
        [c.strip() for c in args.columns.split(",") if c.strip()]
        if args.columns
        else None
    )
    if not keys:
        p.error("--keys needs at least one column name")
    if args.mode == "rows" and not args.output_parquet:
        p.error("--output-parquet is required with --mode rows")
    if args.mode == "agg" and not cols:
        p.error("--columns is required with --mode agg")

    cfg, db = _load_db(args.config)
    source = db.load(args.table)
    if args.target_config:
        _, tdb = _load_db(args.target_config)
    else:
        tdb = db
    target = tdb.load(args.target_table or args.table)

    if args.mode == "agg":
        from .operators.datadiff import agg_compare

        rows = agg_compare(source, target, cols).collect()
        mismatched = [r for r in rows if not r["is_match"]]
        for r in rows:
            mark = "ok" if r["is_match"] else "MISMATCH"
            print(
                f"{r['column_name']}.{r['metric']}: "
                f"{r['source_value']} vs {r['target_value']} [{mark}]"
            )
        print(f"{len(mismatched)} of {len(rows)} checks mismatched")
        if args.output:
            from .report.html import HTMLReport

            rep = HTMLReport("datadiff (agg)")
            rep.add_tab(
                "Checksum compare",
                [("column_name", False), ("metric", False),
                 ("source_value", True), ("target_value", True),
                 ("is_match", False)],
                [r.asDict() for r in rows],
            )
            rep.save(args.output)
            print(f"report written to {args.output}")
        return 1 if mismatched else 0
    if args.mode == "rows":
        from pyspark.sql import functions as F

        from .operators.datadiff import table_diff

        d = table_diff(source, target, keys, compare_cols=cols)
        d.filter(F.col("diff_status") != "identical").write.mode(
            "overwrite"
        ).parquet(args.output_parquet)
        n = db.spark.read.parquet(args.output_parquet).count()
        print(f"{n} differing rows written to {args.output_parquet}")
        return 0
    from .operators.datadiff import diff_summary

    rows = diff_summary(source, target, keys, compare_cols=cols).collect()
    diffs = 0
    for r in rows:
        print(f"{r['item']}: {r['n_rows']}")
        if r["item"] in ("added", "removed", "changed"):
            diffs += r["n_rows"]
    print(f"{diffs} rows differ")
    if args.output:
        from .report.html import HTMLReport

        rep = HTMLReport("datadiff (summary)")
        rep.add_tab(
            "Diff summary",
            [("item", False), ("n_rows", True)],
            [r.asDict() for r in rows],
        )
        rep.save(args.output)
        print(f"report written to {args.output}")
    return 1 if diffs else 0


def tool_urls(argv: list[str]) -> int:
    """URL tooling from the CLI (operators/urltools.py):
    ``canonicalize`` rewrites the url column to canonical form,
    ``dedup`` keeps the min-id row per canonical URL (n_dups
    appended), ``domains`` prints the per-domain composition report —
    the crawl-corpus front door before any content dedup tier."""
    p = argparse.ArgumentParser(prog="urls")
    p.add_argument("action", choices=["canonicalize", "dedup", "domains"])
    p.add_argument("--config", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--url-column", default="url")
    p.add_argument("--id-column", default="doc_id")
    p.add_argument("--text-column",
                   help="domains: also report exact char totals")
    p.add_argument("--strip-www", action="store_true")
    p.add_argument("--output-parquet",
                   help="canonicalize/dedup: destination (required); "
                   "domains: optional (prints top rows otherwise)")
    p.add_argument("--top", type=int, default=20,
                   help="domains: rows to print")
    args = p.parse_args(argv)

    from .operators.urltools import (
        domain_stats,
        url_canonicalize,
        url_dedup,
    )

    cfg, db = _load_db(args.config)
    df = db.load(args.table)
    if args.action == "domains":
        out = domain_stats(
            df, url_col=args.url_column, text_col=args.text_column,
            strip_www=args.strip_www,
        )
        if args.output_parquet:
            out.write.mode("overwrite").parquet(args.output_parquet)
            print(f"domain stats written to {args.output_parquet}")
        else:
            for r in out.limit(args.top).collect():
                print(
                    f"{r['host'] or '<non-url>'}: {r['n_docs']} docs, "
                    f"{r['n_urls']} urls, share {r['doc_share']}"
                )
        return 0
    if not args.output_parquet:
        p.error(f"--output-parquet is required for {args.action}")
    if args.action == "canonicalize":
        out = url_canonicalize(
            df, url_col=args.url_column, strip_www=args.strip_www
        )
    else:
        out = url_dedup(
            df, url_col=args.url_column, id_col=args.id_column,
            strip_www=args.strip_www,
        )
    out.write.mode("overwrite").parquet(args.output_parquet)
    n_in = df.count()
    n_out = db.spark.read.parquet(args.output_parquet).count()
    print(f"{args.action}: {n_in} rows in, {n_out} out "
          f"-> {args.output_parquet}")
    return 0


def tool_links(argv: list[str]) -> int:
    """Link-graph analytics from the CLI (operators/linkgraph.py):
    ``edges`` writes per-page outlinks, ``hosts`` writes the host-level
    weighted graph, ``pagerank`` writes (or prints the top of) the
    fixed-iteration host centrality; ``robots`` audits the corpus
    against robots.txt policies carried IN the corpus itself
    (operators/robots.py — a crawl fetches /robots.txt per host)."""
    p = argparse.ArgumentParser(prog="links")
    p.add_argument(
        "action", choices=["edges", "hosts", "pagerank", "robots"]
    )
    p.add_argument("--config", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--url-column", default="url")
    p.add_argument("--text-column", default="text")
    p.add_argument("--id-column", default="doc_id")
    p.add_argument("--strip-www", action="store_true")
    p.add_argument("--iters", type=int, default=3)
    p.add_argument("--damping", type=float, default=0.85)
    p.add_argument("--user-agent", default="*",
                   help="robots: product token to audit for")
    p.add_argument("--keep-disallowed", action="store_true",
                   help="robots: annotate instead of dropping")
    p.add_argument("--top", type=int, default=20,
                   help="pagerank: rows to print without "
                   "--output-parquet")
    p.add_argument("--output-parquet")
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from .operators.linkgraph import host_graph, outlinks, pagerank_hosts

    cfg, db = _load_db(args.config)
    df = db.load(args.table)
    if args.action == "robots":
        from .operators.robots import (
            parse_robots,
            robots_filter,
            robots_from_corpus,
        )

        if not args.output_parquet:
            p.error("--output-parquet is required for robots")
        rules = parse_robots(
            robots_from_corpus(
                df, url_col=args.url_column, text_col=args.text_column
            ),
            user_agent=args.user_agent,
        )
        out = robots_filter(
            df, rules, url_col=args.url_column,
            keep_disallowed=args.keep_disallowed,
        )
        out.write.mode("overwrite").parquet(args.output_parquet)
        n_in = df.count()
        n_out = db.spark.read.parquet(args.output_parquet).count()
        print(
            f"robots[{args.user_agent}]: {n_in} rows in, {n_out} out "
            f"-> {args.output_parquet}"
        )
        return 0
    links = outlinks(
        df, text_col=args.text_column, url_col=args.url_column,
        id_col=args.id_column,
    )
    if args.action == "edges":
        out = links
    else:
        out = host_graph(links, strip_www=args.strip_www)
        if args.action == "pagerank":
            out = pagerank_hosts(
                out, iters=args.iters, damping=args.damping
            )
    if args.output_parquet:
        out.write.mode("overwrite").parquet(args.output_parquet)
        print(f"{args.action} written to {args.output_parquet}")
    elif args.action == "pagerank":
        for r in out.orderBy(F.col("rank_p").desc()).limit(
            args.top
        ).collect():
            print(f"{r['host']}: {r['rank']:.6f}")
    else:
        p.error("--output-parquet is required for edges/hosts")
    return 0


def tool_pack(argv: list[str]) -> int:
    """Sequence packing from the CLI (operators/packing.py):
    ``place`` writes per-doc placements (sequence_pack), ``write``
    materializes the packed training sequences (packed_sequences),
    ``efficiency`` prints the fill-rate / boundary-split report for
    candidate seq_lens — the seq_len selection step."""
    p = argparse.ArgumentParser(prog="pack")
    p.add_argument("action", choices=["place", "write", "efficiency"])
    p.add_argument("--config", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--text-column", default="text")
    p.add_argument("--id-column", default="doc_id")
    p.add_argument("--seq-len", type=int, default=2048)
    p.add_argument("--seq-lens", default="512,1024,2048,4096",
                   help="efficiency: comma-separated candidates")
    p.add_argument("--sep-tokens", type=int, default=1)
    p.add_argument("--output-parquet",
                   help="place/write: destination (required)")
    args = p.parse_args(argv)

    from .operators.packing import (
        packed_sequences,
        packing_efficiency,
        sequence_pack,
    )

    cfg, db = _load_db(args.config)
    df = db.load(args.table)
    if args.action == "efficiency":
        lens = [int(x) for x in args.seq_lens.split(",") if x.strip()]
        for r in packing_efficiency(
            df, seq_lens=lens, text_col=args.text_column,
            id_col=args.id_column, sep_tokens=args.sep_tokens,
        ).collect():
            print(
                f"seq_len {r['seq_len']}: {r['n_sequences']} sequences, "
                f"fill {r['fill_rate']}, split docs "
                f"{r['n_split_docs']} ({r['split_frac']})"
            )
        return 0
    if not args.output_parquet:
        p.error(f"--output-parquet is required for {args.action}")
    fn = sequence_pack if args.action == "place" else packed_sequences
    out = fn(
        df, seq_len=args.seq_len, text_col=args.text_column,
        id_col=args.id_column, sep_tokens=args.sep_tokens,
    )
    out.write.mode("overwrite").parquet(args.output_parquet)
    n = db.spark.read.parquet(args.output_parquet).count()
    print(f"{args.action}: {n} rows -> {args.output_parquet}")
    return 0


def tool_wet(argv: list[str]) -> int:
    """WET derivation from the CLI (sources/warc.wet_records): read a
    WARC directory, markup-strip each 2xx text response into a
    ``conversion`` record (WARC-Refers-To lineage back to the source
    response), and write either real ``*.warc.gz`` WET segments
    (``write_warc_archive`` record_kind='conversion') or the
    conversion frame as parquet."""
    p = argparse.ArgumentParser(prog="wet")
    p.add_argument("--warc-dir", required=True,
                   help="input archive file or directory")
    p.add_argument("--out-dir",
                   help="write WET archive segments here")
    p.add_argument("--output-parquet",
                   help="write the conversion frame as parquet instead")
    p.add_argument("--segments", type=int, default=0,
                   help="repartition before the sink (segment count)")
    args = p.parse_args(argv)
    if bool(args.out_dir) == bool(args.output_parquet):
        p.error("pass exactly one of --out-dir or --output-parquet")

    from .sources.warc import (
        read_warc,
        wet_records,
        write_warc_archive,
    )

    spark = _spark()
    wet = wet_records(read_warc(spark, args.warc_dir))
    if args.segments:
        wet = wet.repartition(args.segments)
    if args.output_parquet:
        wet.write.mode("overwrite").parquet(args.output_parquet)
        print(f"conversion frame written to {args.output_parquet}")
    else:
        n = write_warc_archive(
            wet, args.out_dir, record_kind="conversion",
            refers_to_col="refers_to", segment_prefix="wet",
        ).count()
        print(f"{n} conversion records written to {args.out_dir}")
    return 0


def tool_wat(argv: list[str]) -> int:
    """WAT derivation from the CLI (sources/warc.wat_metadata): one
    row per capture with structural metadata (title, resolved
    outlinks, mime/status) — the link-graph / anchor-analysis frame,
    payload bytes never leave the projection."""
    p = argparse.ArgumentParser(prog="wat")
    p.add_argument("--warc-dir", required=True,
                   help="input archive file or directory")
    p.add_argument("--top", type=int, default=20,
                   help="rows to print without --output-parquet")
    p.add_argument("--output-parquet")
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from .sources.warc import read_warc, wat_metadata

    spark = _spark()
    wat = wat_metadata(read_warc(spark, args.warc_dir))
    if args.output_parquet:
        wat.write.mode("overwrite").parquet(args.output_parquet)
        print(f"wat frame written to {args.output_parquet}")
    else:
        for r in (
            wat.select("url", "http_status", "title", "n_links")
            .orderBy("url")
            .limit(args.top)
            .collect()
        ):
            print(f"{r.url}\t{r.http_status}\t{r.title}\t{r.n_links}")
    return 0


def tool_cdx(argv: list[str]) -> int:
    """Web-archive index lifecycle from the CLI (sources/cdx.py):
    ``index`` builds a seekable CDXJ index from a WARC directory
    (byte offsets included — read_warc(with_offsets=True)), as text
    lines or a range-partitioned parquet store; ``lookup`` answers a
    SURT-prefix / time-window query over a stored index; ``fetch``
    seeks the matching captures out of the archives (one bounded read
    per hit); ``dedup`` reports byte-identical capture groups from
    the index alone."""
    p = argparse.ArgumentParser(prog="cdx")
    p.add_argument(
        "action", choices=["index", "lookup", "fetch", "dedup", "delta"]
    )
    p.add_argument("--old-index",
                   help="delta: the previous snapshot's index path")
    p.add_argument("--warc-dir",
                   help="index/fetch: the archive directory")
    p.add_argument("--index",
                   help="lookup/fetch/dedup: index path — a cdx_store "
                   "parquet directory, or a directory of .cdxj lines")
    p.add_argument("--surt-prefix",
                   help="SURT key prefix, e.g. 'com,example)'")
    p.add_argument("--ts-from", help="ts14 lower bound (YYYYMMDDHHMMSS)")
    p.add_argument("--ts-to", help="ts14 upper bound")
    p.add_argument("--buckets", type=int, default=0,
                   help="index --output-parquet: range-partition count")
    p.add_argument("--top", type=int, default=20,
                   help="rows to print without --output-parquet")
    p.add_argument("--output-parquet")
    p.add_argument("--output-text",
                   help="index: write raw CDXJ lines here instead")
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from .sources.cdx import (
        cdx_dedup,
        cdx_fetch,
        cdx_index,
        cdx_lookup,
        cdx_store,
        parse_cdxj,
    )

    spark = _spark()

    def load_index():
        if not args.index:
            p.error("--index is required for this action")
        has_cdxj = os.path.isdir(args.index) and any(
            f.endswith((".cdxj", ".cdx", ".cdx.gz"))
            for f in os.listdir(args.index)
        )
        if has_cdxj:
            lines = spark.read.text(args.index).withColumnRenamed(
                "value", "line"
            )
            df = parse_cdxj(lines)
            if args.surt_prefix:
                df = df.filter(
                    F.col("surt_key").startswith(args.surt_prefix)
                )
            if args.ts_from:
                df = df.filter(F.col("ts14") >= args.ts_from)
            if args.ts_to:
                df = df.filter(F.col("ts14") <= args.ts_to)
            return df
        return cdx_lookup(
            spark, args.index, surt_prefix=args.surt_prefix,
            ts_from=args.ts_from, ts_to=args.ts_to,
        )

    if args.action == "index":
        if not args.warc_dir:
            p.error("--warc-dir is required for index")
        from .sources.warc import read_warc

        parsed = read_warc(
            spark, args.warc_dir, with_offsets=True
        ).withColumn(
            "warc_file", F.element_at(F.split("warc_file", "/"), -1)
        )
        idx = cdx_index(parsed)
        if args.output_text:
            idx.select(
                F.concat_ws(" ", "surt_key", "ts14", "cdxj").alias("line")
            ).write.mode("overwrite").text(args.output_text)
            print(f"cdxj lines written to {args.output_text}")
        elif args.output_parquet:
            lines = idx.select(
                F.concat_ws(" ", "surt_key", "ts14", "cdxj").alias("line")
            )
            cdx_store(
                parse_cdxj(lines), args.output_parquet,
                buckets=args.buckets,
            )
            print(f"index stored to {args.output_parquet}")
        else:
            p.error("index needs --output-text or --output-parquet")
        return 0

    if args.action == "lookup":
        out = load_index()
    elif args.action == "delta":
        from .sources.cdx import cdx_delta

        if not args.old_index:
            p.error("--old-index is required for delta")
        new_path, args.index = args.index, args.old_index
        old = load_index()          # --old-index (previous snapshot)
        args.index = new_path       # --index (current snapshot)
        out = cdx_delta(old, load_index()).orderBy("surt_key")
    elif args.action == "dedup":
        out = cdx_dedup(load_index()).orderBy(
            F.col("n_dups").desc(), F.col("digest").asc()
        )
    else:  # fetch
        if not args.warc_dir:
            p.error("--warc-dir is required for fetch")
        if not args.output_parquet:
            p.error("--output-parquet is required for fetch")
        out = cdx_fetch(
            load_index(), args.warc_dir,
        )
    if args.output_parquet:
        out.write.mode("overwrite").parquet(args.output_parquet)
        n = spark.read.parquet(args.output_parquet).count()
        print(f"{args.action}: {n} rows -> {args.output_parquet}")
    else:
        for r in out.limit(args.top).collect():
            print(r.asDict())
    return 0


def tool_bpe(argv: list[str]) -> int:
    """Tokenizer induction from the CLI (operators/bpe.py): learn BPE
    merges from a parquet corpus and write/print the ranked merge
    table. Feed the parquet back into ``pack``/``textstats`` token
    accounting via functions/tokenize.simple_bpe."""
    p = argparse.ArgumentParser(prog="bpe")
    p.add_argument("action", choices=["train"])
    p.add_argument("--input", required=True, help="parquet corpus path")
    p.add_argument("--text-column", default="text")
    p.add_argument("--merges", type=int, default=100)
    p.add_argument("--min-count", type=int, default=2)
    p.add_argument("--min-word-freq", type=int, default=1,
                   help="drop vocabulary words rarer than this before "
                   "training (bounds the per-round working set)")
    p.add_argument("--top", type=int, default=20,
                   help="merges to print without --output-parquet")
    p.add_argument("--output-parquet")
    args = p.parse_args(argv)

    from .operators.bpe import bpe_train

    spark = _spark()
    out = bpe_train(
        spark.read.parquet(args.input),
        text_col=args.text_column,
        n_merges=args.merges,
        min_count=args.min_count,
        min_word_freq=args.min_word_freq,
    ).orderBy("merge_rank")
    if args.output_parquet:
        out.write.mode("overwrite").parquet(args.output_parquet)
        print(f"{args.merges} merges written to {args.output_parquet}")
    else:
        for r in out.limit(args.top).collect():
            print(f"{r.merge_rank}\t{r.lhs} + {r.rhs} -> {r.merged}"
                  f"\t(count {r.pair_count})")
    return 0


def tool_unigram(argv: list[str]) -> int:
    """Unigram-LM tokenizer induction from the CLI (operators/
    unigram.py): ``train`` learns a piece table (substring seed +
    hard-EM rounds) and writes/prints it; ``segment`` Viterbi-splits
    the corpus's distinct words under a trained table. Feed the piece
    parquet into ``pack``/``textstats`` token accounting via
    functions/tokenize.unigram_segmenter."""
    p = argparse.ArgumentParser(prog="unigram")
    p.add_argument("action", choices=["train", "segment"])
    p.add_argument("--input", required=True, help="parquet corpus path")
    p.add_argument("--text-column", default="text")
    p.add_argument("--rounds", type=int, default=2)
    p.add_argument("--max-piece-len", type=int, default=4)
    p.add_argument("--seed-size", type=int, default=2000)
    p.add_argument("--min-count", type=int, default=2)
    p.add_argument("--pieces", help="segment: trained piece parquet")
    p.add_argument("--top", type=int, default=20,
                   help="rows to print without --output-parquet")
    p.add_argument("--output-parquet")
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from .operators.unigram import (
        unigram_train,
        viterbi_segment,
        word_freqs,
    )

    spark = _spark()
    corpus = spark.read.parquet(args.input)
    if args.action == "train":
        out = unigram_train(
            corpus,
            text_col=args.text_column,
            n_rounds=args.rounds,
            max_piece_len=args.max_piece_len,
            seed_size=args.seed_size,
            min_count=args.min_count,
        ).orderBy(F.col("cnt").desc(), F.col("piece"))
    else:
        if not args.pieces:
            p.error("--pieces is required for segment")
        scored = spark.read.parquet(args.pieces)
        missing = {"piece", "score_p"} - set(scored.columns)
        if missing:
            p.error(
                f"--pieces parquet lacks column(s) {sorted(missing)} — "
                "pass the output of `unigram train --output-parquet`"
            )
        out = viterbi_segment(
            word_freqs(corpus, args.text_column),
            scored,
            max_piece_len=args.max_piece_len,
        ).select(
            "word", "freq", "best_p",
            F.array_join("pieces", " ").alias("pieces"),
        ).orderBy(F.col("freq").desc(), F.col("word"))
    if args.output_parquet:
        out.write.mode("overwrite").parquet(args.output_parquet)
        print(f"{args.action} output written to {args.output_parquet}")
    else:
        for r in out.limit(args.top).collect():
            print("\t".join(str(v) for v in r))
    return 0


def tool_bloom(argv: list[str]) -> int:
    """Bloom-filter gate from the CLI (operators/bloom.py): ``build``
    packs a filter over a key column into a sparse word parquet;
    ``gate`` tags an arrivals table with ``maybe_seen`` so only the
    maybe-slice pays the exact dedup tier."""
    p = argparse.ArgumentParser(prog="bloom")
    p.add_argument("action", choices=["build", "gate"])
    p.add_argument("--input", required=True,
                   help="parquet path: build = seen keys, gate = arrivals")
    p.add_argument("--key-column", required=True)
    p.add_argument("--filter", required=True,
                   help="filter parquet path (build writes, gate reads)")
    p.add_argument("--bits", type=int, default=0,
                   help="filter size in bits (build; default: sized "
                   "from the key count at --fpp)")
    p.add_argument("--hashes", type=int, default=0)
    p.add_argument("--fpp", type=float, default=0.01)
    p.add_argument("--mode", choices=["broadcast", "shuffle", "auto"],
                   default="auto")
    p.add_argument("--id-column", help="gate --mode shuffle: unique id")
    p.add_argument("--output-parquet", help="gate: flagged table path")
    args = p.parse_args(argv)

    from . import store
    from .operators.bloom import bloom_build, bloom_gate, bloom_params

    store.require_local(args.filter)
    meta_path = os.path.join(args.filter, "_bloom_meta.json")
    spark = _spark()
    df = spark.read.parquet(args.input)
    if args.action == "build":
        n_bits, n_hashes = args.bits, args.hashes
        if not n_bits or not n_hashes:
            n_keys = max(
                1,
                df.select(args.key_column).na.drop().distinct().count(),
            )
            auto_bits, auto_hashes = bloom_params(n_keys, args.fpp)
            n_bits = n_bits or auto_bits
            n_hashes = n_hashes or auto_hashes
        words = bloom_build(df, args.key_column, n_bits, n_hashes)
        words.write.mode("overwrite").parquet(args.filter)
        # sizing sidecar so `gate` replays the same hash family
        meta = {"n_bits": n_bits, "n_hashes": n_hashes,
                "key_column": args.key_column}
        store.commit_json(meta_path, meta)
        print(f"bloom filter written to {args.filter}: "
              f"{n_bits} bits, {n_hashes} hashes")
        return 0
    if args.mode == "shuffle" and not args.id_column:
        p.error("gate --mode shuffle requires --id-column (a unique key)")
    if not os.path.exists(meta_path):
        print(
            f"bloom gate: no _bloom_meta.json in {args.filter} — build "
            "the filter with 'bloom build' first",
            file=sys.stderr,
        )
        return 2
    meta = store.read_json(meta_path)
    words = spark.read.parquet(args.filter)
    gated = bloom_gate(
        df, words, args.key_column, meta["n_bits"], meta["n_hashes"],
        mode=args.mode, id_col=args.id_column,
    )
    if args.output_parquet:
        gated.write.mode("overwrite").parquet(args.output_parquet)
    counts = {
        ("maybe_seen" if r.maybe_seen else "definitely_new"): r.n
        for r in gated.groupBy("maybe_seen").count()
        .withColumnRenamed("count", "n").collect()
    }
    print(f"definitely_new: {counts.get('definitely_new', 0)}  "
          f"maybe_seen: {counts.get('maybe_seen', 0)}"
          + (f"  written to {args.output_parquet}"
             if args.output_parquet else ""))
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if not argv or argv[0] in ("-h", "--help"):
        print("usage: python -m dbqt_spark <tool> [args]")
        print("tools: " + ", ".join(TOOLS))
        print(
            "aliases: "
            + ", ".join(f"{a}->{t}" for a, t in TOOL_ALIASES.items())
        )
        return 0
    tool, rest = argv[0], argv[1:]
    tool = TOOL_ALIASES.get(tool, tool)
    fn = {
        "dbstats": tool_dbstats,
        "colcompare": tool_colcompare,
        "nullcheck": tool_nullcheck,
        "keyfinder": tool_keyfinder,
        "combine": tool_combine,
        "parquetizer": tool_parquetizer,
        "dynamic-query": tool_dynamic_query,
        "checks": tool_checks,
        "dedup": tool_dedup,
        "textstats": tool_textstats,
        "decontaminate": tool_decontaminate,
        "split": tool_split,
        "shuffle": tool_shuffle,
        "curate": tool_curate,
        "sample": tool_sample,
        "profile": tool_profile,
        "dedupindex": tool_dedupindex,
        "statstore": tool_statstore,
        "datadiff": tool_datadiff,
        "chunk": tool_chunk,
        "cluster": tool_cluster,
        "classify": tool_classify,
        "repair": tool_repair,
        "export": tool_export,
        "layout": tool_layout,
        "search": tool_search,
        "urls": tool_urls,
        "pack": tool_pack,
        "links": tool_links,
        "cdx": tool_cdx,
        "wet": tool_wet,
        "wat": tool_wat,
        "bpe": tool_bpe,
        "unigram": tool_unigram,
        "bloom": tool_bloom,
    }.get(tool)
    if fn is None:
        print(f"unknown tool: {tool}", file=sys.stderr)
        return 2
    return fn(rest)


if __name__ == "__main__":
    raise SystemExit(main())
