"""Row-count operators — the dbstats core.

Reference behavior: ``SELECT COUNT(*) FROM t [WHERE ...]`` per table over a
connection pool (dbqt/connections.py:92-104, dbqt/tools/dbstats.py:53-63),
counts merged into a frame with ``difference`` / ``percentage_difference``
derived columns (dbqt/tools/dbstats.py:155-214); failures become ``notes``
rows (never abort).

Spark design: each table gets its own global count aggregate and the
per-table results are unioned into one DataFrame. Collecting it runs
about one Spark job per table plus one (measured at local[4]: 8 jobs and
15 stages for 7 parquet tables), scheduled by Spark rather than by a
connection pool. A union of the scans with one ``groupBy`` would run
fewer jobs, but it would drop a table with zero rows instead of
reporting a count of 0. Counting a parquet table reads no data columns
(count-star scan), so this is metadata-bound even at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table

_COUNTS_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType(), False),
        T.StructField("row_count", T.LongType(), True),
        T.StructField("notes", T.StringType(), True),
    ]
)


def _count_one(df: DataFrame, name: str, where: str | None) -> DataFrame:
    if where:
        df = df.filter(F.expr(where))
    return df.groupBy().agg(
        F.lit(name).alias("table_name"),
        F.count(F.lit(1)).alias("row_count"),
        F.lit(None).cast("string").alias("notes"),
    ).select("table_name", "row_count", "notes")


def df_row_counts(
    spark: SparkSession,
    dfs: dict[str, DataFrame],
    where: dict[str, str] | None = None,
    errors: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """(table_name, row_count, notes) from pre-loaded DataFrames — the
    connection-kind-agnostic core: callers resolve names through whatever
    source (parquet dir, csv/json/orc, JDBC) and pass the frames; load
    failures arrive via ``errors`` as (name, message) and become note rows
    with NULL count (error-as-data, dbqt/tools/dbstats.py:60-63)."""
    where = where or {}
    parts: list[DataFrame] = [
        _count_one(df, name, where.get(name)) for name, df in dfs.items()
    ]
    if errors:
        parts.append(
            spark.createDataFrame(
                [(n, None, msg) for n, msg in errors], schema=_COUNTS_SCHEMA
            )
        )
    if not parts:
        return spark.createDataFrame([], schema=_COUNTS_SCHEMA)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def table_row_counts(
    spark: SparkSession,
    sf_dir: str,
    tables: list[str],
    where: dict[str, str] | None = None,
) -> DataFrame:
    """(table_name, row_count, notes) for every parquet table under
    ``sf_dir``; unreadable tables get a note row (see ``df_row_counts``).
    """
    dfs: dict[str, DataFrame] = {}
    errors: list[tuple[str, str]] = []
    for name in tables:
        try:
            dfs[name] = load_table(spark, sf_dir, name)
        except Exception as exc:  # unreadable/missing table -> note row
            errors.append((name, f"ERROR: {exc}"))
    return df_row_counts(spark, dfs, where, errors)


def count_compare(
    source_counts: DataFrame,
    target_counts: DataFrame,
    join_on: str = "table_name",
) -> DataFrame:
    """dbstats dual-mode derivation (dbqt/tools/dbstats.py:181-214).

    difference = target - source; percentage_difference = round(diff/source
    * 100, 2) with the reference's 0/0 -> 0 via fill_nan(0) reproduced as a
    CASE. Full-outer join keeps one-sided tables (their counts stay NULL,
    mirroring the skip-with-notes rule, dbstats.py:113-134).
    """
    src = source_counts.select(
        F.col(join_on),
        F.col("row_count").alias("source_row_count"),
        F.col("notes").alias("source_notes"),
    )
    tgt = target_counts.select(
        F.col(join_on),
        F.col("row_count").alias("target_row_count"),
        F.col("notes").alias("target_notes"),
    )
    joined = src.join(tgt, on=join_on, how="full_outer")
    diff = F.col("target_row_count") - F.col("source_row_count")
    pct = F.when(
        F.col("source_row_count") != 0,
        F.round(diff / F.col("source_row_count") * 100, 2),
    ).otherwise(
        # reference: 0/0 -> NaN -> fill_nan(0); nonzero/0 stays NULL here
        F.when(diff == 0, F.lit(0.0)).otherwise(F.lit(None).cast("double"))
    )
    return joined.select(
        join_on,
        "source_row_count",
        "target_row_count",
        diff.alias("difference"),
        pct.alias("percentage_difference"),
        "source_notes",
        "target_notes",
    )
