"""Templated dynamic queries.

Reference behavior (dbqt/tools/dynamic_query.py:14-62): read a single-column
CSV of values, substitute each into a ``{var_from_csv}`` SQL template, run
sequentially, append results to a log sink with ``-- Query for:`` headers.

Spark design: each substituted query is ``spark.sql`` text, returned
per value for the faithful log-sink shape. The CSV read is
``config.read_csv_list``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def run_dynamic_queries(
    spark: SparkSession,
    template: str,
    values: list[str],
    var_name: str = "var_from_csv",
) -> list[tuple[str, DataFrame]]:
    """Faithful per-value execution: [(value, result_df)]."""
    return [
        (v, spark.sql(template.format(**{var_name: v}))) for v in values
    ]


def generate_table_from_query(
    spark: SparkSession,
    table_name: str,
    query: str,
    output_path: str | None = None,
) -> DataFrame:
    """K5: ``DROP TABLE IF EXISTS t; CREATE TABLE t AS <query>``
    (reference: dbqt/connections.py:145-149). In the file-backed engine
    this registers the result as a replaceable temp view and, when
    ``output_path`` is given, materializes it as parquet (the CTAS of a
    lakehouse)."""
    df = spark.sql(query)
    df.createOrReplaceTempView(table_name)
    if output_path:
        df.write.mode("overwrite").parquet(output_path)
    return df


def format_query_log(results: list[tuple[str, list]]) -> str:
    """The text log sink (dynamic_query.py:30-62): ``-- Query for: <value>``
    headers followed by result rows."""
    lines = []
    for value, rows in results:
        lines.append(f"-- Query for: {value}")
        for row in rows:
            lines.append(", ".join(str(x) for x in row))
        lines.append("")
    return "\n".join(lines)
