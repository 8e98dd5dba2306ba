"""Schema comparison — table-set diff, column-set diff, type-compat
classification.

Reference behavior (dbqt/tools/colcompare.py): Python set ops on distinct
table names (:292-300), a per-table loop diffing column-name sets
(:303-341), and ``are_types_compatible`` on common columns (:393-413),
producing statuses Source Only / Target Only / Matching / Different Types.

Spark design: ONE full-outer join on (SCH_TABLE, COL_NAME) classifies every
table's columns at once — a single shuffle regardless of table count,
replacing the reference's per-table Python loop. Type compatibility is a
generated CASE/array expression (typecompat.compat_condition), so the whole
classification stays inside whole-stage codegen. Schema frames are tiny
relative to data; at catalog scale (millions of columns) the join is still
a few MB per side — we broadcast the smaller side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..typecompat import (
    DEFAULT_TYPE_MAPPINGS,
    are_types_compatible,
    canonicalize_col,
)

STATUS_SOURCE_ONLY = "Source Only"
STATUS_TARGET_ONLY = "Target Only"
STATUS_MATCHING = "Matching"
STATUS_DIFFERENT = "Different Types"


def compare_table_sets(src_schema: DataFrame, tgt_schema: DataFrame) -> DataFrame:
    """Table-level 3-way split: (table_name, discovery_status) with status
    in common/source_only/target_only — reference T1
    (dbqt/tools/colcompare.py:292-300, dbqt/tools/utils.py:288-310).
    """
    s = src_schema.select(F.upper("SCH_TABLE").alias("table_name")).distinct()
    t = tgt_schema.select(F.upper("SCH_TABLE").alias("table_name")).distinct()
    joined = s.withColumn("__s", F.lit(1)).join(
        t.withColumn("__t", F.lit(1)), on="table_name", how="full_outer"
    )
    status = (
        F.when(F.col("__s").isNotNull() & F.col("__t").isNotNull(), "common")
        .when(F.col("__s").isNotNull(), "source_only")
        .otherwise("target_only")
    )
    return joined.select("table_name", status.alias("discovery_status"))


def compare_columns(
    src_schema: DataFrame,
    tgt_schema: DataFrame,
    excluded_cols: list[str] | None = None,
    type_mappings: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Column-level diff + type classification for ALL tables in one join.

    Output: (table_name, col_name, source_type, target_type, status).
    Excluded columns (case-insensitive upper set, merged across configs —
    dbqt/tools/colcompare.py:71-95) are dropped before comparison.
    """
    excl = [c.upper() for c in (excluded_cols or [])]

    def prep(df: DataFrame, side: str) -> DataFrame:
        out = df.select(
            F.upper("SCH_TABLE").alias("table_name"),
            F.upper("COL_NAME").alias("col_name"),
            F.col("DATA_TYPE").alias(f"{side}_type"),
        )
        if excl:
            out = out.filter(~F.col("col_name").isin(excl))
        return out

    s = prep(src_schema, "source")
    t = prep(tgt_schema, "target")
    joined = s.join(t, on=["table_name", "col_name"], how="full_outer")

    # Type compatibility via a broadcast join against the precomputed
    # compatible-pairs table (a few hundred rows from the group config).
    # A generated CASE expression over the whole vocabulary works too but
    # its codegen compile time dominates on small inputs and its size
    # grows with the vocabulary; the join is O(1) per row and scales to
    # any mapping size. Equality and the ^TIMESTAMP rule stay as cheap
    # expressions to also cover types outside the vocabulary.
    mappings = type_mappings or DEFAULT_TYPE_MAPPINGS
    spark = joined.sparkSession
    vocab = sorted({t2 for group in mappings.values() for t2 in group})
    pairs = [
        (a, b)
        for a in vocab
        for b in vocab
        if a != b and are_types_compatible(a, b, mappings)
    ]
    pairs_df = spark.createDataFrame(pairs, ["__ta", "__tb"]).withColumn(
        "__compat", F.lit(True)
    )
    cs = canonicalize_col(F.col("source_type"))
    ct = canonicalize_col(F.col("target_type"))
    joined = joined.withColumn("__cs", cs).withColumn("__ct", ct)
    joined = joined.join(
        F.broadcast(pairs_df),
        (joined["__cs"] == pairs_df["__ta"]) & (joined["__ct"] == pairs_df["__tb"]),
        "left",
    )
    compatible = (
        (F.col("__cs") == F.col("__ct"))
        | (F.col("__cs").rlike("^TIMESTAMP") & F.col("__ct").rlike("^TIMESTAMP"))
        | F.col("__compat").isNotNull()
    )
    status = (
        F.when(F.col("target_type").isNull(), STATUS_SOURCE_ONLY)
        .when(F.col("source_type").isNull(), STATUS_TARGET_ONLY)
        .when(compatible, STATUS_MATCHING)
        .otherwise(STATUS_DIFFERENT)
    )
    return joined.select(
        "table_name",
        "col_name",
        "source_type",
        "target_type",
        status.alias("status"),
    )


def datatype_mismatches(column_compare: DataFrame) -> DataFrame:
    """The 'Datatype Mismatches' report tab (colcompare.py:425-446)."""
    return column_compare.filter(F.col("status") == STATUS_DIFFERENT)
