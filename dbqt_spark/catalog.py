"""Table registry over a parquet directory — the engine's "database".

The reference resolves 1/2/3-part table names against config defaults and
queries external databases (dbqt/connections.py:17-34, :65-143). Here a
"database" is a directory of parquet files; tables are lazily-read
DataFrames registered as temp views so both the DataFrame API and
``spark.sql`` can address them.

Scale note: ``spark.read.parquet`` is a metadata-only operation until an
action runs; registering all tables up front costs footer reads only.
On a real cluster this maps 1:1 onto external catalog tables
(``spark.table("db.schema.t")``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The testdata star schema (TESTDATA.md).
TPCH_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def normalize_table_path(
    table_name: str, default_db: str | None = None, default_schema: str | None = None
) -> tuple[str | None, str | None, str]:
    """Resolve a 1/2/3-part table name against config defaults —
    reference: dbqt/connections.py:17-29. Returns (db, schema, table)."""
    parts = table_name.split(".")
    if len(parts) == 3:
        return parts[0], parts[1], parts[2]
    if len(parts) == 2:
        return default_db, parts[0], parts[1]
    return default_db, default_schema, parts[0]


def build_qualified_table_name(
    table_name: str, default_db: str | None = None, default_schema: str | None = None
) -> str:
    """Fully-qualified dotted name (reference: dbqt/connections.py:32-34)."""
    db, schema, table = normalize_table_path(table_name, default_db, default_schema)
    return ".".join(p for p in (db, schema, table) if p)


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark can't read them
    natively; detected from the footer (driver-side, metadata-only)."""
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
        return [f.name for f in schema if str(f.type) == "timestamp[ns]"]
    except Exception:
        return []


# SparkSession (weak) -> {path -> DataFrame}. DataFrames are lazy plans;
# memoizing them avoids re-running driver-side file listing + footer schema
# reads for every query that touches the same table (bench runs dozens).
# Weakly keyed by the session OBJECT (not id()) so a new session that
# happens to reuse a dead session's id() can never be served its plans.
# NOTE the weak keying alone cannot COLLECT stale entries: the cached
# DataFrames strongly reference their session, so the value pins the key
# alive (the documented WeakKeyDictionary caveat) — load_table therefore
# explicitly evicts entries whose session has been stopped.
import weakref

_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, tuple[DataFrame, bool]]]" = (
    weakref.WeakKeyDictionary()
)


def _session_stopped(session: SparkSession) -> bool:
    try:
        return session._sc._jsc is None  # SparkContext.stop() nulls _jsc
    except Exception:
        return False  # connect-mode/mock sessions: never treated as stopped


def ensure_utc(spark: SparkSession) -> None:
    """Pin the session timezone to UTC — a GLOBAL, session-wide setting.

    The NTZ→TIMESTAMP and nanos-long rebases in ``load_table`` (and
    ``streaming.checks.normalize_event_ts``) are value-identical ONLY
    under a UTC session zone, and the casts inside the returned plans
    evaluate lazily: the zone in force at ACTION time is what counts.
    ``load_table`` calls this on every hand-out (first and cached alike),
    but a caller that resets the zone between receiving a frame and its
    terminal action must call ``ensure_utc`` again before acting — or
    simply not share a session between UTC-pinned table reads and
    workloads that need another zone (documented side effect; the
    engine's own queries and tests all run UTC)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Lazy: only the parquet footer is touched until an
    action runs, mirroring the reference's schema-only reads
    (dbqt/tools/colcompare.py:246-251).

    SIDE EFFECT: when the table needs a timestamp rebase, the session
    timezone is pinned to UTC for the whole session — see ``ensure_utc``
    (ADVICE r6).

    Nanosecond-timestamp columns (illegal for Spark's vectorized reader)
    are read as long via ``spark.sql.legacy.parquet.nanosAsLong`` and cast
    back to microsecond timestamps, so the logical schema matches what
    DuckDB/pyarrow report.

    TIMESTAMP_NTZ columns (parquet micros without isAdjustedToUTC, the
    shape the driver's generator emits) are cast to TIMESTAMP so the
    engine's time ops (unix_micros, watermarks, windows) accept them —
    ``get_spark`` also disables NTZ inference session-wide, but the cast
    here covers externally-built sessions (the driver's harness). With a
    UTC session timezone the cast is value-identical."""
    path = table_path(sf_dir, name)
    for stale in [s for s in list(_TABLE_CACHE) if _session_stopped(s)]:
        _TABLE_CACHE.pop(stale, None)
    try:
        per_session = _TABLE_CACHE.setdefault(spark, {})
    except TypeError:  # session not weakref-able (mocks) — skip memoization
        per_session = {}
    cached = per_session.get(path)
    if cached is not None:
        df, needs_utc = cached
        if needs_utc:
            # the cast inside the cached plan evaluates LAZILY: re-enforce
            # UTC on every hand-out, or a caller that reset the zone after
            # the first load would execute the NTZ cast shifted
            ensure_utc(spark)
        return df
    nanos = _nanos_timestamp_cols(path)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos:
        # integer div, not `/1000` via double: ~1e18 nanos exceeds double's
        # 53-bit mantissa and rounds the last microsecond
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    from pyspark.sql.types import TimestampNTZType

    ntz = [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, TimestampNTZType)
    ]
    if ntz or nanos:
        # the NTZ->TIMESTAMP (and nanos-long) rebase is value-identical
        # ONLY under a UTC session zone — enforce it rather than assume it
        # for externally built sessions (ADVICE r5), through the same
        # helper the cached path uses (ADVICE r6: uniform enforcement)
        ensure_utc(spark)
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    per_session[path] = (df, bool(ntz or nanos))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, tables: list[str] | None = None
) -> dict[str, DataFrame]:
    names = tables if tables is not None else discover_tables(sf_dir)
    return {name: load_table(spark, sf_dir, name) for name in names}


def discover_tables(sf_dir: str) -> list[str]:
    """List tables in a directory-database — the analog of the reference's
    ``list_tables`` information_schema query (dbqt/connections.py:127-143).

    Deterministic order: canonical star-schema order first, then any extras
    alphabetically (stable output mirrors the reference's ORDER BY).
    """
    found = {
        f[: -len(".parquet")]
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    }
    ordered = [t for t in TPCH_TABLES if t in found]
    ordered += sorted(found - set(TPCH_TABLES))
    return ordered
