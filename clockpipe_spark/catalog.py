"""Catalog: named access to the engine's tables.

The reference introspects source catalogs (information_schema /
pg_catalog, adapter/postgres.rs:696-758) and mirrors them into the sink.
Here the catalog is Spark-native: tables are parquet datasets loaded by
name (``load_table``); schemas come from parquet footers (authoritative).

Primary / merge keys mirror FIXTURES.md (composite PK handling follows the
reference's multi-column PK rendering, pipes/postgres.rs:789-802).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

TABLES = (
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
)

# merge keys per table (reference: PK lookup adapter/postgres.rs:741-758)
PRIMARY_KEYS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Per-session memo of table PLAN HANDLES (r20, guide §1.2 driver fixed
# costs): every load_table call paid a fresh spark.read.parquet —
# footer/schema resolution plus a new FileIndex — ~0.1-0.15 s of
# driver-side metadata work per call, several calls per query, every
# bench trial. The memo returns the same immutable DataFrame (a lazy
# plan over the parquet files, NOT data or results: every execution
# still scans parquet), which is what a real engine's catalog reference
# does — the reference mirrors source catalogs once, it does not
# re-introspect per query. Keyed by session + absolute path + table;
# the tables this module serves are the immutable testdata datasets
# (streaming state tables use their own readers), and test fixtures
# write each generated dataset to a fresh tmp dir, so a key is never
# re-written. The weak keying alone cannot collect a stopped session's
# entry (ADVICE r20: the cached DataFrames strongly reference their
# session, pinning the weak key), so _purge_stopped drops dead-session
# entries explicitly on every memo miss.
_TABLE_PLANS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _stopped(session: SparkSession) -> bool:
    """Whether ``session`` is stopped. A classic session's SparkContext
    sets ``_jsc`` to None in ``stop()``; a Spark Connect session raises
    an AttributeError for ``sparkContext`` and reports ``is_stopped``. A
    session neither probe can read counts as live, so its entry stays
    and the purge goes on with the others."""
    try:
        return session.sparkContext._jsc is None
    except AttributeError:
        return getattr(session, "is_stopped", False) is True


def _purge_stopped() -> None:
    """Drop memo entries whose session has been stopped: their cached
    DataFrames pin the session object, so weak keys never fire for them."""
    for s in [s for s in list(_TABLE_PLANS) if _stopped(s)]:
        _TABLE_PLANS.pop(s, None)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, refresh: bool = False
) -> DataFrame:
    """Read one named table. Column pruning + predicate pushdown reach the
    parquet scan because this stays a plain declarative read.

    IMMUTABLE-DATASET CONTRACT (ADVICE r20): the returned handle is
    memoized per (session, path, table) — including its eager file
    listing — so a caller that overwrites or appends at the same path
    in-session would read stale file lists. The datasets this module
    serves never change in-session (testdata + fresh-tmp-dir fixtures);
    a caller whose path may change must pass ``refresh=True`` to bypass
    and replace the memo entry.

    ``events.ts`` has shipped in two parquet encodings across driver
    rounds: TIMESTAMP(NANOS), which Spark reads only as a raw long
    (nanosAsLong), and TIMESTAMP(MICROS, isAdjustedToUTC=false), which
    Spark reads as TIMESTAMP_NTZ. Normalize both to the session-UTC
    TIMESTAMP (LTZ) the rest of the engine expects — watermarks reject
    NTZ event time, and the LTZ wall-clock under UTC equals the naive
    value every other engine reads from the same file.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # defensive: the caller's session may not be ours (the driver builds
    # its own); without this conf any events read aborts with
    # PARQUET_TYPE_ILLEGAL on the NANOS timestamp column, and a non-UTC
    # session timezone would shift the converted events timestamps
    # relative to the (naive) values every other engine reads
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (os.path.abspath(sf_dir), name)
    cached = None if refresh else _TABLE_PLANS.get(spark, {}).get(key)
    if cached is not None:
        return cached
    _purge_stopped()
    per_session = _TABLE_PLANS.setdefault(spark, {})
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            # integer div — a double division here would round (ns since
            # epoch exceeds 2^53) and shift timestamps by ±1 µs
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif field.name == "ts" and isinstance(field.dataType, T.TimestampNTZType):
            # NTZ naive wall-clock -> LTZ at UTC: identical instant,
            # watermark-compatible type
            df = df.withColumn("ts", F.to_timestamp(F.col("ts")))
    per_session[key] = df
    return df


def table_schema(spark: SparkSession, sf_dir: str, name: str):
    """Introspect a table schema without scanning data (footer read only).

    Mirrors the reference's list_columns_by_tablename
    (adapter/postgres.rs:696-758) — the Spark-native equivalent is the
    DataFrame schema itself.
    """
    return load_table(spark, sf_dir, name).schema
