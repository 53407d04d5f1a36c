"""Shared registry for the driver-facing workload.

Each entry pairs a Spark DataFrame query (``(spark, sf_dir) -> DataFrame``)
with an equivalent DuckDB-runnable ANSI-SQL oracle. Column names are aliased
identically on both sides (the driver's comparator sorts columns by name
before value-hashing); float aggregates are rounded to 2 decimals on both
sides so sum-order nondeterminism cannot flip the hash. Queries without an
SQL-expressible oracle register with ``oracle=None`` → the driver records a
weaker rows-only check.

Final outputs are never DECIMAL-typed: the driver's value hash canonicalizes
DECIMAL differently on its two sides (DuckDB's pandas materialization renders
``253942.0`` where Spark's collect keeps ``Decimal('253942.00')``), so even
cell-for-cell-identical row sets hash-mismatch. Keep DECIMAL *inside* the
plan for exact sums, but CAST every delivered column to DOUBLE (or round per
the 2-dp convention) on BOTH the Spark and oracle sides at the final
projection. ``tests/test_oracle_parity.py`` pins this with a no-decimal
schema sweep over every registered query.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

#: Session-scoped scan-plan cache (round-16, guide §1.2/§6): every
#: ``spark.read.parquet`` re-lists the path and re-sniffs the footer schema
#: on the DRIVER — measured 150-300 ms per call, paid once or twice by every
#: workload invocation (~20 s across one full bench run). Real engines keep
#: this in a catalog; here the immutable base-scan DataFrame (an UNRESOLVED
#: lazy plan — no rows, no results, nothing materialized) is memoized per
#: (session, sf_dir, table). Every action over it still scans the parquet
#: files from disk; only the repeated driver-side metadata sniff is skipped.
_SCAN_CACHE: dict[tuple, DataFrame] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Oracle parity requires UTC session semantics regardless of how the
    # caller built the SparkSession (fixture timestamps are naive; DuckDB
    # reads them tz-less). Cheap to set per-load.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The file's mtime rides in the key so a rewritten fixture (same path,
    # new data — e.g. a regenerated sf dir within one live session) never
    # serves the stale plan/file-listing; the stat is microseconds. A path
    # the stat cannot see (a URI, a missing file) is never cached: nothing
    # would notice it change or vanish.
    path = f"{sf_dir}/{name}.parquet"
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        return _load_uncached(spark, sf_dir, name)
    key = (spark.sparkContext.applicationId, sf_dir, name, mtime)
    cached = _SCAN_CACHE.get(key)
    if cached is not None:
        return cached
    df = _load_uncached(spark, sf_dir, name)
    if len(_SCAN_CACHE) > 64:  # bound growth across many test sessions
        _SCAN_CACHE.clear()
    _SCAN_CACHE[key] = df
    return df


def _load_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet has shipped with two ts encodings across fixture
        # generations: TIMESTAMP(NANOS) (which Spark's vectorized reader
        # rejects → read nanos as long, truncate to micros — exactly what
        # DuckDB does implicitly) and plain TIMESTAMP(MICROS) (reads as
        # timestamp_ntz). Branch on the observed dtype so both parse to the
        # same session-UTC timestamp the oracle sees.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # Integer division — float division of ns-epoch values exceeds
            # double precision (≈256 ns gaps at 2024 epochs).
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif ts_type == "timestamp_ntz":
            # Naive micros; session tz is UTC so the cast is value-preserving.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        elif ts_type != "timestamp":
            # Fail loudly on an encoding we haven't verified rather than
            # passing it through unconverted (oracle parity would silently
            # diverge from DuckDB's reading of the same file).
            raise ValueError(
                f"events.parquet ts column read as unsupported Spark type "
                f"{ts_type!r}; expected bigint (nanos), timestamp_ntz, or "
                "timestamp"
            )
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def query(name: str, oracle: str | None = None):
    """Register a workload entry (decorator)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate workload query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def r2(c, alias: str):
    """round(x, 2) with an alias — applied identically in the oracle SQL."""
    return F.round(c, 2).alias(alias)
