"""Query catalog: every implemented operator exposed as a named query.

Each entry pairs a PySpark DataFrame plan (``QUERIES[name](spark, sf_dir)``)
with an ANSI-SQL oracle (``ORACLES[name]``) that DuckDB runs over the same
parquet tables — the correctness contract of the build harness. Keys are
named after SURVEY.md §2 operator ids (a1_, j5_, d1_, f3_, ...) so coverage
is auditable line-by-line.

Cross-engine determinism rules used throughout (see tools/check_oracle.py):
- money sums go through DECIMAL so they are exact and order-independent,
  then cast back to DOUBLE,
- hashing is md5 (DuckDB 1.0 has no sha1),
- every output is given an explicit alias on both sides,
- ties in any top-k are broken by a unique id.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_HISTORY = re.compile(r"CORRECTNESS_r(\d+)\.json")


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a catalog query and (optionally) its DuckDB oracle SQL."""

    def wrap(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return wrap


def _relation_cache(spark: SparkSession) -> dict:
    """Per-session relation cache, stored on the session object so its
    lifetime is exactly the session's (a stopped/rebuilt session starts
    empty)."""
    cache = getattr(spark, "_osp_relation_cache", None)
    if cache is None:
        cache = {}
        spark._osp_relation_cache = cache
    return cache


def invalidate_relations(spark: SparkSession) -> None:
    """Drop the per-session relation cache (call after overwriting a table
    path that was previously loaded in this session)."""
    getattr(spark, "_osp_relation_cache", {}).clear()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table (TESTDATA.md).

    The resolved relation is cached per (session, dir, table): re-reading
    parquet footers + re-listing the directory costs ~80 ms per
    ``spark.read.parquet`` call on this harness, which dominates small-SF
    query wall time. Metastore-backed Spark does exactly this cache for
    catalog tables (``spark.sql.filesourceTableRelationCacheSize``,
    default 1000 relations); path-based reads bypass it, so this restores
    the production behavior. The cache holds plan metadata only (schema +
    file list), never data — its size is catalog-sized at any data scale.
    Writers that overwrite a previously-loaded path must call
    :func:`invalidate_relations` (the static test tables never change
    within a session).

    The test parquets are single-row-group files, so the scan itself is one
    task. For the compute-heavy-per-row tables (documents: regex/shingling;
    embeddings: vector math) that single task would serialize the whole
    query — repartition right after the scan so downstream work uses every
    core. (Row-count-proportional tables like lineitem recover parallelism
    at their first shuffle, so they are left to Catalyst.)
    """
    if name == "events":
        return load_events(spark, sf_dir)
    cache = _relation_cache(spark)
    key = (sf_dir, name)
    df = cache.get(key)
    if df is not None:
        return df
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name in ("documents", "embeddings"):
        df = df.repartition(spark.sparkContext.defaultParallelism)
    cache[key] = df
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events table, normalizing its timestamp column.

    Older generations of the test parquet carried TIMESTAMP(NANOS), which
    Spark's reader rejects; those are read as raw longs (legacy nanosAsLong)
    and floor-divided to microseconds — exactly what DuckDB's
    TIMESTAMP_NS→TIMESTAMP view does. Newer generations carry
    microsecond timestamps natively (TIMESTAMP_NTZ); those are cast to
    TIMESTAMP — lossless under the UTC session timezone — so every
    downstream query sees one ts type and both engines see identical values.
    """
    from pyspark.sql import functions as F

    cache = _relation_cache(spark)
    key = (sf_dir, "events")
    cached = cache.get(key)
    if cached is not None:
        return cached

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the NTZ→TIMESTAMP cast below reads the session timezone; pin it so
    # a vanilla driver session in a non-UTC environment can't shift values
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    cache[key] = df
    return df


def driver_rotation(names: Iterable[str], paths: Iterable[Path]) -> list[str]:
    """Least recently verified first: sort ``names`` stably by the last
    round whose ``CORRECTNESS_r<NN>.json`` row passed (rows, schema and
    hash all match; never = round 0), ties in the given order. The build
    driver checks the first 50 ``queries()`` entries each round."""
    last: dict[str, int] = {}
    for path in paths:
        m = _HISTORY.fullmatch(Path(path).name)
        if m is None:
            continue
        for name, row in json.loads(Path(path).read_text()).items():
            if row["rows_match"] and row["schema_match"] and row["hash_match"]:
                last[name] = max(last.get(name, 0), int(m.group(1)))
    return sorted(names, key=lambda n: last.get(n, 0))


def _import_all() -> None:
    # Importing registers the queries; keep at module bottom.
    from opensanctions_spark.catalog import (  # noqa: F401
        pipeline,
        relational,
        tpch_shapes,
        linkage,
        text,
        vectors,
        exporters,
        sources,
        functions,
        graph,
        streaming,
        multimodal,
    )


_import_all()
for _name in driver_rotation(
    list(QUERIES), Path(__file__).parents[2].glob("CORRECTNESS_r*.json")
):
    QUERIES[_name] = QUERIES.pop(_name)
