"""The measurement protocol shared by every workload.

- ``reset_session``: after each query, count what it left in the
  CacheManager and the temp-view catalog, then clear both, so no query
  reads another's cached result. Codegen, JIT and the catalog's table
  memo stay warm: a user pays for those once per session.
- ``oracle_hashes`` / ``result_hash``: the output check, using the
  canonicalization and value hash of ``tools/correctness_all.py``.
- ``tail_percentile``: the highest percentile with at least ten samples
  beyond it, or the maximum while that percentile is not above p50.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import statistics
import sys

from pyspark.sql import SparkSession

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
import correctness_all  # noqa: E402

# The catalog memoizes its temp-view registration under this session conf;
# dropping the views must drop the marker too, or the next SQL query would
# find its tables missing.
_VIEWS_MARKER = "spark.graft.registeredViewsDir"

TAIL_BEYOND = 10


def cache_entries(spark: SparkSession) -> int:
    """Number of relations in Spark's CacheManager."""
    manager = spark._jsparkSession.sharedState().cacheManager()
    field = manager.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return field.get(manager).size()


def temp_views(spark: SparkSession) -> list[str]:
    """Names of the session's local temp views."""
    catalog = spark._jsparkSession.sessionState().catalog()
    idents = catalog.listLocalTempViews("*")
    convert = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    return [i.table() for i in convert.asJava(idents)]


def reset_session(spark: SparkSession) -> tuple[int, int]:
    """Clear what a query left behind; return (cache entries, temp views)."""
    entries = cache_entries(spark)
    views = temp_views(spark)
    spark.catalog.clearCache()
    for view in views:
        spark.catalog.dropTempView(view)
    spark.conf.unset(_VIEWS_MARKER)
    return entries, len(views)


def result_hash(columns: list[str], rows) -> tuple[int, str]:
    """Row count and order-insensitive value hash of a result, with the
    columns taken in sorted order (as correctness_all does)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = [tuple(correctness_all._canon(r[i]) for i in order) for r in rows]
    return len(canon), correctness_all._value_hash(canon)


def oracle_hashes(data_dir: str, oracles: dict[str, str]) -> dict:
    """Expected (sorted columns, row count, value hash) of each query: its
    oracle SQL run on DuckDB over ``data_dir``'s tables.

    The inputs of a data directory never change, so results are kept in
    ``data_dir/_oracle.json`` keyed by the SQL text's digest; an edited
    oracle is run again. (The LSH oracles take most of a minute.)
    """
    path = os.path.join(data_dir, "_oracle.json")
    try:
        with open(path) as f:
            saved = json.load(f)
    except FileNotFoundError:
        saved = {}
    out, con = {}, None
    try:
        for name, sql in oracles.items():
            digest = hashlib.sha256(sql.encode()).hexdigest()
            if saved.get(name, {}).get("sql") != digest:
                if con is None:
                    con = duckdb_views(data_dir)
                res = con.execute(sql)
                cols = [d[0] for d in res.description]
                saved[name] = {
                    "sql": digest,
                    "expected": [sorted(cols),
                                 *result_hash(cols, res.fetchall())],
                }
            cols, n, value_hash = saved[name]["expected"]
            out[name] = (cols, n, value_hash)
    finally:
        if con is not None:
            con.close()
            with open(path, "w") as f:
                json.dump(saved, f)
    return out


def duckdb_views(data_dir: str):
    """A DuckDB connection with a view over each of ``data_dir``'s tables."""
    import duckdb

    con = duckdb.connect()
    for table in correctness_all.TABLES:
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM "
            f"read_parquet('{data_dir}/{table}.parquet')")
    return con


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least TAIL_BEYOND of ``n`` samples
    above its nearest-rank position; 100 (the maximum) when that
    percentile would not lie above the median (n < 2 * TAIL_BEYOND + 1),
    since a tail at or below p50 is no tail."""
    pct = 100 * (n - TAIL_BEYOND) // n
    return pct if pct > 50 else 100


def percentile(values: list[float], pct: int) -> float:
    """Nearest-rank percentile (integer arithmetic, so no rounding)."""
    ordered = sorted(values)
    rank = max(-(-pct * len(ordered) // 100), 1)
    return ordered[rank - 1]


def latency_summary(latencies: list[float]) -> dict[str, float]:
    pct = tail_percentile(len(latencies))
    return {
        "n": len(latencies),
        "p50": statistics.median(latencies),
        "tail_pct": pct,
        "tail": percentile(latencies, pct),
    }
