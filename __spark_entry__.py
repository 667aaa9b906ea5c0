"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: RLE-encode documents.lang at sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2).
``oracle_sql()`` — duckdb-runnable ANSI SQL twins, column-name aligned.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pyrle_spark.operators import relational

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return relational.rle_encode_lang(spark, SF0001)


# Version-skew guard (r02 gate ran on a stale 50-query registry without
# anyone noticing): the registry size is pinned here and asserted on
# every queries() call — adding or removing a query without bumping this
# constant fails the driver contract LOUDLY instead of silently
# shrinking the certified surface.
EXPECTED_QUERY_COUNT = 147


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    out.update(relational.QUERIES)
    # unconditional: a broken import inside functions/ must FAIL the
    # contract loudly, not silently shrink the query registry to the
    # relational subset
    from pyrle_spark.functions import registry as fn_registry

    from pyrle_spark.streaming import queries as stream_queries

    for reg in (fn_registry.QUERIES, stream_queries.QUERIES):
        overlap = set(out) & set(reg)
        if overlap:
            raise RuntimeError(
                f"query name collision across registries: {sorted(overlap)}"
            )
        out.update(reg)
    if len(out) != EXPECTED_QUERY_COUNT:
        raise RuntimeError(
            f"query registry has {len(out)} entries, expected "
            f"{EXPECTED_QUERY_COUNT} — update EXPECTED_QUERY_COUNT in "
            "__spark_entry__.py alongside any added/removed query so the "
            "correctness gate can never run on a silently-shrunk registry"
        )
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per queries() key (omitted keys → rows-only check)."""
    out: dict[str, str] = {}
    out.update(relational.ORACLE_SQL)
    from pyrle_spark.functions import registry as fn_registry
    from pyrle_spark.streaming import queries as stream_queries

    out.update(fn_registry.ORACLE_SQL)
    out.update(stream_queries.ORACLE_SQL)
    return out
