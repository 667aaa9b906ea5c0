"""Oracle-certified streaming queries.

The streaming modules are covered by pytest (state shape, watermark
drops, resume), but until r3 none had a driver-oracle row — this module
upgrades one: a Structured Streaming windowed aggregation whose FINAL
result must equal the batch GROUP BY, certified by the same
DuckDB-twin gate as every batch operator.

``stream_windowed_counts`` replays the events table through a parquet
file stream (``maxFilesPerTrigger=1`` → multiple triggers, real
incremental state updates) into a tumbling 1-day window aggregate in
COMPLETE output mode.  Complete mode makes the certification exact
regardless of file processing order (no watermark drops — append-mode
watermark semantics are pinned separately in
``tests/test_salting_streaming.py``); the aggregate columns are integer
count/sum so the value hash is exact by construction.

Scale shape: state is O(open windows × event types); a production
deployment bounds it with the watermark (``streaming/windowed.py``) —
this query's complete mode is the certification configuration, not the
deployment configuration, and says so.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "stream_windowed_counts",
    "stream_mirror_roundtrip",
    "stream_exact_dedup",
    "QUERIES",
    "ORACLE_SQL",
]


def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day windowed counts over the event stream; the final
    complete-mode table must equal the batch GROUP BY (the oracle)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "ts", "event_type", "user_id"
    )
    src_dir = tempfile.mkdtemp(prefix="stream_src_")
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
    # range-partition by ts so each trigger's file is a disjoint time
    # slice — the stream sees (roughly) time-ordered arrivals, as a
    # replayed crawl log would
    ev.repartitionByRange(4, "ts").write.mode("overwrite").parquet(src_dir)
    name = f"stream_wc_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema("ts timestamp, event_type string, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    agg = (
        stream.groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("user_id").alias("sum_uid"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_uid",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(ckpt, "cp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


_STREAM_WINDOWED_SQL = """
SELECT time_bucket(INTERVAL '1 day', ts) AS window_start, event_type,
       count(*) AS n_events, CAST(sum(user_id) AS BIGINT) AS sum_uid
FROM events GROUP BY window_start, event_type
"""


def stream_mirror_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full V2 streaming loop, driver-certified: encode the
    documents table into an encoded-blocks table, replicate it through
    ``readStream.format("pyrle")`` → ``writeStream.format("pyrle")``
    (one micro-batch per source snapshot, exactly-once metadata), and
    return the DECODED MIRROR — which must equal the raw documents rows
    the duckdb oracle reads directly.  Exercises the stream reader's
    snapshot tail, the stream writer's Iceberg commit, and both codecs
    paths (encode + decode) in one certified loop."""
    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table
    from pyrle_spark.sources.datasource import register
    from pyrle_spark.streaming.mirror import mirror_encoded

    register(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "source", "text"
    )
    src = tempfile.mkdtemp(prefix="mirror_src_")
    dst = tempfile.mkdtemp(prefix="mirror_dst_")
    ckpt = tempfile.mkdtemp(prefix="mirror_ckpt_")
    cfg = EncodeConfig(
        columns=["lang", "source", "text"], order_col="doc_id",
        block_rows=128,
    )
    encode_table(spark, docs, os.path.join(src, "t"), cfg)
    q = mirror_encoded(
        spark, os.path.join(src, "t"), os.path.join(dst, "t"),
        os.path.join(ckpt, "cp"),
    )
    q.awaitTermination()
    return (
        spark.read.format("pyrle")
        .load(os.path.join(dst, "t"))
        .select(
            F.col("_order").alias("doc_id"), "lang", "source", "text"
        )
    )


_STREAM_MIRROR_SQL = """
SELECT doc_id, lang, source, text FROM documents
"""


def stream_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup, driver-certified: replay documents through
    a 4-file parquet stream (``maxFilesPerTrigger=1`` → four triggers,
    cross-batch state), drop every re-crawl via the O(1)-per-hash
    ``applyInPandasWithState`` deduper, and return the kept
    ``(text_hash, n_chars)`` set — which must equal the batch DISTINCT
    the oracle computes with its own md5.  The keeper's ``doc_id`` is
    arrival-order dependent and is deliberately NOT in the certified
    projection; the hash set and each hash's length are order-free."""
    from pyrle_spark.streaming.dedup_stream import dedup_docs_stream

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    src = tempfile.mkdtemp(prefix="dedup_src_")
    ckpt = tempfile.mkdtemp(prefix="dedup_ckpt_")
    docs.repartition(4).write.mode("overwrite").parquet(src)
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    q = dedup_docs_stream(spark, src, os.path.join(ckpt, "cp"), query_name=name)
    q.awaitTermination()
    return spark.table(name).select("text_hash", "n_chars")


_STREAM_EXACT_DEDUP_SQL = """
SELECT md5(coalesce(text, '')) AS text_hash,
       CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars
FROM documents GROUP BY 1, 2
"""


from pyrle_spark.streaming.interval_join import (  # noqa: E402
    _STREAM_INTERVAL_JOIN_SQL,
    stream_interval_join,
)

from pyrle_spark.streaming.outer_join_stream import (  # noqa: E402
    _STREAM_DEDUP_WITHIN_WATERMARK_SQL,
    _STREAM_OUTER_INTERVAL_JOIN_SQL,
    stream_dedup_within_watermark,
    stream_outer_interval_join,
)
from pyrle_spark.streaming.late_drop_stream import (  # noqa: E402
    _STREAM_LATE_DROP_JOIN_SQL,
    stream_late_drop_join,
)

QUERIES = {
    "stream_windowed_counts": stream_windowed_counts,
    "stream_mirror_roundtrip": stream_mirror_roundtrip,
    "stream_interval_join": stream_interval_join,
    "stream_outer_interval_join": stream_outer_interval_join,
    "stream_dedup_within_watermark": stream_dedup_within_watermark,
    "stream_late_drop_join": stream_late_drop_join,
    "stream_exact_dedup": stream_exact_dedup,
}
ORACLE_SQL = {
    "stream_windowed_counts": _STREAM_WINDOWED_SQL,
    "stream_mirror_roundtrip": _STREAM_MIRROR_SQL,
    "stream_interval_join": _STREAM_INTERVAL_JOIN_SQL,
    "stream_outer_interval_join": _STREAM_OUTER_INTERVAL_JOIN_SQL,
    "stream_dedup_within_watermark": _STREAM_DEDUP_WITHIN_WATERMARK_SQL,
    "stream_late_drop_join": _STREAM_LATE_DROP_JOIN_SQL,
    "stream_exact_dedup": _STREAM_EXACT_DEDUP_SQL,
}
