"""Streaming encode: new webtext files → encoded blocks, continuously.

The reference is batch/eager only (SURVEY §2.11); this is the engine's
extension for continuously-arriving crawl data.  ``foreachBatch`` reuses
the batch encoder per micro-batch, so one code path serves both modes:

- exactly-once at the block level: Spark's streaming checkpoint dedupes
  *file* replays; the encode table's complete-block resume + read-side
  supersede (plans/encode_job.py) dedupes *block* replays, so a crashed
  micro-batch re-encodes idempotently;
- micro-batch boundaries need NOT align to blocks: when a batch's rows
  land in a block the table already holds a PARTIAL encoding of (an
  earlier batch carried the block's first rows), that block's existing
  rows are decoded and unioned in, so the re-encoded block is whole and
  supersedes the fragment — without this, the second fragment would
  decode at the wrong offsets and the first would be dropped by the
  max-n_rows dedup;
- the snapshot lineage records the epoch id per pass.

``trigger(availableNow=True)`` drains everything currently in the
source and stops — the batch-ish mode used in tests; drop it for a
long-running continuous job.
"""

from __future__ import annotations

import dataclasses

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from pyrle_spark.plans.encode_job import EncodeConfig, decode_table, encode_table
from pyrle_spark.plans.read_plan import winner_thin
from pyrle_spark.sources.icetable import IceTable

__all__ = ["encode_stream"]


def encode_stream(
    spark: SparkSession,
    source_dir: str,
    table_dir: str,
    config: EncodeConfig,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start the streaming encode; returns the StreamingQuery."""
    schema = spark.read.parquet(source_dir).schema

    def process_batch(batch_df, epoch_id: int):
        if batch_df.isEmpty():
            return
        # replace(), not a manual clone: copies EVERY config field
        # (shuffle_partitions, blocks_per_pass, ... included)
        cfg = dataclasses.replace(
            config,
            block_aligned=False,  # micro-batches are arbitrary file sets
            properties={**config.properties, "stream_epoch": epoch_id},
        )
        df = batch_df.select(cfg.order_col, *cfg.columns)
        br = cfg.block_rows
        # blocks the table holds only PARTIALLY, read in the driver from
        # the current snapshot's thin columns (no Spark job)
        partial = set()
        if IceTable(table_dir).exists():
            _, wthin = winner_thin(table_dir)
            partial = {
                b for b, n in zip(wthin["block_id"], wthin["n_rows"]) if n < br
            }
        if partial:
            # the ones this batch touches: pull their current rows in so
            # the re-encode is whole
            bid = F.floor(F.col(cfg.order_col) / F.lit(br)).cast("long")
            touched = [
                r[0]
                for r in df.select(bid.alias("b"))
                .filter(F.col("b").isin(sorted(partial)))
                .distinct()
                .collect()
            ]
            if touched:
                prev = decode_table(
                    spark,
                    table_dir,
                    columns=list(cfg.columns),
                    blocks=touched,
                    apply_deletes=False,
                ).select(F.col("_order").alias(cfg.order_col), *cfg.columns)
                # a replayed file may re-deliver rows the fragment already
                # holds: one row per position wins (contents are identical)
                df = df.unionByName(prev).dropDuplicates([cfg.order_col])
        # density guard: encoded blocks record no start offset, so every
        # block this pass writes must be a dense PREFIX of its order
        # range.  Out-of-order file arrival (a later range before an
        # earlier one) would otherwise decode rows at wrong positions
        # SILENTLY — refuse loudly instead; the source contract is
        # in-order range ingest.
        br_col = F.floor(F.col(cfg.order_col) / F.lit(br)).cast("long")
        bad = (
            df.groupBy(br_col.alias("_b"))
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.min(cfg.order_col).alias("_lo"),
                F.max(cfg.order_col).alias("_hi"),
            )
            .filter(
                (F.col("_lo") != F.col("_b") * br)
                | (F.col("_n") != F.col("_hi") - F.col("_lo") + 1)
            )
        )
        first_bad = bad.limit(1).collect()
        if first_bad:
            b = first_bad[0]
            raise ValueError(
                f"micro-batch rows for block {b['_b']} are not a dense "
                f"prefix (rows {b['_n']}, span [{b['_lo']}, {b['_hi']}]); "
                "the encode stream requires in-order, gap-free arrival "
                "of the order domain"
            )
        encode_table(spark, df, table_dir, cfg)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(source_dir)
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
