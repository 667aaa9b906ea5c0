"""Streaming decode: continuously tail an encoded table and deliver
DECODED rows per micro-batch — the consumer half of the CDC story
(``encode_stream`` is the producer half; ``scan_incremental`` is the
batch form of this).

Semantics: the file-stream checkpoint hands each data file to exactly
one micro-batch, and the batch acts as a TRIGGER — it names the touched
``block_id``s, and the delivery reads those blocks from the TABLE at
its current committed snapshot.  That manifest gating is load-bearing:

- a block whose column files STRADDLE two micro-batches (a widen pass
  racing the listing) is delivered whole when its last file arrives —
  the earlier files being checkpoint-consumed doesn't matter, because
  delivery reads the table, not the batch;
- files never referenced by a committed snapshot (aborted writers,
  rolled-back commits) trigger nothing deliverable — the table read
  simply doesn't contain them;
- rename aliases and type widening resolve exactly as in the batch
  reader (physical-name filter, widest-promoted-type cast).

At-least-once by design, like Iceberg's incremental scan: a re-encoded
block (resume completing a partial pass, a widen adding a column, a
compaction rewriting the table) is RE-delivered with its current
content, so exactly-once consumers key on ``block_id``/``_order`` and
upsert.  MoR deletes are not part of the append stream — diff them with
:func:`pyrle_spark.plans.encode_job.incremental_deletes`.  A concurrent
``expire_snapshots`` may delete files the stream has listed but not yet
read; ``ignoreMissingFiles`` keeps the tail alive through that.

Scale shape: per batch it is the same streaming ``mapInArrow`` decode
as the batch reader over only the touched blocks; state is Spark's file
log, O(files seen), no driver row state.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from pyrle_spark.plans.encode_job import ENCODED_SPARK_SCHEMA, _decode_plan
from pyrle_spark.plans.read_plan import plan_read

__all__ = ["decode_stream"]


def decode_stream(
    spark: SparkSession,
    table_dir: str,
    checkpoint_dir: str,
    process,
    columns: list | None = None,
    available_now: bool = True,
):
    """Start the streaming decode; ``process(decoded_df, epoch_id)`` is
    invoked per micro-batch with the decoded rows (``_order`` + columns).
    Returns the StreamingQuery.  ``trigger(availableNow=True)`` drains
    everything currently committed and stops (the batch-ish test mode);
    drop it for a long-running tail."""

    def _batch(batch_df, epoch_id: int):
        if batch_df.isEmpty():
            return
        # manifest-gated read of the touched blocks' CURRENT rows, planned
        # per batch (renames/widenings may land mid-stream).  Only blocks
        # complete for every present column decode now; an in-flight
        # widen's block re-triggers when its files commit.
        plan = plan_read(
            table_dir,
            columns=columns,
            blocks=batch_df.select("block_id").distinct(),
            apply_deletes=False,
            incomplete="skip",
        )
        if not plan.phys_of or plan.empty:
            return
        process(_decode_plan(spark, plan), epoch_id)

    stream = (
        spark.readStream.schema(ENCODED_SPARK_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("ignoreMissingFiles", "true")
        .parquet(f"{table_dir}/data/")
    )
    writer = stream.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
