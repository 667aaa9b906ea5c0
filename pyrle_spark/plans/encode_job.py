"""The distributed encode/decode pipeline.

Design (scale-first, see SURVEY.md §3.1/§4.2):

- The table is cut into fixed logical **blocks** of ``block_rows`` rows
  by an explicit order column (``block_id = floor(order / block_rows)``).
  Blocks are a property of the *data*, never of the parallelism level —
  the same input produces byte-identical encoded blocks at local[8] and
  local[32] (the N vs 4N determinism requirement).
- One groupBy-free ``mapInArrow`` pass does all column encoding: rows
  arrive sorted by (block_id, order) within each partition, the encoder
  streams through batches and flushes one Encoded row per (block,
  column) at block boundaries.  No Python row loops — the codec kernels
  are vectorized numpy/pyarrow over whole Arrow buffers.
- If the input is already **block-aligned** (one partition per block —
  e.g. the deterministic generator, or an Iceberg scan whose splits were
  planned on block boundaries), the shuffle is skipped entirely; task
  count scales with block count, executors just drain the task queue.
  Otherwise one hash repartition on block_id restores block integrity.
- Output is an Iceberg-style table (sources/icetable.py) of encoded
  rows.  Each encode task writes its own data file; the driver checks
  the tasks' stat rows and commits one snapshot whose manifest carries
  per-partition **lineage** rows (blocks, rows, bytes in/out, codecs,
  MB/s).
- **Resume**: a rerun reads the complete block ids of the current
  snapshot from its data files' thin columns in the driver (no Spark
  job), filters them out of the input and encodes only the remainder;
  a pass with nothing left commits no snapshot.
- Decode reverses the pass (same streaming mapInArrow, one row group per
  block) and is verified against stored crc32 checksums per
  (block, column) — no join against the source needed at scale.

Reference parity: the per-block (runs, values) storage generalizes
pyrle's Rle arrays (/root/reference/pyrle/rle.py:139-147); the stats-
driven codec choice generalizes its divisor-content kernel dispatch
(rle.py:740-743); ray-per-key parallelism (rledict.py:155-176) becomes
Spark tasks.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pyrle_spark.codecs import Encoded, decode_array
from pyrle_spark.codecs.base import arrow_to_payload, str_to_type
from pyrle_spark.plans.read_plan import (
    THIN_COLS,
    _read_thin,
    _surviving_blocks,
    _winners,
    contiguous_slices,
    decode_blocks,
    explain,
    norm_predicates,
    plan_read,
    read_blocks,
    run_tasks,
)
from pyrle_spark.sources.icetable import IceTable

__all__ = [
    "EncodeConfig",
    "assign_row_order",
    "compact_delete_vectors",
    "compact_table",
    "decode_table",
    "delete_rows",
    "delete_where",
    "delete_where_pred",
    "drop_column",
    "incremental_deletes",
    "limit_scan",
    "physical_column",
    "point_lookup",
    "rename_column",
    "rewrite_column_codec",
    "rewrite_sorted",
    "scan_incremental",
    "update_where",
    "encode_table",
    "encode_parquet_dir",
    "prune_blocks",
    "prune_blocks_eq",
    "prune_blocks_in",
    "scan_encoded",
    "explain_scan",
    "count_rows",
    "verify_checksums",
]

# decode's delete-application strategy switch: at or below this many
# visible delete positions the set materializes driver-side (list +
# broadcast anti-join + dict dead-block tally); above it everything
# stays distributed (parquet-relation anti-join + grouped dead-block
# prune) — a mass takedown must never OOM the driver
_DELETE_DRIVER_MAX = 1_000_000

ENCODED_SPARK_SCHEMA = (
    "block_id long, column string, codec string, arrow_type string, "
    "n_rows long, meta string, buffers map<string,binary>, "
    "bytes_in long, bytes_out long, encode_ns long, crc32 long, "
    "n_runs long, part_id int, zmin string, zmax string, bloom string"
)

_ENCODED_PA_SCHEMA = pa.schema(
    [
        ("block_id", pa.int64()),
        ("column", pa.string()),
        ("codec", pa.string()),
        ("arrow_type", pa.string()),
        ("n_rows", pa.int64()),
        ("meta", pa.string()),
        ("buffers", pa.map_(pa.string(), pa.binary())),
        ("bytes_in", pa.int64()),
        ("bytes_out", pa.int64()),
        ("encode_ns", pa.int64()),
        ("crc32", pa.int64()),
        ("n_runs", pa.int64()),
        ("part_id", pa.int32()),
        ("zmin", pa.string()),
        ("zmax", pa.string()),
        ("bloom", pa.string()),
    ]
)

def _encoded_schema_json() -> str:
    """ENCODED_SPARK_SCHEMA as a StructType JSON document, built without
    a SparkSession — commit paths that run outside the driver REPL (the
    V2 writer's planning subprocess) need it session-free."""
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    t = {"long": LongType(), "string": StringType(), "int": IntegerType()}
    fields = []
    for part in ENCODED_SPARK_SCHEMA.split(", "):
        name, typ = part.split(" ", 1)
        if typ == "map<string,binary>":
            fields.append(
                StructField(name, MapType(StringType(), BinaryType()), True)
            )
        else:
            fields.append(StructField(name, t[typ], True))
    return StructType(fields).json()


# ----------------------------------------------------- equality bloom digest

# Zone maps answer RANGE questions; a per-(block, column) bloom digest
# answers EQUALITY ones ("lang = 'sw'") that min/max can't prune when the
# value sits inside every block's range.  4096 bits (512 B of manifest
# per block-column — noise next to the block data), 2 probes, built only
# for blocks with ≤ _BLOOM_MAX_DISTINCT distinct values: at the cap
# m/n = 4 → ~15% false-positive rate, at a lang-like 100 distincts
# ~0.2%; a block with tens of thousands of distincts would saturate any
# practical filter.  Absent digest ⇒ block kept — the same
# conservative-superset contract as the zone maps.
_BLOOM_BITS = 4096
_BLOOM_MAX_DISTINCT = 1024
_BLOOM_SEED2 = 0x9747B28C


def _bloom_value_bytes(v) -> bytes | None:
    if isinstance(v, bytes):
        return v
    if isinstance(v, str):
        return v.encode("utf-8")
    if isinstance(v, (int, np.integer)):
        return str(int(v)).encode("ascii")
    return None  # floats/timestamps: equality pruning not supported


def _bloom_positions(data: bytes):
    h1 = zlib.crc32(data)
    h2 = zlib.crc32(data, _BLOOM_SEED2)
    return (h1 % _BLOOM_BITS, (h1 + h2) % _BLOOM_BITS)


def _bloom_digest(arr: pa.Array) -> str | None:
    """Hex bloom digest of the block's distinct values, or None when the
    type has no stable byte form or cardinality exceeds the cap."""
    import pyarrow.compute as pc

    try:
        uniq = pc.unique(arr)
    except pa.lib.ArrowNotImplementedError:
        return None
    if len(uniq) > _BLOOM_MAX_DISTINCT:
        return None
    bits = np.zeros(_BLOOM_BITS // 8, dtype=np.uint8)
    for v in uniq:
        pv = v.as_py()
        if pv is None:
            continue  # NULL never satisfies an equality predicate
        data = _bloom_value_bytes(pv)
        if data is None:
            return None
        for pos in _bloom_positions(data):
            bits[pos // 8] |= 1 << (pos % 8)
    return bits.tobytes().hex()


def _zone_str(v, typ: pa.DataType) -> str:
    """Stringify a zone-map bound; hex for binary (order-preserving via
    unhex at prune time), ISO for timestamps, repr digits otherwise."""
    if isinstance(v, bytes):
        return v.hex()
    if pa.types.is_timestamp(typ):
        return v.isoformat(sep=" ")
    return str(v)


def _zone_bounds(arr: pa.Array):
    """(zmin, zmax) strings for the block, or (None, None) when the type
    has no ordering or the block is empty/all-null.  NaNs are skipped
    (standard zone-map semantics: NaN never satisfies a range predicate)."""
    import pyarrow.compute as pc

    try:
        mm = pc.min_max(arr)
        mn, mx = mm["min"].as_py(), mm["max"].as_py()
    except pa.lib.ArrowNotImplementedError:
        return None, None
    if mn is None:
        return None, None
    if isinstance(mn, float) and mn == float("inf") and mx == float("-inf"):
        return None, None  # all-NaN block: min_max returns its identities
    return _zone_str(mn, arr.type), _zone_str(mx, arr.type)


@dataclass
class EncodeConfig:
    columns: list
    order_col: str = "doc_seq"
    block_rows: int = 65536
    block_aligned: bool = False
    # block_aligned input whose files are already sorted by order_col can
    # skip the sortWithinPartitions pass entirely (parquet scans preserve
    # within-file row order, and one block = one file means segments stay
    # contiguous).  That sort is a full extra pass of the raw bytes
    # through the JVM sorter — ~15-20% of encode wall on webtext.  The
    # encode kernel VERIFIES monotone _order per block when the sort is
    # skipped and raises if the claim is false, so this is an assertion,
    # not a trust-me flag.
    input_presorted: bool = False
    zstd_threshold: float = 0.9
    shuffle_partitions: int | None = None
    blocks_per_pass: int | None = None  # checkpoint granularity (None = one pass)
    # scan split cap for this pass (spark.sql.files.maxPartitionBytes /
    # openCostInBytes, restored afterwards).  With small block files the
    # default 128MB packing fuses many blocks into few splits and starves
    # the executors; set this to ~one block-file size to get one task per
    # block.  At 100 TB file sizes the default is already right.
    scan_split_bytes: int | None = None
    # {column: codec} pins — skip auto-selection for these columns (the
    # per-column analog of Parquet's compression option; "name+zstd"
    # wraps the pinned codec's buffers).  Stats still run for lineage.
    codec_overrides: dict = field(default_factory=dict)
    properties: dict = field(default_factory=dict)


def _payload_checksum(kind, payload, validity) -> int:
    crc = 0
    if kind == "var":
        offsets, data = payload
        crc = zlib.crc32(np.ascontiguousarray(offsets), crc)
        crc = zlib.crc32(np.ascontiguousarray(data), crc)
    else:
        crc = zlib.crc32(np.ascontiguousarray(payload), crc)
    if validity is not None:
        crc = zlib.crc32(np.packbits(validity), crc)
    return crc


def payload_checksum(arr: pa.Array) -> int:
    """crc32 over the logical payload bytes (values + offsets + validity);
    identical for an array and its decode(encode(·)) round trip."""
    kind, payload, validity = arrow_to_payload(arr)
    return _payload_checksum(kind, payload, validity)


def _payload_nbytes(kind, payload, validity, n: int) -> int:
    if kind == "var":
        offsets, data = payload
        nb = len(data) + offsets.nbytes
    else:
        nb = payload.nbytes
    if validity is not None:
        nb += (n + 7) // 8
    return nb


def _flush_block(
    block_id: int,
    cols: dict,
    part_id: int,
    zstd_threshold: float,
    overrides: dict | None = None,
):
    from pyrle_spark.codecs import encode_payload, encode_payload_auto
    from pyrle_spark.codecs.base import type_to_str
    from pyrle_spark.codecs.selector import column_stats

    rows = {k: [] for k in _ENCODED_PA_SCHEMA.names}
    for colname, chunks in cols.items():
        arr = pa.concat_arrays(chunks) if len(chunks) > 1 else chunks[0]
        t0 = time.perf_counter_ns()
        # extract the payload exactly once (zero-copy views), reuse it for
        # encoding, checksum, and size accounting
        kind, payload, validity = arrow_to_payload(arr)
        forced = (overrides or {}).get(colname)
        if forced:
            # user-pinned codec (EncodeConfig.codec_overrides) — the
            # per-column analog of Parquet's column compression option.
            # Stats still run so the lineage manifest stays complete;
            # "name+zstd" wraps the forced codec's buffers.
            stats = column_stats(kind, payload)
            stats["selected_by"] = "override"
            enc = encode_payload(
                forced.split("+")[0],
                kind,
                payload,
                validity,
                type_to_str(arr.type),
                len(arr),
                zstd=forced.endswith("+zstd"),
                stats=stats,
            )
        else:
            enc = encode_payload_auto(
                kind, payload, validity, type_to_str(arr.type), len(arr)
            )
        dt = time.perf_counter_ns() - t0
        stats = enc.meta.get("stats", {})
        zmin, zmax = _zone_bounds(arr)
        rows["zmin"].append(zmin)
        rows["zmax"].append(zmax)
        # the digest pays a full unique() pass — skip it when the
        # selector's sampled stats already say the column is
        # high-cardinality (html/text/url blocks would just hit the
        # distinct cap after hashing megabytes of strings)
        sample_n = stats.get("sample_n") or min(len(arr), 4096)
        ratio = stats.get("distinct_est", 0) / max(sample_n, 1)
        skip_bloom = len(arr) > _BLOOM_MAX_DISTINCT and ratio >= 0.5
        rows["bloom"].append(None if skip_bloom else _bloom_digest(arr))
        rows["block_id"].append(block_id)
        rows["column"].append(colname)
        rows["codec"].append(enc.codec)
        rows["arrow_type"].append(enc.arrow_type)
        rows["n_rows"].append(enc.n_rows)
        rows["meta"].append(json.dumps(enc.meta, separators=(",", ":")))
        rows["buffers"].append(list(enc.buffers_as_bytes().items()))
        rows["bytes_in"].append(_payload_nbytes(kind, payload, validity, len(arr)))
        rows["bytes_out"].append(enc.nbytes)
        rows["encode_ns"].append(dt)
        rows["crc32"].append(_payload_checksum(kind, payload, validity))
        rows["n_runs"].append(stats.get("n_runs"))
        rows["part_id"].append(part_id)
    return pa.RecordBatch.from_pydict(rows, schema=_ENCODED_PA_SCHEMA)


def _make_encode_fn(
    columns: list,
    zstd_threshold: float,
    verify_order: bool = False,
    overrides: dict | None = None,
):
    """Arrow-stream encode kernel.  With ``verify_order`` (the
    sort-was-skipped path, EncodeConfig.input_presorted) every block
    segment is checked for strictly increasing ``_order`` — including
    across batch boundaries of the same block — so a mis-declared
    presorted input fails the job loudly instead of silently encoding a
    permuted block."""

    def encode_stream(batches):
        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx else -1
        cur_bid = None
        last_ord = None
        acc: dict = {}
        for batch in batches:
            bids = batch.column("_block_id").to_numpy(zero_copy_only=False)
            if len(bids) == 0:
                continue
            if verify_order:
                ords = batch.column("_order").to_numpy(zero_copy_only=False)
            # segments of constant block id (rows are sorted by block)
            change = np.nonzero(np.diff(bids))[0] + 1
            seg_bounds = np.concatenate(([0], change, [len(bids)]))
            for s, e in zip(seg_bounds[:-1], seg_bounds[1:]):
                bid = int(bids[s])
                if bid != cur_bid:
                    if cur_bid is not None:
                        yield _flush_block(cur_bid, acc, part_id, zstd_threshold, overrides)
                    cur_bid = bid
                    last_ord = None
                    acc = {c: [] for c in columns}
                if verify_order:
                    seg = ords[s:e]
                    if (last_ord is not None and seg[0] <= last_ord) or (
                        len(seg) > 1 and not bool(np.all(np.diff(seg) > 0))
                    ):
                        raise ValueError(
                            f"input_presorted=True but block {bid} rows are "
                            "not strictly increasing by order_col in scan "
                            "order; re-run with input_presorted=False"
                        )
                    last_ord = int(seg[-1])
                for c in columns:
                    acc[c].append(batch.column(c).slice(int(s), int(e - s)))
        if cur_bid is not None:
            yield _flush_block(cur_bid, acc, part_id, zstd_threshold, overrides)

    return encode_stream


def encode_table(
    spark: SparkSession, df: DataFrame, out_dir: str, config: EncodeConfig
) -> dict:
    """Encode ``config.columns`` of ``df`` into the Iceberg-style table at
    ``out_dir``.  Returns a summary dict (also recorded in the snapshot
    manifest as lineage).

    With ``config.blocks_per_pass`` set, the job commits one snapshot per
    block range — a kill loses at most one in-flight pass (snapshot
    commits are atomic), and the rerun's resume filter skips every
    committed complete block; a range with nothing left to encode
    commits no snapshot.  This is the checkpoint granularity knob:
    at 10^12 docs you'd commit every O(10k) blocks, keeping both the
    redo window and the manifest append small.
    """
    if config.blocks_per_pass:
        hi = df.agg(F.max(config.order_col)).first()[0]
        if hi is None:
            return _encode_pass(spark, df, out_dir, config)
        n_blocks = int(hi) // config.block_rows + 1
        summaries = []
        for lo in range(0, n_blocks, config.blocks_per_pass):
            rng = (lo, min(lo + config.blocks_per_pass, n_blocks))
            summaries.append(_encode_pass(spark, df, out_dir, config, rng))
        return {
            "snapshot_id": summaries[-1]["snapshot_id"],
            "passes": len(summaries),
            "wall_s": round(sum(s["wall_s"] for s in summaries), 3),
            "resumed_committed_blocks": summaries[0]["resumed_committed_blocks"],
            "bytes_in": sum(s["bytes_in"] for s in summaries),
            "bytes_out": sum(s["bytes_out"] for s in summaries),
            "partitions": [p for s in summaries for p in s["partitions"]],
            "columns": [c for s in summaries for c in s["columns"]],
        }
    return _encode_pass(spark, df, out_dir, config)


def _encode_pass(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    config: EncodeConfig,
    block_range: tuple | None = None,
) -> dict:
    saved_conf = {}
    if config.scan_split_bytes:
        for k in ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes"):
            saved_conf[k] = spark.conf.get(k, None)
            spark.conf.set(k, str(config.scan_split_bytes))
    try:
        return _encode_pass_inner(spark, df, out_dir, config, block_range)
    finally:
        for k, v in saved_conf.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _prior_props_guarded(table: IceTable, cols: list) -> tuple:
    """The (columns, dropped, aliases, source_schema) tuple of an existing
    table, with the append-safety guards every new-snapshot writer needs:
    raises on pending renames / stale dropped columns among ``cols`` —
    resume and decode match blocks by PHYSICAL name, so either would
    corrupt the table.  Driver metadata only (no Spark job)."""
    if not table.exists():
        return (set(), set(), {}, {}, {})
    prior_props = table.properties()
    prior_cols = set(prior_props.get("columns", []))
    prior_dropped = set(prior_props.get("dropped_columns", []))
    prior_aliases = dict(prior_props.get("column_aliases", {}))
    prior_src_schema = dict(prior_props.get("source_schema", {}))
    alias_clash = set(cols) & (set(prior_aliases) | set(prior_aliases.values()))
    if alias_clash:
        # resume matches blocks by PHYSICAL name; encoding an aliased
        # logical name would fork the column into two physical names
        raise ValueError(
            f"columns {sorted(alias_clash)} are involved in a pending "
            f"rename in {table.path}; run compact_table first to "
            "materialize the rename, then re-encode"
        )
    clash = prior_dropped & set(cols)
    if clash:
        # stale pre-drop blocks still live in the data files; the
        # resume filter would see them as committed and decode
        # would serve pre-drop data for the "new" column
        raise ValueError(
            f"columns {sorted(clash)} were dropped from {table.path} but "
            "their stale blocks remain in the data files; run "
            "compact_table first to reclaim them, then re-encode"
        )
    # committed table-level stats survive appends (the Iceberg model:
    # stats persist stamped with their analyzed_snapshot — readers and
    # the incremental ANALYZE merge know exactly how stale they are)
    carry = (
        {"stats": prior_props["stats"]} if "stats" in prior_props else {}
    )
    return (prior_cols, prior_dropped, prior_aliases, prior_src_schema, carry)


def _prior_state(table: IceTable, cols: list, config: EncodeConfig):
    """Resume/widen state of an existing encoded table: returns
    ``(prior, committed, resumed_blocks)`` where ``prior`` is the
    (columns, dropped, aliases, source_schema) tuple carried into the new
    snapshot's properties and ``committed`` is the set of block ids that
    are COMPLETE for every requested column (``None`` for a fresh
    table).  Planned in the driver from the current snapshot's thin
    columns (the read planner's resume-dedup winners); no Spark job.

    Only COMPLETE blocks are resumable: a partial trailing block from an
    earlier pass (input grew, or kill mid-range) must be re-encoded; the
    new complete row supersedes it via max-n_rows dedup on read.  A block
    counts as committed only when EVERY requested column is complete for
    it — so widening a table (re-running with extra columns) re-encodes
    exactly the blocks missing the new columns instead of silently
    skipping them, and resume stays exact when the column set changes
    between runs."""
    if not table.exists():
        return (set(), set(), {}, {}, {}), None, 0
    prior = _prior_props_guarded(table, cols)
    snap = table.current_snapshot_id()
    thin = _read_thin(
        [f["path"] for f in table._manifest(snap)["files"]] if snap else []
    )
    want = set(cols)
    complete: dict = {}
    for (bid, c), i in _winners(thin).items():
        if c in want and thin["n_rows"][i] == config.block_rows:
            complete[bid] = complete.get(bid, 0) + 1
    committed = {b for b, n in complete.items() if n == len(want)}
    return (prior, committed, len(committed))


def _encode_pass_inner(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    config: EncodeConfig,
    block_range: tuple | None = None,
) -> dict:
    cols = list(config.columns)
    base = df.select(
        F.col(config.order_col).alias("_order"),
        *[F.col(c) for c in cols],
    ).withColumn(
        "_block_id", F.floor(F.col("_order") / F.lit(config.block_rows)).cast("long")
    )
    if block_range is not None:
        base = base.filter(
            (F.col("_block_id") >= block_range[0])
            & (F.col("_block_id") < block_range[1])
        )
    table = IceTable(out_dir)
    prior, committed, resumed_blocks = _prior_state(table, cols, config)
    done = sorted(
        b for b in committed or ()
        if block_range is None or block_range[0] <= b < block_range[1]
    )
    if done:
        # resume: drop committed blocks before the shuffle.  A literal
        # set (Catalyst InSet) launches no job, where a join against a
        # driver-built frame costs a collect or a shuffle of both sides;
        # with blocks_per_pass it holds at most one pass's blocks
        base = base.filter(~F.col("_block_id").isin(done))
    work = base
    skip_sort = config.block_aligned and config.input_presorted
    if not config.block_aligned:
        # over-partition 4× so hash collisions rarely stack two blocks on
        # one task (block count >> partitions → stragglers; empty
        # partitions are nearly free)
        nparts = config.shuffle_partitions or 4 * max(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            spark.sparkContext.defaultParallelism,
        )
        work = work.repartition(nparts, "_block_id")
    if not skip_sort:
        work = work.sortWithinPartitions("_block_id", "_order")
    encode = _make_encode_fn(
        cols,
        config.zstd_threshold,
        verify_order=skip_sort,
        overrides=dict(config.codec_overrides) or None,
    )
    snap_id = table.new_snapshot_id()
    data_dir = os.path.join(out_dir, "data", snap_id)
    t0 = time.time()
    # each task writes its own data file (_write_block_file); only the
    # stat rows come back to the driver
    stats = work.mapInArrow(
        lambda batches: _write_block_file(encode(batches), data_dir),
        _STAT_SPARK_SCHEMA,
    ).toArrow()
    wall_s = time.time() - t0
    # nothing left to encode: commit no snapshot — unless the table is
    # new or the pass adds columns, whose snapshot records their types
    if stats.num_rows == 0 and committed is not None and set(cols) <= prior[0]:
        return _noop_summary(table, resumed_blocks)
    src_schema_json = {c: base.schema[c].dataType.jsonValue() for c in cols}
    return _commit_blocks(
        table,
        snap_id,
        stats,
        cols,
        _snapshot_properties(config, cols, prior, src_schema_json),
        resumed_blocks=resumed_blocks,
        wall_s=wall_s,
    )


def _snapshot_properties(config: EncodeConfig, cols, prior, src_schema_json) -> dict:
    prior_cols, prior_dropped, prior_aliases, prior_src_schema, carry = prior
    return {
        **carry,
        "kind": "encoded_blocks",
        "block_rows": config.block_rows,
        "order_col": config.order_col,
        # union with any previously-encoded columns: a widen pass that
        # encodes only the NEW columns must not shrink the column list
        # the latest snapshot advertises to decode_table
        "columns": sorted(set(cols) | set(prior_cols)),
        "dropped_columns": sorted(prior_dropped),
        "column_aliases": prior_aliases,
        # logical Spark type per column, merged across widen passes:
        # lets decode_table type an EMPTY table (zero live blocks),
        # where no block row exists to carry an arrow_type
        "source_schema": {**prior_src_schema, **src_schema_json},
        **config.properties,
    }


# ------------------------------------------- one block writer, one commit
#
# Every encode lands the same way — encode_table, encode_parquet_dir and
# the format("pyrle") writer alike (Iceberg's commit protocol): each task
# streams its encoded block batches into ONE uniquely named data file it
# writes itself (:func:`_write_block_file`) and reports only per-(block,
# column) stat rows; the driver checks those rows and links exactly the
# reported files in one metadata commit (:func:`_commit_blocks`).  The
# encoded bytes never cross into the JVM.

_STAT_SPARK_SCHEMA = (
    "block_id long, column string, codec string, n_rows long, "
    "bytes_in long, bytes_out long, encode_ns long, n_runs long, "
    "part_id int, file string, file_bytes long"
)
_STAT_COLS = [
    "block_id", "column", "codec", "n_rows", "bytes_in", "bytes_out",
    "encode_ns", "n_runs", "part_id",
]
_STAT_PA_SCHEMA = pa.schema(
    [_ENCODED_PA_SCHEMA.field(c) for c in _STAT_COLS]
    + [("file", pa.string()), ("file_bytes", pa.int64())]
)


def _write_block_file(encoded, data_dir: str):
    """Task side of every encode: write the encoded block batches
    ``encoded`` (the :func:`_make_encode_fn` kernel's output) into ONE
    uniquely named data file under ``data_dir`` — pyarrow writer, one row
    group per block, since multi-MB pre-compressed buffers want small
    groups — and yield only their stat rows (``_STAT_PA_SCHEMA``).
    Kill-atomic: the file is written under a ``.inprogress`` name and
    renamed at close, so a killed attempt never leaves a readable
    ``.parquet`` — only an orphan vacuum() reclaims — and the manifest
    links exactly what successful attempts reported.  A task with no
    rows writes no file."""
    import uuid as _uuid

    import pyarrow.parquet as pq

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx else 0
    writer = None
    final = tmp = None
    kept = []
    try:
        for enc_rb in encoded:
            if writer is None:
                os.makedirs(data_dir, exist_ok=True)
                final = os.path.join(
                    data_dir, f"part-{pid:05d}-{_uuid.uuid4().hex[:8]}.parquet"
                )
                tmp = final + ".inprogress"
                writer = pq.ParquetWriter(
                    tmp, _ENCODED_PA_SCHEMA, compression="none"
                )
            writer.write_batch(enc_rb)
            kept.append(enc_rb.select(_STAT_COLS))
    finally:
        if writer is not None:
            writer.close()
    if writer is None:
        return
    os.replace(tmp, final)
    stats = pa.Table.from_batches(kept)
    n = stats.num_rows
    stats = stats.append_column("file", pa.array([final] * n, pa.string()))
    stats = stats.append_column(
        "file_bytes", pa.array([os.path.getsize(final)] * n, pa.int64())
    )
    yield from stats.combine_chunks().to_batches()


def _remove_files(paths) -> None:
    """Best-effort removal of written data files (and of their
    directories once empty) — the cleanup of a refused write."""
    for p in set(paths):
        with contextlib.suppress(OSError):
            os.remove(p)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(p))


def _check_split_blocks(stats: pa.Table) -> None:
    """The split-block check, run on a write's stat rows before anything
    commits: a (block, column) written twice means the input was not
    clustered by block — a scan split or a task boundary cut a block in
    two, or a task revisited it.  Read-side dedup would keep one part
    and silently drop the other's rows, so the written files are removed
    and the write fails instead."""
    import pyarrow.compute as pc

    g = stats.group_by(["block_id", "column"], use_threads=False).aggregate(
        [([], "count_all")]
    )
    dup = g.filter(pc.greater(g["count_all"], 1))
    if dup.num_rows == 0:
        return
    bid = dup["block_id"][0].as_py()
    files = sorted(
        set(stats.filter(pc.equal(stats["block_id"], bid))["file"].to_pylist())
    )
    _remove_files(stats["file"].to_pylist())
    raise ValueError(
        f"block {bid} was written more than once (files {files}): the "
        "input was not clustered by block — repartition by "
        "floor(order_col / block_rows) and sortWithinPartitions(order_col), "
        "or encode it with encode_table(block_aligned=False)"
    )


def _lineage(stats: pa.Table, cols: list) -> tuple:
    """Roll a write's stat rows (``_STAT_COLS``) into the per-partition
    and per-column lineage views, through one cell per (part_id, column,
    codec); sums follow SQL (all-null ``n_runs`` sums to None)."""
    g = stats.group_by(["part_id", "column", "codec"], use_threads=False).aggregate([
        ("block_id", "count"), ("n_rows", "sum"), ("bytes_in", "sum"),
        ("bytes_out", "sum"), ("encode_ns", "sum"), ("n_runs", "sum"),
    ])
    names = {"block_id_count": "blocks", "n_rows_sum": "rows",
             "n_runs_sum": "runs_emitted"}
    cells = g.rename_columns(
        [names.get(c, c.removesuffix("_sum")) for c in g.column_names]
    ).to_pylist()
    lineage_by_part: dict = {}
    col_by_key: dict = {}
    for c in cells:
        p = lineage_by_part.setdefault(
            c["part_id"],
            {"part_id": c["part_id"], "blocks": 0, "rows": 0, "bytes_in": 0,
             "bytes_out": 0, "encode_ns": 0},
        )
        if c["column"] == cols[0]:
            p["blocks"] += c["blocks"]  # (block, column) unique → per-column
            p["rows"] += c["rows"]      # counts = distinct blocks in part
        p["bytes_in"] += c["bytes_in"]
        p["bytes_out"] += c["bytes_out"]
        p["encode_ns"] += c["encode_ns"]
        k = (c["column"], c["codec"])
        cc = col_by_key.setdefault(
            k, {"column": k[0], "codec": k[1], "blocks": 0, "bytes_in": 0,
                "bytes_out": 0, "runs_emitted": None},
        )
        cc["blocks"] += c["blocks"]
        cc["bytes_in"] += c["bytes_in"]
        cc["bytes_out"] += c["bytes_out"]
        if c["runs_emitted"] is not None:
            cc["runs_emitted"] = (cc["runs_emitted"] or 0) + c["runs_emitted"]
    parts = sorted(lineage_by_part.values(), key=lambda r: r["part_id"])
    for row in parts:
        ns = max(row["encode_ns"], 1)
        row["encode_mb_per_s"] = round(row["bytes_in"] / 1e6 / (ns / 1e9), 2)
    return parts, sorted(col_by_key.values(), key=lambda r: (r["column"], r["codec"]))


def _commit_blocks(
    table: IceTable,
    snap_id: str,
    stats: pa.Table,
    cols: list,
    properties: dict,
    mode: str = "append",
    resumed_blocks: int = 0,
    wall_s: float = 0.0,
) -> dict:
    """Driver side of every encode: check the tasks' stat rows
    (:func:`_check_split_blocks`), roll them up into lineage, and link
    the reported files as snapshot ``snap_id`` in one metadata commit
    that carries the lineage.  Returns the encode summary."""
    _check_split_blocks(stats)
    parts, per_column = _lineage(stats, cols)
    wall_s = round(wall_s, 3)
    files = sorted(
        set(zip(stats["file"].to_pylist(), stats["file_bytes"].to_pylist()))
    )
    table.commit_files(
        snap_id,
        [{"path": f, "bytes": b} for f, b in files],
        _encoded_schema_json(),
        mode=mode,
        properties={
            **properties,
            "lineage": {"partitions": parts, "columns": per_column, "wall_s": wall_s},
        },
    )
    return {
        "snapshot_id": snap_id,
        "wall_s": wall_s,
        "resumed_committed_blocks": resumed_blocks,
        "bytes_in": sum(r["bytes_in"] for r in parts),
        "bytes_out": sum(r["bytes_out"] for r in parts),
        "partitions": parts,
        "columns": per_column,
    }


def _noop_summary(table: IceTable, resumed_blocks: int) -> dict:
    """The summary of a pass that found every block committed: it commits
    no snapshot and reports the current one with zero lineage."""
    return {
        "snapshot_id": table.current_snapshot_id(),
        "wall_s": 0.0,
        "resumed_committed_blocks": resumed_blocks,
        "bytes_in": 0,
        "bytes_out": 0,
        "partitions": [],
        "columns": [],
    }


# ------------------------------------------------- file-direct encode path
#
# encode_table reads its input through a Spark scan, so every raw byte
# crosses twice before a codec sees it: parquet → JVM columnar batches →
# Arrow IPC over the local socket → Python.  Measured on webtext that
# transfer, not the codecs, is the encode bottleneck (BENCH/BASELINE.md:
# a no-op scan+transfer pass costs the same as the full encode).
# encode_parquet_dir removes it for block-aligned parquet input: the
# driver plans — file footers, the resume set, the task payloads — and
# the Arrow workers read parquet with pyarrow, so the raw bytes never
# enter the JVM.  Both paths land their blocks the same way (the shared
# writer and commit above); the driver touches O(#files) footers and the
# manifest's thin columns, never data.

_FOOTER_SCHEMA = "path string, min_order long, max_order long, n_rows long"


def _file_footer_stats(path: str, order_col: str):
    """(min_order, max_order, n_rows) of one parquet file from footer
    statistics — O(footer bytes), never the data.  Falls back to reading
    just the order column when a writer omitted stats.  None for an
    empty file."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    if md.num_rows == 0:
        return None
    try:
        ci = md.schema.names.index(order_col)
    except ValueError:
        raise ValueError(f"{path} has no column {order_col!r}") from None
    mn = mx = None
    ok = True
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(ci).statistics
        if st is None or not st.has_min_max:
            ok = False
            break
        mn = st.min if mn is None else min(mn, st.min)
        mx = st.max if mx is None else max(mx, st.max)
    if not ok or mn is None:
        mm = pc.min_max(
            pq.read_table(path, columns=[order_col]).column(order_col)
        ).as_py()
        mn, mx = mm["min"], mm["max"]
    return int(mn), int(mx), int(md.num_rows)


# below this many files the driver reads the footers itself (a parquet
# footer is ~KB; Spark's own file-source planning spends the same budget
# driver-side) — above it, a distributed footer job keeps the driver
# O(#files) in MEMORY but not in I/O
_DRIVER_FOOTER_MAX_FILES = 512


def _make_footer_fn(order_col: str):
    """Distributed per-file footer-stats pass (see _file_footer_stats)
    over one task payload: a JSON list of paths."""

    def footer_task(payload: str):
        out = {"path": [], "min_order": [], "max_order": [], "n_rows": []}
        for p in json.loads(payload):
            st = _file_footer_stats(p, order_col)
            if st is None:
                continue
            out["path"].append(p)
            out["min_order"].append(st[0])
            out["max_order"].append(st[1])
            out["n_rows"].append(st[2])
        yield pa.RecordBatch.from_pydict(
            out, schema=pa.schema([
                ("path", pa.string()), ("min_order", pa.int64()),
                ("max_order", pa.int64()), ("n_rows", pa.int64()),
            ])
        )

    return footer_task


def _jvm_equivalent_type(t: pa.DataType) -> pa.DataType:
    """The Arrow type Spark's own Arrow transfer would hand the kernel
    for a column parquet stores as ``t`` — the file-direct path normalizes
    to it so codec payloads (and therefore block crc32 / bytes_out) are
    bit-identical to encode_table's.  Spark's TimestampType is
    microseconds in the session timezone (pinned UTC by get_spark); a
    parquet writer may have stored ns and/or naive values, which Spark
    truncates/reinterprets exactly like this cast does."""
    if pa.types.is_timestamp(t):
        return pa.timestamp("us", tz="UTC")
    if pa.types.is_large_string(t):
        return pa.string()
    if pa.types.is_large_binary(t):
        return pa.binary()
    return t


def _make_file_encode_fn(
    columns: list, order_col: str, block_rows: int, zstd_threshold: float
):
    """Encode kernel over ``(path, wanted blocks)`` work rows (``None``
    wants every block of the file): the task opens its parquet files with
    pyarrow (column-pruned), derives ``_block_id`` from the order column,
    masks to the wanted (uncommitted) blocks, and feeds the stream into
    the shared :func:`_make_encode_fn` kernel — which also verifies
    strictly increasing order per block, so an unsorted or misdeclared
    file fails loudly."""
    inner = _make_encode_fn(list(columns), zstd_threshold, verify_order=True)

    def block_batches(work):
        import pyarrow.parquet as pq

        for p, want in work:
            want_arr = (
                np.asarray(sorted(want), dtype=np.int64)
                if want is not None
                else None
            )
            pf = pq.ParquetFile(p)
            for rb in pf.iter_batches(columns=[order_col] + list(columns)):
                if rb.num_rows == 0:
                    continue
                onp = rb.column(order_col).to_numpy(
                    zero_copy_only=False
                ).astype(np.int64, copy=False)
                bids = onp // block_rows
                if want_arr is not None:
                    mask = np.isin(bids, want_arr)
                    if not mask.any():
                        continue
                    if not mask.all():
                        rb = rb.filter(pa.array(mask))
                        onp = onp[mask]
                        bids = bids[mask]
                data = []
                for c in columns:
                    a = rb.column(c)
                    tgt = _jvm_equivalent_type(a.type)
                    if tgt != a.type:
                        a = a.cast(tgt, safe=False)
                    data.append(a)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(bids), pa.array(onp)] + data,
                    names=["_block_id", "_order"] + list(columns),
                )

    def file_stream(work):
        yield from inner(block_batches(work))

    return file_stream


def _parquet_source_schema(path: str, cols: list) -> dict:
    """Logical Spark type per column from a parquet footer (the
    ``source_schema`` snapshot property, used to type empty tables)."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    sch = pq.read_schema(path)
    return {
        c: from_arrow_type(_jvm_equivalent_type(sch.field(c).type)).jsonValue()
        for c in cols
    }


def encode_parquet_dir(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    config: EncodeConfig,
    files: list | None = None,
) -> dict:
    """Encode a block-aligned parquet directory without the raw bytes ever
    crossing the JVM↔Python socket (see module comment above).

    Requirements (each verified, violations fail loudly):
    - every file starts on a ``block_rows`` boundary of ``order_col``
      (footer-stats check) and no block spans two files (a sorted sweep
      over the files' block spans);
    - rows within a file are sorted by ``order_col`` (the shared encode
      kernel verifies strict monotonicity per block).
    Arbitrary layouts should use :func:`encode_table` (Spark scan +
    shuffle-to-blocks), which handles any input.

    Resume is exact and file-granular → block-granular: the driver reads
    the complete block ids from the current snapshot's thin columns,
    fully committed files are never opened, and a partially committed
    file is re-read with the committed blocks masked out in the kernel.

    Task layout: the driver sorts the work rows ``(path, wanted blocks)``
    by block span and cuts them into ``min(#files, defaultParallelism)``
    contiguous payloads whose file counts differ by at most one, so each
    task encodes one contiguous block range.  One Spark job runs them
    all (:func:`~pyrle_spark.plans.read_plan.run_tasks`, no shuffle).
    The split is fixed before the job starts: there is no dynamic
    rebalancing, so files of very different sizes make uneven tasks.

    Blocks land like every encode's: each task writes its own
    kill-atomic data file (:func:`_write_block_file`) and the job's only
    output is the per-(block, column) stat rows, which the driver checks
    and commits (:func:`_commit_blocks`).  A fully committed input
    launches no job and commits no snapshot.

    Output is bit-identical to :func:`encode_table` on the same input,
    aligned or shuffled (pinned by tests): blocks are a property of the
    data, not of the path that encoded them.
    """
    cols = list(config.columns)
    if not config.block_aligned:
        raise ValueError(
            "encode_parquet_dir requires EncodeConfig.block_aligned=True "
            "(one block never spans two files); use encode_table for "
            "arbitrary layouts"
        )
    if files is None:
        files = []
        for root, _, names in os.walk(src_dir):
            for n in sorted(names):
                if n.endswith(".parquet"):
                    files.append(os.path.join(root, n))
    if not files:
        raise ValueError(f"no parquet files under {src_dir}")
    table = IceTable(out_dir)
    prior, committed, resumed_blocks = _prior_state(table, cols, config)
    br = int(config.block_rows)
    par = spark.sparkContext.defaultParallelism
    # ---- planning: the footers (read in the driver below the threshold,
    # one Spark job above it), then pure-Python validation over the
    # O(#files) span tuples.  Planning latency is the serial fraction of
    # the whole encode — at 4N parallelism every extra Spark action here
    # costs scaling efficiency directly (Amdahl) — so a call launches at
    # most 2 jobs: the footer pass (large dirs only) and the encode.
    if len(files) <= _DRIVER_FOOTER_MAX_FILES:
        footer_rows = []
        for p in files:
            st = _file_footer_stats(p, config.order_col)
            if st is not None:
                footer_rows.append((p, st[0], st[1], st[2]))
    else:
        footer_rows = [
            tuple(r)
            for r in run_tasks(
                spark,
                [json.dumps(part) for part in contiguous_slices(files, par)],
                _make_footer_fn(config.order_col),
                _FOOTER_SCHEMA,
            ).collect()
        ]
    misaligned = [p for p, mn, _, _ in footer_rows if mn % br != 0][:4]
    if misaligned:
        raise ValueError(
            "files do not start on a block boundary (order_col % "
            f"block_rows != 0), e.g. {misaligned}; "
            "use encode_table(block_aligned=False) for this layout"
        )
    # no block spans two files ⇔ the files' block-id spans are pairwise
    # disjoint: one sorted sweep over O(#files) tuples
    spans = sorted((mn // br, mx // br, p) for p, mn, mx, _ in footer_rows)
    for (lo1, hi1, p1), (lo2, _, p2) in zip(spans, spans[1:]):
        if lo2 <= hi1:
            raise ValueError(
                f"block {lo2} spans multiple files ({p1}, {p2}); "
                "use encode_table(block_aligned=False) for this layout"
            )
    if committed is not None:
        # resume: fully committed files are never opened, partially
        # committed ones get a blocks mask
        work_rows = []
        for lo, hi, p in spans:
            want = [b for b in range(lo, hi + 1) if b not in committed]
            if want:
                work_rows.append((p, want))
    else:
        work_rows = [(p, None) for _, _, p in spans]
    if not work_rows:
        return _noop_summary(table, resumed_blocks)
    src_schema_json = _parquet_source_schema(files[0], cols)
    snap_id = table.new_snapshot_id()
    data_dir = os.path.join(out_dir, "data", snap_id)
    encode = _make_file_encode_fn(cols, config.order_col, br, config.zstd_threshold)
    t0 = time.time()
    # ONE job runs the whole encode; its output is the raw stat rows,
    # O(blocks × columns), rolled up here.  A lost-executor recompute
    # could re-write a task file — its replacement gets a fresh unique
    # name, the stale one becomes a vacuum()-able orphan (the same
    # guarantee Iceberg gives speculative attempts).
    stats = run_tasks(
        spark,
        [json.dumps(part) for part in contiguous_slices(work_rows, par)],
        lambda payload: _write_block_file(encode(json.loads(payload)), data_dir),
        _STAT_SPARK_SCHEMA,
    ).toArrow()
    return _commit_blocks(
        table,
        snap_id,
        stats,
        cols,
        _snapshot_properties(config, cols, prior, src_schema_json),
        resumed_blocks=resumed_blocks,
        wall_s=time.time() - t0,
    )


def dedup_blocks(enc: DataFrame) -> DataFrame:
    """Per (block_id, column) keep the most complete row — a re-encoded
    complete block supersedes an earlier partial one (resume semantics)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("block_id", "column").orderBy(F.desc("n_rows"))
    return (
        enc.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def delete_rows(
    spark: SparkSession,
    table_dir: str,
    positions,
    only_if_snapshot: str | None = None,
    driver_max: int | None = None,
) -> dict:
    """Merge-on-read row deletion (the Iceberg v2 position-delete file):
    record the given ``_order`` positions in a delete vector; subsequent
    ``decode_table`` reads anti-join them out WITHOUT rewriting a single
    block.  The write path a takedown/right-to-be-forgotten request
    takes against a 100 TB training table — O(deleted rows) cost, not
    O(table).

    ``positions``: iterable of ints, or a DataFrame with an ``_order``
    column.  Each call commits one delete vector (one file, or — past
    ``_DELETE_DRIVER_MAX`` positions — a directory of range-partitioned
    task-written files, so a mass takedown never materializes its
    position set on the driver) plus an atomic manifest update tagged
    with the current snapshot id — time travel to an OLDER snapshot
    does not see deletes committed after it.

    ``only_if_snapshot``: makes the entry CONDITIONAL — it is invisible
    unless the named snapshot exists in the log.  Used by writers that
    must pair a delete vector with a data snapshot atomically (concat's
    carried deletes): publish the conditional entry first, then commit
    the snapshot; a crash in between leaves an entry that never applies
    (its positions would otherwise target block ids a later unrelated
    append could allocate).  ``expire_snapshots`` clears the marker for
    snapshots it retires, so the delete outlives its trigger's history.

    ``driver_max``: override of the module default driver-side position
    cutover (``_DELETE_DRIVER_MAX``), threaded explicitly so callers
    (tests, registry queries) never mutate the module global.

    Returns ``{"file"|"files", "n_positions", "as_of_snapshot"}``."""
    import os
    import uuid as _uuid

    import pyarrow.parquet as pq

    if driver_max is None:
        driver_max = _DELETE_DRIVER_MAX
    table = IceTable(table_dir)
    del_dir = os.path.join(table_dir, "deletes")
    os.makedirs(del_dir, exist_ok=True)
    files: list | None = None
    n_pos = 0
    if isinstance(positions, DataFrame):
        pos = positions.select(F.col("_order").cast("long")).distinct()
        # bounded probe: pull at most threshold+1 rows.  At or below the
        # threshold the pull IS the position set (limit past the end
        # returns everything) — one job either way.
        pdf = pos.limit(driver_max + 1).toPandas()
        if len(pdf) > driver_max:
            # distributed write: tasks write range-partitioned sorted
            # parquet under one vector directory; the driver touches only
            # footers.  A 10⁹-position takedown is one shuffle + write,
            # zero driver materialization (the write twin of decode's
            # distributed anti-join path).  Explicit partition count
            # (≤ threshold positions per file) keeps each vector file
            # driver-loadable for the small-read path and is honored
            # verbatim (AQE does not coalesce a user-given numPartitions).
            n_total = pos.count()
            n_parts = max(2, min(4096, -(-n_total // driver_max)))
            out_dir = os.path.join(del_dir, f"del-{_uuid.uuid4().hex[:12]}")
            (
                pos.repartitionByRange(n_parts, F.col("_order"))
                .sortWithinPartitions("_order")
                .write.mode("errorifexists")
                .parquet(out_dir)
            )
            files = []
            for root, _, names in os.walk(out_dir):
                for name in sorted(names):
                    if not name.endswith(".parquet"):
                        continue
                    full = os.path.join(root, name)
                    nr = pq.ParquetFile(full).metadata.num_rows
                    if nr == 0:
                        os.remove(full)  # empty-partition stub
                        continue
                    files.append(full)
                    n_pos += nr
        else:
            pos_list = sorted(int(x) for x in pdf["_order"])
    else:
        pos_list = sorted({int(x) for x in positions})
    if files is None:
        fname = os.path.join(del_dir, f"del-{_uuid.uuid4().hex[:12]}.parquet")
        pq.write_table(
            pa.table({"_order": pa.array(pos_list, pa.int64())}), fname
        )
        files = [fname]
        n_pos = len(pos_list)
    # the manifest commit is one new immutable shard + an index update
    # (read_delete_entries' sharded model — O(1) entries of metadata
    # I/O per takedown, like snapshot commits); the index update is a
    # read-modify-write, so it serializes under the same table commit
    # lock as snapshot commits
    from pyrle_spark.sources.icetable import append_delete_entry, commit_lock

    with commit_lock(table_dir):
        cur = table.current_snapshot_id()
        entry = {
            **({"file": files[0]} if len(files) == 1 else {"files": files}),
            "n_positions": n_pos,
            "as_of_snapshot": cur,
            # commit-time anchor: keeps visibility decidable even after
            # the tagging snapshot itself is expired from the log
            "as_of_ts": next(
                (s["timestamp_ms"] for s in table.snapshots() if s["id"] == cur),
                None,
            ),
        }
        if only_if_snapshot is not None:
            entry["only_if_snapshot"] = only_if_snapshot
        append_delete_entry(table_dir, entry)
    return entry


def physical_column(
    table: IceTable, column: str, snapshot_id: str | None = None
) -> str:
    """Resolve a logical column name to its storage (block) name through
    the snapshot's rename aliases — every API that filters block rows by
    name must go through this, or a pending ``rename_column`` would make
    the filter silently match nothing."""
    return table.properties(snapshot_id).get("column_aliases", {}).get(
        column, column
    )


def delete_where(
    spark: SparkSession,
    table_dir: str,
    column: str,
    values: list,
    driver_max: int | None = None,
) -> dict:
    """Equality delete (the Iceberg v2 equality-delete file, realized as
    positions): remove every row whose ``column`` is in ``values`` —
    'delete all rows for these urls', the takedown request as users
    actually phrase it.

    Resolution is pruned, not a full scan: the read planner drops, in
    the driver, blocks whose zone or bloom digest rules out every value,
    only survivors decode (that one column), and the matching ``_order``
    positions become a regular position-delete commit.  Returns
    :func:`delete_rows`'s summary."""
    doomed = scan_encoded(
        spark, table_dir, columns=[column], predicates=[(column, list(values))]
    ).select("_order")
    return delete_rows(spark, table_dir, doomed, driver_max=driver_max)


def delete_where_pred(
    spark: SparkSession,
    table_dir: str,
    predicates: list | None = None,
    any_of: list | None = None,
    driver_max: int | None = None,
) -> dict:
    """Predicate delete — ``DELETE FROM t WHERE <conjunction / DNF>`` in
    the same tuple forms :func:`scan_encoded` takes (range, equality,
    IN).  Generalizes :func:`delete_where`'s equality-only form: the
    predicate pushes down through zone ∩ bloom pruning, only surviving
    blocks decode (only the predicate's columns), and matching
    ``_order`` positions become one position-delete commit — the cost is
    O(matching blocks), never a table rewrite.

    Returns :func:`delete_rows`'s summary."""
    need = sorted(
        {p[0] for p in (predicates or [])}
        | {p[0] for conj in (any_of or []) for p in conj}
    )
    if not need:
        raise ValueError("delete_where_pred requires at least one predicate")
    doomed = scan_encoded(
        spark, table_dir, columns=need, predicates=predicates, any_of=any_of
    ).select("_order")
    return delete_rows(spark, table_dir, doomed, driver_max=driver_max)


def _visible_delete_files(table_dir: str, snapshot_id: str | None) -> list:
    """Paths of the delete-vector files visible at ``snapshot_id``
    (None = latest): entries tagged with a snapshot at-or-before it in
    the snapshot log.  Metadata-only (no parquet reads); entry loading
    goes through the sharded manifest's per-process cache, so repeated
    planning parses only shards new takedowns added."""
    from pyrle_spark.sources.icetable import read_delete_entries

    entries = read_delete_entries(table_dir)
    if not entries:
        return []
    table = IceTable(table_dir)
    snaps = table.snapshots()
    order = [s["id"] for s in snaps]
    limit = (
        order.index(snapshot_id) if snapshot_id in order else len(order) - 1
    )
    read_ts = snaps[limit]["timestamp_ms"] if snaps else None

    order_set = set(order)

    def _visible(e: dict) -> bool:
        # conditional entry (concat's carried deletes): invisible unless
        # its paired data snapshot actually committed — a crash between
        # the entry publish and the snapshot commit must never leave a
        # vector that deletes rows a LATER append puts at those block ids.
        # expire_snapshots clears the marker when it retires the snapshot,
        # so a legitimately-expired trigger doesn't resurrect the rows.
        cond = e.get("only_if_snapshot")
        if cond is not None and cond not in order_set:
            return False
        a = e.get("as_of_snapshot")
        if a is None:
            return True  # delete against an empty table predates everything
        if a in order:
            return order.index(a) <= limit
        # The tagging snapshot was expired.  Pinned refs let expiry remove
        # a MID-log snapshot (one newer than a retained one), so "absent ⇒
        # predates everything ⇒ always apply" would wrongly apply such a
        # delete to older pinned reads.  Fall back to commit-time order:
        # entries record as_of_ts, and snapshot ids embed their commit ms
        # as a hex prefix for legacy entries.
        ts = e.get("as_of_ts")
        if ts is None:
            try:
                ts = int(str(a).split("-", 1)[0], 16)
            except ValueError:
                return True  # unparseable legacy tag: err toward applying
        return read_ts is None or ts <= read_ts

    out: list = []
    for e in entries:
        if _visible(e):
            out.extend(e.get("files") or [e["file"]])
    return out


def compact_delete_vectors(spark: SparkSession, table_dir: str) -> dict:
    """Maintenance rewrite of the position-delete manifest (Iceberg's
    ``rewrite_position_delete_files``): merge delete vectors into ONE
    sorted, deduplicated vector so a read pays one footer instead of
    one per takedown commit — after 10⁴ takedowns the per-read planning
    cost is otherwise O(#delete commits).

    Only entries visible at the OLDEST retained snapshot merge:
    visibility is monotone in the snapshot log, so such an entry is
    visible at EVERY readable snapshot and re-tagging the union with
    the oldest snapshot changes no read anywhere.  Later-tagged and
    still-pending conditional entries stay untouched.

    Concurrency: the position union (a possibly-long job) runs
    lock-free; the manifest swap re-validates under the commit lock
    that every merged entry is still present (optimistic concurrency —
    a racing compactor aborts, a racing NEW delete simply stays).  The
    merged vector files stay on storage for reads planned before the
    swap; vacuum's mtime-gated ``deletes/`` sweep reclaims them.

    Returns ``{"merged_entries", "kept_entries", "n_positions",
    "retired_files"}``."""
    import os
    import uuid as _uuid

    import pyarrow.parquet as pq

    from pyrle_spark.sources.icetable import (
        _retire_delete_files,
        commit_lock,
        read_delete_entries,
        rewrite_delete_entries,
    )

    table = IceTable(table_dir)
    entries = read_delete_entries(table_dir)
    if not entries:
        return {"merged_entries": 0, "kept_entries": 0, "n_positions": 0,
                "retired_files": 0}
    snaps = table.snapshots()
    if not snaps:
        return {"merged_entries": 0, "kept_entries": len(entries),
                "n_positions": 0, "retired_files": 0}
    oldest = snaps[0]["id"]
    visible_at_oldest = set(_visible_delete_files(table_dir, oldest))

    def _files_of(e: dict) -> list:
        return e.get("files") or [e["file"]]

    mergeable = [
        e for e in entries
        if set(_files_of(e)) <= visible_at_oldest
    ]
    if len(mergeable) < 2:
        return {"merged_entries": 0, "kept_entries": len(entries),
                "n_positions": 0, "retired_files": 0}
    old_files = [f for e in mergeable for f in _files_of(e)]
    n_est = sum(pq.ParquetFile(f).metadata.num_rows for f in old_files)
    del_dir = os.path.join(table_dir, "deletes")
    if n_est <= _DELETE_DRIVER_MAX:
        merged: set = set()
        for f in old_files:
            merged.update(pq.read_table(f, columns=["_order"])["_order"].to_pylist())
        pos_list = sorted(merged)
        fname = os.path.join(del_dir, f"del-{_uuid.uuid4().hex[:12]}.parquet")
        pq.write_table(
            pa.table({"_order": pa.array(pos_list, pa.int64())}), fname
        )
        new_files, n_pos = [fname], len(pos_list)
    else:
        # distributed union: same task-written multi-file form delete_rows
        # uses past the threshold — the driver never holds a position
        pos = spark.read.parquet(*old_files).select("_order").distinct()
        n_total = pos.count()
        n_parts = max(2, min(4096, -(-n_total // _DELETE_DRIVER_MAX)))
        out_dir = os.path.join(del_dir, f"del-{_uuid.uuid4().hex[:12]}")
        (
            pos.repartitionByRange(n_parts, F.col("_order"))
            .sortWithinPartitions("_order")
            .write.mode("errorifexists")
            .parquet(out_dir)
        )
        new_files, n_pos = [], 0
        for root, _, names in os.walk(out_dir):
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                full = os.path.join(root, name)
                nr = pq.ParquetFile(full).metadata.num_rows
                if nr == 0:
                    os.remove(full)
                    continue
                new_files.append(full)
                n_pos += nr
    merged_file_set = set(old_files)
    with commit_lock(table_dir):
        cur = read_delete_entries(table_dir)
        cur_files = {f for e in cur for f in _files_of(e)}
        if not merged_file_set <= cur_files:
            # a racing compactor already rewrote some of these: abort,
            # drop our never-published vector
            for f in new_files:
                os.remove(f)
            return {"merged_entries": 0, "kept_entries": len(cur),
                    "n_positions": 0, "retired_files": 0,
                    "aborted": "concurrent rewrite"}
        kept = [e for e in cur if not set(_files_of(e)) <= merged_file_set]
        new_entry = {
            **({"file": new_files[0]} if len(new_files) == 1
               else {"files": new_files}),
            "n_positions": n_pos,
            "as_of_snapshot": oldest,
            "as_of_ts": snaps[0]["timestamp_ms"],
            "compacted_from": len(mergeable),
        }
        # entry-merging doubles as MANIFEST compaction: everything lands
        # in one fresh shard.  The merged vector files are retired, not
        # unlinked: a read planned before the swap still opens them
        rewrite_delete_entries(table_dir, [new_entry] + kept)
        _retire_delete_files(old_files)
    return {
        "merged_entries": len(mergeable),
        "kept_entries": len(kept),
        "n_positions": n_pos,
        "retired_files": len(old_files),
    }


def _delete_positions(table_dir: str, snapshot_id: str | None) -> list:
    """All deleted ``_order`` positions visible at ``snapshot_id``,
    materialized driver-side (the small-set path; decode_table switches
    to a distributed anti-join past ``_DELETE_DRIVER_MAX``)."""
    import pyarrow.parquet as pq

    out: set = set()
    for f in _visible_delete_files(table_dir, snapshot_id):
        out.update(pq.read_table(f, columns=["_order"])["_order"].to_pylist())
    return sorted(out)


def compact_table(spark: SparkSession, table_dir: str, keep_snapshots: int = 1) -> dict:
    """Maintenance rewrite (the Iceberg ``rewrite_data_files`` +
    ``expire_snapshots`` pair): consolidate the live block set into ONE
    fresh overwrite snapshot and garbage-collect the history.

    Resume and widen passes append snapshots, each carrying superseded
    partial-block rows that ``dedup_blocks`` filters on every read; after
    many incremental passes the manifest accumulates dead rows and small
    files.  Compaction reads the current deduped set once, rewrites it
    (same writer settings as the encode pass: buffers are pre-compressed,
    parquet re-compression off, 16 MB row groups), commits it as an
    overwrite snapshot, and expires everything older.

    Scale shape: the rewrite is one scan + one write of the (compressed)
    block rows, no shuffle — rows are already block-keyed and the new
    snapshot needs no particular order (reads fetch by block_id).
    Decode output is bit-identical before/after (the block rows are moved
    verbatim, checksums included).

    Returns ``{"snapshot_id", "live_blocks", "snapshots_expired",
    "deleted_files", "reclaimed_bytes"}``."""
    table = IceTable(table_dir)
    props = table.properties()
    live = dedup_blocks(table.read_table(spark))
    dropped = sorted(props.get("dropped_columns", []))
    if dropped:
        # physical reclaim of metadata-dropped columns: their blocks are
        # filtered out of the rewrite, and the tombstone clears so the
        # column name is free for a fresh encode
        live = live.filter(~F.col("column").isin(dropped))
    aliases = dict(props.get("column_aliases", {}))
    if aliases:
        # materialize pending renames: block rows are rewritten under
        # their logical names and the alias map clears, so post-compaction
        # reads and encode passes see one physical name per column
        inv = {p: c for c, p in aliases.items()}
        live = live.withColumn(
            "column",
            F.coalesce(
                F.element_at(
                    F.create_map(
                        *[F.lit(x) for kv in inv.items() for x in kv]
                    ),
                    F.col("column"),
                ),
                F.col("column"),
            ),
        )
    snap_id = table.write_snapshot(
        live,
        mode="overwrite",
        write_options={
            "compression": "none",
            "parquet.block.size": str(16 * 1024 * 1024),
        },
        properties={
            **props,
            "dropped_columns": [],
            "column_aliases": {},
            "compacted_from": table.current_snapshot_id(),
        },
    )
    gc = table.expire_snapshots(keep_last=max(1, keep_snapshots))
    n_live = len(table._manifest(snap_id)["files"])
    live_blocks = table.read_table(spark).select("block_id", "column").distinct().count()
    return {
        "snapshot_id": snap_id,
        "live_blocks": live_blocks,
        "live_files": n_live,
        "snapshots_expired": len(gc["expired_snapshots"]),
        "deleted_files": gc["deleted_files"],
        "reclaimed_bytes": gc["reclaimed_bytes"],
    }


def scan_incremental(
    spark: SparkSession,
    table_dir: str,
    from_snapshot: str,
    to_snapshot: str | None = None,
    columns: list | None = None,
) -> DataFrame:
    """CDC-style incremental read (Iceberg's incremental append scan):
    decode only the rows committed AFTER ``from_snapshot`` and at or
    before ``to_snapshot`` (default: current) — the "process just the
    new crawl" primitive that lets a 100 TB pipeline re-run nightly
    without touching yesterday's blocks.

    Granularity is the data file: blocks contained in files added
    between the two manifests decode.  Fast path (the standard append /
    resume workflow): the added files carry every requested column for
    their blocks, so the decode scan plans ONLY the added paths — cost
    O(new data), not O(table).  If the history interleaves column
    widening (a block's columns split across old and new files), it
    falls back to a block-filtered scan of the full snapshot, which is
    still correct but reads old file footers.  Deletes are NOT part of
    the append stream — diff them with :func:`incremental_deletes`."""
    table = IceTable(table_dir)
    to_snapshot = to_snapshot or table.current_snapshot_id()
    old = {f["path"] for f in table._manifest(from_snapshot)["files"]}
    new_paths = [
        f["path"]
        for f in table._manifest(to_snapshot)["files"]
        if f["path"] not in old
    ]
    if not new_paths:
        return decode_table(
            spark, table_dir, columns=columns, snapshot_id=to_snapshot
        ).limit(0)
    cols = sorted(columns or table.properties(to_snapshot)["columns"])
    # block rows in the added files carry PHYSICAL names — resolve rename
    # aliases so the completeness tally counts the right columns
    phys = {physical_column(table, c, to_snapshot) for c in cols}
    thin = _read_thin(new_paths)
    per_block: dict = {}
    for b, c in zip(thin["block_id"], thin["column"]):
        if c in phys:
            per_block.setdefault(b, set()).add(c)
    if all(len(s) == len(phys) for s in per_block.values()):
        return decode_table(
            spark,
            table_dir,
            columns=columns,
            snapshot_id=to_snapshot,
            paths=new_paths,
        )
    return decode_table(
        spark,
        table_dir,
        columns=columns,
        snapshot_id=to_snapshot,
        blocks=set(per_block),
    )


def update_where(
    spark: SparkSession,
    table_dir: str,
    column: str,
    values: list,
    set_exprs: dict,
) -> dict:
    """``UPDATE … SET`` in merge-on-read flavor: rows whose ``column``
    is in ``values`` get their updated images APPENDED at fresh tail
    positions, then the originals are position-deleted — no block of
    untouched data is rewritten, so the cost is O(matched rows), not
    O(table).

    ``set_exprs``: ``{col: SQL expression}`` evaluated over the matched
    row (e.g. ``{"lang": "'und'"}`` or ``{"n_chars": "n_chars + 1"}``).

    Ordering makes time travel clean: the append commits first (the
    pre-update snapshot still shows the original table), the delete tags
    the post-append snapshot.  A crash between the two commits leaves
    the originals alive next to their updated copies — re-running the
    same update converges (the copies match the predicate only if SET
    changed nothing).  Like Iceberg's copy-on-write update, row
    POSITIONS of updated rows change.

    Returns ``{"n_updated", "first_new_pos", "snapshot_id"}``."""
    table = IceTable(table_dir)
    props = table.properties()
    cols = list(props["columns"])
    block_rows = int(props["block_rows"])
    enc = dedup_blocks(table.read_table(spark))
    # resolve matches through the pruned scan (deletes applied: an
    # already-deleted row must not resurrect through an update)
    live = prune_blocks_in(enc, physical_column(table, column), values)
    dec = decode_table(spark, table_dir, blocks=live)
    hit = dec.filter(F.col(column).isin(values)).cache()
    n_hit = hit.count()
    if n_hit == 0:
        hit.unpersist()
        return {
            "n_updated": 0,
            "first_new_pos": None,
            "snapshot_id": table.current_snapshot_id(),
        }
    # next free position = end of the dense position domain
    # `or 0`: on a table with zero blocks (created-then-never-populated,
    # or insert-only MERGE after all blocks compacted away) the max is
    # NULL and int(None) would raise before any insert is written
    base = int(
        enc.filter(F.col("column") == physical_column(table, cols[0]))
        .agg(F.max(F.col("block_id") * block_rows + F.col("n_rows")))
        .first()[0]
        or 0
    )
    ranked = assign_row_order(hit, [], tiebreak="_order", out_col="_new")
    updated = ranked.withColumn("_seq", F.col("_new") + F.lit(base))
    for c, e in set_exprs.items():
        if c not in cols:
            raise KeyError(f"SET column {c!r} not in table columns {cols}")
        updated = updated.withColumn(c, F.expr(e))
    new_rows = updated.select("_seq", *cols)
    # the tail block may be partial: re-encoding it must carry its
    # EXISTING rows too (two partials of one block would dedup to one,
    # losing data).  Raw decode (deletes NOT applied) keeps the block
    # dense so positions stay stable; the delete vector keeps masking.
    tail_bid = (base - 1) // block_rows if base else 0
    tail_n = base - tail_bid * block_rows
    if base and tail_n < block_rows:
        tail = decode_table(
            spark,
            table_dir,
            blocks=spark.createDataFrame([(tail_bid,)], "block_id long"),
            apply_deletes=False,
        ).select(F.col("_order").alias("_seq"), *cols)
        new_rows = tail.unionByName(new_rows)
    summary = encode_table(
        spark,
        new_rows,
        table_dir,
        EncodeConfig(columns=cols, order_col="_seq", block_rows=block_rows),
    )
    delete_rows(spark, table_dir, hit.select("_order"))
    hit.unpersist()
    return {
        "n_updated": n_hit,
        "first_new_pos": base,
        "snapshot_id": summary["snapshot_id"],
    }


def merge_into(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    on: str,
    when_matched: str | None = "update",
    when_not_matched: str | None = "insert",
    source_key_limit: int = 4096,
    shuffle_partitions: int | None = None,
) -> dict:
    """``MERGE INTO`` (upsert) in merge-on-read flavor — the DML verb a
    re-crawl lands with: rows whose key exists get their new images
    APPENDED at fresh tail positions and the originals position-deleted;
    unseen keys append as inserts.  No untouched block is rewritten:
    cost is O(matched + inserted), not O(table).

    ``on``: the join key column (must be an encoded column).
    ``when_matched``: ``"update"`` (replace row with the source image),
    ``"delete"``, or None (leave matched rows alone).
    ``when_not_matched``: ``"insert"`` or None.

    Contract: source keys must be UNIQUE (the SQL-standard MERGE
    cardinality rule — a target row updated twice in one statement is an
    error; here enforced up front with one small aggregate).  Multiple
    TARGET rows sharing a key all match the one source row, as in SQL.

    Scale shape: match resolution decodes ONLY the key column, and when
    the source key set is driver-small (≤ ``source_key_limit``) the
    decode is restricted to bloom-candidate blocks
    (:func:`prune_blocks_in`) — the anti-join for inserts stays exact
    because the bloom digest never misses a block that holds a key.  Big
    sources fall back to a full key-column scan + shuffle join (the
    unavoidable cost of a big MERGE).  Positions are assigned by the
    de-globalized two-pass rank, so the result is deterministic at any
    parallelism.

    Commit order is append-then-delete, like :func:`update_where`: a
    crash between the commits leaves originals alive next to their new
    images, and re-running the same MERGE converges (both copies match
    and are replaced by one image).

    Returns ``{"n_updated", "n_deleted", "n_inserted", "first_new_pos",
    "snapshot_id"}``."""
    if when_matched not in ("update", "delete", None):
        raise ValueError(f"when_matched={when_matched!r}")
    if when_not_matched not in ("insert", None):
        raise ValueError(f"when_not_matched={when_not_matched!r}")
    if when_matched is None and when_not_matched is None:
        raise ValueError("MERGE with no action")
    table = IceTable(table_dir)
    props = table.properties()
    cols = list(props["columns"])
    block_rows = int(props["block_rows"])
    if on not in cols:
        raise KeyError(f"merge key {on!r} not in table columns {cols}")
    need_images = when_matched == "update" or when_not_matched == "insert"
    if need_images:
        missing = [c for c in cols if c not in source.columns]
        if missing:
            raise KeyError(f"source is missing table columns {missing}")
    src = source.select(*(cols if need_images else [on])).cache()
    dup = src.groupBy(on).count().filter(F.col("count") > 1).limit(1).collect()
    if dup:
        src.unpersist()
        raise ValueError(
            f"MERGE cardinality violation: duplicate source key {dup[0][on]!r}"
        )
    n_src = src.count()
    enc = dedup_blocks(table.read_table(spark))
    blocks = None
    if 0 < n_src <= source_key_limit:
        vals = [r[0] for r in src.select(on).collect()]
        blocks = prune_blocks_in(enc, physical_column(table, on), vals)
    tgt_keys = decode_table(spark, table_dir, columns=[on], blocks=blocks).select(
        "_order", on
    )
    src_side = F.broadcast(src) if n_src <= source_key_limit else src
    matched = tgt_keys.join(src_side, on, "inner").cache()
    n_matched = matched.count()
    inserts = None
    n_ins = 0
    if when_not_matched == "insert":
        inserts = src.join(tgt_keys.select(on).distinct(), on, "left_anti").cache()
        n_ins = inserts.count()
    n_upd = n_matched if when_matched == "update" else 0
    if n_upd == 0 and n_ins == 0 and (when_matched != "delete" or n_matched == 0):
        src.unpersist()
        matched.unpersist()
        return {
            "n_updated": 0,
            "n_deleted": 0,
            "n_inserted": 0,
            "first_new_pos": None,
            "snapshot_id": table.current_snapshot_id(),
        }
    # `or 0`: on a table with zero blocks (created-then-never-populated,
    # or insert-only MERGE after all blocks compacted away) the max is
    # NULL and int(None) would raise before any insert is written
    base = int(
        enc.filter(F.col("column") == physical_column(table, cols[0]))
        .agg(F.max(F.col("block_id") * block_rows + F.col("n_rows")))
        .first()[0]
        or 0
    )
    parts = []
    if n_upd:
        upd = assign_row_order(matched, [], tiebreak="_order", out_col="_rk")
        parts.append(upd.select((F.col("_rk") + F.lit(base)).alias("_seq"), *cols))
    if n_ins:
        # source keys are unique (checked above) ⇒ every (key) group has
        # one row, so ranking by key alone is a deterministic total order
        ins = assign_row_order(
            inserts.withColumn("_tb", F.lit(0)),
            [on],
            tiebreak="_tb",
            out_col="_rk",
        )
        parts.append(
            ins.select((F.col("_rk") + F.lit(base + n_upd)).alias("_seq"), *cols)
        )
    first_new_pos = base if parts else None
    snap = table.current_snapshot_id()
    if parts:
        new_rows = parts[0]
        for p in parts[1:]:
            new_rows = new_rows.unionByName(p)
        # partial tail block: re-encode it WITH its existing rows (raw
        # decode keeps positions dense; the delete vector keeps masking)
        tail_bid = (base - 1) // block_rows if base else 0
        tail_n = base - tail_bid * block_rows
        if base and tail_n < block_rows:
            tail = decode_table(
                spark,
                table_dir,
                blocks=spark.createDataFrame([(tail_bid,)], "block_id long"),
                apply_deletes=False,
            ).select(F.col("_order").alias("_seq"), *cols)
            new_rows = tail.unionByName(new_rows)
        summary = encode_table(
            spark,
            new_rows,
            table_dir,
            EncodeConfig(
                columns=cols,
                order_col="_seq",
                block_rows=block_rows,
                shuffle_partitions=shuffle_partitions,
            ),
        )
        snap = summary["snapshot_id"]
    if when_matched in ("update", "delete") and n_matched:
        delete_rows(spark, table_dir, matched.select("_order"))
    src.unpersist()
    matched.unpersist()
    if inserts is not None:
        inserts.unpersist()
    return {
        "n_updated": n_upd,
        "n_deleted": n_matched if when_matched == "delete" else 0,
        "n_inserted": n_ins,
        "first_new_pos": first_new_pos,
        "snapshot_id": snap,
    }


def drop_column(spark: SparkSession, table_dir: str, column: str) -> dict:
    """Schema evolution: drop an encoded column ("delete raw ``html``
    once ``text`` is extracted" — the storage-reclaim move every web
    pipeline makes).  The commit is METADATA-ONLY (O(manifest), zero
    data I/O): the column leaves the advertised set, default decodes
    stop seeing it, explicit requests for it fail with a clear error,
    and time travel to the parent snapshot still reads it.

    Physical reclaim happens at the next :func:`compact_table`, which
    filters the dropped column's blocks out of the rewrite.  Until
    then, re-encoding a same-named column is REFUSED (the stale blocks
    would resurrect pre-drop data through the resume path — the
    field-id renaming Iceberg uses is out of scope).

    Returns ``{"snapshot_id", "columns"}``."""
    table = IceTable(table_dir)
    props = table.properties()
    cols = list(props.get("columns", []))
    if column not in cols:
        raise KeyError(f"column {column!r} not in table columns {cols}")
    # the tombstone must name the PHYSICAL blocks: dropping a renamed
    # column records its storage name (and retires the alias), so
    # compaction's filter actually reclaims the data instead of the
    # alias materialization resurrecting it under the freed name
    aliases = dict(props.get("column_aliases", {}))
    physical = aliases.pop(column, column)
    new_props = {
        **props,
        "columns": [c for c in cols if c != column],
        "dropped_columns": sorted(
            set(props.get("dropped_columns", [])) | {physical}
        ),
        "column_aliases": aliases,
    }
    snap = table.commit_metadata(new_props)
    return {"snapshot_id": snap, "columns": new_props["columns"]}


def rename_column(spark: SparkSession, table_dir: str, old: str, new: str) -> dict:
    """Schema evolution: rename an encoded column ("``html`` →
    ``raw_html``" without rewriting a byte).  Like Iceberg's
    ``RenameColumn``, the commit is METADATA-ONLY: blocks keep their
    physical (storage) column name and the snapshot carries a
    ``column_aliases`` map ``{logical_name: physical_name}`` that
    :func:`decode_table` / :func:`scan_encoded` resolve on read.
    Chained renames collapse to the original physical name; renaming
    back to the physical name clears the alias.  Time travel to the
    parent snapshot still reads the old name.

    The alias is MATERIALIZED at the next :func:`compact_table`, which
    rewrites block rows under their logical names and clears the map.
    Until then, encode passes touching an aliased column are refused
    (the resume filter matches on physical names and would treat the
    logical name as a brand-new column).

    Returns ``{"snapshot_id", "columns", "column_aliases"}``."""
    table = IceTable(table_dir)
    props = table.properties()
    cols = list(props.get("columns", []))
    if old not in cols:
        raise KeyError(f"column {old!r} not in table columns {cols}")
    if new in cols:
        raise ValueError(f"column {new!r} already exists in {cols}")
    if new in props.get("dropped_columns", []):
        raise ValueError(
            f"column {new!r} was dropped but its stale blocks remain; "
            "run compact_table first to reclaim the name"
        )
    aliases = dict(props.get("column_aliases", {}))
    physical = aliases.pop(old, old)  # chained renames collapse
    if new != physical:
        aliases[new] = physical
    new_props = {
        **props,
        "columns": sorted(c for c in cols if c != old) + [new],
        "column_aliases": aliases,
    }
    new_props["columns"] = sorted(new_props["columns"])
    snap = table.commit_metadata(new_props)
    return {
        "snapshot_id": snap,
        "columns": new_props["columns"],
        "column_aliases": aliases,
    }


def point_lookup(
    spark: SparkSession,
    table_dir: str,
    positions,
    columns: list | None = None,
    snapshot_id: str | None = None,
) -> DataFrame:
    """O(probed blocks) point reads ("give me rows 17, 4096, 2000003"):
    each requested ``_order`` position maps straight to its block
    (``pos // block_rows`` — blocks are fixed logical spans, no index
    needed), only those blocks decode, and a final filter keeps the
    requested positions.  At 100 TB a k-row probe touches at most k
    blocks regardless of table size.

    ``positions``: iterable of ints (driver-small — a probe set, not a
    table).  MoR deletes apply as usual: a deleted position is absent
    from the result."""
    pos = sorted({int(p) for p in positions})
    if not pos:
        return decode_table(
            spark, table_dir, columns=columns, snapshot_id=snapshot_id
        ).limit(0)
    table = IceTable(table_dir)
    block_rows = int(table.properties(snapshot_id)["block_rows"])
    bids = sorted({p // block_rows for p in pos})
    blocks_df = spark.createDataFrame([(b,) for b in bids], "block_id long")
    dec = decode_table(
        spark,
        table_dir,
        columns=columns,
        snapshot_id=snapshot_id,
        blocks=blocks_df,
    )
    return dec.filter(F.col("_order").isin(pos))


def limit_scan(
    spark: SparkSession,
    table_dir: str,
    k: int,
    columns: list | None = None,
    snapshot_id: str | None = None,
) -> DataFrame:
    """LIMIT-k pushdown: decode only the leading block prefix that can
    contain the first ``k`` live rows — O(k / block_rows) blocks read
    regardless of table size, never a full scan that a later ``.limit``
    throws away.

    Merge-on-read deletes shift the cutoff: the k-th live row sits at
    position ``c`` where ``c = k − 1 + |{deleted ≤ c}|`` — solved by a
    fixed-point walk over the (driver-resident, O(deleted)) position
    set, so the prefix stays exact without touching the manifest.  Rows
    come back filtered to ``_order ≤ c``; if the table holds fewer than
    ``k`` live rows the result is simply everything."""
    import bisect

    if k <= 0:
        return decode_table(
            spark, table_dir, columns=columns, snapshot_id=snapshot_id
        ).limit(0)
    table = IceTable(table_dir)
    block_rows = int(table.properties(snapshot_id)["block_rows"])
    dels = sorted(_delete_positions(table_dir, snapshot_id))
    c = k - 1
    while True:
        nxt = k - 1 + bisect.bisect_right(dels, c)
        if nxt == c:
            break
        c = nxt
    bids = list(range(0, c // block_rows + 1))
    blocks_df = spark.createDataFrame([(b,) for b in bids], "block_id long")
    dec = decode_table(
        spark,
        table_dir,
        columns=columns,
        snapshot_id=snapshot_id,
        blocks=blocks_df,
    )
    return dec.filter(F.col("_order") <= c)


def incremental_deletes(
    table_dir: str, from_snapshot: str, to_snapshot: str | None = None
) -> list:
    """Positions deleted between two snapshots (the delete side of the
    CDC stream): visible-at-``to`` minus visible-at-``from``, as a
    sorted list of ``_order`` positions."""
    old = set(_delete_positions(table_dir, from_snapshot))
    new = set(_delete_positions(table_dir, to_snapshot))
    return sorted(new - old)


def table_changes(
    spark: SparkSession,
    table_dir: str,
    from_snapshot: str,
    to_snapshot: str | None = None,
    columns: list | None = None,
) -> DataFrame:
    """The full CDC changelog between two snapshots: one DataFrame with
    a ``_change_type`` column — ``insert`` rows (appended and still
    visible at ``to``) carry post-images via :func:`scan_incremental`'s
    O(new data) path, ``delete`` rows carry PRE-images (decoded raw from
    exactly the deleted positions' blocks — ≤ one block per deleted
    position, like :func:`point_lookup`).

    Replay contract: applying the changelog to a copy of the table at
    ``from`` — upsert every ``insert`` by ``_order``, then remove every
    ``delete`` position — reproduces the table at ``to`` exactly.  A row
    appended AND deleted inside the window appears only in the delete
    stream (its delete is a no-op on replay).  An UPDATE (MERGE) appears
    as the standard pair: delete of the old position's pre-image +
    insert of the new image at its tail position."""
    table = IceTable(table_dir)
    to_snapshot = to_snapshot or table.current_snapshot_id()
    # scan_incremental is FILE-granular: a resumed partial tail block is
    # re-encoded whole, so its carried-over old rows ride along in the
    # added files.  The changelog contract is ROW-level — clip inserts
    # to positions past the from-snapshot's dense row domain (one
    # O(#blocks) manifest fold).
    from_enc = dedup_blocks(table.read_table(spark, from_snapshot))
    block_rows_f = int(table.properties(from_snapshot)["block_rows"])
    row_end = from_enc.agg(
        F.max(F.col("block_id") * block_rows_f + F.col("n_rows"))
    ).first()[0]
    ins = (
        scan_incremental(spark, table_dir, from_snapshot, to_snapshot, columns)
        .filter(F.col("_order") >= F.lit(int(row_end or 0)))
        .withColumn("_change_type", F.lit("insert"))
    )
    dels = incremental_deletes(table_dir, from_snapshot, to_snapshot)
    if not dels:
        return ins
    block_rows = int(table.properties(to_snapshot)["block_rows"])
    bids = sorted({p // block_rows for p in dels})
    blocks_df = spark.createDataFrame([(b,) for b in bids], "block_id long")
    pre = (
        decode_table(
            spark,
            table_dir,
            columns=columns,
            snapshot_id=to_snapshot,
            blocks=blocks_df,
            apply_deletes=False,
        )
        .filter(F.col("_order").isin(dels))
        .withColumn("_change_type", F.lit("delete"))
    )
    return ins.unionByName(pre)


def assign_row_order(
    df: DataFrame,
    order_by: list,
    tiebreak: str = "_order",
    sub_rows: int = 1 << 16,
    out_col: str = "_new_order",
) -> DataFrame:
    """Contiguous total-order rank ``0..n-1`` by ``(order_by…, tiebreak)``
    WITHOUT a global window (the single-partition ``row_number`` that a
    naive ranking would use is the scale-killer the r1 audit flagged).

    Two-pass distributed rank:

    1. Rows are grouped by ``(order_by…, sub)`` where ``sub =
       tiebreak // sub_rows`` splits hot key groups into bounded
       sub-ranges (a Zipf-hot ``lang`` bucket never serializes onto one
       task).  The group COUNTS — about ``n_distinct(order_by) +
       n/sub_rows`` rows, driver-small even at 10^11 source rows — are
       collected in Spark's own sort order (so engine collation, not
       Python's, decides ties) and cumulated into start offsets.
    2. Offsets broadcast-join back (null-safe on the key columns) and
       each group ranks locally: ``rank = offset + row_number() over
       (partition by key, sub order by tiebreak) - 1``.  Every window
       is partitioned; max task size is ``sub_rows``.

    ``tiebreak`` must be unique per row (e.g. the decode ``_order``),
    which makes the total order deterministic and the rank a permutation."""
    order_by = list(order_by)
    sub = (F.col(tiebreak) / F.lit(int(sub_rows))).cast("long").alias("_sub")
    keyed = df.withColumn("_sub", sub)
    counts = (
        keyed.groupBy(*order_by, "_sub")
        .count()
        .orderBy(*order_by, "_sub")
        .collect()
    )
    total = 0
    off_rows = []
    for r in counts:
        off_rows.append(tuple(r[c] for c in order_by) + (r["_sub"], total))
        total += r["count"]
    off_schema = keyed.select(*order_by, "_sub").schema.add("_off", "long")
    offs = df.sparkSession.createDataFrame(off_rows, off_schema)
    cond = [keyed[c].eqNullSafe(offs[c]) for c in order_by]
    cond.append(keyed["_sub"] == offs["_sub"])
    joined = keyed.join(F.broadcast(offs), cond, "inner").drop(offs["_sub"])
    for c in order_by:
        joined = joined.drop(offs[c])
    w = W.partitionBy(*order_by, "_sub").orderBy(tiebreak)
    return (
        joined.withColumn(out_col, F.col("_off") + F.row_number().over(w) - 1)
        .drop("_off", "_sub")
    )


def rewrite_sorted(
    spark: SparkSession,
    table_dir: str,
    out_dir: str,
    order_by: list,
    block_rows: int | None = None,
    sub_rows: int = 1 << 16,
) -> dict:
    """Layout-aware rewrite (Iceberg ``rewrite_data_files`` with a sort
    strategy): decode the live table, re-sort by ``order_by`` (tie-broken
    by the original position, so the rewrite is deterministic), and
    re-encode into ``out_dir`` — acting on exactly the decision
    :func:`~pyrle_spark.operators.relational.layout_advisor` prices.
    Clustering equal values into runs is what turns the RLE/dict codecs
    on: the advisor predicts the run-count drop, this op banks it.

    Scale shape: one decode scan, one :func:`assign_row_order` rank
    (bounded windows, driver holds only group counts), one encode pass —
    no global window, no driver data. Merge-on-read deletes of the
    source are applied during decode, so the rewrite also COMPACTS
    DELETES (the new table starts with an empty delete set), matching
    Iceberg's rewrite semantics.

    Returns ``{"rows", "order_by", "bytes_out_before", "bytes_out_after",
    "n_runs_before", "n_runs_after", "snapshot_id"}``."""
    table = IceTable(table_dir)
    props = table.properties()
    cols = list(props["columns"])
    block_rows = int(block_rows or props["block_rows"])
    before = (
        dedup_blocks(table.read_table(spark))
        .agg(
            F.sum("bytes_out").alias("b"),
            F.sum("n_runs").alias("r"),
        )
        .first()
    )
    dec = decode_table(spark, table_dir)  # applies delete vectors
    ranked = assign_row_order(dec, order_by, "_order", sub_rows, "_seq")
    src = ranked.select("_seq", *cols)
    summary = encode_table(
        spark,
        src,
        out_dir,
        EncodeConfig(
            columns=cols,
            order_col="_seq",
            block_rows=block_rows,
            properties={"rewrite_sorted_by": ",".join(map(str, order_by))},
        ),
    )
    after = (
        dedup_blocks(IceTable(out_dir).read_table(spark))
        .agg(
            F.sum("bytes_out").alias("b"),
            F.sum("n_runs").alias("r"),
            F.sum(F.when(F.col("column") == cols[0], F.col("n_rows"))).alias("n"),
        )
        .first()
    )
    n_rows = int(after["n"])
    return {
        "rows": n_rows,
        "order_by": list(order_by),
        "bytes_out_before": int(before["b"]),
        "bytes_out_after": int(after["b"]),
        "n_runs_before": int(before["r"]),
        "n_runs_after": int(after["r"]),
        "snapshot_id": summary["snapshot_id"],
    }


def rewrite_column_codec(
    spark: SparkSession,
    table_dir: str,
    column: str,
    codec: str,
) -> dict:
    """ALTER COLUMN ... SET CODEC: re-encode ONE column's cells with a
    pinned codec and commit the result as a fresh overwrite snapshot in
    place.  Every OTHER column's cells move verbatim — compressed
    buffers are copied, never decoded — so the rewrite's codec work is
    O(one column), not O(table).  Time travel to the parent snapshot
    still reads the old codec (the old files stay live for history).

    Per-cell safety: the decoded payload's crc32 is recomputed after the
    round-trip through the new codec and asserted equal to the cell's
    recorded checksum, so a lossy codec/column mismatch fails the job
    loudly instead of committing corrupt blocks.  Value-domain metadata
    (zone bounds, bloom digest, bytes_in) is codec-independent and is
    carried over unchanged.

    This is the operational path a compression engine needs when a
    better codec ships (the reference hard-codes one representation,
    /root/reference/pyrle/rle.py:146-147; here representation is a
    per-column, per-snapshot property).

    Returns ``{"column", "codec", "blocks", "bytes_out_before",
    "bytes_out_after", "snapshot_id"}``.
    """
    from pyrle_spark.codecs import encode_with
    from pyrle_spark.codecs.selector import column_stats

    table = IceTable(table_dir)
    props = table.properties()
    if column not in props["columns"]:
        raise KeyError(f"unknown column {column!r} (have {props['columns']})")
    if codec not in _VALID_REWRITE_CODECS:
        raise ValueError(
            f"unknown codec {codec!r}; valid: {sorted(_VALID_REWRITE_CODECS)}"
        )
    live = dedup_blocks(table.read_table(spark))
    target = live.filter(F.col("column") == column)
    rest = live.filter(F.col("column") != column)
    before = target.agg(
        F.sum("bytes_out").alias("b"), F.count(F.lit(1)).alias("n")
    ).first()
    base, zstd = (codec[: -len("+zstd")], True) if codec.endswith("+zstd") else (codec, False)

    def _recode(batches):
        for batch in batches:
            out = {k: [] for k in _ENCODED_PA_SCHEMA.names}
            for row in batch.to_pylist():
                t0 = time.perf_counter_ns()
                arr = decode_array(Encoded.from_row(row))
                kind, payload, validity = arrow_to_payload(arr)
                crc = _payload_checksum(kind, payload, validity)
                if crc != row["crc32"]:
                    raise AssertionError(
                        f"block {row['block_id']} column {row['column']}: "
                        f"decode crc {crc} != recorded {row['crc32']}"
                    )
                stats = column_stats(kind, payload)
                stats["selected_by"] = "rewrite"
                enc = encode_with(
                    base,
                    arr,
                    zstd=zstd,
                    stats=stats,
                )
                dt = time.perf_counter_ns() - t0
                cell = enc.to_row()
                out["block_id"].append(row["block_id"])
                out["column"].append(row["column"])
                out["codec"].append(cell["codec"])
                out["arrow_type"].append(cell["arrow_type"])
                out["n_rows"].append(cell["n_rows"])
                out["meta"].append(cell["meta"])
                out["buffers"].append(list(cell["buffers"].items()))
                out["bytes_in"].append(row["bytes_in"])
                out["bytes_out"].append(enc.nbytes)
                out["encode_ns"].append(dt)
                out["crc32"].append(row["crc32"])
                out["n_runs"].append(stats.get("n_runs"))
                out["part_id"].append(row["part_id"])
                out["zmin"].append(row["zmin"])
                out["zmax"].append(row["zmax"])
                out["bloom"].append(row["bloom"])
            yield pa.RecordBatch.from_pydict(out, schema=_ENCODED_PA_SCHEMA)

    recoded = target.mapInArrow(_recode, ENCODED_SPARK_SCHEMA)
    pins = dict(props.get("column_codecs", {}))
    pins[column] = codec
    snap_id = table.write_snapshot(
        rest.unionByName(recoded),
        mode="overwrite",
        write_options={
            "compression": "none",
            "parquet.block.size": str(16 * 1024 * 1024),
        },
        properties={
            **props,
            "column_codecs": pins,
            "recoded_from": table.current_snapshot_id(),
        },
    )
    after = (
        dedup_blocks(table.read_table(spark, snap_id))
        .filter(F.col("column") == column)
        .agg(F.sum("bytes_out").alias("b"), F.count(F.lit(1)).alias("n"))
        .first()
    )
    if int(after["n"]) != int(before["n"]):
        raise AssertionError(
            f"rewrite changed the {column} cell count: "
            f"{before['n']} -> {after['n']}"
        )
    return {
        "column": column,
        "codec": codec,
        "blocks": int(after["n"]),
        "bytes_out_before": int(before["b"]),
        "bytes_out_after": int(after["b"]),
        "snapshot_id": snap_id,
    }


_VALID_REWRITE_CODECS = frozenset(
    c + s
    for c in ("rle", "dict", "for", "delta", "bitpack", "bss", "alp", "fsst", "raw")
    for s in ("", "+zstd")
)


# ----------------------------------------------------------------- zone maps


def _session_tz(spark: SparkSession) -> str | None:
    return spark.conf.get("spark.sql.session.timeZone", None)


def _prune_adapter(enc: DataFrame, column: str, pred: tuple, arrow_type=None):
    """Survivor block ids of one predicate on ``column``, judged by the
    read planner's evaluator over ``enc``'s thin rows (collected once —
    one row per block-column of the manifest)."""
    spark = enc.sparkSession
    rows = [
        r.asDict()
        for r in enc.filter(F.col("column") == column)
        .select(*[c for c in THIN_COLS if c in enc.columns])
        .collect()
    ]
    if arrow_type is not None:
        for r in rows:
            r["arrow_type"] = arrow_type
    surv = _surviving_blocks(rows, [pred], _session_tz(spark))
    return spark.createDataFrame(
        [(int(b),) for b in sorted(surv)], "block_id long"
    )


def prune_blocks(
    enc: DataFrame, column: str, lo=None, hi=None, arrow_type: str | None = None
) -> DataFrame:
    """Zone-map data skipping: block_ids whose ``column`` zone
    ``[zmin, zmax]`` may intersect ``[lo, hi]`` (None = unbounded).

    Conservative by construction — a block lacking zone stats is kept, so
    the result is always a superset of the blocks containing matches.
    The evaluator is the read planner's (:mod:`~pyrle_spark.plans.
    read_plan`); this adapter runs it over ``enc``'s thin rows for
    callers that hold a manifest DataFrame."""
    return _prune_adapter(enc, column, (column, lo, hi, None), arrow_type)


def prune_blocks_eq(enc: DataFrame, column: str, value) -> DataFrame:
    """Bloom-digest data skipping for EQUALITY predicates: block_ids
    whose ``column`` zone and digest may contain ``value``.

    Complements :func:`prune_blocks` — a hot value like ``lang = 'sw'``
    sits inside every block's [zmin, zmax] range, but a block that never
    saw the value has one of its two bloom probe bits clear and is
    skipped.  Conservative: a block without a digest (high cardinality,
    unsupported type, pre-digest snapshot) is kept, so the result is
    always a superset of the blocks containing matches."""
    return _prune_adapter(enc, column, (column, value, value, None))


def prune_blocks_in(enc: DataFrame, column: str, values) -> DataFrame:
    """Bloom-digest data skipping for IN-list predicates: block_ids whose
    ``column`` digest may contain ANY of ``values`` (and whose zone
    meets [min(values), max(values)]).  Same conservative contract as
    :func:`prune_blocks_eq`: missing digest or unsupported value type
    keeps the block."""
    return _prune_adapter(enc, column, norm_predicates([(column, values)])[0])


def explain_scan(
    spark: SparkSession,
    table_dir: str,
    predicates: list | None = None,
    any_of: list | None = None,
    snapshot_id: str | None = None,
) -> dict:
    """EXPLAIN for the pushdown scan: how hard would each pruning tier
    bite for these predicates, WITHOUT decoding anything.  The read
    planner's own evaluation over the data files' thin columns, in the
    driver — no Spark job — so it is cheap enough to call before a big
    job or from a planner.

    Returns::

        {"total_blocks": N,                # distinct block ids
         "survivor_blocks": K,             # after all conjuncts (+ DNF)
         "selectivity": K / N,
         "per_predicate": [                # one entry per conjunct
             {"column", "kind": "range|eq|in",
              "zone_survivors": n,         # zone tier alone
              "final_survivors": n},       # zone ∩ bloom tiers
             ...],
         "dnf_survivors": n | None}        # OR-group union, if any_of

    The per-predicate numbers are each tier's standalone superset —
    comparing ``zone_survivors`` with ``final_survivors`` shows what
    the bloom digest added over the zone map for an equality/IN probe.
    Deletes are not a tier here: a fully deleted block still counts.
    """
    return explain(
        table_dir, predicates, any_of, snapshot_id, session_tz=_session_tz(spark)
    )


def scan_encoded(
    spark: SparkSession,
    table_dir: str,
    columns: list | None = None,
    predicates: list | None = None,
    snapshot_id: str | None = None,
    any_of: list | None = None,
) -> DataFrame:
    """Query the encoded table with pushdown: block pruning + column
    pruning + residual filter, in one call and one Spark job.

    ``predicates``: list of ``(column, lo, hi)`` range/equality bounds
    (None = unbounded on that side) or ``(column, values_list)`` IN-list
    predicates.  The read planner (:func:`~pyrle_spark.plans.read_plan.
    plan_read`) keeps a block only if EVERY predicate's zone can match
    (conjunctive pushdown, the SURVEY §4.1 "RLE-aware filter pushdown"
    done at the application layer); an equality predicate (``lo ==
    hi``) or IN-list is additionally probed against the per-block bloom
    digests, which skip blocks the values never touched even when they
    sit inside every block's zone range.  The decode tasks drop rows a
    conservative copy of the predicates rules out, and Spark then
    applies the exact residual, so results equal a full decode + filter
    while touching only surviving blocks.

    ``any_of``: DNF pushdown — a list of predicate LISTS, each an AND
    of the same tuple forms, OR'd together: ``any_of=[[("lang", "en",
    "en")], [("n_chars", 5000, None), ("lang", "zh", "zh")]]`` reads
    ``lang='en' OR (n_chars>=5000 AND lang='zh')``.  The OR group's
    survivor blocks are the UNION of each disjunct's conjunctive
    survivors, intersected with ``predicates``'s survivors; the residual
    applies the exact boolean.  An empty disjunct matches everything
    (no pruning from the group).
    """
    norm = norm_predicates(predicates or [])
    or_norm = [norm_predicates(conj) for conj in (any_of or [])]
    need_cols = set(columns or [])
    if columns:
        need_cols |= {p[0] for p in norm + [p for c in or_norm for p in c]}
    plan = plan_read(
        table_dir,
        columns=sorted(need_cols) if columns else None,
        predicates=norm,
        any_of=or_norm,
        snapshot_id=snapshot_id,
        session_tz=_session_tz(spark),
    )
    out = _decode_plan(spark, plan)
    res = _residual_expr(norm)
    if res is not None:
        out = out.filter(res)
    if or_norm:
        disj = None
        for conj in or_norm:
            e = _residual_expr(conj)
            e = F.lit(True) if e is None else e
            disj = e if disj is None else (disj | e)
        out = out.filter(disj)
    return out


def _residual_expr(norm: list):
    """Exact row-level filter for a conjunction of normalized
    predicates (None when the conjunction is empty)."""
    expr = None
    for colname, lo, hi, values in norm:
        if values is not None:
            e = F.col(colname).isin(values)
        else:
            e = F.lit(True)
            if lo is not None:
                e = e & (F.col(colname) >= lo)
            if hi is not None:
                e = e & (F.col(colname) <= hi)
        expr = e if expr is None else (expr & e)
    return expr


# --------------------------------------------------------------------- decode


def decode_table(
    spark: SparkSession,
    table_dir: str,
    columns: list | None = None,
    snapshot_id: str | None = None,
    blocks=None,
    apply_deletes: bool = True,
    paths: list | None = None,
    driver_max: int | None = None,
) -> DataFrame:
    """Decode an encoded-blocks table back to rows (with ``_order``).

    The read planner picks the blocks in the driver, from the data
    files' thin columns (:func:`~pyrle_spark.plans.read_plan.plan_read`);
    the decode is one ``mapInArrow`` over that block list, so collecting
    the result is one Spark job.

    ``driver_max``: explicit override of the delete-set driver-side
    cutover (defaults to ``_DELETE_DRIVER_MAX``); past it the driver
    ships only the delete-vector file list and each decode task reads
    the positions of its own block span.

    ``blocks``: optional block-id set — a DataFrame with a ``block_id``
    column (e.g. from :func:`prune_blocks`; collected once in the
    driver) or an iterable of ids.  Only those blocks are decoded.

    ``apply_deletes``: merge-on-read — positions recorded by
    :func:`delete_rows` and visible at this snapshot are masked out in
    the decode tasks, and blocks whose every row is deleted are never
    read.  Pass False to audit raw blocks.

    ``paths``: optional subset of the snapshot's data files to read
    INSTEAD of the whole manifest — only these files are planned, so
    cost is O(given files), not O(table) (:func:`scan_incremental`'s
    fast path).  Every decoded block must carry every requested column
    inside the subset.
    """
    plan = plan_read(
        table_dir,
        columns=columns,
        snapshot_id=snapshot_id,
        paths=paths,
        blocks=blocks,
        apply_deletes=apply_deletes,
        driver_max=driver_max,
    )
    return _decode_plan(spark, plan)


def _decode_plan(spark: SparkSession, plan) -> DataFrame:
    """The rows of a :class:`~pyrle_spark.plans.read_plan.ReadPlan`:
    ``_order`` + its columns in name order, at their resolved types."""
    cols = sorted(plan.phys_of)
    if plan.empty:
        # zero live blocks (table created then never populated, or
        # everything compacted away): no block row carries an arrow_type,
        # but the recorded logical schema types the empty result — so
        # e.g. an insert-only MERGE can read the table
        from pyspark.sql.types import StructType

        fields = [
            {"name": "_order", "type": "long", "nullable": False, "metadata": {}}
        ] + [
            {
                "name": c,
                "type": plan.src_schema[plan.phys_of[c]],
                "nullable": True,
                "metadata": {},
            }
            for c in cols
        ]
        return spark.createDataFrame(
            [], StructType.fromJson({"type": "struct", "fields": fields})
        )
    # a column whose blocks disagree on width (written before and after a
    # type widening) resolves to the widest type of its family and the
    # narrow blocks are cast up — Iceberg's promotion rule
    targets = {c: str_to_type(plan.types[c]) for c in cols}
    schema = ", ".join(
        ["_order long"] + [f"{c} {_spark_type_of(plan.types[c])}" for c in cols]
    )
    fn = decode_blocks(
        plan.block_rows, targets, plan.phys_of, plan.preds, plan.any_of
    )
    return read_blocks(spark, plan, fn, schema)


_PROMOTIONS = [
    ({"int32", "int64"}, "int64"),
    ({"float", "double"}, "double"),
    ({"string", "large_string"}, "large_string"),
    ({"binary", "large_binary"}, "large_binary"),
]


def _widest_type(col: str, ts: set) -> str:
    """Resolve a column whose blocks carry mixed arrow types (written
    before/after a type widening) to the widest type of its promotion
    family — Iceberg's rule (int->long, float->double).  Incompatible
    mixes are a corrupt table, not a promotable one: raise."""
    if len(ts) == 1:
        return next(iter(ts))
    for family, widest in _PROMOTIONS:
        if ts <= family:
            return widest
    raise TypeError(
        f"column {col!r} has blocks of incompatible arrow types {sorted(ts)}; "
        "supported promotions: int32->int64, float->double"
    )


def _spark_type_of(at: str) -> str:
    """Spark SQL type string for a decoded column, from its arrow type."""
    mapping = {
        "int64": "long",
        "int32": "int",
        "double": "double",
        "float": "float",
        "string": "string",
        "large_string": "string",
        "binary": "binary",
        "large_binary": "binary",
        "bool": "boolean",
    }
    if at.startswith("timestamp"):
        return "timestamp_ntz" if "tz=" not in at else "timestamp"
    return mapping[at]


def count_rows(
    spark: SparkSession, table_dir: str, snapshot_id: str | None = None
) -> int:
    """``SELECT count(*)`` without touching a data buffer: live manifest
    rows of one column minus the visible delete positions that land on
    live blocks.  One thin-column aggregation over the manifest + a
    footer-only count of the delete vectors (positions are deduped and
    checked against live blocks via the same driver/distributed split
    decode uses) — O(#blocks + #delete files) metadata, zero decode."""
    table = IceTable(table_dir)
    if snapshot_id:
        snapshot_id = table.resolve_ref(snapshot_id)
    props = table.properties(snapshot_id)
    if not props:
        return 0
    block_rows = int(props["block_rows"])
    enc = dedup_blocks(table.read_table(spark, snapshot_id))
    # resolve the LIVE physical column set (props['columns'] through the
    # alias map) — drop_column is metadata-only, so the raw manifest can
    # still carry a dropped column's stale blocks: picking the
    # lexicographically-first raw column could count a column frozen at
    # its pre-drop row count and undercount the live table
    aliases = props.get("column_aliases", {})
    live_phys = sorted(aliases.get(c, c) for c in props["columns"])
    if not live_phys:
        return 0
    first = (
        enc.filter(F.col("column").isin(live_phys))
        .select("column")
        .orderBy("column")
        .limit(1)
        .collect()
    )
    if not first:
        return 0
    col0 = first[0][0]
    rows = (
        enc.filter(F.col("column") == col0)
        .select("block_id", "n_rows")
        .collect()
    )
    live_blocks = {int(r["block_id"]): int(r["n_rows"]) for r in rows}
    total = sum(live_blocks.values())
    dels = _delete_positions(table_dir, snapshot_id)
    # only deletes on LIVE blocks count (compaction may have dropped a
    # fully-deleted block; its positions must not subtract twice), and a
    # position past the block's actual row count never matched a row
    n_del = sum(
        1
        for p in dels
        if (b := p // block_rows) in live_blocks
        and p % block_rows < live_blocks[b]
    )
    return total - n_del


def verify_checksums(spark: SparkSession, table_dir: str) -> dict:
    """Scalable decode verification: decode every block and compare the
    recomputed payload crc32 with the one stored at encode time.  No
    join against the source table: one Spark job whose tasks return
    ok/bad partials, summed in the driver."""
    plan = plan_read(table_dir, all_physical=True, apply_deletes=False)

    def check(blocks):
        ok = bad = 0
        for blk in blocks:
            for c, e in blk.cols.items():
                if payload_checksum(decode_array(e)) == blk.crc[c]:
                    ok += 1
                else:
                    bad += 1
        yield pa.RecordBatch.from_pydict(
            {"ok": [ok], "bad": [bad]},
            schema=pa.schema([("ok", pa.int64()), ("bad", pa.int64())]),
        )

    rows = read_blocks(spark, plan, check, "ok long, bad long").collect()
    return {"ok": sum(r[0] for r in rows), "bad": sum(r[1] for r in rows)}
