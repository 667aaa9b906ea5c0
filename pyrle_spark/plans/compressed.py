"""Compressed-domain aggregation: answer queries FROM the encoded blocks
without materializing rows.

The classic columnar-engine trick (and the natural generalization of the
reference's run-level statistics — pyrle computes sum/mean directly over
``(runs, values)`` pairs, /root/reference/pyrle/rle.py:931-959, never
expanding to positions): a ``GROUP BY value COUNT(*)`` needs only each
block's *dictionary + code counts* (dict codec), or its *runs grouped by
value* (rle codec) — the expensive byte payload is never rebuilt.  Only
codecs with no value structure (fsst / raw) fall back to decoding the
single column.

Scale shape: one ``mapInArrow`` pass over the blocks manifest emits
O(distinct-per-block) partial rows; ONE shuffle aggregates
O(#blocks × distinct) partials to the final histogram.  No row data is
shuffled, and for dict/rle blocks no row data is even decoded.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyrle_spark.codecs import Encoded
from pyrle_spark.codecs.rawcodec import ZstdCodec
from pyrle_spark.plans.encode_job import (
    _session_tz,
    dedup_blocks,
    physical_column,
    prune_blocks_eq,
    prune_blocks_in,
)
from pyrle_spark.plans.read_plan import _range_mask, plan_read, read_blocks
from pyrle_spark.sources.icetable import IceTable

__all__ = [
    "count_nulls",
    "agg_join_dim",
    "count_by_value",
    "count_where_eq",
    "count_where_in",
    "count_where_prefix",
    "distinct_values",
    "group_count_pair",
    "group_sum_pair",
    "numeric_stats",
    "sum_by_value",
    "topk_below_decode",
]

_NULL_SENTINEL = None  # null slots aggregate into a NULL value row


def _delete_map(table_dir: str, snapshot_id, block_rows: int) -> dict:
    """{block_id: np.array(in-block deleted offsets)} visible at the
    snapshot — the merge-on-read position deletes of
    :func:`pyrle_spark.plans.encode_job.delete_rows`.  Driver-resident
    and O(deleted rows); closures ship it to the Arrow passes so
    compressed-domain answers agree with the decode path."""
    from pyrle_spark.plans.encode_job import _delete_positions

    dmap: dict = {}
    for p in _delete_positions(table_dir, snapshot_id):
        dmap.setdefault(p // block_rows, []).append(p % block_rows)
    return {b: np.asarray(v, dtype=np.int64) for b, v in dmap.items()}


def _keep_mask(n: int, kill: np.ndarray) -> np.ndarray:
    keep = np.ones(n, dtype=bool)
    keep[kill[kill < n]] = False
    return keep


def _block_value_counts(enc: Encoded, kill: np.ndarray | None = None):
    """(values: list, counts: np.ndarray, n_nulls: int) for one block —
    via codes/runs when the codec allows, full single-column decode
    otherwise.  ``kill``: in-block offsets deleted by merge-on-read —
    an affected block takes the exact decode-and-mask path (affected
    blocks are O(deleted)/block_rows of the table)."""
    from pyrle_spark.codecs import decode_array

    if kill is not None and len(kill):
        arr = decode_array(enc)
        arr = arr.filter(pa.array(_keep_mask(len(arr), kill)))
        vc = arr.drop_null().value_counts()
        return (
            vc.field("values").to_pylist(),
            np.asarray(vc.field("counts")),
            arr.null_count,
        )

    # dict blocks: counts straight off the code stream — ONE shared
    # buffer-unpacking path (_dict_codes_and_values) for all of
    # count_by_value / sum_by_value / distinct_values
    packed = _dict_codes_and_values(enc)
    if packed is not None:
        codes, values, valid = packed
        n_nulls = int((~valid).sum()) if valid is not None else 0
        if valid is not None:
            codes = codes[valid]
        counts = np.bincount(codes, minlength=len(values))
        keep = counts > 0
        return (
            [v for v, k in zip(values, keep) if k],
            counts[keep],
            n_nulls,
        )
    meta, buffers = enc.meta, enc.buffers
    codec = enc.codec
    if codec.endswith("+zstd"):
        codec = codec[: -len("+zstd")]
        meta, buffers = ZstdCodec.unwrap(meta, buffers)
    valid = None
    if meta.get("has_validity"):
        valid = np.unpackbits(
            np.frombuffer(buffers["validity"], dtype=np.uint8), count=enc.n_rows
        ).astype(bool)
    kind = meta["kind"]
    if codec == "rle" and kind == "fixed" and valid is None:
        from pyrle_spark.codecs.rle_codec import RleCodec
        from pyrle_spark.codecs.bitpack import ForCodec

        runs = ForCodec.decode(meta["runs_meta"], {"packed": buffers["runs"]})
        if meta["vals_mode"] == "for":
            vals = ForCodec.decode(meta["vals_meta"], {"packed": buffers["values"]})
        else:
            vals = np.frombuffer(
                buffers["values"], dtype=np.dtype(meta["vals_meta"]["dtype"])
            )
        uniq, inv = np.unique(vals, return_inverse=True)
        counts = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(counts, inv, runs.astype(np.int64))
        return [x.item() for x in uniq], counts, 0
    # fallback: decode the one column and count exactly
    arr = decode_array(enc)
    vc = arr.drop_null().value_counts()
    values = vc.field("values").to_pylist()
    counts = np.asarray(vc.field("counts"))
    return values, counts, arr.null_count


def count_by_value(
    spark: SparkSession,
    table_dir: str,
    column: str,
    snapshot_id: str | None = None,
    blocks: DataFrame | None = None,
) -> DataFrame:
    """``SELECT column, count(*) GROUP BY column`` computed from the
    encoded blocks.  Returns (value string, n_rows long); null slots
    aggregate into a NULL value row.  ``blocks``: optional survivor
    list (from the prune family) to restrict the scan.  Merge-on-read
    deletes apply: affected blocks decode-and-mask, so the histogram
    equals the decode path's."""
    table = IceTable(table_dir)
    column = physical_column(table, column, snapshot_id)
    block_rows = int(table.properties(snapshot_id)["block_rows"])
    dmap = _delete_map(table_dir, snapshot_id, block_rows)
    enc = table.read_table(spark, snapshot_id).filter(F.col("column") == column)
    if blocks is not None:
        enc = enc.join(
            F.broadcast(blocks.select("block_id").distinct()), "block_id", "left_semi"
        )
    enc = dedup_blocks(enc)

    def _partials(batches):
        for batch in batches:
            out_v: list = []
            out_n: list = []
            for row in batch.to_pylist():
                e = Encoded.from_row(row)
                values, counts, n_nulls = _block_value_counts(
                    e, dmap.get(row["block_id"])
                )
                out_v.extend(str(v) for v in values)
                out_n.extend(int(c) for c in counts)
                if n_nulls:
                    out_v.append(None)
                    out_n.append(n_nulls)
            yield pa.RecordBatch.from_pydict(
                {"value": out_v, "n_rows": out_n},
                schema=pa.schema([("value", pa.string()), ("n_rows", pa.int64())]),
            )

    partial = enc.mapInArrow(_partials, "value string, n_rows long")
    return partial.groupBy("value").agg(F.sum("n_rows").alias("n_rows"))


def _block_numeric_stats(enc: Encoded, kill: np.ndarray | None = None):
    """(n, total, vmin, vmax) for one numeric block.  rle blocks fold
    runs×values without expansion (the reference's own run-level sum,
    rle.py:931-944, distributed); other fixed codecs decode the single
    payload array — never any other column.  ``kill``: deleted in-block
    offsets → exact decode-and-mask (min/max cannot be subtracted, the
    block recomputes over the kept rows)."""
    from pyrle_spark.codecs import decode_array

    if kill is not None and len(kill):
        arr = decode_array(enc)
        arr = arr.filter(pa.array(_keep_mask(len(arr), kill)))
        a = np.asarray(arr.drop_null(), dtype=np.float64)
        if len(a) == 0:
            return 0, 0.0, None, None
        return len(a), float(a.sum()), float(a.min()), float(a.max())

    meta = enc.meta
    codec = enc.codec
    buffers = enc.buffers
    if codec.endswith("+zstd"):
        # unwrap like _block_value_counts does — else rle+zstd blocks
        # silently miss the run-fold fast path and fully decode
        codec = codec[: -len("+zstd")]
        meta, buffers = ZstdCodec.unwrap(meta, buffers)
    if (
        codec == "rle"
        and meta.get("kind") == "fixed"
        and not meta.get("has_validity")
    ):
        from pyrle_spark.codecs.bitpack import ForCodec

        runs = ForCodec.decode(meta["runs_meta"], {"packed": buffers["runs"]})
        if meta["vals_mode"] == "for":
            vals = ForCodec.decode(meta["vals_meta"], {"packed": buffers["values"]})
        else:
            vals = np.frombuffer(
                buffers["values"], dtype=np.dtype(meta["vals_meta"]["dtype"])
            )
        if len(vals) == 0:
            return 0, 0.0, None, None
        total = float(np.sum(runs.astype(np.float64) * vals.astype(np.float64)))
        return int(runs.sum()), total, float(vals.min()), float(vals.max())
    arr = decode_array(enc)
    a = np.asarray(arr.drop_null(), dtype=np.float64)
    if len(a) == 0:
        return 0, 0.0, None, None
    return len(a), float(a.sum()), float(a.min()), float(a.max())


def numeric_stats(
    spark: SparkSession,
    table_dir: str,
    column: str,
    snapshot_id: str | None = None,
    blocks: DataFrame | None = None,
) -> DataFrame:
    """``SELECT count, sum, min, max`` of a numeric column from the
    encoded blocks — one row out.  rle blocks never expand their runs;
    everything else decodes only the one column's payload.  Nulls are
    excluded (SQL aggregate semantics).

    Note: ``sum`` accumulates in float64 per block then across blocks —
    exact for int payloads up to 2^53 per the usual float-sum caveat."""
    table = IceTable(table_dir)
    column = physical_column(table, column, snapshot_id)
    block_rows = int(table.properties(snapshot_id)["block_rows"])
    dmap = _delete_map(table_dir, snapshot_id, block_rows)
    enc = table.read_table(spark, snapshot_id).filter(F.col("column") == column)
    if blocks is not None:
        enc = enc.join(
            F.broadcast(blocks.select("block_id").distinct()), "block_id", "left_semi"
        )
    enc = dedup_blocks(enc)

    def _partials(batches):
        for batch in batches:
            rows = {"n": [], "total": [], "vmin": [], "vmax": []}
            for row in batch.to_pylist():
                n, total, vmin, vmax = _block_numeric_stats(
                    Encoded.from_row(row), dmap.get(row["block_id"])
                )
                rows["n"].append(n)
                rows["total"].append(total)
                rows["vmin"].append(vmin)
                rows["vmax"].append(vmax)
            yield pa.RecordBatch.from_pydict(
                rows,
                schema=pa.schema(
                    [
                        ("n", pa.int64()),
                        ("total", pa.float64()),
                        ("vmin", pa.float64()),
                        ("vmax", pa.float64()),
                    ]
                ),
            )

    partial = enc.mapInArrow(_partials, "n long, total double, vmin double, vmax double")
    return partial.agg(
        F.sum("n").alias("n_rows"),
        F.sum("total").alias("sum_value"),
        F.min("vmin").alias("min_value"),
        F.max("vmax").alias("max_value"),
    )


def _block_filtered_stats(
    enc: Encoded, lo, hi, kill: np.ndarray | None = None
):
    """(n_match, total_match) of one block's rows with ``lo <= v <= hi``
    (None = unbounded) — row-level FILTER below decode:

    - **rle**: the predicate evaluates on the run VALUES (O(#runs)) and
      matching runs fold as runs×values — the rows never expand;
    - **fixed dict**: the predicate evaluates on the DICTIONARY
      (O(#distinct)), matching codes histogram via one bincount — the
      values never materialize;
    - everything else decodes the single column and masks.

    Nulls are excluded (SQL comparison semantics), and NaN never matches
    a range predicate on any path.  ``kill``: deleted in-block offsets →
    exact decode-and-mask fallback."""
    from pyrle_spark.codecs import decode_array
    from pyrle_spark.codecs.bitpack import ForCodec

    lo_ = -np.inf if lo is None else lo
    hi_ = np.inf if hi is None else hi
    if kill is not None and len(kill):
        arr = decode_array(enc)
        arr = arr.filter(pa.array(_keep_mask(len(arr), kill)))
    else:
        meta, codec, buffers = enc.meta, enc.codec, enc.buffers
        if codec.endswith("+zstd"):
            codec = codec[: -len("+zstd")]
            meta, buffers = ZstdCodec.unwrap(meta, buffers)
        if (
            codec == "rle"
            and meta.get("kind") == "fixed"
            and not meta.get("has_validity")
        ):
            runs = ForCodec.decode(meta["runs_meta"], {"packed": buffers["runs"]})
            if meta["vals_mode"] == "for":
                vals = ForCodec.decode(
                    meta["vals_meta"], {"packed": buffers["values"]}
                )
            else:
                vals = np.frombuffer(
                    buffers["values"], dtype=np.dtype(meta["vals_meta"]["dtype"])
                )
            m = (vals >= lo_) & (vals <= hi_)
            n = int(runs[m].sum())
            total = float(
                np.sum(runs[m].astype(np.float64) * vals[m].astype(np.float64))
            )
            return n, total
        if (
            codec == "dict"
            and meta.get("kind") == "fixed"
            and not meta.get("has_validity")
        ):
            from pyrle_spark.codecs.dictionary import _decode_codes

            cbuf = {
                k[len("codes_") :]: v
                for k, v in buffers.items()
                if k.startswith("codes_")
            }
            codes = _decode_codes(meta["codes_mode"], meta["codes_meta"], cbuf)
            uniques = np.frombuffer(
                buffers["dict_data"], dtype=np.dtype(meta["dict_dtype"])
            )
            if meta.get("orig_dtype"):
                uniques = uniques.view(np.dtype(meta["orig_dtype"]))
            m = (uniques >= lo_) & (uniques <= hi_)
            counts = np.bincount(
                np.asarray(codes, dtype=np.int64), minlength=meta["n_dict"]
            ).astype(np.int64)
            n = int(counts[m].sum())
            total = float(np.sum(counts[m] * uniques[m].astype(np.float64)))
            return n, total
        arr = decode_array(enc)
    a = np.asarray(arr.drop_null(), dtype=np.float64)
    m = (a >= lo_) & (a <= hi_)
    return int(m.sum()), float(a[m].sum())


def filtered_numeric_agg(
    spark: SparkSession,
    table_dir: str,
    column: str,
    lo=None,
    hi=None,
    snapshot_id: str | None = None,
) -> DataFrame:
    """``SELECT count(*), sum(col) WHERE lo <= col <= hi`` from the
    encoded blocks, with the predicate pushed BELOW decode: rle blocks
    filter on run values and fold, fixed dict blocks filter on the
    dictionary and histogram the codes, everything else decodes only
    the one column.  One row out; nulls excluded; same float64
    accumulation caveat as :func:`numeric_stats`."""
    table = IceTable(table_dir)
    column = physical_column(table, column, snapshot_id)
    block_rows = int(table.properties(snapshot_id)["block_rows"])
    dmap = _delete_map(table_dir, snapshot_id, block_rows)
    enc = table.read_table(spark, snapshot_id).filter(F.col("column") == column)
    enc = dedup_blocks(enc)

    def _partials(batches):
        for batch in batches:
            ns, ts = [], []
            for row in batch.to_pylist():
                n, t = _block_filtered_stats(
                    Encoded.from_row(row), lo, hi, dmap.get(row["block_id"])
                )
                ns.append(n)
                ts.append(t)
            yield pa.RecordBatch.from_pydict(
                {"n": ns, "total": ts},
                schema=pa.schema([("n", pa.int64()), ("total", pa.float64())]),
            )

    partial = enc.mapInArrow(_partials, "n long, total double")
    return partial.agg(
        F.sum("n").alias("n_match"), F.sum("total").alias("sum_match")
    )


def topk_below_decode(
    spark: SparkSession,
    table_dir: str,
    value_col: str,
    id_col: str,
    k: int,
    snapshot_id: str | None = None,
) -> DataFrame:
    """Exact ``ORDER BY value_col DESC, id_col LIMIT k`` with block
    decode gated by the manifest zone maps — the late-materialization
    top-k of classic column stores (the generalization of pyrle's
    run-level shortcuts: answer from structure first, touch payload
    last; reference ``pyrle/rle.py:931-959`` computes stats from runs
    the same way).

    Two manifest-guided passes, both exact:

    1. Zone scan (driver-resident, O(#blocks) like the other bounded
       collects): per-block ``zmax`` of ``value_col``.  A greedy cover
       by descending ``zmax`` picks the fewest blocks whose LIVE row
       count can reach ``k``; only those decode.
    2. Refinement: with ``v_k`` = the k-th value of pass 1 (ties broken
       by ``id_col``), any undecoded block with ``zmax >= v_k`` (or no
       zone — conservative) could still hold a winner, so exactly those
       decode too.  Blocks with ``zmax < v_k`` are proven irrelevant.

    Merge-on-read deletes apply inside :func:`decode_table`, so a
    deleted former maximum can't win; a stale (pre-delete) ``zmax``
    only widens the candidate set, never narrows it.  At 10^12 rows the
    zone scan is a manifest pass and decode cost is O(blocks near the
    top), not O(table)."""
    import math

    from pyrle_spark.plans.encode_job import decode_table

    table = IceTable(table_dir)
    phys = physical_column(table, value_col, snapshot_id)
    enc = dedup_blocks(
        table.read_table(spark, snapshot_id).filter(F.col("column") == phys)
    )
    zones = [
        (
            int(r["block_id"]),
            float(r["zmax"]) if r["zmax"] is not None else math.inf,
            int(r["n_rows"]),
        )
        for r in enc.select("block_id", "zmax", "n_rows").collect()
    ]
    # greedy cover: highest-zmax blocks first until >= k rows are in play
    zones.sort(key=lambda t: (-t[1], t[0]))
    cover, cum = [], 0
    for bid, _zmax, n in zones:
        if cum >= k:
            break
        cover.append(bid)
        cum += n
    rest = {bid: zmax for bid, zmax, _n in zones[len(cover) :]}

    def _decode(block_ids: list) -> DataFrame:
        blocks = spark.createDataFrame(
            [(int(b),) for b in block_ids], "block_id long"
        )
        return decode_table(
            spark,
            table_dir,
            columns=sorted({value_col, id_col}),
            snapshot_id=snapshot_id,
            blocks=blocks,
        ).select(id_col, value_col)

    head = _decode(cover) if cover else None
    vk = -math.inf
    if head is not None:
        kth = (
            head.orderBy(F.col(value_col).desc(), F.col(id_col))
            .limit(k)
            .collect()
        )  # bounded: <= k rows
        if len(kth) == k:
            vk = float(kth[-1][value_col])
    extra = [bid for bid, zmax in rest.items() if zmax >= vk]
    parts = [p for p in (head, _decode(extra) if extra else None) if p is not None]
    if not parts:
        return spark.createDataFrame([], f"{id_col} long, {value_col} long")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy(F.col(value_col).desc(), F.col(id_col)).limit(k)


def _dict_codes_and_values(enc: Encoded):
    """(codes int array, values list, valid bool array | None) of a
    var-width dict block — the group column never materializes rows."""
    from pyrle_spark.codecs.dictionary import _decode_codes

    meta, buffers = enc.meta, enc.buffers
    codec = enc.codec
    if codec.endswith("+zstd"):
        codec = codec[: -len("+zstd")]
        meta, buffers = ZstdCodec.unwrap(meta, buffers)
    if codec != "dict" or meta["kind"] != "var":
        return None
    cbuf = {
        k[len("codes_") :]: v for k, v in buffers.items() if k.startswith("codes_")
    }
    codes = _decode_codes(meta["codes_mode"], meta["codes_meta"], cbuf)
    values = _dict_values(meta, buffers)
    valid = None
    if meta.get("has_validity"):
        valid = np.unpackbits(
            np.frombuffer(buffers["validity"], dtype=np.uint8), count=enc.n_rows
        ).astype(bool)
    return codes, values, valid


def _dict_values(meta: dict, buffers: dict) -> list:
    """The dictionary's value list from an (unwrapped) var-width dict
    block's buffers — the ONE place the offsets/data layout is parsed."""
    from pyrle_spark.codecs.bitpack import DeltaCodec

    dict_offsets = DeltaCodec.decode(
        meta["dict_offsets_meta"], {"packed": buffers["dict_offsets"]}
    )
    dict_data = buffers["dict_data"]
    return [
        bytes(dict_data[dict_offsets[i] : dict_offsets[i + 1]]).decode(
            "utf-8", "surrogateescape"
        )
        for i in range(meta["n_dict"])
    ]


def distinct_values(
    spark: SparkSession,
    table_dir: str,
    column: str,
    snapshot_id: str | None = None,
) -> DataFrame:
    """``SELECT DISTINCT column`` answered from DICTIONARY BUFFERS alone
    where possible: a var-width dict block's dictionary IS its distinct
    value set (built from the block's uniques), so the code stream —
    the bulk of the block — is never decoded.  Per-block output is
    O(block-distinct) values; the global distinct is a shuffle of only
    those.  Exact fallbacks (decode + unique the ONE column): non-dict
    codecs, blocks with a validity bitmap (a dict slot could back only
    null rows), and delete-affected blocks (a delete can erase a
    value's last occurrence).  Returns one ``value`` column; a NULL row
    appears iff the column has nulls."""
    from pyrle_spark.codecs import decode_array

    table = IceTable(table_dir)
    column = physical_column(table, column, snapshot_id)
    block_rows = int(table.properties(snapshot_id)["block_rows"])
    dmap = _delete_map(table_dir, snapshot_id, block_rows)
    enc = dedup_blocks(
        table.read_table(spark, snapshot_id).filter(F.col("column") == column)
    )

    def _partials(batches):
        for batch in batches:
            out: list = []
            for row in batch.to_pylist():
                e = Encoded.from_row(row)
                kill = dmap.get(row["block_id"])
                meta, buffers = e.meta, e.buffers
                codec = e.codec
                if codec.endswith("+zstd"):
                    codec = codec[: -len("+zstd")]
                    meta, buffers = ZstdCodec.unwrap(meta, buffers)
                if (
                    codec == "dict"
                    and meta["kind"] == "var"
                    and not meta.get("has_validity")
                    and (kill is None or not len(kill))
                ):
                    out.extend(_dict_values(meta, buffers))
                else:
                    arr = decode_array(e)
                    if kill is not None and len(kill):
                        arr = arr.filter(pa.array(_keep_mask(len(arr), kill)))
                    if arr.null_count:
                        out.append(None)
                    uniq = arr.drop_null().unique()
                    out.extend(str(v) for v in uniq.to_pylist())
            yield pa.RecordBatch.from_pydict(
                {"value": out}, schema=pa.schema([("value", pa.string())])
            )

    return enc.mapInArrow(_partials, "value string").distinct()


def sum_by_value(
    spark: SparkSession,
    table_dir: str,
    group_col: str,
    measure_col: str,
    snapshot_id: str | None = None,
) -> DataFrame:
    """``SELECT group_col, count(*), sum(measure_col) GROUP BY group_col``
    from the encoded blocks: the group column stays in the compressed
    domain (dict blocks aggregate over their CODE stream via
    ``np.add.at`` — one int-indexed scatter per block; non-dict blocks
    decode the one column), the measure column decodes only its own
    payload array; rows with a NULL group or measure are excluded (SQL
    aggregate semantics, NULL groups dropped).

    Scale shape: both columns' block rows co-locate with one hash
    shuffle on block_id (same layout as decode_table), each block emits
    O(distinct-in-block) partials, and one tiny aggregation merges them.
    No full-width row is ever built.
    """
    from pyrle_spark.codecs import decode_array

    table = IceTable(table_dir)
    group_col = physical_column(table, group_col, snapshot_id)
    measure_col = physical_column(table, measure_col, snapshot_id)
    block_rows = int(table.properties(snapshot_id)["block_rows"])
    dmap = _delete_map(table_dir, snapshot_id, block_rows)
    enc = table.read_table(spark, snapshot_id).filter(
        F.col("column").isin([group_col, measure_col])
    )
    enc = dedup_blocks(enc)
    enc = enc.repartition("block_id").sortWithinPartitions("block_id", "column")

    def _partials(batches):
        pending: dict = {}

        def flush(bid, cols):
            g = cols.get(group_col)
            m = cols.get(measure_col)
            if g is None or m is None:
                return None
            kill = dmap.get(bid)
            marr = decode_array(m)
            mvalid = np.asarray(marr.is_valid()) if marr.null_count else None
            mvals = np.asarray(
                marr.fill_null(0).cast(pa.float64()), dtype=np.float64
            )
            packed = _dict_codes_and_values(g)
            if packed is not None:
                codes, values, gvalid = packed
                mask = np.ones(len(codes), dtype=bool)
                if kill is not None and len(kill):
                    mask &= _keep_mask(len(codes), kill)
                if gvalid is not None:
                    mask &= gvalid
                if mvalid is not None:
                    mask &= mvalid
                idx = codes[mask]
                w = mvals[mask]
                sums = np.zeros(len(values))
                cnts = np.zeros(len(values), dtype=np.int64)
                np.add.at(sums, idx, w)
                np.add.at(cnts, idx, 1)
                keep = cnts > 0
                return (
                    [v for v, k in zip(values, keep) if k],
                    cnts[keep],
                    sums[keep],
                )
            garr = decode_array(g)
            keys = garr.to_pylist()
            gkeep = (
                _keep_mask(len(keys), kill)
                if kill is not None and len(kill)
                else None
            )
            agg: dict = {}
            for i, k in enumerate(keys):
                if gkeep is not None and not gkeep[i]:
                    continue
                if k is None or (mvalid is not None and not mvalid[i]):
                    continue
                c, s = agg.get(k, (0, 0.0))
                agg[k] = (c + 1, s + mvals[i])
            vals = sorted(agg)
            return (
                [str(v) for v in vals],
                np.array([agg[v][0] for v in vals], dtype=np.int64),
                np.array([agg[v][1] for v in vals]),
            )

        def emit(res):
            if res is None:
                return None
            values, cnts, sums = res
            return pa.RecordBatch.from_pydict(
                {
                    "value": [str(v) for v in values],
                    "n_rows": [int(c) for c in cnts],
                    "total": [float(s) for s in sums],
                },
                schema=pa.schema(
                    [
                        ("value", pa.string()),
                        ("n_rows", pa.int64()),
                        ("total", pa.float64()),
                    ]
                ),
            )

        cur_bid = None
        for batch in batches:
            for row in batch.to_pylist():
                bid = row["block_id"]
                if bid != cur_bid:
                    if cur_bid is not None:
                        out = emit(flush(cur_bid, pending))
                        if out is not None:
                            yield out
                    cur_bid = bid
                    pending = {}
                pending[row["column"]] = Encoded.from_row(row)
        if cur_bid is not None:
            out = emit(flush(cur_bid, pending))
            if out is not None:
                yield out

    partial = enc.mapInArrow(_partials, "value string, n_rows long, total double")
    return partial.groupBy("value").agg(
        F.sum("n_rows").alias("n_rows"), F.sum("total").alias("sum_value")
    )


def count_where_in(
    spark: SparkSession,
    table_dir: str,
    column: str,
    values: list,
    snapshot_id: str | None = None,
) -> DataFrame:
    """Counts for specific values only: bloom-digest block pruning first
    (blocks none of the values touched never leave the manifest), then
    the compressed-domain count restricted to the survivors."""
    table = IceTable(table_dir)
    enc = table.read_table(spark, snapshot_id)
    live = prune_blocks_in(
        enc, physical_column(table, column, snapshot_id), values
    )
    hist = count_by_value(spark, table_dir, column, snapshot_id, blocks=live)
    return hist.filter(F.col("value").isin([str(v) for v in values]))


def _fsst_eq_mask(meta: dict, buffers: dict, value: str, n_rows: int):
    """Per-row equality mask of an (unwrapped) fsst block against a
    string literal WITHOUT decoding: greedy longest-match FSST encode is
    canonical per string (pair matches never cross string boundaries and
    the in-run parity selection depends only on the string's own bytes),
    so encoding the probe with the block's stored symbol table yields
    exactly the bytes an equal row stored.  The compare is then a
    vectorized length filter + span gather over the COMPRESSED buffer —
    ~compression_ratio× fewer bytes touched than decode-then-compare."""
    from pyrle_spark.codecs.bitpack import DeltaCodec
    from pyrle_spark.codecs.fsst import encode_buffer

    syms = np.frombuffer(buffers["symbols"], dtype=np.uint8)
    table = {
        "sym_len": syms[:256],
        "sym_first": syms[256:512],
        "sym_second": syms[512:768],
    }
    probe = np.frombuffer(value.encode("utf-8"), dtype=np.uint8)
    penc, _ = encode_buffer(
        probe, np.array([0, len(probe)], dtype=np.int64), table
    )
    enc_off = DeltaCodec.decode(
        meta["offsets_meta"], {"packed": buffers["offsets"]}
    )
    data = np.frombuffer(buffers["data"], dtype=np.uint8)
    mask = np.zeros(n_rows, dtype=bool)
    cand = np.flatnonzero(np.diff(enc_off) == len(penc))
    if len(cand):
        if len(penc):
            idx = enc_off[cand][:, None] + np.arange(len(penc))
            mask[cand[(data[idx] == penc).all(axis=1)]] = True
        else:
            mask[cand] = True
    return mask


def _block_eq_count(enc: Encoded, value, kill: np.ndarray | None) -> int:
    """Rows equal to ``value`` in one block, compressed-domain where the
    codec allows: fsst compares encoded spans (:func:`_fsst_eq_mask`),
    dict counts the value's code, delete-affected blocks take the exact
    decode-and-mask path."""
    import pyarrow.compute as pc

    from pyrle_spark.codecs import decode_array

    if kill is None or not len(kill):
        meta, buffers = enc.meta, enc.buffers
        codec = enc.codec
        if codec.endswith("+zstd"):
            codec = codec[: -len("+zstd")]
            meta, buffers = ZstdCodec.unwrap(meta, buffers)
        if codec == "fsst" and isinstance(value, str):
            mask = _fsst_eq_mask(meta, buffers, value, enc.n_rows)
            if meta.get("has_validity") or "validity" in enc.buffers:
                vbuf = enc.buffers.get("validity") or buffers.get("validity")
                if vbuf is not None:
                    valid = np.unpackbits(
                        np.frombuffer(vbuf, dtype=np.uint8), count=enc.n_rows
                    ).astype(bool)
                    mask &= valid
            return int(mask.sum())
        packed = _dict_codes_and_values(enc)
        if packed is not None:
            codes, values, valid = packed
            try:
                code = values.index(str(value))
            except ValueError:
                return 0
            if valid is not None:
                codes = codes[valid]
            return int((codes == code).sum())
        if (
            codec == "rle"
            and meta["kind"] == "fixed"
            and not meta.get("has_validity")
            and isinstance(value, (int, float))
            and not isinstance(value, bool)
        ):
            # run fold: sum the lengths of runs whose value equals the
            # probe — O(runs), never expands to positions
            from pyrle_spark.codecs.bitpack import ForCodec

            runs = ForCodec.decode(meta["runs_meta"], {"packed": buffers["runs"]})
            if meta["vals_mode"] == "for":
                vals = ForCodec.decode(
                    meta["vals_meta"], {"packed": buffers["values"]}
                )
            else:
                vals = np.frombuffer(
                    buffers["values"], dtype=np.dtype(meta["vals_meta"]["dtype"])
                )
            return int(runs[vals == value].sum())
    arr = decode_array(enc)
    if kill is not None and len(kill):
        arr = arr.filter(pa.array(_keep_mask(len(arr), kill)))
    return int(
        pc.sum(pc.equal(arr, pa.scalar(value, type=arr.type))).as_py() or 0
    )


def count_where_eq(
    spark: SparkSession,
    table_dir: str,
    column: str,
    value,
    snapshot_id: str | None = None,
) -> DataFrame:
    """``SELECT count(*) WHERE column = value`` with the predicate kept
    in the compressed domain end-to-end: bloom digests prune blocks that
    never saw the value, dict blocks count the value's code, and fsst
    blocks compare ENCODED spans against the probe encoded with each
    block's own symbol table — the full column never decodes on any
    fast path.  One ``n_match`` row out.

    Scale shape: the bloom prune is an O(#blocks) manifest scan; one
    mapInArrow pass over survivors emits one int per block; at 10^12
    rows only delete-affected or exotic-codec blocks ever decode."""
    table = IceTable(table_dir)
    phys = physical_column(table, column, snapshot_id)
    block_rows = int(table.properties(snapshot_id)["block_rows"])
    dmap = _delete_map(table_dir, snapshot_id, block_rows)
    enc = table.read_table(spark, snapshot_id)
    live = prune_blocks_eq(enc, phys, value)
    enc = dedup_blocks(
        enc.filter(F.col("column") == phys).join(
            F.broadcast(live), "block_id", "left_semi"
        )
    )

    def _partials(batches):
        for batch in batches:
            ns = [
                _block_eq_count(
                    Encoded.from_row(row), value, dmap.get(row["block_id"])
                )
                for row in batch.to_pylist()
            ]
            yield pa.RecordBatch.from_pydict(
                {"n": ns}, schema=pa.schema([("n", pa.int64())])
            )

    partial = enc.mapInArrow(_partials, "n long")
    return partial.agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n_match"))


def _rle_runs_codes(meta: dict, buffers: dict):
    """(runs, vals) of an (unwrapped) fixed no-validity rle block, or
    None when the layout doesn't apply — shared by the pair-group-by
    run-zip fast path."""
    from pyrle_spark.codecs.bitpack import ForCodec

    if meta.get("kind") != "fixed" or meta.get("has_validity"):
        return None
    runs = ForCodec.decode(meta["runs_meta"], {"packed": buffers["runs"]})
    if meta["vals_mode"] == "for":
        vals = ForCodec.decode(meta["vals_meta"], {"packed": buffers["values"]})
    else:
        vals = np.frombuffer(
            buffers["values"], dtype=np.dtype(meta["vals_meta"]["dtype"])
        )
    return runs.astype(np.int64), vals


def _block_factorize(enc: Encoded, kill: np.ndarray | None = None):
    """One block's column as (codes int64[n_live], values list) — a
    row-aligned factorized view with ``-1`` = null.  Dict blocks reuse
    the stored code stream, rle blocks expand run indices (int ops only
    — the VALUES never materialize per row), everything else decodes the
    single column and dictionary-encodes it.  ``kill``: delete-affected
    blocks take the exact decode-and-mask path."""
    from pyrle_spark.codecs import decode_array

    if kill is not None and len(kill):
        arr = decode_array(enc).filter(pa.array(_keep_mask(enc.n_rows, kill)))
        denc = arr.dictionary_encode()
        codes = np.asarray(denc.indices.fill_null(-1), dtype=np.int64)
        return codes, denc.dictionary.to_pylist()

    packed = _dict_codes_and_values(enc)
    if packed is not None:
        codes, values, valid = packed
        codes = np.asarray(codes, dtype=np.int64)
        if valid is not None:
            codes = np.where(valid, codes, -1)
        return codes, values

    meta, buffers = enc.meta, enc.buffers
    codec = enc.codec
    if codec.endswith("+zstd"):
        codec = codec[: -len("+zstd")]
        meta, buffers = ZstdCodec.unwrap(meta, buffers)
    if codec == "rle":
        rv = _rle_runs_codes(meta, buffers)
        if rv is not None:
            runs, vals = rv
            uniq, inv = np.unique(vals, return_inverse=True)
            return np.repeat(inv.astype(np.int64), runs), [
                x.item() for x in uniq
            ]
    arr = decode_array(enc)
    denc = arr.dictionary_encode()
    codes = np.asarray(denc.indices.fill_null(-1), dtype=np.int64)
    return codes, denc.dictionary.to_pylist()


def _pair_hist(enc_a: Encoded, enc_b: Encoded, kill: np.ndarray | None):
    """Joint (value_a, value_b, n) histogram of two row-aligned blocks
    of the SAME table block, computed on codes.  When BOTH columns are
    clean rle blocks the runs are zipped at their boundary union —
    O(runs_a + runs_b), no per-row array at all; otherwise factorized
    int codes pair up via one bincount."""

    def _clean_rle(enc):
        if kill is not None and len(kill):
            return None
        meta, buffers, codec = enc.meta, enc.buffers, enc.codec
        if codec.endswith("+zstd"):
            codec = codec[: -len("+zstd")]
            meta, buffers = ZstdCodec.unwrap(meta, buffers)
        return _rle_runs_codes(meta, buffers) if codec == "rle" else None

    ra, rb = _clean_rle(enc_a), _clean_rle(enc_b)
    if ra is not None and rb is not None:
        runs_a, vals_a = ra
        runs_b, vals_b = rb
        # boundary union: each zipped segment lies inside exactly one
        # run per side, so its (code_a, code_b) pair is constant
        ca, cb = np.cumsum(runs_a), np.cumsum(runs_b)
        bounds = np.union1d(ca, cb)
        segs = np.diff(np.concatenate(([0], bounds)))
        ia = np.searchsorted(ca, bounds, side="left")
        ib = np.searchsorted(cb, bounds, side="left")
        ua, inv_a = np.unique(vals_a, return_inverse=True)
        ub, inv_b = np.unique(vals_b, return_inverse=True)
        codes_a, codes_b = inv_a[ia].astype(np.int64), inv_b[ib].astype(np.int64)
        pair = codes_a * len(ub) + codes_b
        uniq_pair, pinv = np.unique(pair, return_inverse=True)
        n = np.zeros(len(uniq_pair), dtype=np.int64)
        np.add.at(n, pinv, segs)
        va = [ua[p // len(ub)].item() for p in uniq_pair]
        vb = [ub[p % len(ub)].item() for p in uniq_pair]
        return va, vb, n

    codes_a, vals_a = _block_factorize(enc_a, kill)
    codes_b, vals_b = _block_factorize(enc_b, kill)
    if len(codes_a) != len(codes_b):
        raise ValueError(
            f"pair group-by misalignment: {len(codes_a)} vs {len(codes_b)} "
            "rows in one block — columns of one table must be row-aligned"
        )
    nb = len(vals_b) + 1
    pair = (codes_a + 1) * nb + (codes_b + 1)
    counts = np.bincount(pair, minlength=(len(vals_a) + 1) * nb)
    nz = np.flatnonzero(counts)
    va = [None if p // nb == 0 else vals_a[p // nb - 1] for p in nz]
    vb = [None if p % nb == 0 else vals_b[p % nb - 1] for p in nz]
    return va, vb, counts[nz]


def _plan_blocks(spark, table_dir, columns, snapshot_id, filter_col=None,
                 lo=None, hi=None):
    """Plan the blocks of ``columns`` for a multi-column aggregate with
    the read planner — resume dedup, deletes and, given ``filter_col``,
    zone pruning on ``[lo, hi]`` all happen in the driver.  Returns
    ``(plan, lo, hi)`` with the bounds in the filter column's physical
    domain (integer-clamped, epoch units for timestamps), so every
    codec tier compares like with like."""
    preds = [(filter_col, lo, hi)] if filter_col is not None else []
    plan = plan_read(
        table_dir,
        columns=columns,
        predicates=preds,
        snapshot_id=snapshot_id,
        session_tz=_session_tz(spark),
    )
    if preds:
        b = plan.preds[0].bounds(plan.types.get(filter_col))
        if b is not None:
            lo, hi = b[1], b[2]
    return plan, lo, hi


def group_count_pair(
    spark: SparkSession,
    table_dir: str,
    col_a: str,
    col_b: str,
    snapshot_id: str | None = None,
) -> DataFrame:
    """``SELECT a, b, count(*) GROUP BY a, b`` answered below decode:
    the read planner hands each task both columns' winning blocks, read
    file-direct (no shuffle of compressed buffers); each block
    contributes its joint code histogram — rle×rle pairs zip at run
    boundaries without expanding, dict codes pair via one bincount, and
    string values materialize only once per (block, distinct pair) —
    then a tiny groupBy folds the per-block histograms.

    Returns (value_a string, value_b string, n_rows long); null slots
    group as NULL, like SQL GROUP BY.  Merge-on-read deletes apply.

    Scale shape: one Arrow pass over the planned blocks emits
    O(#distinct pairs) per block; the only shuffle is the final
    aggregate, whose key domain is the pair cardinality."""
    plan, _, _ = _plan_blocks(spark, table_dir, [col_a, col_b], snapshot_id)
    pa_col, pb_col = plan.phys_of[col_a], plan.phys_of[col_b]

    def _pairs(blocks):
        for blk in blocks:
            rows = blk.cols
            va, vb, ns = _pair_hist(rows[pa_col], rows[pb_col], blk.kill)
            yield pa.RecordBatch.from_pydict(
                {
                    "value_a": [None if v is None else str(v) for v in va],
                    "value_b": [None if v is None else str(v) for v in vb],
                    "n_rows": [int(n) for n in ns],
                },
                schema=pa.schema(
                    [
                        ("value_a", pa.string()),
                        ("value_b", pa.string()),
                        ("n_rows", pa.int64()),
                    ]
                ),
            )

    partial = read_blocks(
        spark, plan, _pairs, "value_a string, value_b string, n_rows long"
    )
    return partial.groupBy("value_a", "value_b").agg(
        F.sum("n_rows").alias("n_rows")
    )


def group_ndv_pair(
    spark: SparkSession,
    table_dir: str,
    col_a: str,
    col_b: str,
    snapshot_id: str | None = None,
) -> DataFrame:
    """``SELECT a, count(DISTINCT b), count(*) GROUP BY a`` answered
    below decode: the per-block joint code histograms from
    :func:`group_count_pair`'s partial pass globally fold to one row
    per distinct (a, b) pair, so the distinct count is a plain
    ``count`` over that already-distinct relation — the b values
    themselves deduplicate block-locally on CODES, and what shuffles is
    O(#distinct pairs per block), never rows.

    Returns (value_a string, ndv_b long, n_rows long); NULL ``b`` slots
    are excluded from ``ndv_b`` (SQL ``count(DISTINCT b)`` semantics)
    but still counted in ``n_rows``.  Merge-on-read deletes apply.

    Scale shape: one Arrow pass over the planned blocks + one
    shuffle of the pair histogram (bounded by pair cardinality, not row
    count) — exact distinct counting without a row-level expand or a
    sketch."""
    pairs = group_count_pair(spark, table_dir, col_a, col_b, snapshot_id)
    return pairs.groupBy("value_a").agg(
        F.count("value_b").alias("ndv_b"),
        F.sum("n_rows").alias("n_rows"),
    )


def group_sum_pair(
    spark: SparkSession,
    table_dir: str,
    col_a: str,
    col_b: str,
    measure: str,
    snapshot_id: str | None = None,
) -> DataFrame:
    """``SELECT a, b, count(*), sum(m) GROUP BY a, b`` below row decode:
    the two key columns never materialize values (codes pair exactly as
    in :func:`group_count_pair`), and the INTEGER measure column decodes
    to one numpy array per block that folds into the pair histogram via
    a single ``np.add.at`` — no row-shaped record ever exists.  Sums
    accumulate in int64 end-to-end (the repo's cross-engine exactness
    rule); a float measure block raises — route floats through
    :func:`filtered_numeric_agg`-style tolerance checks instead.

    Returns (value_a string, value_b string, n_rows long, sum_m long);
    measure NULLs contribute 0 to the sum and still count in ``n_rows``
    (= SQL ``sum(coalesce(m, 0))`` + ``count(*)``).  Merge-on-read
    deletes apply to keys and measure alike.

    Scale shape: one Arrow pass over the planned blocks, no shuffle of
    compressed buffers; O(#distinct pairs) rows per block out; final
    aggregate key = pair cardinality."""
    from pyrle_spark.codecs import decode_array

    plan, _, _ = _plan_blocks(
        spark, table_dir, [col_a, col_b, measure], snapshot_id
    )
    pa_col, pb_col, pm_col = (plan.phys_of[c] for c in (col_a, col_b, measure))

    def _partials(blocks):
        for blk in blocks:
            bid, rows, kill = blk.block_id, blk.cols, blk.kill
            codes_a, vals_a = _block_factorize(rows[pa_col], kill)
            codes_b, vals_b = _block_factorize(rows[pb_col], kill)
            m_enc = rows[pm_col]
            arr = decode_array(m_enc)
            if not pa.types.is_integer(arr.type):
                raise TypeError(
                    f"group_sum_pair needs an integer measure; "
                    f"{measure!r} blocks are {arr.type}"
                )
            if kill is not None and len(kill):
                arr = arr.filter(pa.array(_keep_mask(m_enc.n_rows, kill)))
            m = np.asarray(arr.fill_null(0), dtype=np.int64)
            if not (len(codes_a) == len(codes_b) == len(m)):
                raise ValueError(
                    f"pair group-by misalignment in block {bid}: "
                    f"{len(codes_a)}/{len(codes_b)}/{len(m)} rows"
                )
            nb = len(vals_b) + 1
            pair = (codes_a + 1) * nb + (codes_b + 1)
            size = (len(vals_a) + 1) * nb
            counts = np.bincount(pair, minlength=size)
            sums = np.zeros(size, dtype=np.int64)
            np.add.at(sums, pair, m)
            nz = np.flatnonzero(counts)
            yield pa.RecordBatch.from_pydict(
                {
                    "value_a": [
                        None if p // nb == 0 else str(vals_a[p // nb - 1])
                        for p in nz
                    ],
                    "value_b": [
                        None if p % nb == 0 else str(vals_b[p % nb - 1])
                        for p in nz
                    ],
                    "n_rows": [int(c) for c in counts[nz]],
                    "sum_m": [int(s) for s in sums[nz]],
                },
                schema=pa.schema(
                    [
                        ("value_a", pa.string()),
                        ("value_b", pa.string()),
                        ("n_rows", pa.int64()),
                        ("sum_m", pa.int64()),
                    ]
                ),
            )

    partial = read_blocks(
        spark, plan, _partials,
        "value_a string, value_b string, n_rows long, sum_m long",
    )
    return partial.groupBy("value_a", "value_b").agg(
        F.sum("n_rows").alias("n_rows"), F.sum("sum_m").alias("sum_m")
    )


def _block_filter_mask(enc: Encoded, lo, hi, kill):
    """Row mask of one block's rows with ``lo <= v <= hi`` — or ``None``
    meaning EVERY live row matches (the zone-contained tier: the caller
    skips masking entirely).  Built without materializing values when
    the codec allows: rle evaluates on run values and ``np.repeat``s
    the run mask, fixed dict evaluates on the dictionary and gathers
    ``hit[codes]``; everything else decodes the single column.  All
    tiers compare via :func:`_range_mask` (native integer domain —
    codec choice can never change the answer).  NULL and NaN never
    match (SQL comparison semantics); delete-affected blocks take the
    exact decode-and-mask path."""
    from pyrle_spark.codecs import decode_array

    if kill is None or not len(kill):
        meta, codec, buffers = enc.meta, enc.codec, enc.buffers
        if codec.endswith("+zstd"):
            codec = codec[: -len("+zstd")]
            meta, buffers = ZstdCodec.unwrap(meta, buffers)
        if codec == "rle":
            rv = _rle_runs_codes(meta, buffers)
            if rv is not None:
                runs, vals = rv
                m = _range_mask(vals, lo, hi)
                if m.all():
                    return None
                return np.repeat(m, runs)
        if (
            codec == "dict"
            and meta.get("kind") == "fixed"
            and not meta.get("has_validity")
        ):
            from pyrle_spark.codecs.dictionary import _decode_codes

            cbuf = {
                k[len("codes_") :]: v
                for k, v in buffers.items()
                if k.startswith("codes_")
            }
            codes = np.asarray(
                _decode_codes(meta["codes_mode"], meta["codes_meta"], cbuf),
                dtype=np.int64,
            )
            uniques = np.frombuffer(
                buffers["dict_data"], dtype=np.dtype(meta["dict_dtype"])
            )
            if meta.get("orig_dtype"):
                uniques = uniques.view(np.dtype(meta["orig_dtype"]))
            hit = _range_mask(uniques, lo, hi)
            if hit.all():
                return None
            return hit[codes]
    arr = decode_array(enc)
    if kill is not None and len(kill):
        arr = arr.filter(pa.array(_keep_mask(enc.n_rows, kill)))
    valid = np.asarray(arr.is_valid(), dtype=bool)
    if pa.types.is_timestamp(arr.type):
        # timestamps compare in epoch units of their type, like the
        # rle/dict tiers' stored values and the planned bounds
        a = np.asarray(arr.cast(pa.int64()).fill_null(0), dtype=np.int64)
    elif pa.types.is_integer(arr.type):
        a = np.asarray(arr.fill_null(0), dtype=np.int64)
    else:
        a = np.asarray(arr.fill_null(0), dtype=np.float64)
    return valid & _range_mask(a, lo, hi)


def group_count_where(
    spark: SparkSession,
    table_dir: str,
    key_col: str,
    filter_col: str,
    lo=None,
    hi=None,
    snapshot_id: str | None = None,
) -> DataFrame:
    """``SELECT key, count(*) WHERE lo <= f <= hi GROUP BY key`` — the
    most common real query shape, answered below row decode with THREE
    pushdown tiers:

    1. **zone prune** (read planner, in the driver): blocks whose
       ``filter_col`` zone misses ``[lo, hi]`` are never read;
    2. **zone containment** (per surviving block): when every codec-
       visible value matches (``_block_filter_mask`` → None), the key
       column histograms straight off its codes — the filter column
       contributes zero row-level work;
    3. **code-level mask**: straddling rle/dict filter blocks build the
       row mask from run values / dictionary hits without materializing
       values; only the residue decodes one column.

    On a filter-clustered layout tiers 1-2 cover almost every block —
    the shape that makes ``WHERE ts BETWEEN …  GROUP BY host`` cheap at
    100 TB.  Returns (value_a string, n_rows long); NULL keys group as
    NULL.  Merge-on-read deletes apply."""
    plan, lo, hi = _plan_blocks(
        spark, table_dir, [key_col, filter_col], snapshot_id, filter_col, lo, hi
    )
    pk, pf = plan.phys_of[key_col], plan.phys_of[filter_col]

    def _partials(blocks):
        for blk in blocks:
            bid, rows, kill = blk.block_id, blk.cols, blk.kill
            codes, vals = _block_factorize(rows[pk], kill)
            mask = _block_filter_mask(rows[pf], lo, hi, kill)
            if mask is not None:
                if len(mask) != len(codes):
                    raise ValueError(
                        f"filtered group-by misalignment in block {bid}: "
                        f"{len(codes)} key rows vs {len(mask)} filter rows"
                    )
                codes = codes[mask]
            counts = np.bincount(codes + 1, minlength=len(vals) + 1)
            nz = np.flatnonzero(counts)
            yield pa.RecordBatch.from_pydict(
                {
                    "value_a": [
                        None if p == 0 else str(vals[p - 1]) for p in nz
                    ],
                    "n_rows": [int(c) for c in counts[nz]],
                },
                schema=pa.schema(
                    [("value_a", pa.string()), ("n_rows", pa.int64())]
                ),
            )

    partial = read_blocks(spark, plan, _partials, "value_a string, n_rows long")
    return partial.groupBy("value_a").agg(F.sum("n_rows").alias("n_rows"))


def group_sums_where(
    spark: SparkSession,
    table_dir: str,
    key_a: str,
    key_b: str | None,
    measures: list,
    filter_col: str | None = None,
    lo=None,
    hi=None,
    snapshot_id: str | None = None,
) -> DataFrame:
    """``SELECT a, b, count(*), sum(m1), …, sum(mk) WHERE lo <= f <= hi
    GROUP BY a, b`` below row decode — the TPC-H Q1 shape.  Combines
    :func:`group_sum_pair`'s code-paired two-key histogram with
    :func:`group_count_where`'s three filter-pushdown tiers (manifest
    zone prune → zone containment → codec-level mask), and folds ANY
    number of integer measures into the pair domain in one pass — one
    ``np.add.at`` per measure against the same pair index, so adding a
    measure costs one array fold, never another scan.

    All sums accumulate in int64 end-to-end (the cross-engine exactness
    rule); a float measure block raises.  Measure NULLs contribute 0
    and still count in ``n_rows``.  Merge-on-read deletes apply to
    keys, filter, and measures alike.

    ``key_b=None`` runs the single-key form (``GROUP BY a`` only):
    ``value_b`` comes back as the constant ``"_all"`` for the caller to
    drop — the histogram then feeds aggregate-below-join consumers
    (:func:`agg_join_dim`'s shape with a filter, e.g. TPC-H Q14's
    per-partkey revenue under a shipdate window).

    Returns (value_a string, value_b string, n_rows long,
    sum_<m> long per measure).

    Scale shape: O(#blocks) prune in the driver, one Arrow pass over the
    surviving blocks, O(#distinct pairs) rows per block out; the final aggregate's key is pair cardinality (Q1: 6 groups
    regardless of corpus size)."""
    from pyrle_spark.codecs import decode_array

    logical = [key_a, *measures] + [c for c in (key_b, filter_col) if c]
    plan, lo, hi = _plan_blocks(
        spark, table_dir, logical, snapshot_id, filter_col, lo, hi
    )
    pa_col = plan.phys_of[key_a]
    pb_col = plan.phys_of[key_b] if key_b is not None else None
    pm_cols = [plan.phys_of[m] for m in measures]
    pf = plan.phys_of[filter_col] if filter_col else None
    sum_names = [f"sum_{m}" for m in measures]
    out_schema = pa.schema(
        [("value_a", pa.string()), ("value_b", pa.string()),
         ("n_rows", pa.int64())]
        + [(s, pa.int64()) for s in sum_names]
    )

    def _partials(blocks):
        for blk in blocks:
            bid, rows, kill = blk.block_id, blk.cols, blk.kill
            codes_a, vals_a = _block_factorize(rows[pa_col], kill)
            if pb_col is not None:
                codes_b, vals_b = _block_factorize(rows[pb_col], kill)
            else:  # single-key form: one constant pseudo-slot
                codes_b = np.zeros(len(codes_a), dtype=np.int64)
                vals_b = ["_all"]
            ms = []
            for m_name, pm in zip(measures, pm_cols):
                m_enc = rows[pm]
                arr = decode_array(m_enc)
                if not pa.types.is_integer(arr.type):
                    raise TypeError(
                        f"group_sums_where needs integer measures; "
                        f"{m_name!r} blocks are {arr.type}"
                    )
                if kill is not None and len(kill):
                    arr = arr.filter(
                        pa.array(_keep_mask(m_enc.n_rows, kill))
                    )
                ms.append(np.asarray(arr.fill_null(0), dtype=np.int64))
            if pf is not None:
                mask = _block_filter_mask(rows[pf], lo, hi, kill)
            else:
                mask = None
            if mask is not None:
                if len(mask) != len(codes_a):
                    raise ValueError(
                        f"filtered pair group-by misalignment in block "
                        f"{bid}: {len(codes_a)} key rows vs {len(mask)} "
                        "filter rows"
                    )
                codes_a = codes_a[mask]
                codes_b = codes_b[mask]
                ms = [m[mask] for m in ms]
            if not all(len(m) == len(codes_a) for m in ms) or len(
                codes_a
            ) != len(codes_b):
                raise ValueError(
                    f"pair group-by misalignment in block {bid}"
                )
            nb = len(vals_b) + 1
            pair = (codes_a + 1) * nb + (codes_b + 1)
            size = (len(vals_a) + 1) * nb
            counts = np.bincount(pair, minlength=size)
            sums = []
            for m in ms:
                s = np.zeros(size, dtype=np.int64)
                np.add.at(s, pair, m)
                sums.append(s)
            nz = np.flatnonzero(counts)
            if not len(nz):
                continue
            cols = {
                "value_a": [
                    None if p // nb == 0 else str(vals_a[p // nb - 1])
                    for p in nz
                ],
                "value_b": [
                    None if p % nb == 0 else str(vals_b[p % nb - 1])
                    for p in nz
                ],
                "n_rows": [int(c) for c in counts[nz]],
            }
            for s_name, s in zip(sum_names, sums):
                cols[s_name] = [int(v) for v in s[nz]]
            yield pa.RecordBatch.from_pydict(cols, schema=out_schema)

    partial = read_blocks(
        spark,
        plan,
        _partials,
        ", ".join(
            ["value_a string", "value_b string", "n_rows long"]
            + [f"{s} long" for s in sum_names]
        ),
    )
    return partial.groupBy("value_a", "value_b").agg(
        F.sum("n_rows").alias("n_rows"),
        *[F.sum(s).alias(s) for s in sum_names],
    )


def group_minmax_pair(
    spark: SparkSession,
    table_dir: str,
    col_a: str,
    col_b: str,
    measure: str,
    snapshot_id: str | None = None,
) -> DataFrame:
    """``SELECT a, b, count(*), min(m), max(m) GROUP BY a, b`` below row
    decode — completing the below-decode aggregate family (count:
    :func:`group_count_pair`, sum: :func:`group_sum_pair`, distinct:
    :func:`group_ndv_pair`).  Key columns pair on CODES exactly as in
    :func:`group_sum_pair`; the integer measure decodes to one numpy
    array per block and folds into the pair domain with
    ``np.minimum.at`` / ``np.maximum.at``.  SQL semantics for NULL
    measures: they count in ``n_rows`` but never into min/max (an
    all-NULL group yields NULL bounds) — enforced by folding only valid
    slots and masking empty pairs, not by sentinel pollution.

    Returns (value_a string, value_b string, n_rows long, min_m long,
    max_m long).  Merge-on-read deletes apply.

    Scale shape: one Arrow pass over the planned blocks, no shuffle of
    compressed buffers; O(#distinct pairs) rows per block out; final
    aggregate key = pair cardinality."""
    from pyrle_spark.codecs import decode_array

    plan, _, _ = _plan_blocks(
        spark, table_dir, [col_a, col_b, measure], snapshot_id
    )
    pa_col, pb_col, pm_col = (plan.phys_of[c] for c in (col_a, col_b, measure))

    def _partials(blocks):
        for blk in blocks:
            bid, rows, kill = blk.block_id, blk.cols, blk.kill
            codes_a, vals_a = _block_factorize(rows[pa_col], kill)
            codes_b, vals_b = _block_factorize(rows[pb_col], kill)
            m_enc = rows[pm_col]
            arr = decode_array(m_enc)
            if not pa.types.is_integer(arr.type):
                raise TypeError(
                    f"group_minmax_pair needs an integer measure; "
                    f"{measure!r} blocks are {arr.type}"
                )
            if kill is not None and len(kill):
                arr = arr.filter(pa.array(_keep_mask(m_enc.n_rows, kill)))
            valid = np.asarray(arr.is_valid(), dtype=bool)
            m = np.asarray(arr.fill_null(0), dtype=np.int64)
            if not (len(codes_a) == len(codes_b) == len(m)):
                raise ValueError(
                    f"pair group-by misalignment in block {bid}: "
                    f"{len(codes_a)}/{len(codes_b)}/{len(m)} rows"
                )
            nb = len(vals_b) + 1
            pair = (codes_a + 1) * nb + (codes_b + 1)
            size = (len(vals_a) + 1) * nb
            counts = np.bincount(pair, minlength=size)
            mins = np.full(size, np.iinfo(np.int64).max, dtype=np.int64)
            maxs = np.full(size, np.iinfo(np.int64).min, dtype=np.int64)
            nvalid = np.zeros(size, dtype=np.int64)
            vp, vm = pair[valid], m[valid]
            np.minimum.at(mins, vp, vm)
            np.maximum.at(maxs, vp, vm)
            np.add.at(nvalid, vp, 1)
            nz = np.flatnonzero(counts)
            yield pa.RecordBatch.from_pydict(
                {
                    "value_a": [
                        None if p // nb == 0 else str(vals_a[p // nb - 1])
                        for p in nz
                    ],
                    "value_b": [
                        None if p % nb == 0 else str(vals_b[p % nb - 1])
                        for p in nz
                    ],
                    "n_rows": [int(c) for c in counts[nz]],
                    "min_m": [
                        None if nvalid[p] == 0 else int(mins[p]) for p in nz
                    ],
                    "max_m": [
                        None if nvalid[p] == 0 else int(maxs[p]) for p in nz
                    ],
                },
                schema=pa.schema(
                    [
                        ("value_a", pa.string()),
                        ("value_b", pa.string()),
                        ("n_rows", pa.int64()),
                        ("min_m", pa.int64()),
                        ("max_m", pa.int64()),
                    ]
                ),
            )

    partial = read_blocks(
        spark, plan, _partials,
        "value_a string, value_b string, n_rows long, min_m long, max_m long",
    )
    return partial.groupBy("value_a", "value_b").agg(
        F.sum("n_rows").alias("n_rows"),
        F.min("min_m").alias("min_m"),
        F.max("max_m").alias("max_m"),
    )


def _block_prefix_count(enc: Encoded, prefix: str, kill) -> int:
    """Rows starting with ``prefix`` in one block: dict blocks test the
    DICTIONARY (O(#distinct) startswith, counts off the code stream);
    everything else decodes the single column.  Delete-affected blocks
    decode-and-mask."""
    import pyarrow.compute as pc

    return _block_str_match_count(
        enc,
        lambda v: v.startswith(prefix),
        lambda arr: pc.starts_with(arr, prefix),
        kill,
    )


def _block_str_match_count(enc: Encoded, py_pred, arrow_pred, kill) -> int:
    """Shared engine for string-predicate counts in one block
    (:func:`_block_prefix_count`, :func:`_block_contains_count`): dict
    blocks evaluate ``py_pred`` once per DICTIONARY entry and count off
    the code stream; everything else decodes the single column and
    applies the vectorized ``arrow_pred``.  Delete-affected blocks
    decode-and-mask.  One predicate pair in, so the dict-probe /
    bincount / delete-mask logic can never diverge between the count
    flavors."""
    import pyarrow.compute as pc

    from pyrle_spark.codecs import decode_array

    if kill is None or not len(kill):
        packed = _dict_codes_and_values(enc)
        if packed is not None:
            codes, values, valid = packed
            hit = np.array(
                [isinstance(v, str) and py_pred(v) for v in values],
                dtype=bool,
            )
            if not hit.any():
                return 0
            codes = np.asarray(codes, dtype=np.int64)
            if valid is not None:
                codes = codes[valid]
            counts = np.bincount(codes, minlength=len(values))
            return int(counts[hit].sum())
    arr = decode_array(enc)
    if kill is not None and len(kill):
        arr = arr.filter(pa.array(_keep_mask(len(arr), kill)))
    return int(pc.sum(arrow_pred(arr.drop_null())).as_py() or 0)


def count_where_prefix(
    spark: SparkSession,
    table_dir: str,
    column: str,
    prefix: str,
    snapshot_id: str | None = None,
) -> DataFrame:
    """``SELECT count(*) WHERE column LIKE 'prefix%'`` with string
    zonemap pruning on the manifest: a block can hold a match only if
    ``zmax >= prefix`` and ``zmin < prefix⁺`` (prefix with its last
    code point incremented), so on prefix-clustered layouts almost no
    block is touched.  Survivors count in the compressed domain where
    the codec allows (dictionary startswith, codes never decode to
    strings) and decode only otherwise.  One ``n_match`` row out.

    Pruning is a true superset filter: zonemaps predate deletes and
    deletes only shrink matches."""
    table = IceTable(table_dir)
    phys = physical_column(table, column, snapshot_id)
    block_rows = int(table.properties(snapshot_id)["block_rows"])
    dmap = _delete_map(table_dir, snapshot_id, block_rows)
    enc = dedup_blocks(
        table.read_table(spark, snapshot_id).filter(F.col("column") == phys)
    )
    if prefix:
        keep = F.col("zmax").isNull() | (F.col("zmax") >= F.lit(prefix))
        last = prefix[-1]
        if ord(last) < 0x10FFFF:
            upper = prefix[:-1] + chr(ord(last) + 1)
            keep = keep & (F.col("zmin").isNull() | (F.col("zmin") < F.lit(upper)))
        enc = enc.filter(keep)

    def _partials(batches):
        for batch in batches:
            ns = [
                _block_prefix_count(
                    Encoded.from_row(row), prefix, dmap.get(row["block_id"])
                )
                for row in batch.to_pylist()
            ]
            yield pa.RecordBatch.from_pydict(
                {"n": ns}, schema=pa.schema([("n", pa.int64())])
            )

    partial = enc.mapInArrow(_partials, "n long")
    return partial.agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n_match"))


def _block_contains_count(enc: Encoded, sub: str, kill) -> int:
    """Rows containing ``sub`` in one block: dict blocks test the
    DICTIONARY (O(#distinct) substring probes, counts off the code
    stream — the late-materialization win is largest here because a
    contains probe must otherwise touch every row); everything else
    decodes the single column into Arrow and matches vectorized.
    Delete-affected blocks decode-and-mask."""
    import pyarrow.compute as pc

    return _block_str_match_count(
        enc,
        lambda v: sub in v,
        lambda arr: pc.match_substring(arr, sub),
        kill,
    )


def count_where_contains(
    spark: SparkSession,
    table_dir: str,
    column: str,
    sub: str,
    snapshot_id: str | None = None,
) -> DataFrame:
    """``SELECT count(*) WHERE column LIKE '%sub%'`` in the compressed
    domain.  Unlike :func:`count_where_prefix`, a contains probe has NO
    sound zonemap bound — ``[zmin, zmax]`` orders by prefix, and a
    substring can hide anywhere inside the range — so every block is
    visited (stated plainly rather than pruning unsoundly).  The win is
    WHAT each visit costs: dict blocks answer from the dictionary alone
    (O(#distinct) substring probes + one bincount of the code stream,
    no string ever materializes), and only non-dict survivors decode
    their single column for a vectorized Arrow ``match_substring``.
    One ``n_match`` row out.

    Scale shape: O(#blocks) manifest scan, one mapInArrow emitting one
    int per block, column-pruned to the probed column — on a
    dictionary-friendly corpus the bytes read are the dictionaries,
    not the data."""
    table = IceTable(table_dir)
    phys = physical_column(table, column, snapshot_id)
    block_rows = int(table.properties(snapshot_id)["block_rows"])
    dmap = _delete_map(table_dir, snapshot_id, block_rows)
    enc = dedup_blocks(
        table.read_table(spark, snapshot_id).filter(F.col("column") == phys)
    )

    def _partials(batches):
        for batch in batches:
            ns = [
                _block_contains_count(
                    Encoded.from_row(row), sub, dmap.get(row["block_id"])
                )
                for row in batch.to_pylist()
            ]
            yield pa.RecordBatch.from_pydict(
                {"n": ns}, schema=pa.schema([("n", pa.int64())])
            )

    partial = enc.mapInArrow(_partials, "n long")
    return partial.agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n_match"))


def agg_join_dim(
    spark: SparkSession,
    table_dir: str,
    column: str,
    dim: DataFrame,
    key: str,
    attr: str,
    measure_col: str | None = None,
    snapshot_id: str | None = None,
) -> DataFrame:
    """Star-schema aggregation with the FACT side kept in the compressed
    domain: ``SELECT d.attr, count(*) [, sum(measure)] FROM t JOIN dim d
    ON t.column = d.key GROUP BY d.attr``.

    The fact table contributes only its per-value histogram (dictionary
    + code counts per block — no row ever decodes; with ``measure_col``,
    the grouped code-stream sums of :func:`sum_by_value`).  That
    histogram is O(distinct values), so the join operand shrinks from
    10^12 rows to the dictionary domain BEFORE the join — the
    compressed-domain form of "aggregate below the join", with the dim
    side broadcast.  Inner-join semantics: fact values absent from the
    dim drop, dim keys absent from the fact contribute nothing.

    ``dim`` must be driver-small (it broadcasts); ``key`` is matched
    against the histogram's string-typed values, so keep dim keys as
    strings.  ``attr`` may not be named ``n_rows``/``sum_value`` (those
    are the aggregate output columns)."""
    if attr in ("n_rows", "sum_value"):
        raise ValueError(
            f"dim attr {attr!r} collides with an aggregate output column"
        )
    # internal aliases: a dim whose key/attr is named like the
    # histogram's fixed columns (value/n_rows/sum_value) must not make
    # the join condition or the grouping ambiguous
    d = F.broadcast(
        dim.select(
            F.col(key).alias("_dim_key"), F.col(attr).alias("_dim_attr")
        )
    )
    if measure_col is None:
        hist = count_by_value(spark, table_dir, column, snapshot_id)
        joined = hist.join(d, hist["value"] == d["_dim_key"], "inner")
        return joined.groupBy(
            F.col("_dim_attr").alias(attr)
        ).agg(F.sum("n_rows").alias("n_rows"))
    hist = sum_by_value(spark, table_dir, column, measure_col, snapshot_id)
    joined = hist.join(d, hist["value"] == d["_dim_key"], "inner")
    return joined.groupBy(F.col("_dim_attr").alias(attr)).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("sum_value").alias("sum_value"),
    )


def count_nulls(
    spark: SparkSession,
    table_dir: str,
    column: str,
    snapshot_id: str | None = None,
) -> int:
    """Exact NULL count of one column with validity-aware pruning: a
    block whose meta carries no ``has_validity`` flag stores ZERO nulls
    (the validity bitmap is only attached when some slot is null), so
    only null-bearing blocks decode — on a mostly-complete corpus the
    scan touches almost nothing.  Delete-aware: merge-on-read kills
    mask the bitmap before counting (removing a NULL row must lower the
    answer).  Deletes never create nulls, so validity-free blocks stay
    pruned regardless."""
    table = IceTable(table_dir)
    phys = physical_column(table, column, snapshot_id)
    block_rows = int(table.properties(snapshot_id)["block_rows"])
    dmap = _delete_map(table_dir, snapshot_id, block_rows)
    enc = dedup_blocks(
        table.read_table(spark, snapshot_id).filter(F.col("column") == phys)
    ).filter(
        F.get_json_object(F.col("meta"), "$.has_validity") == "true"
    )

    def _count(batches):
        from pyrle_spark.codecs import decode_array

        for batch in batches:
            total = 0
            for row in batch.to_pylist():
                e = Encoded.from_row(row)
                arr = decode_array(e)
                kill = dmap.get(row["block_id"])
                if kill is not None and len(kill):
                    arr = arr.filter(pa.array(_keep_mask(len(arr), kill)))
                total += arr.null_count
            yield pa.RecordBatch.from_pydict(
                {"n": pa.array([total], pa.int64())}
            )

    parts = enc.mapInArrow(_count, "n long").agg(F.sum("n")).first()[0]
    return int(parts or 0)
