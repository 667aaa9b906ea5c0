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

Scale shape: every aggregate here reads its blocks through the read
planner (:mod:`~pyrle_spark.plans.read_plan`).  ``plan_read`` picks the blocks
in the driver — resume-dedup winners, rename aliases, zone and bloom
pruning on the aggregate's predicate, fully deleted blocks dropped — and
:func:`_read_partials` runs one ``read_blocks`` pass over them: each
block, with its merge-on-read deletes, maps to O(distinct-per-block)
partial rows, and one small aggregate merges them.  No row data is
shuffled, and for dict/rle blocks no row data is even decoded.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyrle_spark.codecs import Encoded
from pyrle_spark.codecs.rawcodec import ZstdCodec
from pyrle_spark.plans.encode_job import _session_tz
from pyrle_spark.plans.read_plan import (
    _domain,
    _range_mask,
    _zone_value,
    plan_read,
    read_blocks,
)

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

_SPARK_TYPE = {"string": "string", "int64": "long", "double": "double"}
_VALUE_N = pa.schema([("value", pa.string()), ("n_rows", pa.int64())])
_N = pa.schema([("n", pa.int64())])


# ---------------------------------------------------------- planned reads


def _plan_blocks(spark, table_dir, columns, snapshot_id, filter_col=None,
                 lo=None, hi=None, predicates=(), incomplete="raise"):
    """Plan the blocks of ``columns`` with the read planner — resume
    dedup, aliases, deletes and pruning all happen in the driver.  Given
    ``filter_col``, blocks whose zone misses ``[lo, hi]`` are pruned and
    the returned ``(plan, lo, hi)`` carry the bounds in the filter
    column's physical domain (integer-clamped, epoch units for
    timestamps), so every codec tier compares like with like.
    ``predicates``: further :func:`~pyrle_spark.plans.read_plan.plan_read`
    conjuncts, for pruning only."""
    preds = [(filter_col, lo, hi)] if filter_col is not None else []
    plan = plan_read(
        table_dir,
        columns=columns,
        predicates=preds + list(predicates),
        snapshot_id=snapshot_id,
        session_tz=_session_tz(spark),
        incomplete=incomplete,
    )
    if preds:
        b = plan.preds[0].bounds(plan.types.get(filter_col))
        if b is not None:
            lo, hi = b[1], b[2]
    return plan, lo, hi


def _read_partials(spark, plan, columns, step, schema: pa.Schema) -> DataFrame:
    """The one block reader of this module: a ``read_blocks`` pass over
    ``plan``.  ``step(blk, *encs)`` gets a planned block (its id and
    deleted offsets ``blk.kill``) and its ``Encoded`` for each logical
    column of ``columns`` (None where the block lacks it), and returns
    the block's partial rows as ``{field: list}`` (None = no rows).  Each
    task emits its blocks' rows as one batch of ``schema``."""
    phys = [plan.phys_of.get(c) for c in columns]
    names = schema.names

    def run(blocks):
        out = {f: [] for f in names}
        for blk in blocks:
            rows = step(blk, *[blk.cols.get(p) for p in phys])
            if rows:
                for f in names:
                    out[f].extend(rows[f])
        yield pa.RecordBatch.from_pydict(out, schema=schema)

    ddl = ", ".join(f"{f.name} {_SPARK_TYPE[str(f.type)]}" for f in schema)
    return read_blocks(spark, plan, run, ddl)


# ------------------------------------------------------- per-block decoding


def _unwrap(enc: Encoded):
    """``(codec, meta, buffers)`` of a block with any ``+zstd`` wrapper
    removed: the inner codec's layout, which every tier reads."""
    if enc.codec.endswith("+zstd"):
        meta, buffers = ZstdCodec.unwrap(enc.meta, enc.buffers)
        return enc.codec[: -len("+zstd")], meta, buffers
    return enc.codec, enc.meta, enc.buffers


def _valid_bits(meta: dict, buffers: dict, n_rows: int):
    """The block's validity as a bool array, or None (no null slot)."""
    if not meta.get("has_validity"):
        return None
    return np.unpackbits(
        np.frombuffer(buffers["validity"], dtype=np.uint8), count=n_rows
    ).astype(bool)


def _keep_mask(n: int, kill: np.ndarray) -> np.ndarray:
    keep = np.ones(n, dtype=bool)
    keep[kill[kill < n]] = False
    return keep


def _decode_live(enc: Encoded, kill) -> pa.Array:
    """The block's column, decoded, without its merge-on-read deleted
    rows — the exact tier every aggregate falls back to."""
    from pyrle_spark.codecs import decode_array

    arr = decode_array(enc)
    if kill is not None and len(kill):
        arr = arr.filter(pa.array(_keep_mask(len(arr), kill)))
    return arr


def _native_values(arr: pa.Array):
    """``(valid, values)`` numpy arrays of a decoded numeric column in its
    NATIVE domain: integers as int64, timestamps as int64 epoch units of
    their type (like the rle/dict tiers' stored values and the planned
    bounds), everything else as float64; null slots read 0."""
    valid = np.asarray(arr.is_valid(), dtype=bool)
    if pa.types.is_timestamp(arr.type):
        a = np.asarray(arr.cast(pa.int64()).fill_null(0), dtype=np.int64)
    elif pa.types.is_integer(arr.type):
        a = np.asarray(arr.fill_null(0), dtype=np.int64)
    else:
        a = np.asarray(arr.fill_null(0), dtype=np.float64)
    return valid, a


def _rle_runs_codes(meta: dict, buffers: dict):
    """(runs, vals) of an (unwrapped) fixed no-validity rle block, or
    None when the layout doesn't apply."""
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


def _dict_codes(meta: dict, buffers: dict):
    """The code stream of an (unwrapped) dict block."""
    from pyrle_spark.codecs.dictionary import _decode_codes

    cbuf = {
        k[len("codes_") :]: v for k, v in buffers.items() if k.startswith("codes_")
    }
    return _decode_codes(meta["codes_mode"], meta["codes_meta"], cbuf)


def _dict_fixed_codes(codec: str, meta: dict, buffers: dict):
    """(codes int64, uniques) of an (unwrapped) fixed-width dict block
    without a validity bitmap, or None when the layout doesn't apply.
    Float dictionaries are stored as bit patterns; ``uniques`` views them
    back as floats."""
    if codec != "dict" or meta.get("kind") != "fixed" or meta.get("has_validity"):
        return None
    codes = np.asarray(_dict_codes(meta, buffers), dtype=np.int64)
    uniques = np.frombuffer(buffers["dict_data"], dtype=np.dtype(meta["dict_dtype"]))
    if meta.get("orig_dtype"):
        uniques = uniques.view(np.dtype(meta["orig_dtype"]))
    return codes, uniques


def _dict_codes_and_values(codec: str, meta: dict, buffers: dict, n_rows: int):
    """(codes int array, values list, valid bool array | None) of an
    (unwrapped) var-width dict block — the column never materializes
    rows — or None when the layout doesn't apply."""
    if codec != "dict" or meta["kind"] != "var":
        return None
    return (
        _dict_codes(meta, buffers),
        _dict_values(meta, buffers),
        _valid_bits(meta, buffers, n_rows),
    )


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


def _strs(values) -> list:
    return [None if v is None else str(v) for v in values]


# --------------------------------------------------- single-column aggregates


def _block_value_counts(enc: Encoded, kill: np.ndarray | None = None):
    """(values: list, counts: np.ndarray, n_nulls: int) for one block —
    via codes/runs when the codec allows, full single-column decode
    otherwise.  ``kill``: in-block offsets deleted by merge-on-read —
    an affected block takes the exact decode-and-mask path (affected
    blocks are O(deleted)/block_rows of the table)."""
    if kill is None or not len(kill):
        codec, meta, buffers = _unwrap(enc)
        # dict blocks: counts straight off the code stream — ONE shared
        # buffer-unpacking path (_dict_codes_and_values) for all of
        # count_by_value / sum_by_value / distinct_values
        packed = _dict_codes_and_values(codec, meta, buffers, enc.n_rows)
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
        rv = _rle_runs_codes(meta, buffers) if codec == "rle" else None
        if rv is not None:
            runs, vals = rv
            uniq, inv = np.unique(vals, return_inverse=True)
            counts = np.zeros(len(uniq), dtype=np.int64)
            np.add.at(counts, inv, runs)
            return [x.item() for x in uniq], counts, 0
    # fallback: decode the one column and count exactly
    arr = _decode_live(enc, kill)
    vc = arr.drop_null().value_counts()
    return (
        vc.field("values").to_pylist(),
        np.asarray(vc.field("counts")),
        arr.null_count,
    )


def _value_counts(spark, plan, column: str) -> DataFrame:
    def step(blk, enc):
        values, counts, n_nulls = _block_value_counts(enc, blk.kill)
        out_v = [str(v) for v in values]
        out_n = [int(c) for c in counts]
        if n_nulls:
            out_v.append(None)
            out_n.append(n_nulls)
        return {"value": out_v, "n_rows": out_n}

    partial = _read_partials(spark, plan, [column], step, _VALUE_N)
    return partial.groupBy("value").agg(F.sum("n_rows").alias("n_rows"))


def count_by_value(
    spark: SparkSession,
    table_dir: str,
    column: str,
    snapshot_id: str | None = None,
) -> DataFrame:
    """``SELECT column, count(*) GROUP BY column`` computed from the
    encoded blocks.  Returns (value string, n_rows long); null slots
    aggregate into a NULL value row.  Merge-on-read deletes apply:
    affected blocks decode-and-mask, so the histogram equals the decode
    path's."""
    plan, _, _ = _plan_blocks(spark, table_dir, [column], snapshot_id)
    return _value_counts(spark, plan, column)


def _block_numeric_stats(enc: Encoded, kill: np.ndarray | None = None):
    """(n, total, vmin, vmax) for one numeric block.  rle blocks fold
    runs×values without expansion (the reference's own run-level sum,
    rle.py:931-944, distributed); other fixed codecs decode the single
    payload array — never any other column.  ``kill``: deleted in-block
    offsets → exact decode-and-mask (min/max cannot be subtracted, the
    block recomputes over the kept rows)."""
    if kill is None or not len(kill):
        codec, meta, buffers = _unwrap(enc)
        rv = _rle_runs_codes(meta, buffers) if codec == "rle" else None
        if rv is not None:
            runs, vals = rv
            if len(vals) == 0:
                return 0, 0.0, None, None
            total = float(np.sum(runs.astype(np.float64) * vals.astype(np.float64)))
            return int(runs.sum()), total, float(vals.min()), float(vals.max())
    a = np.asarray(_decode_live(enc, kill).drop_null(), dtype=np.float64)
    if len(a) == 0:
        return 0, 0.0, None, None
    return len(a), float(a.sum()), float(a.min()), float(a.max())


def numeric_stats(
    spark: SparkSession,
    table_dir: str,
    column: str,
    snapshot_id: str | None = None,
) -> DataFrame:
    """``SELECT count, sum, min, max`` of a numeric column from the
    encoded blocks — one row out.  rle blocks never expand their runs;
    everything else decodes only the one column's payload.  Nulls are
    excluded (SQL aggregate semantics); with no live row ``n_rows`` and
    ``sum_value`` are 0 and the bounds NULL.

    Note: ``sum`` accumulates in float64 per block then across blocks —
    exact for int payloads up to 2^53 per the usual float-sum caveat."""
    plan, _, _ = _plan_blocks(spark, table_dir, [column], snapshot_id)

    def step(blk, enc):
        n, total, vmin, vmax = _block_numeric_stats(enc, blk.kill)
        return {"n": [n], "total": [total], "vmin": [vmin], "vmax": [vmax]}

    schema = pa.schema(
        [("n", pa.int64()), ("total", pa.float64()),
         ("vmin", pa.float64()), ("vmax", pa.float64())]
    )
    partial = _read_partials(spark, plan, [column], step, schema)
    return partial.agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_rows"),
        F.coalesce(F.sum("total"), F.lit(0.0)).alias("sum_value"),
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

    Every tier compares via :func:`_range_mask` in the column's native
    domain (int64, epoch units for timestamps), so the codec never
    changes the count.  Nulls are excluded (SQL comparison semantics),
    and NaN never matches.  ``kill``: deleted in-block offsets → exact
    decode-and-mask fallback."""
    if kill is None or not len(kill):
        codec, meta, buffers = _unwrap(enc)
        rv = _rle_runs_codes(meta, buffers) if codec == "rle" else None
        if rv is not None:
            runs, vals = rv
            m = _range_mask(vals, lo, hi)
            total = float(
                np.sum(runs[m].astype(np.float64) * vals[m].astype(np.float64))
            )
            return int(runs[m].sum()), total
        fx = _dict_fixed_codes(codec, meta, buffers)
        if fx is not None:
            codes, uniques = fx
            m = _range_mask(uniques, lo, hi)
            counts = np.bincount(codes, minlength=len(uniques))
            total = float(np.sum(counts[m] * uniques[m].astype(np.float64)))
            return int(counts[m].sum()), total
    valid, a = _native_values(_decode_live(enc, kill))
    m = valid & _range_mask(a, lo, hi)
    return int(m.sum()), float(a[m].astype(np.float64).sum())


def filtered_numeric_agg(
    spark: SparkSession,
    table_dir: str,
    column: str,
    lo=None,
    hi=None,
    snapshot_id: str | None = None,
) -> DataFrame:
    """``SELECT count(*), sum(col) WHERE lo <= col <= hi`` from the
    encoded blocks, with the predicate pushed BELOW decode: blocks whose
    zone misses the range are never read, rle blocks filter on run
    values and fold, fixed dict blocks filter on the dictionary and
    histogram the codes, everything else decodes only the one column.
    The bounds are compared in the column's physical domain (a datetime
    bound on a timestamp column reads in its epoch units).  One row out;
    nulls excluded; ``sum_match`` is 0 when no row matches; same float64
    accumulation caveat as :func:`numeric_stats`."""
    plan, lo, hi = _plan_blocks(
        spark, table_dir, [column], snapshot_id, column, lo, hi
    )

    def step(blk, enc):
        n, t = _block_filtered_stats(enc, lo, hi, blk.kill)
        return {"n": [n], "total": [t]}

    schema = pa.schema([("n", pa.int64()), ("total", pa.float64())])
    partial = _read_partials(spark, plan, [column], step, schema)
    return partial.agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_match"),
        F.coalesce(F.sum("total"), F.lit(0.0)).alias("sum_match"),
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
    decode gated by the zone maps — the late-materialization top-k of
    classic column stores (the generalization of pyrle's run-level
    shortcuts: answer from structure first, touch payload last;
    reference ``pyrle/rle.py:931-959`` computes stats from runs the same
    way).

    Two zone-guided passes, both exact:

    1. Zone scan (in the driver from the winners' thin rows, no Spark
       job): per-block ``zmax`` of ``value_col``, parsed in the
       column's physical domain (epoch units for timestamps).  A greedy
       cover by descending ``zmax`` picks the fewest blocks whose row
       count can reach ``k``; only those decode.
    2. Refinement: with ``v_k`` = the k-th value of pass 1 (ties broken
       by ``id_col``), any undecoded block with ``zmax >= v_k`` (or no
       zone — conservative) could still hold a winner, so exactly those
       decode too.  Blocks with ``zmax < v_k`` are proven irrelevant.

    Merge-on-read deletes apply inside :func:`decode_table`, so a
    deleted former maximum can't win; a stale (pre-delete) ``zmax``
    only widens the candidate set, never narrows it.  At 10^12 rows the
    zone scan is a metadata pass and decode cost is O(blocks near the
    top), not O(table)."""
    from pyrle_spark.plans.encode_job import _widest_type, decode_table
    from pyrle_spark.plans.read_plan import _ts_parts, _us_to_unit, winner_thin

    aliases, thin = winner_thin(table_dir, snapshot_id)
    phys = aliases.get(value_col, value_col)
    types = {a for c, a in zip(thin["column"], thin["arrow_type"]) if c == phys}
    at = _widest_type(value_col, types) if types else None
    # zones in the column's physical domain (epoch units for timestamps);
    # None = no usable zone, so the block can always hold a winner
    zones = sorted(
        (int(b), _zone_value(zmax, at, "hi"), int(n))
        for b, c, zmax, n in zip(
            thin["block_id"], thin["column"], thin["zmax"], thin["n_rows"]
        )
        if c == phys
    )
    # greedy cover: zoneless blocks, then highest zmax first (block id on
    # a tie; the sort is stable) until >= k rows are in play
    zones = [z for z in zones if z[1] is None] + sorted(
        (z for z in zones if z[1] is not None), key=lambda z: z[1], reverse=True
    )
    cover, cum = [], 0
    for bid, _zmax, n in zones:
        if cum >= k:
            break
        cover.append(bid)
        cum += n
    rest = zones[len(cover) :]

    def _decode(block_ids: list) -> DataFrame:
        return decode_table(
            spark,
            table_dir,
            columns=sorted({value_col, id_col}),
            snapshot_id=snapshot_id,
            blocks=block_ids,
        ).select(id_col, value_col)

    head = _decode(cover) if cover else None
    vk = None  # the k-th value in the zones' domain; None = no bound
    if head is not None:
        kth = (
            head.orderBy(F.col(value_col).desc(), F.col(id_col))
            .limit(k)
            .toArrow()  # bounded: <= k rows
            .column(value_col)
        )
        if len(kth) == k and kth[k - 1].is_valid:
            vk = kth[k - 1]
            if pa.types.is_timestamp(vk.type):
                # Spark hands timestamps over in microseconds; floor to
                # the column's unit, so the bound can only admit blocks
                vk = _us_to_unit(vk.cast(pa.int64()).as_py(), _ts_parts(at)[0], "hi")
            else:
                vk = vk.as_py()
    extra = [
        bid for bid, zmax, _n in rest if vk is None or zmax is None or zmax >= vk
    ]
    parts = [p for p in (head, _decode(extra) if extra else None) if p is not None]
    if not parts:
        return spark.createDataFrame([], f"{id_col} long, {value_col} long")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy(F.col(value_col).desc(), F.col(id_col)).limit(k)


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
    plan, _, _ = _plan_blocks(spark, table_dir, [column], snapshot_id)

    def step(blk, enc):
        kill = blk.kill
        codec, meta, buffers = _unwrap(enc)
        if (
            codec == "dict"
            and meta["kind"] == "var"
            and not meta.get("has_validity")
            and (kill is None or not len(kill))
        ):
            return {"value": _dict_values(meta, buffers)}
        arr = _decode_live(enc, kill)
        out = [None] if arr.null_count else []
        out.extend(str(v) for v in arr.drop_null().unique().to_pylist())
        return {"value": out}

    schema = pa.schema([("value", pa.string())])
    return _read_partials(spark, plan, [column], step, schema).distinct()


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
    aggregate semantics, NULL groups dropped).  A block lacking one of
    the two columns contributes nothing.

    Scale shape: the read planner hands each task both columns of its
    blocks, read file-direct (no shuffle); each block emits
    O(distinct-in-block) partials, and one tiny aggregation merges them.
    No full-width row is ever built.
    """
    from pyrle_spark.codecs import decode_array

    plan, _, _ = _plan_blocks(
        spark, table_dir, [group_col, measure_col], snapshot_id,
        incomplete="skip",
    )

    def step(blk, g, m):
        if g is None or m is None:
            return None
        kill = blk.kill
        marr = decode_array(m)
        mvalid = np.asarray(marr.is_valid()) if marr.null_count else None
        mvals = np.asarray(marr.fill_null(0).cast(pa.float64()), dtype=np.float64)
        codec, meta, buffers = _unwrap(g)
        packed = _dict_codes_and_values(codec, meta, buffers, g.n_rows)
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
            sums = np.zeros(len(values))
            cnts = np.zeros(len(values), dtype=np.int64)
            np.add.at(sums, idx, mvals[mask])
            np.add.at(cnts, idx, 1)
            keep = cnts > 0
            return {
                "value": [v for v, k in zip(values, keep) if k],
                "n_rows": cnts[keep].tolist(),
                "total": sums[keep].tolist(),
            }
        keys = decode_array(g).to_pylist()
        gkeep = _keep_mask(len(keys), kill) if kill is not None and len(kill) else None
        agg: dict = {}
        for i, k in enumerate(keys):
            if gkeep is not None and not gkeep[i]:
                continue
            if k is None or (mvalid is not None and not mvalid[i]):
                continue
            c, s = agg.get(k, (0, 0.0))
            agg[k] = (c + 1, s + mvals[i])
        vals = sorted(agg)
        return {
            "value": [str(v) for v in vals],
            "n_rows": [agg[v][0] for v in vals],
            "total": [float(agg[v][1]) for v in vals],
        }

    schema = pa.schema(
        [("value", pa.string()), ("n_rows", pa.int64()), ("total", pa.float64())]
    )
    partial = _read_partials(spark, plan, [group_col, measure_col], step, schema)
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
    """Counts for specific values only: the read planner prunes blocks by
    zone and bloom digest (blocks none of the values touched are never
    read), then the compressed-domain count runs over the survivors."""
    plan, _, _ = _plan_blocks(
        spark, table_dir, [column], snapshot_id, predicates=[(column, values)]
    )
    hist = _value_counts(spark, plan, column)
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
    dict counts the value's code, rle sums the runs of the value;
    delete-affected blocks take the exact decode-and-mask path."""
    import pyarrow.compute as pc

    if kill is None or not len(kill):
        codec, meta, buffers = _unwrap(enc)
        if codec == "fsst" and isinstance(value, str):
            mask = _fsst_eq_mask(meta, buffers, value, enc.n_rows)
            valid = _valid_bits(meta, buffers, enc.n_rows)
            if valid is not None:
                mask &= valid
            return int(mask.sum())
        packed = _dict_codes_and_values(codec, meta, buffers, enc.n_rows)
        if packed is not None:
            codes, values, valid = packed
            try:
                code = values.index(str(value))
            except ValueError:
                return 0
            if valid is not None:
                codes = codes[valid]
            return int((codes == code).sum())
        numeric = isinstance(value, (int, float)) and not isinstance(value, bool)
        rv = _rle_runs_codes(meta, buffers) if codec == "rle" and numeric else None
        if rv is not None:
            # run fold: sum the lengths of runs whose value equals the
            # probe — O(runs), never expands to positions
            runs, vals = rv
            return int(runs[vals == value].sum())
    arr = _decode_live(enc, kill)
    return int(
        pc.sum(pc.equal(arr, pa.scalar(value, type=arr.type))).as_py() or 0
    )


def _count_matches(spark, plan, column: str, block_count) -> DataFrame:
    """One ``n_match`` row: ``block_count(enc, kill)`` summed over the
    planned blocks (0 when none survives pruning)."""

    def step(blk, enc):
        return {"n": [block_count(enc, blk.kill)]}

    partial = _read_partials(spark, plan, [column], step, _N)
    return partial.agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n_match"))


def count_where_eq(
    spark: SparkSession,
    table_dir: str,
    column: str,
    value,
    snapshot_id: str | None = None,
) -> DataFrame:
    """``SELECT count(*) WHERE column = value`` with the predicate kept
    in the compressed domain end-to-end: zone maps and bloom digests
    prune blocks that never saw the value (in the driver), dict blocks
    count the value's code, and fsst blocks compare ENCODED spans
    against the probe encoded with each block's own symbol table — the
    full column never decodes on any fast path.  One ``n_match`` row
    out.

    Scale shape: the prune is an O(#blocks) metadata pass; one
    read over the survivors emits one int per block; at 10^12 rows only
    delete-affected or exotic-codec blocks ever decode."""
    plan, _, _ = _plan_blocks(
        spark, table_dir, [column], snapshot_id,
        predicates=[(column, value, value)],
    )
    return _count_matches(
        spark, plan, column, lambda enc, kill: _block_eq_count(enc, value, kill)
    )


def _block_factorize(enc: Encoded, kill: np.ndarray | None = None):
    """One block's column as (codes int64[n_live], values list) — a
    row-aligned factorized view with ``-1`` = null.  Dict blocks reuse
    the stored code stream, rle blocks expand run indices (int ops only
    — the VALUES never materialize per row), everything else decodes the
    single column and dictionary-encodes it.  ``kill``: delete-affected
    blocks take the exact decode-and-mask path."""
    if kill is None or not len(kill):
        codec, meta, buffers = _unwrap(enc)
        packed = _dict_codes_and_values(codec, meta, buffers, enc.n_rows)
        if packed is not None:
            codes, values, valid = packed
            codes = np.asarray(codes, dtype=np.int64)
            if valid is not None:
                codes = np.where(valid, codes, -1)
            return codes, values
        rv = _rle_runs_codes(meta, buffers) if codec == "rle" else None
        if rv is not None:
            runs, vals = rv
            uniq, inv = np.unique(vals, return_inverse=True)
            return np.repeat(inv.astype(np.int64), runs), [
                x.item() for x in uniq
            ]
    denc = _decode_live(enc, kill).dictionary_encode()
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
        codec, meta, buffers = _unwrap(enc)
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


# ---------------------------------------------------- multi-column aggregates

_PAIR_N = pa.schema(
    [("value_a", pa.string()), ("value_b", pa.string()), ("n_rows", pa.int64())]
)


def _pair_keys(nz, nb: int, vals_a: list, vals_b: list) -> dict:
    """``value_a`` / ``value_b`` string columns of the nonzero slots
    ``nz`` of a ``(code_a + 1) * nb + (code_b + 1)`` pair index."""
    return {
        "value_a": [None if p // nb == 0 else str(vals_a[p // nb - 1]) for p in nz],
        "value_b": [None if p % nb == 0 else str(vals_b[p % nb - 1]) for p in nz],
    }


def _integer_measure(enc: Encoded, kill, op: str, measure: str) -> pa.Array:
    """A measure block decoded without its deleted rows; raises unless
    it is an integer column (the pair aggregates sum in int64)."""
    arr = _decode_live(enc, kill)
    if not pa.types.is_integer(arr.type):
        raise TypeError(
            f"{op} needs an integer measure; {measure!r} blocks are {arr.type}"
        )
    return arr


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

    def step(blk, enc_a, enc_b):
        va, vb, ns = _pair_hist(enc_a, enc_b, blk.kill)
        return {"value_a": _strs(va), "value_b": _strs(vb), "n_rows": ns.tolist()}

    partial = _read_partials(spark, plan, [col_a, col_b], step, _PAIR_N)
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
    cols = [col_a, col_b, measure]
    plan, _, _ = _plan_blocks(spark, table_dir, cols, snapshot_id)

    def step(blk, enc_a, enc_b, m_enc):
        kill = blk.kill
        codes_a, vals_a = _block_factorize(enc_a, kill)
        codes_b, vals_b = _block_factorize(enc_b, kill)
        arr = _integer_measure(m_enc, kill, "group_sum_pair", measure)
        m = np.asarray(arr.fill_null(0), dtype=np.int64)
        if not (len(codes_a) == len(codes_b) == len(m)):
            raise ValueError(
                f"pair group-by misalignment in block {blk.block_id}: "
                f"{len(codes_a)}/{len(codes_b)}/{len(m)} rows"
            )
        nb = len(vals_b) + 1
        pair = (codes_a + 1) * nb + (codes_b + 1)
        size = (len(vals_a) + 1) * nb
        counts = np.bincount(pair, minlength=size)
        sums = np.zeros(size, dtype=np.int64)
        np.add.at(sums, pair, m)
        nz = np.flatnonzero(counts)
        return {
            **_pair_keys(nz, nb, vals_a, vals_b),
            "n_rows": counts[nz].tolist(),
            "sum_m": sums[nz].tolist(),
        }

    schema = _PAIR_N.append(pa.field("sum_m", pa.int64()))
    partial = _read_partials(spark, plan, cols, step, schema)
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
    if kill is None or not len(kill):
        codec, meta, buffers = _unwrap(enc)
        rv = _rle_runs_codes(meta, buffers) if codec == "rle" else None
        if rv is not None:
            runs, vals = rv
            m = _range_mask(vals, lo, hi)
            if m.all():
                return None
            return np.repeat(m, runs)
        fx = _dict_fixed_codes(codec, meta, buffers)
        if fx is not None:
            codes, uniques = fx
            hit = _range_mask(uniques, lo, hi)
            if hit.all():
                return None
            return hit[codes]
    valid, a = _native_values(_decode_live(enc, kill))
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
    cols = [key_col, filter_col]
    plan, lo, hi = _plan_blocks(
        spark, table_dir, cols, snapshot_id, filter_col, lo, hi
    )

    def step(blk, k_enc, f_enc):
        codes, vals = _block_factorize(k_enc, blk.kill)
        mask = _block_filter_mask(f_enc, lo, hi, blk.kill)
        if mask is not None:
            if len(mask) != len(codes):
                raise ValueError(
                    f"filtered group-by misalignment in block {blk.block_id}: "
                    f"{len(codes)} key rows vs {len(mask)} filter rows"
                )
            codes = codes[mask]
        counts = np.bincount(codes + 1, minlength=len(vals) + 1)
        nz = np.flatnonzero(counts)
        return {
            "value_a": [None if p == 0 else str(vals[p - 1]) for p in nz],
            "n_rows": counts[nz].tolist(),
        }

    schema = pa.schema([("value_a", pa.string()), ("n_rows", pa.int64())])
    partial = _read_partials(spark, plan, cols, step, schema)
    return partial.groupBy("value_a").agg(F.sum("n_rows").alias("n_rows"))


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
    cols = [col_a, col_b, measure]
    plan, _, _ = _plan_blocks(spark, table_dir, cols, snapshot_id)

    def step(blk, enc_a, enc_b, m_enc):
        kill = blk.kill
        codes_a, vals_a = _block_factorize(enc_a, kill)
        codes_b, vals_b = _block_factorize(enc_b, kill)
        arr = _integer_measure(m_enc, kill, "group_minmax_pair", measure)
        valid = np.asarray(arr.is_valid(), dtype=bool)
        m = np.asarray(arr.fill_null(0), dtype=np.int64)
        if not (len(codes_a) == len(codes_b) == len(m)):
            raise ValueError(
                f"pair group-by misalignment in block {blk.block_id}: "
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
        return {
            **_pair_keys(nz, nb, vals_a, vals_b),
            "n_rows": counts[nz].tolist(),
            "min_m": [None if nvalid[p] == 0 else int(mins[p]) for p in nz],
            "max_m": [None if nvalid[p] == 0 else int(maxs[p]) for p in nz],
        }

    schema = _PAIR_N.append(pa.field("min_m", pa.int64())).append(
        pa.field("max_m", pa.int64())
    )
    partial = _read_partials(spark, plan, cols, step, schema)
    return partial.groupBy("value_a", "value_b").agg(
        F.sum("n_rows").alias("n_rows"),
        F.min("min_m").alias("min_m"),
        F.max("max_m").alias("max_m"),
    )


# ------------------------------------------------------ string predicates


def _require_string(plan, column: str, fn: str) -> None:
    """Refuse a string predicate on a non-string column in the driver,
    before any Spark job (Arrow's string kernels have no other types)."""
    at = plan.types.get(column)
    if at is not None and _domain(at) != "str":
        raise TypeError(f"{fn}: column {column!r} is {at}, not a string column")


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

    if kill is None or not len(kill):
        packed = _dict_codes_and_values(*_unwrap(enc), enc.n_rows)
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
    arr = _decode_live(enc, kill)
    return int(pc.sum(arrow_pred(arr.drop_null())).as_py() or 0)


def count_where_prefix(
    spark: SparkSession,
    table_dir: str,
    column: str,
    prefix: str,
    snapshot_id: str | None = None,
) -> DataFrame:
    """``SELECT count(*) WHERE column LIKE 'prefix%'`` with string
    zonemap pruning in the read planner: a block can hold a match only
    if its zone meets ``[prefix, prefix⁺]`` (prefix with its last code
    point incremented), so on prefix-clustered layouts almost no block
    is touched.  Survivors count in the compressed domain where the
    codec allows (dictionary startswith, codes never decode to strings)
    and decode only otherwise.  One ``n_match`` row out.

    Pruning is a true superset filter: the range admits every string
    that starts with ``prefix``, zonemaps predate deletes and deletes
    only shrink matches; the per-row count stays exact."""
    preds = []
    if prefix:
        last = prefix[-1]
        upper = prefix[:-1] + chr(ord(last) + 1) if ord(last) < 0x10FFFF else None
        preds = [(column, prefix, upper)]
    plan, _, _ = _plan_blocks(
        spark, table_dir, [column], snapshot_id, predicates=preds
    )
    _require_string(plan, column, "count_where_prefix")
    return _count_matches(
        spark, plan, column,
        lambda enc, kill: _block_prefix_count(enc, prefix, kill),
    )


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

    Scale shape: one read emitting one int per block, column-pruned to
    the probed column — on a dictionary-friendly corpus the bytes
    decoded are the dictionaries, not the data."""
    plan, _, _ = _plan_blocks(spark, table_dir, [column], snapshot_id)
    _require_string(plan, column, "count_where_contains")
    return _count_matches(
        spark, plan, column,
        lambda enc, kill: _block_contains_count(enc, sub, kill),
    )


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
    """Exact NULL count of one column with validity-aware skipping: a
    block whose meta carries no ``has_validity`` flag stores ZERO nulls
    (the validity bitmap is only attached when some slot is null), so
    only null-bearing blocks decode — on a mostly-complete corpus the
    scan decodes almost nothing.  Delete-aware: merge-on-read kills
    mask the bitmap before counting (removing a NULL row must lower the
    answer).  Deletes never create nulls, so validity-free blocks stay
    skipped regardless."""
    plan, _, _ = _plan_blocks(spark, table_dir, [column], snapshot_id)

    def step(blk, enc):
        if not enc.meta.get("has_validity"):
            return None
        return {"n": [_decode_live(enc, blk.kill).null_count]}

    n = _read_partials(spark, plan, [column], step, _N).agg(F.sum("n")).first()[0]
    return int(n or 0)
