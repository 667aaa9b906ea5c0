"""RleFrame — the distributed RleDict: a DataFrame of RLEs.

Two layouts share one class:

- **unblocked** (default): one row per key — ``(key columns ..., runs
  array<bigint>, values array<double>)``.  The reference's dict-of-Rle
  (rledict.py:37-131) becomes rows; its full-outer key alignment for
  binary ops (methods.py:68-120) becomes a key cogroup; its per-key
  ray parallelism (rledict.py:155-176) becomes Spark tasks.
- **blocked** (``block_positions`` set): ``(key columns ..., block_id,
  runs, values)`` — each row holds the fixed position span
  ``[block_id·B, block_id·B + span)`` of its key's RLE.  This removes
  the one-row-per-key memory cap (at 100× a single key's arrays would
  otherwise live in one Arrow row on one task) and gives intra-key
  parallelism: binary ops join on (key, block_id) and run block-local
  kernels; block edges are stitched on conversion out (``unchunk``)
  with the reference's own merge predicate.  The same chunking strategy
  as the column pipeline (plans/encode_job.py), applied to the RLE
  layer.

The run/value kernels are the same vectorized numpy as the driver-side
compat layer (pyrle_spark.kernels.rlecore), so both layers share exact
semantics — including the zero-extension and normalization quirks.

In the unblocked layout ``from_intervals``, the binary ops, ``getitems``
and ``to_ranges`` are each one key-grouped Arrow pass.  A binary op of
two fresh coverages is ONE pass in all: ``coverage(A) + coverage(B)``
cogroups both sides' interval events by key and runs the coverage
kernel and the op in the same task.

Materialization policy:
- sources (``from_intervals``, ``read_parquet``, ``from_rledict``) and
  row-local maps stay lazy.  An unblocked ``from_intervals`` frame holds
  only its validated ``(key, s, e, w)`` event rows; its keyed coverage
  DataFrame is built the first time ``.df`` is read, so a frame that
  only feeds a binary op never plans it;
- a binary op (arithmetic or comparison of two frames) ends with an
  eager ``localCheckpoint()``, so ``getitems``, ``to_ranges`` and every
  later action read the combined frame instead of recomputing both
  operands — the frame behaves like the reference's eager ``Rle``.
  Trade-off: a local checkpoint truncates lineage and keeps its blocks
  on the executors, so if an executor is lost the frame cannot be
  recomputed and actions on it fail; the blocks are freed when the
  frame is garbage-collected.

Blocked-mode semantics notes:
- a missing BLOCK of a key that exists on both sides is a tail
  extension: arithmetic extends with 0, comparisons with NaN — exactly
  the reference's ``equalize`` rules (rle.py:17-31); a key missing
  ENTIRELY on one side is a zero-Rle (methods.py:104-111), same as the
  unblocked path;
- operations that change run spans (shift, apply_runs, apply, getitems)
  require ``unchunk()`` first and raise a descriptive error — a blocked
  variant would need cross-block carry, which ``unchunk`` makes
  explicit instead of silent;
- ``remove_dupes``'s stateful 1e-5/float32 tolerance chain is applied
  per block + pairwise at block edges; results match the unblocked path
  except for pathological tolerance chains that span an edge (values
  within 1e-5 of each other across many runs).
"""

from __future__ import annotations

import numbers
from collections.abc import Iterator
from typing import TYPE_CHECKING

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pyrle_spark.kernels import rlecore as k

if TYPE_CHECKING:
    from pyrle_spark.rledict import RleDict

__all__ = ["RleFrame"]

_RLE_SCHEMA_SUFFIX = "runs array<bigint>, values array<double>"


def _keyed_schema(key_cols, blocked: bool = False):
    keys = ", ".join(f"{c} string" for c in key_cols)
    block = "block_id long, " if blocked else ""
    return f"{keys}, {block}{_RLE_SCHEMA_SUFFIX}"


def _empty_rle():
    return np.array([], dtype=np.int64), np.array([], dtype=np.float64)


def _rle_batch(group: dict, runs: list, values: list) -> pa.RecordBatch:
    """One keyed-RLE batch from the group columns (Arrow arrays) and the
    per-row run/value arrays.  Built with ``from_pydict``: a pandas
    conversion would store a NaN value as a null list element."""
    return pa.RecordBatch.from_pydict(
        {
            **group,
            "runs": pa.array(runs, pa.list_(pa.int64())),
            "values": pa.array(values, pa.list_(pa.float64())),
        }
    )


def _split_blocks(runs, values, block_positions: int):
    """Split one RLE into fixed-span blocks: yields (block_id, runs,
    values) with sum(runs) == block span (last block may be short).
    A run crossing an edge is split; its value appears on both sides,
    so an exact-equality edge merge reverses the split losslessly."""
    runs = np.asarray(runs, dtype=np.int64)
    values = np.asarray(values, dtype=np.float64)
    ends = np.cumsum(runs)
    total = int(ends[-1]) if len(ends) else 0
    if total == 0:
        yield 0, runs, values
        return
    starts = ends - runs
    n_blocks = -(-total // block_positions)
    for b in range(n_blocks):
        lo = b * block_positions
        hi = min(lo + block_positions, total)
        i = int(np.searchsorted(ends, lo, side="right"))
        j = int(np.searchsorted(starts, hi, side="left"))
        lens = np.minimum(ends[i:j], hi) - np.maximum(starts[i:j], lo)
        yield b, lens.astype(np.int64), values[i:j].copy()


def _coverage(tbl: pa.Table, start_col: str, end_col: str):
    """One key's coverage ``(runs, values)`` from its ``(s, e, w)`` event
    rows: each +w Start and -w End event goes straight to the reference
    kernel (coverage.pyx:28-81 semantics), which sums events that share
    a position exactly as :class:`RleDict` does.  A null position fails
    with the source column named (the RleDict oracle refuses it too)."""
    for c, name in (("s", start_col), ("e", end_col)):
        if tbl.column(c).null_count:
            raise ValueError(f"from_intervals: null in column {name!r}")
    w = tbl.column("w").to_numpy()
    pos = np.concatenate([tbl.column("s").to_numpy(), tbl.column("e").to_numpy()])
    runs, values = k.coverage(pos, np.concatenate([w, -w]))
    return k.normalize(runs, values)


def _first_rle(tbl: pa.Table):
    """``(runs, values)`` of the first row of a runs/values table."""
    return (
        tbl.column("runs")[0].values.to_numpy(),
        # a NaN value may be stored as a null list element
        tbl.column("values")[0].values.to_numpy(zero_copy_only=False),
    )


def _list_rows(col) -> list:
    """Each row of an Arrow list column as a numpy view (None for a null
    row); a null element of a double list reads as NaN."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    flat = col.values.to_numpy(zero_copy_only=False)
    off = col.offsets.to_numpy()
    valid = col.is_valid().to_numpy(zero_copy_only=False)
    return [flat[off[i] : off[i + 1]] if valid[i] else None for i in range(len(col))]


def _merge_pair(op: str, a, b, a_tail: bool = False, b_tail: bool = False):
    """The op on one aligned pair of RLEs, each ``(runs, values)`` or None
    for a missing side.  A missing side is one run of the present side's
    length: NaN for eq/ne when it is a tail extension (``*_tail``: a
    blocked key that exists on that side, just shorter — the equalize
    rules, rle.py:17-31), else 0 (a zero-Rle, methods.py:104-111).  Only
    EQUALITY comparisons extend with NaN (rle.py:272); order comparisons
    go through ``__sub__``'s zero-extension (rle.py:438)."""
    tail_fill = np.nan if op in ("cmp_eq", "cmp_ne") else 0.0

    def fill(present_runs, tail):
        total = int(np.sum(present_runs))
        if not total:
            return _empty_rle()
        return np.array([total], dtype=np.int64), np.array([tail_fill if tail else 0.0])

    if a is None:
        a = fill(b[0], a_tail)
    if b is None:
        b = fill(a[0], b_tail)
    if op.startswith("cmp_"):
        return k.compare_op(op[len("cmp_") :], *a, *b)
    return k.binary_op(op, *a, *b)


class RleFrame:
    def __init__(self, df: DataFrame | None, key_cols=("key",), block_positions=None):
        self._df = df
        # (event rows, start_col, end_col) of a fresh unblocked coverage
        self._events = None
        self.key_cols = list(key_cols)
        self.block_positions = block_positions

    @property
    def df(self) -> DataFrame:
        """The frame's keyed runs/values rows.  A fresh ``from_intervals``
        frame builds its coverage pass here, the first time it is read."""
        if self._df is None:
            self._df = self._coverage_df()
        return self._df

    @property
    def blocked(self) -> bool:
        return self.block_positions is not None

    @property
    def _group_cols(self):
        return self.key_cols + (["block_id"] if self.blocked else [])

    def _require_unblocked(self, opname: str):
        if self.blocked:
            raise ValueError(
                f"RleFrame.{opname} changes run spans and is not block-local; "
                "call .unchunk() first (explicit cross-block carry), then "
                ".rechunk(block_positions) if the blocked layout is still wanted"
            )

    # ------------------------------------------------------------ construction

    @classmethod
    def from_intervals(
        cls,
        df: DataFrame,
        key_cols=("Chromosome",),
        start_col: str = "Start",
        end_col: str = "End",
        value_col: str | None = None,
        block_positions: int | None = None,
    ) -> "RleFrame":
        """Interval coverage per key (methods.py:139-156 distributed).

        Unblocked: one key-grouped Arrow pass over the raw interval rows
        (:func:`_coverage` per key) — no relational pre-aggregation, so
        no shuffle beyond the grouping.  The frame keeps the event rows
        and plans that pass only when ``.df`` is first read; a binary op
        with another frame runs the coverage inside its own cogroup
        pass instead (see :meth:`_binary`).

        With ``block_positions`` set the frame is built DIRECTLY in the
        blocked layout and no task ever holds a whole key: the Arrow
        groups are (key, block) — bounded by the block span — and the
        cross-block running coverage value is carried through a tiny
        per-(key, block) delta-sum summary (a keyed window over
        O(#blocks) rows), exactly the two-level-scan shape of the
        relational boundary-union fill.

        A null Start or End fails the first action with an error naming
        the column (the RleDict oracle refuses such input too).  The
        unblocked layout checks it in the coverage task; the blocked
        layout pre-aggregates in SQL before any Python runs, so it
        checks it there with ``raise_error``."""
        key_cols = list(key_cols)
        val = F.col(value_col).cast("double") if value_col else F.lit(1.0)
        if block_positions is None:
            rf = cls(None, key_cols)
            rf._events = (
                df.select(
                    *key_cols,
                    F.col(start_col).cast("long").alias("s"),
                    F.col(end_col).cast("long").alias("e"),
                    val.alias("w"),
                ),
                start_col,
                end_col,
            )
            return rf

        def position(c):
            return (
                F.when(
                    F.col(c).isNull(),
                    F.raise_error(F.lit(f"from_intervals: null in column {c!r}")),
                )
                .otherwise(F.col(c))
                .cast("long")
            )

        src = df.select(
            *key_cols,
            position(start_col).alias("s"),
            position(end_col).alias("e"),
            val.alias("w"),
        )
        return cls._from_events_blocked(src, key_cols, block_positions)

    def _coverage_df(self) -> DataFrame:
        """The key-grouped coverage pass of a fresh ``from_intervals``."""
        events, start_col, end_col = self._events
        key_cols = self.key_cols

        def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            tbl = pa.Table.from_batches(list(batches))
            if tbl.num_rows == 0:
                return
            runs, values = _coverage(tbl, start_col, end_col)
            group = {c: [tbl.column(c)[0].as_py()] for c in key_cols}
            yield _rle_batch(group, [runs], [values])

        return events.groupBy(*key_cols).applyInArrow(build, _keyed_schema(key_cols))

    def _cogroup_side(self):
        """This frame's side of a fused binary pass: the rows to group by
        key, and the step that turns one key's rows into its
        ``(runs, values)``.  A fresh coverage hands over its event rows,
        any other frame its runs/values row."""
        if self._events is not None:
            events, start_col, end_col = self._events
            return events, lambda tbl: _coverage(tbl, start_col, end_col)
        return self.df.select(*self.key_cols, "runs", "values"), _first_rle

    @classmethod
    def _from_events_blocked(
        cls, src: DataFrame, key_cols: list, block_positions: int
    ) -> "RleFrame":
        """Blocked coverage from validated ``(key, s, e, w)`` interval rows.

        Boundary events are pre-aggregated per (key, pos) — the map-side
        collapse that bounds each block's group by the block span.  The
        per-block step function needs only (a) the block's own events
        and (b) the running coverage value entering the block — the
        exclusive prefix sum of per-block delta totals, computed on a
        dense O(#blocks)-row summary (empty blocks become one
        carry-valued run, so blocks tile the key's full [0, L) range and
        the blocked invariant holds)."""
        B = block_positions
        ev = src.select(*key_cols, F.col("s").alias("pos"), F.col("w").alias("d"))
        ev = ev.unionAll(
            src.select(*key_cols, F.col("e").alias("pos"), (-F.col("w")).alias("d"))
        )
        agg = ev.groupBy(*key_cols, "pos").agg(F.sum("d").alias("d"))
        a = agg.withColumn("bkt", F.floor(F.col("pos") / F.lit(B)))
        summ = a.groupBy(*key_cols, "bkt").agg(F.sum("d").alias("bd"))
        keyinfo = a.groupBy(*key_cols).agg(F.max("pos").alias("L"))
        n_blocks = F.greatest(F.ceil(F.col("L") / F.lit(B)), F.lit(1)).cast("long")
        dense = keyinfo.select(
            *key_cols,
            "L",
            F.explode(F.sequence(F.lit(0).cast("long"), n_blocks - 1)).alias("bkt"),
        )
        wk = (
            W.partitionBy(*key_cols)
            .orderBy("bkt")
            .rowsBetween(W.unboundedPreceding, -1)
        )
        meta = (
            dense.join(summ, [*key_cols, "bkt"], "left")
            .withColumn("bd", F.coalesce("bd", F.lit(0.0)))
            .select(
                *key_cols,
                "bkt",
                "L",
                F.coalesce(F.sum("bd").over(wk), F.lit(0.0)).alias("carry"),
            )
        )
        full = meta.join(
            a.select(*key_cols, "bkt", "pos", "d"), [*key_cols, "bkt"], "left"
        )

        def build_block(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            tbl = pa.Table.from_batches(list(batches))
            if tbl.num_rows == 0:
                return
            pdf = tbl.to_pandas()
            first = pdf.iloc[0]
            keys = tuple(first[c] for c in key_cols)
            bkt = int(first["bkt"])
            carry = float(first["carry"])
            bstart, bend = bkt * B, min((bkt + 1) * B, int(first["L"]))
            evs = pdf[pdf["pos"].notna()]
            if len(evs):
                pos = evs["pos"].to_numpy(np.int64)
                d = evs["d"].to_numpy(np.float64)
                unique, inverse = np.unique(pos, return_inverse=True)
                sums = np.zeros(len(unique), dtype=np.float64)
                np.add.at(sums, inverse, d)
                bounds = np.concatenate(([bstart], unique, [bend]))
                vals = np.concatenate(([carry], carry + np.cumsum(sums)))
            else:
                bounds = np.array([bstart, bend], dtype=np.int64)
                vals = np.array([carry])
            runs = np.diff(bounds).astype(np.int64)
            keep = runs > 0
            runs, vals = k.normalize(runs[keep], vals[keep])
            out = {c: [v] for c, v in zip(key_cols, keys)}
            out["block_id"] = [bkt]
            out["runs"] = [runs]
            out["values"] = [vals]
            yield pa.RecordBatch.from_pydict(out)

        keyed = full.groupBy(*key_cols, "bkt").applyInArrow(
            build_block, _keyed_schema(key_cols, blocked=True)
        )
        return cls(keyed, key_cols, block_positions=B)

    @classmethod
    def from_rledict(cls, spark: SparkSession, rd: RleDict) -> "RleFrame":
        rows = []
        for key, rle in rd.items():
            key_t = key if isinstance(key, tuple) else (key,)
            rows.append((*key_t, rle.runs.tolist(), rle.values.tolist()))
        stranded = rd.stranded
        key_cols = ["Chromosome", "Strand"] if stranded else ["Chromosome"]
        df = spark.createDataFrame(rows, schema=_keyed_schema(key_cols))
        return cls(df, key_cols)

    # ------------------------------------------------------------ persistence

    def write_parquet(self, path: str, mode: str = "overwrite") -> None:
        """Persist the frame (either layout) as parquet, partitioned by
        the key columns so later per-key reads prune at the directory
        level.  Layout metadata (key columns, block size) is recoverable
        from the schema itself: a ``block_id`` column marks a blocked
        frame; ``block_positions`` is re-supplied at read time (it is a
        physical parameter, not data)."""
        self.df.write.mode(mode).partitionBy(*self.key_cols).parquet(path)

    @classmethod
    def read_parquet(
        cls,
        spark: SparkSession,
        path: str,
        key_cols=("Chromosome",),
        block_positions: int | None = None,
    ) -> "RleFrame":
        """Load a frame written by :meth:`write_parquet`.  Pass the same
        ``block_positions`` the writer used for a blocked frame (the
        schema's ``block_id`` column is checked for consistency)."""
        df = spark.read.parquet(path)
        # key cols are hive partition directories; Spark's partition-type
        # inference turns numeric-looking keys (chromosomes '1'..'22')
        # into ints, breaking every Arrow stage's declared string schema
        for c in key_cols:
            df = df.withColumn(c, F.col(c).cast("string"))
        has_block = "block_id" in df.columns
        if has_block != (block_positions is not None):
            raise ValueError(
                "layout mismatch: on-disk frame is "
                f"{'blocked' if has_block else 'unblocked'} but block_positions="
                f"{block_positions}"
            )
        cols = [*key_cols] + (["block_id"] if has_block else []) + ["runs", "values"]
        return cls(df.select(*cols), key_cols, block_positions=block_positions)

    def to_rledict(self) -> RleDict:
        # the driver-layer Rle/RleDict load pandas: keep them out of the
        # module import every engine task makes
        from pyrle_spark.rle import Rle
        from pyrle_spark.rledict import RleDict

        src = self.unchunk() if self.blocked else self
        out = {}
        for row in src.df.collect():
            key = tuple(row[c] for c in src.key_cols)
            if len(key) == 1:
                key = key[0]
            rle = Rle.__new__(Rle)
            rle.runs = np.array(row["runs"], dtype=np.int64)
            rle.values = np.array(row["values"], dtype=np.float64)
            out[key] = rle
        return RleDict(out)

    # ------------------------------------------------------------ chunking

    def rechunk(self, block_positions: int) -> "RleFrame":
        """One row per key → fixed-span ``(key, block_id)`` rows.

        Each block covers positions ``[block_id·B, block_id·B + B)`` of
        its key (last block short).  Runs crossing an edge are split —
        losslessly, since ``unchunk`` re-merges exactly-equal edge runs.
        Removes the per-key row size cap: downstream binary ops join on
        (key, block_id) and each task holds one block, not one key."""
        if block_positions <= 0:
            raise ValueError("block_positions must be positive")
        if self.blocked:
            return self.unchunk().rechunk(block_positions)
        key_cols = self.key_cols

        def split(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                pdf = batch.to_pandas()
                src, bids, runs_out, vals_out = [], [], [], []
                for i, (r, v) in enumerate(zip(pdf["runs"], pdf["values"])):
                    for bid, runs, values in _split_blocks(r, v, block_positions):
                        src.append(i)
                        bids.append(bid)
                        runs_out.append(runs)
                        vals_out.append(values)
                if src:
                    rows = pa.array(src, pa.int64())
                    group = {c: batch.column(c).take(rows) for c in key_cols}
                    group["block_id"] = pa.array(bids, pa.int64())
                    yield _rle_batch(group, runs_out, vals_out)

        df = self.df.mapInArrow(split, _keyed_schema(key_cols, blocked=True))
        return RleFrame(df, key_cols, block_positions=block_positions)

    def unchunk(self) -> "RleFrame":
        """Blocked → one row per key: concatenate blocks in order and
        merge ONLY at block edges, using the reference's merge predicate
        (float32 cast, 1e-5 tolerance, NaN/±inf merge —
        coverage.pyx:87-183) on each boundary pair.  Interior values are
        untouched — running full ``remove_dupes`` here would float32-cast
        every non-first value (its deliberate C-float quirk), which the
        unblocked path never does at this point.  A run split by
        ``rechunk`` has exactly equal values on both sides, so it always
        re-merges → byte-identical round trip."""
        if not self.blocked:
            return self
        key_cols = self.key_cols

        def edge_merges(prev_val: float, next_val: float) -> bool:
            v32 = float(np.float32(next_val))
            if np.isnan(v32) and np.isnan(prev_val):
                return True
            if (v32 == np.inf and prev_val == np.inf) or (
                v32 == -np.inf and prev_val == -np.inf
            ):
                return True
            return abs(v32 - prev_val) < 1e-5

        def concat(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            tbl = pa.Table.from_batches(list(batches))
            if tbl.num_rows == 0:
                return
            pdf = tbl.to_pandas().sort_values("block_id")
            keys = tuple(pdf.iloc[0][c] for c in key_cols)
            # accumulate SEGMENTS and concatenate once — growing one
            # array per block re-copies the accumulation every block,
            # O(blocks^2) per key
            segs_r: list = []
            segs_v: list = []
            last_val = None
            for r_raw, v_raw in zip(pdf["runs"], pdf["values"]):
                r = np.asarray(r_raw, dtype=np.int64)
                v = np.asarray(v_raw, dtype=np.float64)
                nz = r != 0  # empty-tail blocks contribute nothing
                r, v = r[nz], v[nz]
                if not len(r):
                    continue
                if segs_r and edge_merges(last_val, float(v[0])):
                    seg = segs_r[-1].copy()  # never mutate Arrow-backed memory
                    seg[-1] += r[0]
                    segs_r[-1] = seg
                    r, v = r[1:], v[1:]
                if len(r):
                    segs_r.append(r)
                    segs_v.append(v)
                    last_val = float(v[-1])
            cur_r, cur_v = (
                (np.concatenate(segs_r), np.concatenate(segs_v))
                if segs_r
                else _empty_rle()
            )
            out = {c: [v] for c, v in zip(key_cols, keys)}
            out["runs"] = [cur_r]
            out["values"] = [cur_v]
            yield pa.RecordBatch.from_pydict(out)

        df = self.df.groupBy(*key_cols).applyInArrow(
            concat, _keyed_schema(key_cols)
        )
        return RleFrame(df, key_cols)

    # ------------------------------------------------------------ binary ops

    def _binary(self, other: "RleFrame", op: str) -> "RleFrame":
        """Key alignment + per-pair merge kernel (methods.py:80-120
        distributed); the pair step is :func:`_merge_pair` in both layouts.

        Unblocked: one ``groupBy(key).cogroup(...).applyInArrow`` pass.
        Each side gives one key's ``(runs, values)`` from its own rows —
        a fresh ``from_intervals`` frame runs its coverage kernel on its
        event rows in the same task, any other frame hands over its
        runs/values row — so ``coverage(A) + coverage(B)`` is a single
        Python stage after the key shuffle.  A key on one side only
        meets a zero-Rle of its length (methods.py:104-111).

        Blocked: a full-outer join on (key, block_id) — each task merges
        one block; a missing block of a PRESENT key is a tail extension
        (0 for arithmetic, NaN for eq/ne — the equalize rules,
        rle.py:17-31), a fully missing key is a zero-Rle as in the
        unblocked layout.  The keyed presence window needs both sides'
        block rows, so this layout keeps the join.

        The result is computed once, here, and locally checkpointed (see
        the module docstring)."""
        if self.blocked != other.blocked or (
            self.blocked and self.block_positions != other.block_positions
        ):
            raise ValueError(
                "binary ops need matching layouts: rechunk both frames with "
                "the same block_positions (or unchunk both)"
            )
        key_cols = self.key_cols
        if self.blocked:
            out = self._binary_blocked(other, op)
        else:
            rows_a, step_a = self._cogroup_side()
            rows_b, step_b = other._cogroup_side()

            def merge(key, left: pa.Table, right: pa.Table) -> pa.Table:
                a = step_a(left) if left.num_rows else None
                b = step_b(right) if right.num_rows else None
                runs, values = _merge_pair(op, a, b)
                group = {c: [v.as_py()] for c, v in zip(key_cols, key)}
                return pa.Table.from_batches([_rle_batch(group, [runs], [values])])

            out = (
                rows_a.groupBy(*key_cols)
                .cogroup(rows_b.groupBy(*key_cols))
                .applyInArrow(merge, _keyed_schema(key_cols))
            )
        return RleFrame(out.localCheckpoint(), key_cols, self.block_positions)

    def _binary_blocked(self, other: "RleFrame", op: str) -> DataFrame:
        group_cols = self._group_cols
        a = self.df.select(
            *group_cols,
            F.col("runs").alias("runs_a"),
            F.col("values").alias("values_a"),
        )
        b = other.df.select(
            *group_cols,
            F.col("runs").alias("runs_b"),
            F.col("values").alias("values_b"),
        )
        # per-key presence: distinguishes "key shorter" (tail extend)
        # from "key absent" (zero-Rle); keyed window, never global
        wk = W.partitionBy(*self.key_cols)
        joined = (
            a.join(b, on=group_cols, how="full_outer")
            .withColumn(
                "a_present", F.max(F.col("runs_a").isNotNull().cast("int")).over(wk)
            )
            .withColumn(
                "b_present", F.max(F.col("runs_b").isNotNull().cast("int")).over(wk)
            )
        )

        def merge(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                ra, va, rb, vb = (
                    _list_rows(batch.column(c))
                    for c in ("runs_a", "values_a", "runs_b", "values_b")
                )
                a_tail = batch.column("a_present").to_numpy().astype(bool)
                b_tail = batch.column("b_present").to_numpy().astype(bool)
                out_runs, out_vals = [], []
                for i in range(batch.num_rows):
                    runs, values = _merge_pair(
                        op,
                        None if ra[i] is None else (ra[i], va[i]),
                        None if rb[i] is None else (rb[i], vb[i]),
                        a_tail[i],
                        b_tail[i],
                    )
                    out_runs.append(runs)
                    out_vals.append(values)
                yield _rle_batch(
                    {c: batch.column(c) for c in group_cols}, out_runs, out_vals
                )

        return joined.mapInArrow(merge, _keyed_schema(self.key_cols, blocked=True))

    def __add__(self, other):
        return self._apply_or_binary(other, "add")

    def __sub__(self, other):
        return self._apply_or_binary(other, "sub")

    def __mul__(self, other):
        return self._apply_or_binary(other, "mul")

    def __truediv__(self, other):
        return self._apply_or_binary(other, "div")

    def __radd__(self, other):
        return self._apply_or_binary(other, "add")

    def __rmul__(self, other):
        return self._apply_or_binary(other, "mul")

    def __rsub__(self, other):
        # other - self, scalar form (rle.py:588-602)
        if isinstance(other, numbers.Number):
            return self.apply_values(lambda v: other - v)
        return NotImplemented

    def __rtruediv__(self, other):
        # other / self, scalar form (rle.py:604-618)
        if isinstance(other, numbers.Number):
            with np.errstate(divide="ignore", invalid="ignore"):
                return self.apply_values(lambda v: other / v)
        return NotImplemented

    def _apply_or_binary(self, other, op):
        # numbers.Number, not (int, float): np.int64 is NOT an int
        # subclass and would fall into the frame branch and crash
        if isinstance(other, numbers.Number):
            other = float(other)
            fn = {
                "add": lambda v: v + other,
                "sub": lambda v: v - other,
                "mul": lambda v: v * other,
                "div": lambda v: v / other,
            }[op]
            return self.apply_values(fn)
        return self._binary(other, op)

    # ------------------------------------------------------------ element ops

    def apply_values(self, fn, defragment: bool = True) -> "RleFrame":
        """Vectorized values-map per row (rle.py:747-802 distributed).
        Blocked-safe: values maps are position-independent, and the
        per-block defragment preserves block spans."""
        group_cols = self._group_cols

        def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                pdf = batch.to_pandas()
                runs_out, vals_out = [], []
                for row in pdf.itertuples(index=False):
                    rd = row._asdict()
                    runs = np.asarray(rd["runs"], dtype=np.int64)
                    values = fn(np.asarray(rd["values"], dtype=np.float64))
                    if defragment:
                        runs, values = k.defragment(runs, values)
                    runs_out.append(runs)
                    vals_out.append(np.asarray(values, dtype=np.float64))
                yield _rle_batch(
                    {c: batch.column(c) for c in group_cols}, runs_out, vals_out
                )

        return RleFrame(
            self.df.mapInArrow(run, _keyed_schema(self.key_cols, self.blocked)),
            self.key_cols,
            self.block_positions,
        )

    def apply_runs(self, fn, defragment: bool = True) -> "RleFrame":
        """Distributed ``RleDict.apply_runs`` (rledict.py:486-546): map
        the runs array per key, cast the result to int64 (the reference's
        cast quirk), keep values.  Changes run spans → unblocked only."""
        self._require_unblocked("apply_runs")
        return self._rowwise(
            lambda r, v: (
                (np.asarray(fn(np.copy(r))).astype(np.int64), np.copy(v))
                if not defragment
                else k.defragment(np.asarray(fn(np.copy(r))).astype(np.int64), v)
            )
        )

    def apply(self, fn) -> "RleFrame":
        """Distributed ``RleDict.apply`` (rledict.py:422-484): ``fn``
        receives a driver-layer :class:`Rle` per key and returns one.
        Quirk kept: the result is ALWAYS defragmented — the reference
        ignores any defragment kwarg (rledict.py:480)."""
        self._require_unblocked("apply")
        from pyrle_spark.rle import Rle

        def call(r, v):
            rle = Rle.__new__(Rle)
            rle.runs = np.copy(r)
            rle.values = np.copy(v)
            out = fn(rle)
            return k.defragment(out.runs, out.values)

        return self._rowwise(call)

    def __array_ufunc__(self, ufunc, method, *inputs, **kwargs):
        """Numpy-ufunc surface (rle.py:203-246 distributed): np.sqrt(frame)
        etc. map the values arrays; runs are copied, NO defragment —
        exactly :meth:`Rle.__array_ufunc__`.  Mixed scalar operands pass
        through positionally; two RleFrame operands would need run
        alignment (use the binary operators) → NotImplemented."""
        if method != "__call__":
            return NotImplemented
        if sum(isinstance(x, RleFrame) for x in inputs) != 1:
            return NotImplemented
        # capture only scalars — the frame itself (→ SparkContext) must
        # not enter the serialized closure
        others = [None if isinstance(x, RleFrame) else x for x in inputs]

        def fx(v):
            args = [v if o is None else o for o in others]
            return np.asarray(ufunc(*args, **kwargs)).astype(np.float64)

        return self.apply_values(fx, defragment=False)

    def defragment(self) -> "RleFrame":
        return self.apply_values(lambda v: v, defragment=True)

    def _rowwise(self, fn) -> "RleFrame":
        """Map (runs, values) → (runs, values) per row in one Arrow pass."""
        group_cols = self._group_cols

        def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                pdf = batch.to_pandas()
                runs_out, vals_out = [], []
                for row in pdf.itertuples(index=False):
                    rd = row._asdict()
                    runs, values = fn(
                        np.asarray(rd["runs"], dtype=np.int64),
                        np.asarray(rd["values"], dtype=np.float64),
                    )
                    runs_out.append(np.asarray(runs, dtype=np.int64))
                    vals_out.append(np.asarray(values, dtype=np.float64))
                yield _rle_batch(
                    {c: batch.column(c) for c in group_cols}, runs_out, vals_out
                )

        return RleFrame(
            self.df.mapInArrow(run, _keyed_schema(self.key_cols, self.blocked)),
            self.key_cols,
            self.block_positions,
        )

    def shift(self, dist: int = 1, preserve_length: bool = True, fill: float = 0.0):
        """Logical-vector shift per key (rle.py:1000-1095 distributed)."""
        self._require_unblocked("shift")
        return self._rowwise(
            lambda r, v: k.shift_rle(r, v, dist, preserve_length, fill)
        )

    def numbers_only(self, nan=0.0, posinf=2147483647, neginf=-2147483648):
        """NaN/±inf → finite sentinels + defragment (rle.py:961-998).
        Blocked-safe (values-only; defragment preserves spans)."""
        return self._rowwise(
            lambda r, v: k.numbers_only(r, v, nan=nan, posinf=posinf, neginf=neginf)
        )

    def compare(self, other: "RleFrame", op: str) -> "RleFrame":
        """Comparison → 0/1-valued RLEs with the reference's NaN/zero
        extension rules (rle.py:248-276 distributed)."""
        out = self._binary(other, f"cmp_{op}")
        return out

    def __eq__(self, other):  # noqa: D105
        if isinstance(other, RleFrame):
            return self.compare(other, "eq")
        return NotImplemented

    def __ne__(self, other):  # noqa: D105
        # without this, Python derives `not (a == b)` = `not <RleFrame>`
        # = False — a silently-wrong constant instead of a 'ne' frame
        if isinstance(other, RleFrame):
            return self.compare(other, "ne")
        return NotImplemented

    __hash__ = None

    def __lt__(self, other):
        return self.compare(other, "lt")

    def __le__(self, other):
        return self.compare(other, "le")

    def __gt__(self, other):
        return self.compare(other, "gt")

    def __ge__(self, other):
        return self.compare(other, "ge")

    def getlocs(self, locs) -> DataFrame:
        """Point lookups per key: value of the run covering each position
        (getitem.pyx:89-109 distributed).  ``locs`` is a python list
        applied to every key."""
        self._require_unblocked("getlocs")
        key_cols = self.key_cols
        locs_arr = np.sort(np.asarray(locs, dtype=np.int64))

        def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                if not batch.num_rows:
                    continue
                pdf = batch.to_pandas()
                vals = [
                    np.asarray(
                        k.getlocs(
                            np.asarray(r, dtype=np.int64),
                            np.asarray(v, dtype=np.float64),
                            locs_arr,
                        ),
                        dtype=np.float64,
                    )
                    for r, v in zip(pdf["runs"], pdf["values"])
                ]
                rows = pa.array(np.repeat(np.arange(len(vals)), len(locs_arr)))
                out = {c: batch.column(c).take(rows) for c in key_cols}
                out["loc"] = np.tile(locs_arr, len(vals))
                # from_pydict, not from_pandas: a NaN value must stay NaN
                out["value"] = np.concatenate(vals)
                yield pa.RecordBatch.from_pydict(out)

        keys_schema = ", ".join(f"{c} string" for c in key_cols)
        return self.df.mapInArrow(run, f"{keys_schema}, loc long, value double")

    def make_strands_same_length(self, fill_value: float = 0.0) -> "RleFrame":
        """Pad the shorter strand per chromosome (rledict.py:650-676):
        window max of lengths per chromosome, conditional pad run."""
        self._require_unblocked("make_strands_same_length")
        if "Strand" not in self.key_cols:
            return self
        chrom = [c for c in self.key_cols if c != "Strand"]
        length = F.aggregate("runs", F.lit(0).cast("long"), lambda a, x: a + x)
        w = W.partitionBy(*chrom)
        df = self.df.withColumn("_len", length).withColumn(
            "_maxlen", F.max("_len").over(w)
        )
        pad = F.col("_maxlen") - F.col("_len")
        df = df.select(
            *self.key_cols,
            F.when(pad > 0, F.concat("runs", F.array(pad)))
            .otherwise(F.col("runs"))
            .alias("runs"),
            F.when(pad > 0, F.concat("values", F.array(F.lit(fill_value))))
            .otherwise(F.col("values"))
            .alias("values"),
        )
        return RleFrame(df, self.key_cols)

    # ------------------------------------------------------------ decode

    def to_ranges(self) -> DataFrame:
        """Decode to interval rows (methods.py:159-213 distributed):
        ``(key..., Start, End, Score)``.  Zero-length runs are dropped,
        exactly equal neighbours merged (NaN equals NaN, as Spark compares
        doubles), then zero scores dropped.

        One Arrow pass emits the ranges straight from the run arrays; an
        unblocked frame needs no shuffle.  A blocked frame decodes each
        block at offset ``block_id·B``; only each block's first and last
        range can continue into a neighbouring block, so only those edge
        rows go through a keyed gaps-and-islands merge — no task holds a
        whole key."""
        key_cols, blocked, B = self.key_cols, self.blocked, self.block_positions
        names = [*key_cols, "Start", "End", "Score"] + (["edge"] if blocked else [])

        def decode(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            for batch in batches:
                out = {c: [] for c in names}
                for i in range(batch.num_rows):
                    row = {c: batch.column(c)[i] for c in batch.schema.names}
                    runs = row["runs"].values.to_numpy()
                    # a NaN value may be stored as a null list element
                    vals = row["values"].values.to_numpy(zero_copy_only=False)
                    nz = runs != 0
                    runs, vals = runs[nz], vals[nz]
                    if not len(runs):
                        continue
                    ends = np.cumsum(runs)
                    if blocked:
                        ends += row["block_id"].as_py() * B
                    same = (vals[1:] == vals[:-1]) | (
                        np.isnan(vals[1:]) & np.isnan(vals[:-1])
                    )
                    first, last = np.append(True, ~same), np.append(~same, True)
                    score = vals[first]
                    keep = score != 0
                    if not keep.any():
                        continue
                    out["Start"].append((ends - runs)[first][keep])
                    out["End"].append(ends[last][keep])
                    out["Score"].append(score[keep])
                    if blocked:
                        edge = np.zeros(len(score), dtype=bool)
                        edge[[0, -1]] = True
                        out["edge"].append(edge[keep])
                    for c in key_cols:
                        out[c].append(np.full(keep.sum(), row[c].as_py(), dtype=object))
                if out["Start"]:
                    # from_pydict, not from_pandas: a NaN score must stay NaN
                    yield pa.RecordBatch.from_pydict(
                        {c: np.concatenate(v) for c, v in out.items()}
                    )

        keys_schema = ", ".join(f"{c} string" for c in key_cols)
        schema = f"{keys_schema}, Start long, End long, Score double"
        if not blocked:
            return self.df.mapInArrow(decode, schema)
        rows = self.df.mapInArrow(decode, f"{schema}, edge boolean")
        w = W.partitionBy(*key_cols).orderBy("Start")
        prev_end, prev_score = F.lag("End").over(w), F.lag("Score").over(w)
        # Spark's != treats NaN as equal to NaN, like the in-block merge
        starts_island = (
            prev_end.isNull()
            | (prev_end != F.col("Start"))
            | (prev_score != F.col("Score"))
        ).cast("int")
        edges = (
            rows.filter(F.col("edge"))
            .withColumn("grp", F.sum(starts_island).over(w))
            .groupBy(*key_cols, "grp")
            .agg(
                F.min("Start").alias("Start"),
                F.max("End").alias("End"),
                F.first("Score").alias("Score"),
            )
        )
        cols = [*key_cols, "Start", "End", "Score"]
        inner = rows.filter(~F.col("edge")).select(*cols)
        return inner.unionAll(edges.select(*cols))

    # ------------------------------------------------------------ aggregates

    def stats(self) -> DataFrame:
        """Per-key aggregates incl. the reference's faithful quirks
        (unweighted mean rle.py:945-959) — pure array expressions.

        Blocked frames aggregate per-block partials, then correct the
        two run-structure statistics (n_runs, the unweighted value sum)
        for runs split across block edges: consecutive blocks whose
        last/first values merge under the reference predicate (exact,
        NaN, or <1e-5 after float32 cast) count as one run.  length and
        the weighted mean are edge-safe by construction."""
        length = F.aggregate("runs", F.lit(0).cast("long"), lambda a, x: a + x)
        vsum = F.aggregate("values", F.lit(0.0), lambda a, x: a + x)
        wsum = F.aggregate(
            F.zip_with("runs", "values", lambda r, v: r.cast("double") * v),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        if not self.blocked:
            return self.df.select(
                *self.key_cols,
                F.size("runs").alias("n_runs"),
                length.alias("length"),
                (vsum / length).alias("mean_quirk"),
                (wsum / length).alias("weighted_mean"),
            )
        wb = W.partitionBy(*self.key_cols).orderBy("block_id")
        per_block = self.df.select(
            *self.key_cols,
            "block_id",
            F.size("runs").alias("n_runs_b"),
            length.alias("len_b"),
            vsum.alias("vsum_b"),
            wsum.alias("wsum_b"),
            F.element_at("values", 1).alias("first_v"),
            F.element_at("values", -1).alias("last_v"),
        )
        prev_last = F.lag("last_v").over(wb)
        first32 = F.col("first_v").cast("float").cast("double")
        edge_merge = F.when(
            prev_last.isNull() | (F.col("n_runs_b") == 0), F.lit(False)
        ).otherwise(
            (F.isnan(prev_last) & F.isnan("first_v"))
            | (prev_last == F.abs(F.lit(float("inf"))) * F.signum(first32))
            & (F.abs(first32) == F.lit(float("inf")))
            | (F.abs(first32 - prev_last) < 1e-5)
        )
        marked = per_block.select(
            *self.key_cols,
            "n_runs_b",
            "len_b",
            "vsum_b",
            "wsum_b",
            edge_merge.cast("int").alias("merged"),
            F.when(edge_merge, F.col("first_v")).otherwise(0.0).alias("v_dupe"),
        )
        agg = marked.groupBy(*self.key_cols).agg(
            (F.sum("n_runs_b") - F.sum("merged")).cast("int").alias("n_runs"),
            F.sum("len_b").alias("length"),
            (F.sum("vsum_b") - F.sum("v_dupe")).alias("vsum"),
            F.sum("wsum_b").alias("wsum"),
        )
        return agg.select(
            *self.key_cols,
            "n_runs",
            "length",
            (F.col("vsum") / F.col("length")).alias("mean_quirk"),
            (F.col("wsum") / F.col("length")).alias("weighted_mean"),
        )

    def getitems(self, intervals: DataFrame) -> DataFrame:
        """Batch range extraction (getitem.pyx:201-325 distributed): cogroup
        the frame with the query intervals by key and run the vectorized
        searchsorted kernel once per key; keys on one side only emit
        nothing.  Output (key..., Start, End, ID, Run, Value)."""
        self._require_unblocked("getitems")
        key_cols = self.key_cols
        keys_schema = ", ".join(f"{c} string" for c in key_cols)
        out_schema = pa.schema(
            [(c, pa.string()) for c in key_cols]
            + [(c, pa.int64()) for c in ("Start", "End", "ID", "Run")]
            + [("Value", pa.float64())]
        )

        def extract(rle: pa.Table, q: pa.Table) -> pa.Table:
            if rle.num_rows == 0 or q.num_rows == 0:
                return out_schema.empty_table()
            starts = q.column("Start").to_numpy()
            order = np.argsort(starts, kind="stable")
            ids, qs, qe, runs, vals = k.getitems(
                *_first_rle(rle),
                starts[order],
                q.column("End").to_numpy()[order],
            )
            data = {c: [rle.column(c)[0].as_py()] * len(ids) for c in key_cols}
            data.update(
                Start=qs,
                End=qe,
                ID=q.column("ID").to_numpy()[order][ids],
                Run=runs,
                Value=vals,
            )
            return pa.table(data, schema=out_schema)

        q = intervals.select(
            *key_cols, *(F.col(c).cast("long").alias(c) for c in ("Start", "End", "ID"))
        )
        return (
            self.df.groupBy(*key_cols)
            .cogroup(q.groupBy(*key_cols))
            .applyInArrow(
                extract,
                f"{keys_schema}, Start long, End long, ID long, Run long, Value double",
            )
        )
