"""One read planner and one block reader for encoded-blocks tables.

Every read of an encoded table goes through the two halves here:
``decode_table`` / ``scan_encoded``, ``verify_checksums``,
``explain_scan``, every compressed-domain aggregate of
:mod:`~pyrle_spark.plans.compressed` and the ``format("pyrle")`` reader.

- :func:`plan_read` runs in the driver and launches no Spark job.  It
  reads the thin columns (``block_id, column, arrow_type, n_rows, zmin,
  zmax, bloom``) of the snapshot's data files with pyarrow, picks one
  resume-dedup winner per (block, column) — the row with the most rows,
  the first in manifest order on a tie — resolves widened types,
  evaluates the predicates against zone maps and bloom digests, and
  drops blocks whose every row is deleted.
- :func:`read_blocks` is one ``mapInArrow`` over the block list the
  planner built, split into ``min(#blocks, defaultParallelism)`` task
  rows of contiguous blocks (:func:`run_tasks`, which the file-direct
  encode also runs on).  Each task row carries its own blocks' winners as
  ``(path, column, n_rows)``; the task reads those rows file-direct and
  hands each block's ``Encoded`` columns and deleted offsets to the
  consumer.

Pruning is a superset contract.  A missing zone, digest or thin column
(files written before zone stats or bloom digests), a literal of another
type, or an unparseable bound keeps the block.  Predicates are compared
in the column's physical domain: integers against integer-clamped
bounds, timestamps in epoch units of their Arrow type, floats as floats
with NaN ordered above every value (Spark's order, so a NaN row can
satisfy ``x >= lo``).  :func:`residual_mask` pushes a conservative copy
of the row filter into the tasks; the caller still applies the exact
filter in Spark.
"""

from __future__ import annotations

import calendar
import datetime as _dt
import json
import math
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

THIN_COLS = ["block_id", "column", "arrow_type", "n_rows", "zmin", "zmax", "bloom"]
_BODY_COLS = [
    "block_id", "column", "codec", "arrow_type", "n_rows", "meta", "buffers",
    "crc32",
]

_INT_TYPES = frozenset(
    ["int8", "int16", "int32", "int64", "uint8", "uint16", "uint32", "uint64"]
)
_FLOAT_TYPES = frozenset(["halffloat", "float", "double"])
_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
_US = _dt.timedelta(microseconds=1)
_NO = object()  # the literal has no value in the column's domain


def _domain(at: str | None) -> str | None:
    if at is None:
        return None
    if at in _INT_TYPES:
        return "int"
    if at in _FLOAT_TYPES:
        return "float"
    if at.startswith("timestamp["):
        return "ts"
    if at in ("string", "large_string"):
        return "str"
    if at in ("binary", "large_binary"):
        return "bytes"
    return None


def _ts_parts(at: str) -> tuple:
    """``"timestamp[us, tz=UTC]"`` → ``("us", "UTC")``; tz None if naive."""
    unit, _, tz = at[len("timestamp[") : -1].partition(", tz=")
    return unit, (tz or None)


def _us_to_unit(us: int, unit: str, side: str) -> int:
    if unit == "ns":
        return us * 1000
    if unit == "us":
        return us
    div = 1000 if unit == "ms" else 1_000_000
    return -(-us // div) if side == "lo" else us // div


def _ts_literal_us(v: _dt.datetime, naive_col: bool, session_tz) -> int:
    """A datetime literal as the column sees it, in microseconds.  Spark
    reads a naive literal as wall-clock time in the Python process's
    local zone (pyspark's ``DatetimeConverter``), and compares a
    ``timestamp_ntz`` column after casting it to the session zone — so
    for such a column the literal's instant becomes a session-zone wall
    clock."""
    if v.tzinfo is not None:
        us = (v - _EPOCH) // _US
    else:
        us = int(time.mktime(v.timetuple())) * 1_000_000 + v.microsecond
    if not naive_col:
        return us
    s, frac = divmod(us, 1_000_000)
    tz = None
    if session_tz:
        from zoneinfo import ZoneInfo

        tz = ZoneInfo(session_tz)
    wall = _dt.datetime.fromtimestamp(s, tz)
    return calendar.timegm(wall.timetuple()) * 1_000_000 + frac


def _literal(v, at: str, side: str, session_tz):
    """``v`` in the physical domain of arrow type ``at``; ``_NO`` when it
    has none.  ``side`` ("lo"/"hi") picks the rounding that keeps the
    bound exact: integers take ceil/floor, coarse timestamp units too.
    A string literal on a numeric or timestamp column is parsed the way
    Spark's implicit cast reads it (a naive timestamp string is
    session-zone time)."""
    dom = _domain(at)
    if isinstance(v, str) and dom in ("int", "float", "ts"):
        parse = {"int": int, "float": float, "ts": _dt.datetime.fromisoformat}
        try:
            v = parse[dom](v)
        except ValueError:
            return _NO
        if dom == "ts" and v.tzinfo is None and session_tz:
            from zoneinfo import ZoneInfo

            v = v.replace(tzinfo=ZoneInfo(session_tz))
    if dom in ("int", "float"):
        if isinstance(v, bool) or not isinstance(
            v, (int, float, np.integer, np.floating)
        ):
            return _NO
        if dom == "float":
            f = float(v)
            return _NO if math.isnan(f) else f
        if isinstance(v, (int, np.integer)):
            return int(v)
        if not math.isfinite(v):
            return _NO
        return math.ceil(v) if side == "lo" else math.floor(v)
    if dom == "ts":
        if not isinstance(v, _dt.datetime):
            return _NO
        unit, tz = _ts_parts(at)
        return _us_to_unit(_ts_literal_us(v, tz is None, session_tz), unit, side)
    if dom == "str":
        return v if isinstance(v, str) else _NO
    if dom == "bytes":
        return bytes(v) if isinstance(v, (bytes, bytearray)) else _NO
    return _NO


def _zone_value(s, at: str, side: str):
    """A stored zone-bound string in the physical domain of ``at``;
    None = unparseable, so the caller keeps the block."""
    if s is None:
        return None
    dom = _domain(at)
    try:
        if dom == "int":
            return int(s)
        if dom == "float":
            return float(s)
        if dom == "str":
            return s
        if dom == "bytes":
            return bytes.fromhex(s)
        if dom == "ts":
            d = _dt.datetime.fromisoformat(s)
            if d.tzinfo is not None:
                us = (d - _EPOCH) // _US
            else:
                us = calendar.timegm(d.timetuple()) * 1_000_000 + d.microsecond
            unit, _ = _ts_parts(at)
            v = _us_to_unit(us, unit, side)
            # isoformat keeps microseconds: a ns zmax may be truncated
            return v + 999 if unit == "ns" and side == "hi" else v
    except (ValueError, TypeError, OverflowError):
        return None
    return None


def _range_mask(vals: np.ndarray, lo, hi) -> np.ndarray:
    """Elementwise ``lo <= v <= hi`` with comparisons in the array's
    NATIVE domain: integer arrays compare against integer-clamped
    bounds — mixing an int64 array with a float bound (including the
    ``±inf`` stand-ins for unbounded) would promote the comparison to
    float64 and misclassify values beyond 2^53 near the bounds, making
    the answer depend on which codec a block happens to have.  Float
    arrays compare as floats (NaN never matches)."""
    if np.issubdtype(vals.dtype, np.integer):
        info = np.iinfo(np.int64)
        if (lo is not None and lo > info.max) or (
            hi is not None and hi < info.min
        ):
            return np.zeros(len(vals), dtype=bool)
        lo_i = info.min if lo is None else max(math.ceil(lo), info.min)
        hi_i = info.max if hi is None else min(math.floor(hi), info.max)
        return (vals >= lo_i) & (vals <= hi_i)
    lo_ = -np.inf if lo is None else lo
    hi_ = np.inf if hi is None else hi
    return (vals >= lo_) & (vals <= hi_)


# ------------------------------------------------------ predicate normal form


def norm_predicates(predicates: list) -> list:
    """Normalize ``(col, lo, hi)`` / ``(col, values)`` predicate tuples
    to ``(col, lo, hi, values_or_None)``; 4-tuples pass through."""
    norm = []
    for p in predicates:
        if len(p) == 4:
            norm.append(tuple(p))
        elif len(p) == 2:
            colname, values = p
            values = sorted(set(values))
            norm.append(
                (
                    colname,
                    min(values) if values else None,
                    max(values) if values else None,
                    values,
                )
            )
        else:
            colname, lo, hi = p
            norm.append((colname, lo, hi, None))
    return norm


class Pred:
    """One conjunct on a column: ``lo <= col <= hi`` (None = unbounded)
    or ``col IN values``.  ``col`` is the logical name, ``phys`` the
    storage name the thin columns carry.  :meth:`bounds` gives the
    literals in the physical domain of an Arrow type, cached per type."""

    def __init__(self, col, lo, hi, values, phys=None, session_tz=None):
        self.col, self.lo, self.hi, self.values = col, lo, hi, values
        self.phys = phys or col
        self.session_tz = session_tz
        self._bounds: dict = {}

    @property
    def kind(self) -> str:
        if self.values is not None:
            return "in"
        return "eq" if self.lo is not None and self.lo == self.hi else "range"

    def bounds(self, at: str):
        """``(domain, lo, hi, values)`` in ``at``'s physical domain, or
        None when a literal does not compare with the column."""
        if at not in self._bounds:
            self._bounds[at] = self._normalize(at)
        return self._bounds[at]

    def _normalize(self, at: str):
        dom = _domain(at)
        if dom is None:
            return None
        tz = self.session_tz
        lo = None if self.lo is None else _literal(self.lo, at, "lo", tz)
        hi = None if self.hi is None else _literal(self.hi, at, "hi", tz)
        if lo is _NO or hi is _NO:
            return None
        vals = None
        if self.values is not None:
            vals = []
            for v in self.values:
                a, b = _literal(v, at, "lo", tz), _literal(v, at, "hi", tz)
                if a is _NO or b is _NO:
                    return None
                if a == b:  # else no value of the column can equal v
                    vals.append(a)
            vals = sorted(set(vals))
            lo, hi = (vals[0], vals[-1]) if vals else (None, None)
        return dom, lo, hi, vals

    def zone_ok(self, at: str, zmin_s, zmax_s) -> bool:
        b = self.bounds(at)
        if b is None:
            return True
        dom, lo, hi, vals = b
        if vals is not None and not vals:
            return False
        if lo is not None and hi is not None and lo > hi:
            return False
        # a float NaN sorts above every value: with no upper bound it
        # satisfies ``x >= lo`` whatever the block's zmax says
        if lo is not None and (dom != "float" or hi is not None):
            zmax = _zone_value(zmax_s, at, "hi")
            if zmax is not None and zmax < lo:
                return False
        if hi is not None:
            zmin = _zone_value(zmin_s, at, "lo")
            if zmin is not None and zmin > hi:
                return False
        return True

    def bloom_ok(self, at: str, bloom) -> bool:
        from pyrle_spark.plans.encode_job import (
            _bloom_positions,
            _bloom_value_bytes,
        )

        b = self.bounds(at)
        if b is None or bloom is None:
            return True
        _, lo, hi, vals = b
        probes = vals if vals is not None else (
            [lo] if lo is not None and lo == hi else None
        )
        if probes is None:
            return True
        bits = bytes.fromhex(bloom)
        for v in probes:
            data = _bloom_value_bytes(v)
            if data is None:
                return True
            if all(
                bits[p // 8] & (1 << (p % 8)) for p in set(_bloom_positions(data))
            ):
                return True
        return False

    def row_mask(self, arr: pa.Array):
        """Conservative row filter: a bool numpy mask that keeps every
        row Spark's exact filter keeps (NaN rows always stay), or None
        when this predicate cannot be evaluated here."""
        import pyarrow.compute as pc

        b = self.bounds(str(arr.type))
        if b is None:
            return None
        dom, lo, hi, vals = b
        try:
            if dom in ("int", "float", "ts"):
                valid = np.asarray(arr.is_valid(), dtype=bool)
                if dom == "ts":
                    arr = arr.cast(pa.int64())
                x = arr.fill_null(0).to_numpy(zero_copy_only=False)
                if vals is not None:
                    m = np.isin(x, vals)
                else:
                    m = _range_mask(x, lo, hi)
                if dom == "float":
                    m |= np.isnan(x)
                return m & valid
            if vals is not None:
                m = pc.is_in(arr, value_set=pa.array(vals, arr.type))
            else:
                m = None
                if lo is not None:
                    m = pc.greater_equal(arr, pa.scalar(lo, arr.type))
                if hi is not None:
                    h = pc.less_equal(arr, pa.scalar(hi, arr.type))
                    m = h if m is None else pc.and_(m, h)
                if m is None:
                    return None
            return np.asarray(m.fill_null(False), dtype=bool)
        except (pa.ArrowException, TypeError, ValueError, OverflowError):
            return None


def make_preds(predicates, aliases=None, session_tz=None) -> list:
    """Predicate tuples (any :func:`norm_predicates` form) → :class:`Pred`
    list; ``aliases`` maps logical names to storage names."""
    aliases = aliases or {}
    return [
        Pred(c, lo, hi, vals, aliases.get(c, c), session_tz)
        for c, lo, hi, vals in norm_predicates(predicates or [])
    ]


def _conj_mask(arrays: dict, conj: list):
    m = None
    for p in conj:
        if p.col not in arrays:
            continue
        pm = p.row_mask(arrays[p.col])
        if pm is not None:
            m = pm if m is None else (m & pm)
    return m


def residual_mask(arrays: dict, conj: list, any_of: list | None):
    """Rows that may satisfy ``AND(conj) AND OR(any_of)``, from decoded
    ``{logical column: array}``; None = keep every row."""
    m = _conj_mask(arrays, conj)
    if any_of:
        d = None
        for c in any_of:
            cm = _conj_mask(arrays, c)
            if cm is None:  # this disjunct may match every row
                d = None
                break
            d = cm if d is None else (d | cm)
        if d is not None:
            m = d if m is None else (m & d)
    return m


# ------------------------------------------------------------- thin columns


def _thin_columns(rows) -> dict:
    """Thin rows → ``{name: list}``; a pa.Table lacking a thin column
    (a file written before zone stats or digests) reads it as None."""
    if isinstance(rows, pa.Table):
        n = rows.num_rows
        return {
            c: rows.column(c).to_pylist() if c in rows.column_names else [None] * n
            for c in THIN_COLS
        }
    return {c: [r.get(c) for r in rows] for c in THIN_COLS}


def _verdicts(cols: dict, pred: Pred) -> tuple:
    """(seen, zone-pass, final-pass) block sets of one predicate over
    thin rows; a block passes a tier when any of its rows for the
    predicate's column does."""
    seen, zone, final = set(), set(), set()
    ats, zmins, zmaxs, blooms = (
        cols["arrow_type"], cols["zmin"], cols["zmax"], cols["bloom"]
    )
    for i, (bid, c) in enumerate(zip(cols["block_id"], cols["column"])):
        if c != pred.phys:
            continue
        seen.add(bid)
        if pred.zone_ok(ats[i], zmins[i], zmaxs[i]):
            zone.add(bid)
            if pred.bloom_ok(ats[i], blooms[i]):
                final.add(bid)
    return seen, zone, final


def _pruned(cols: dict, conj: list) -> set:
    """Blocks a conjunction rules out: those that have rows for one of
    its columns and no such row passes."""
    out: set = set()
    for p in conj:
        seen, _, final = _verdicts(cols, p)
        out |= seen - final
    return out


def _surviving_blocks(thin, preds: list, session_tz=None):
    """Block ids of thin rows (a pa.Table, or row dicts) that may satisfy
    every predicate; None when there are no predicates (keep all).
    ``preds``: tuples in any :func:`norm_predicates` form, or ``Pred``."""
    if not preds:
        return None
    conj = [
        p if isinstance(p, Pred) else make_preds([p], session_tz=session_tz)[0]
        for p in preds
    ]
    cols = _thin_columns(thin)
    return set(cols["block_id"]) - _pruned(cols, conj)


def _read_thin(paths: list) -> dict:
    """Thin rows of every data file, with the file path per row."""
    import pyarrow.parquet as pq

    out = {c: [] for c in THIN_COLS + ["path"]}
    for p in paths:
        f = pq.ParquetFile(p)
        names = set(f.schema_arrow.names)
        t = f.read(columns=[c for c in THIN_COLS if c in names])
        for c in THIN_COLS:
            out[c].extend(
                t.column(c).to_pylist() if c in names else [None] * t.num_rows
            )
        out["path"].extend([p] * t.num_rows)
    return out


def _winners(thin: dict) -> dict:
    """``{(block_id, column): row index}``: per (block, column) the row
    with the most rows wins (a complete re-encode supersedes an earlier
    partial block); the first in manifest order wins a tie."""
    win: dict = {}
    nrs = thin["n_rows"]
    for i, k in enumerate(zip(thin["block_id"], thin["column"])):
        j = win.get(k)
        if j is None or nrs[i] > nrs[j]:
            win[k] = i
    return win


# ------------------------------------------------------------------ planner


@dataclass
class ReadPlan:
    """What to read: the block list with each block's winning rows, plus
    everything the tasks need to decode and filter them."""

    block_rows: int
    phys_of: dict  # logical -> physical, the columns to read
    types: dict  # logical -> resolved arrow type string
    # [(block_id, [(path, physical column, n_rows), ...], offsets | None)]
    blocks: list = field(default_factory=list)
    delete_files: list = field(default_factory=list)  # read task-side
    preds: list = field(default_factory=list)  # Pred conjuncts
    any_of: list | None = None  # [[Pred]] disjuncts
    empty: bool = False  # the files hold no block rows at all
    src_schema: dict = field(default_factory=dict)

    def payloads(self, n_slices: int) -> list:
        """The block list as ``min(#blocks, n_slices)`` JSON task rows of
        contiguous blocks (at least one row, possibly empty)."""
        return [
            json.dumps(
                {
                    "blocks": [
                        [b, w, None if kill is None else kill.tolist()]
                        for b, w, kill in part
                    ],
                    "deletes": self.delete_files,
                }
            )
            for part in contiguous_slices(self.blocks, n_slices)
        ]


def contiguous_slices(items: list, n_slices: int) -> list:
    """``items`` cut into ``min(#items, n_slices)`` contiguous runs whose
    lengths differ by at most one (at least one run, possibly empty)."""
    k = max(1, min(len(items), n_slices))
    return [
        [items[i] for i in idx] for idx in np.array_split(np.arange(len(items)), k)
    ]


def _block_id_set(blocks):
    if blocks is None:
        return None
    from pyspark.sql import DataFrame

    if isinstance(blocks, DataFrame):
        return {
            int(r[0]) for r in blocks.select("block_id").distinct().collect()
        }
    return {int(b) for b in blocks}


def _delete_kill(table_dir, snapshot_id, block_rows, driver_max, keep: set):
    """(``{block_id: sorted in-block offsets}``, vector files left for the
    tasks).  Small delete sets load in the driver; past ``driver_max``
    positions only the file list ships and each task reads its own span."""
    import pyarrow.parquet as pq

    from pyrle_spark.plans.encode_job import (
        _DELETE_DRIVER_MAX,
        _visible_delete_files,
    )

    files = _visible_delete_files(table_dir, snapshot_id)
    if not files:
        return {}, []
    cap = _DELETE_DRIVER_MAX if driver_max is None else driver_max
    if sum(pq.ParquetFile(f).metadata.num_rows for f in files) > cap:
        return {}, files
    pos = np.unique(
        np.concatenate(
            [
                pq.read_table(f, columns=["_order"])["_order"].to_numpy(
                    zero_copy_only=False
                )
                for f in files
            ]
        ).astype(np.int64)
    )
    bids = pos // block_rows
    kill = {}
    for b in np.unique(bids):
        b = int(b)
        if b in keep:
            lo, hi = np.searchsorted(bids, [b, b + 1])
            kill[b] = pos[lo:hi] - b * block_rows
    return kill, []


def plan_read(
    table_dir: str,
    columns: list | None = None,
    predicates: list | None = None,
    any_of: list | None = None,
    snapshot_id: str | None = None,
    paths: list | None = None,
    blocks=None,
    apply_deletes: bool = True,
    driver_max: int | None = None,
    session_tz: str | None = None,
    all_physical: bool = False,
    incomplete: str = "raise",
) -> ReadPlan:
    """Plan a read in the driver, from the thin columns of the data files.

    ``columns``: logical names (default: every column of the snapshot);
    ``all_physical`` reads every column the files hold instead (a
    checksum audit).  ``predicates`` / ``any_of``: the
    :func:`~pyrle_spark.plans.encode_job.scan_encoded` forms — survivors
    are the blocks that pass every conjunct, intersected with the union
    of the disjuncts (an empty disjunct matches everything).  ``paths``:
    plan only these data files.  ``blocks``: restrict to these block ids
    (a DataFrame with ``block_id``, collected once, or ids).
    ``incomplete``: a block lacking one of the columns raises
    (``"raise"``) or is left out (``"skip"``, which also leaves out
    columns no block has)."""
    from pyrle_spark.plans.encode_job import _widest_type
    from pyrle_spark.sources.icetable import IceTable

    table = IceTable(table_dir)
    if snapshot_id:
        snapshot_id = table.resolve_ref(snapshot_id)
    props = table.properties(snapshot_id)
    block_rows = int(props["block_rows"])
    aliases = props.get("column_aliases", {})
    phys_of: dict = {}
    if not all_physical:
        all_cols = props["columns"]
        cols = sorted(set(columns or all_cols))
        unknown = [c for c in cols if c not in all_cols]
        if unknown:
            raise KeyError(
                f"columns {unknown} not available at this snapshot "
                f"(available: {sorted(all_cols)}; dropped: "
                f"{props.get('dropped_columns', [])})"
            )
        phys_of = {c: aliases.get(c, c) for c in cols}
    preds = make_preds(predicates, aliases, session_tz)
    dnf = [make_preds(c, aliases, session_tz) for c in any_of] if any_of else None
    if paths is None:
        snap = snapshot_id or table.current_snapshot_id()
        paths = [f["path"] for f in table._manifest(snap)["files"]] if snap else []
    thin = _read_thin(paths)
    win = _winners(thin)
    if all_physical:
        phys_of = {c: c for c in sorted({c for _, c in win})}
    rename = {p: c for c, p in phys_of.items()}
    by_type: dict = {}
    by_block: dict = {}
    for (bid, c), i in win.items():
        if c in rename:
            by_type.setdefault(rename[c], set()).add(thin["arrow_type"][i])
            by_block.setdefault(bid, {})[c] = i
    plan = ReadPlan(
        block_rows=block_rows, phys_of=phys_of, types={}, preds=preds,
        any_of=dnf, src_schema=props.get("source_schema") or {},
    )
    missing = [c for c in phys_of if c not in by_type]
    if missing and incomplete == "skip":
        for c in missing:
            del rename[phys_of.pop(c)]
    elif missing:
        if not thin["block_id"] and all(
            phys_of[c] in plan.src_schema for c in phys_of
        ):
            plan.empty = True  # zero live blocks: typed from the source schema
            return plan
        raise KeyError(
            f"columns {missing} not present in snapshot "
            f"{snapshot_id or '(latest)'}; available: {sorted(by_type)}"
        )
    plan.types = {c: _widest_type(c, ts) for c, ts in by_type.items() if c in phys_of}
    need = sorted(phys_of.values())
    live: dict = {}
    for bid, rows in by_block.items():
        if len(rows) != len(need) and not all_physical:
            if incomplete == "skip":
                continue
            lacking = sorted(set(need) - set(rows))
            raise ValueError(
                f"block {bid} lacks column(s) {lacking} (corrupt or "
                "mid-widen table)"
            )
        live[bid] = rows
    # predicates judge each block by its winning row; a block with no row
    # for a predicate's column cannot be pruned by it
    pcols = {p.phys for p in preds} | {p.phys for c in dnf or [] for p in c}
    wthin = {c: [] for c in THIN_COLS}
    for (bid, c), i in win.items():
        if c in pcols and bid in live:
            for k in THIN_COLS:
                wthin[k].append(thin[k][i])
    keep = set(live) - _pruned(wthin, preds)
    if dnf:
        union: set = set()
        for conj in dnf:
            union |= set(live) - _pruned(wthin, conj)
        keep &= union
    wanted = _block_id_set(blocks)
    if wanted is not None:
        keep &= wanted
    kill: dict = {}
    if apply_deletes:
        kill, plan.delete_files = _delete_kill(
            table_dir, snapshot_id, block_rows, driver_max, keep
        )
    for bid in sorted(keep):
        rows = live[bid]
        n = max(thin["n_rows"][i] for i in rows.values())
        k = kill.get(bid)
        if k is not None and int(np.count_nonzero(k < n)) >= n:
            continue  # every row deleted
        plan.blocks.append(
            (
                bid,
                [(thin["path"][i], c, thin["n_rows"][i]) for c, i in sorted(rows.items())],
                k,
            )
        )
    return plan


def winner_thin(table_dir: str, snapshot_id=None) -> tuple:
    """``(column aliases, thin columns)`` of the snapshot, the thin
    columns holding one row per (block, column): its resume-dedup
    winner.  Read in the driver; no Spark job."""
    from pyrle_spark.sources.icetable import IceTable

    table = IceTable(table_dir)
    if snapshot_id:
        snapshot_id = table.resolve_ref(snapshot_id)
    aliases = table.properties(snapshot_id).get("column_aliases", {})
    snap = snapshot_id or table.current_snapshot_id()
    paths = [f["path"] for f in table._manifest(snap)["files"]] if snap else []
    thin = _read_thin(paths)
    win = _winners(thin)
    return aliases, {c: [thin[c][i] for i in win.values()] for c in THIN_COLS}


def explain(table_dir: str, predicates=None, any_of=None, snapshot_id=None,
            session_tz=None) -> dict:
    """Per-tier survivor counts for :func:`~pyrle_spark.plans.encode_job.
    explain_scan`, from the winners' thin rows; no Spark job."""
    aliases, wthin = winner_thin(table_dir, snapshot_id)
    total = set(wthin["block_id"])

    report = []
    blocks = set(total)
    for p in make_preds(predicates, aliases, session_tz):
        seen, zone, final = _verdicts(wthin, p)
        report.append(
            {
                "column": p.col,
                "kind": p.kind,
                "zone_survivors": len(total - (seen - zone)),
                "final_survivors": len(total - (seen - final)),
            }
        )
        blocks -= seen - final
    dnf_survivors = None
    if any_of:
        union: set = set()
        for conj in any_of:
            union |= total - _pruned(wthin, make_preds(conj, aliases, session_tz))
        dnf_survivors = len(union)
        blocks &= union
    return {
        "total_blocks": len(total),
        "survivor_blocks": len(blocks),
        "selectivity": round(len(blocks) / len(total), 4) if total else 1.0,
        "per_predicate": report,
        "dnf_survivors": dnf_survivors,
    }


# ------------------------------------------------------------------- reader


@dataclass
class Block:
    """One block as a task sees it: its winning encoded columns (by
    physical name), their stored crc32s, and its deleted offsets."""

    block_id: int
    cols: dict
    crc: dict
    kill: np.ndarray | None


def task_blocks(payload: str, block_rows: int):
    """Task side of :func:`read_blocks`: read the payload's winner rows
    file-direct (parquet filters on block_id/column prune row groups),
    then yield one :class:`Block` per planned block, in block order."""
    import pyarrow.parquet as pq

    from pyrle_spark.codecs import Encoded

    task = json.loads(payload)
    entries = task["blocks"]
    if not entries:
        return
    want: dict = {}
    for bid, winners, _ in entries:
        for path, col, n in winners:
            want.setdefault(path, {})[(bid, col)] = n
    got: dict = {}
    for path, keys in want.items():
        t = pq.read_table(
            path,
            columns=_BODY_COLS,
            filters=[
                ("block_id", "in", sorted({b for b, _ in keys})),
                ("column", "in", sorted({c for _, c in keys})),
            ],
        ).combine_chunks()
        bids = t.column("block_id").to_pylist()
        cnames = t.column("column").to_pylist()
        nrs = t.column("n_rows").to_pylist()
        for i, k in enumerate(zip(bids, cnames)):
            if keys.get(k) == nrs[i] and k not in got:
                r = {c: t.column(c)[i].as_py() for c in _BODY_COLS}
                got[k] = (Encoded.from_row(r), r["crc32"])
    kills = {
        bid: np.asarray(k, dtype=np.int64) for bid, _, k in entries if k is not None
    }
    if task.get("deletes"):
        lo = entries[0][0] * block_rows
        hi = (entries[-1][0] + 1) * block_rows - 1
        parts = [
            pq.read_table(
                f, columns=["_order"],
                filters=[("_order", ">=", lo), ("_order", "<=", hi)],
            )["_order"].to_numpy(zero_copy_only=False)
            for f in task["deletes"]
        ]
        pos = np.unique(np.concatenate(parts).astype(np.int64)) if parts else (
            np.empty(0, dtype=np.int64)
        )
        for bid, _, _ in entries:
            a, b = np.searchsorted(pos, [bid * block_rows, (bid + 1) * block_rows])
            if b > a:
                kills[bid] = pos[a:b] - bid * block_rows
    for bid, winners, _ in entries:
        cols, crc = {}, {}
        for path, col, _ in winners:
            if (bid, col) not in got:
                raise ValueError(
                    f"block {bid} column {col!r} is gone from {path} "
                    "(the file changed after the read was planned)"
                )
            cols[col], crc[col] = got[(bid, col)]
        yield Block(bid, cols, crc, kills.get(bid))


def run_tasks(spark, payloads: list, fn, schema: str):
    """One ``mapInArrow`` with one task per payload string: ``fn(payload)``
    yields RecordBatches of ``schema``.  The payloads ride in an inline
    VALUES table, a local relation: Spark scans it with one partition per
    row (up to ``defaultParallelism`` rows) and no Python process, where
    a parallelized Python RDD would add one per task."""
    tasks = spark.sql(
        "SELECT col1 AS task FROM VALUES "
        + ", ".join(f"(:t{i})" for i in range(len(payloads))),
        args={f"t{i}": p for i, p in enumerate(payloads)},
    )

    def run(batches):
        for batch in batches:
            for payload in batch.column(0).to_pylist():
                yield from fn(payload)

    return tasks.mapInArrow(run, schema)


def read_blocks(spark, plan: ReadPlan, fn, schema: str):
    """One ``mapInArrow`` over the plan's blocks: ``fn(blocks)`` receives
    an iterator of :class:`Block` for one task row and yields
    RecordBatches of ``schema``."""
    block_rows = plan.block_rows
    return run_tasks(
        spark,
        plan.payloads(spark.sparkContext.defaultParallelism),
        lambda payload: fn(task_blocks(payload, block_rows)),
        schema,
    )


def decode_blocks(block_rows: int, targets: dict, phys_of: dict, preds=(),
                  any_of=None):
    """The decode consumer for :func:`read_blocks`: decode each block's
    columns, cast them to ``targets`` (logical name → Arrow type), drop
    deleted rows and rows the conservative residual rules out, and emit
    ``_order`` + the columns in name order."""
    rename = {p: c for c, p in phys_of.items()}
    names = sorted(targets)

    def run(blocks):
        from pyrle_spark.codecs import decode_array

        for blk in blocks:
            arrays = {}
            for phys, enc in blk.cols.items():
                c = rename[phys]
                arr = decode_array(enc)
                if arr.type != targets[c]:
                    arr = arr.cast(targets[c], safe=False)
                arrays[c] = arr
            n = len(arrays[names[0]])
            keep = np.ones(n, dtype=bool)
            if blk.kill is not None:
                keep[blk.kill[blk.kill < n]] = False
            m = residual_mask(arrays, list(preds), any_of)
            if m is not None:
                keep &= m
            order = np.arange(n, dtype=np.int64) + blk.block_id * block_rows
            if not keep.all():
                if not keep.any():
                    continue
                pm = pa.array(keep)
                arrays = {c: a.filter(pm) for c, a in arrays.items()}
                order = order[keep]
            yield pa.RecordBatch.from_arrays(
                [pa.array(order)] + [arrays[c] for c in names],
                names=["_order"] + names,
            )

    return run
