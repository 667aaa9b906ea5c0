"""Spark Python Data Source (the DataSourceV2 user-defined-source API,
pyspark 4.x) for encoded-blocks tables: ``spark.read.format("pyrle")`` /
``df.write.format("pyrle")`` over the same Iceberg-style layout the rest
of the engine builds with :mod:`pyrle_spark.plans.encode_job`.

This is the engine surfaced through Spark's OWN extension point instead
of library calls — a user gets the full planner integration for free:

- **partition planning** is the read planner's
  (:func:`~pyrle_spark.plans.read_plan.plan_read`), in the driver's
  planning process: it reads the thin manifest columns of the
  snapshot's data files with pyarrow, picks one resume-dedup winner per
  (block, column), drops fully deleted blocks and slices the block list
  into input partitions.  Each partition carries its own blocks' winner
  rows, and ``read`` decodes them file-direct through the same block
  reader ``decode_table`` uses.
- **filter pushdown** (``pushFilters``, 4.1 API): =, <, <=, >, >=, IN on
  any encoded column prune *blocks* before any decode work — zone maps
  for ranges, bloom digests for equality/IN, evaluated by the read
  planner in the driver.  The decode tasks also drop rows a
  conservative copy of the filters rules out.  Every filter is returned
  to Spark for re-evaluation, so pruning stays a pure superset
  optimization; a pruning bug can cost speed, never rows.
- **column pruning** via ``option("columns", "a,b")``: unrequested
  columns are never read from the encoded file (parquet column
  projection drops their buffers) and never decoded.
- **reads are merge-on-read**: position deletes visible at the chosen
  snapshot (``option("snapshot", <id-or-ref>)`` time-travels) are
  masked out of the decoded batches, exactly as in :func:`decode_table`.
- **writes speak the Iceberg commit protocol** through Spark's writer
  lifecycle: each task encodes its (pre-clustered, pre-sorted) rows and
  writes ONE uniquely named data file under ``.inprogress`` rename
  (kill-atomic), returns the file + lineage stats as its commit message,
  and the driver's ``commit()`` links exactly the reported files in one
  locked metadata transaction — task retries/speculation leave only
  vacuum()-able orphans, never phantom manifest entries.

Scale shape at 10^12 docs: the driver reads O(#block-columns) thin
rows and O(deleted) positions; raw bytes move parquet → Python worker →
parquet exactly once in each direction (the file-direct discipline of
:func:`encode_parquet_dir`); decode is embarrassingly parallel per task.

Usage::

    from pyrle_spark.sources.datasource import register
    register(spark)                          # once per session
    df = (spark.read.format("pyrle")
          .option("columns", "lang,n_chars")
          .load("/path/to/table"))           # _order + requested columns
    df.filter("lang = 'fr'").groupBy("lang").count()   # blocks pruned

    (rows.repartition(F.floor(F.col("doc_seq") / 65536).cast("long"))
         .sortWithinPartitions("doc_seq")
         .write.format("pyrle").option("order_col", "doc_seq")
         .mode("append").save("/path/to/table"))

The writer requires block-clustered, sorted-within-partition input (the
recipe above; verified task-side and at commit — a block split across
two tasks fails the job loudly instead of losing a partial segment).
Arbitrary layouts should go through
:func:`pyrle_spark.plans.encode_job.encode_table`, which owns the
shuffle.  Generalizes the reference's single-process Rle construction
(reference ``pyrle/rledict.py:37-131``) to a planner-integrated
distributed source/sink.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

__all__ = ["PyrleDataSource", "register"]

_ORDER_FIELD = {"name": "_order", "type": "long", "nullable": False, "metadata": {}}


def _resolve_read_snapshot(table, options):
    """Read-time snapshot resolution: ``snapshot`` (id / tag / branch)
    wins, else ``timestampAsOf`` (epoch ms, FOR TIMESTAMP AS OF along
    the current parent chain), else the current snapshot (None)."""
    snap = options.get("snapshot")
    if snap:
        return table.resolve_ref(snap)
    ts = options.get("timestampasof") or options.get("timestampAsOf")
    if ts:
        return table.snapshot_as_of(int(ts))
    return None


def _path_from_schema(schema: StructType):
    """Recover the table path a catalog table was created with.

    Spark's catalog hands a Python data source READER an empty options
    dict (the CREATE-time options reach only ``schema()``), so
    ``schema()`` stamps the normalized path into the ``_order`` field's
    metadata — field metadata round-trips through the catalog intact —
    and the reader/writer fall back to it here.  This is what makes
    ``CREATE TABLE … USING pyrle OPTIONS (path '…')`` + ``SELECT``
    work end-to-end."""
    for f in schema.fields:
        md = f.metadata or {}
        if "pyrle.path" in md:
            return _norm_path(md["pyrle.path"])
    return None


def _norm_path(p):
    """Normalize a table path option.  The SQL surface (``CREATE TABLE …
    USING pyrle OPTIONS (path '…')``) hands the path through Hadoop's
    resolver as a ``file:`` URI; the DataFrame API hands it verbatim.
    Local ``file:`` URIs are unwrapped so both spell the same table."""
    if p and p.startswith("file:"):
        from urllib.parse import unquote, urlparse

        u = urlparse(p)
        if u.netloc not in ("", "localhost"):
            raise ValueError(f"non-local file URI not supported: {p}")
        return unquote(u.path)
    return p


def _decoded_schema(props: dict, columns: list | None) -> StructType:
    """Decoded-row schema from the snapshot's recorded source types —
    driver metadata only, no data read.  ``columns`` restricts (and the
    output keeps decode_table's ``_order`` + sorted-name layout)."""
    src = props.get("source_schema") or {}
    aliases = props.get("column_aliases", {})
    avail = sorted(props["columns"])
    cols = sorted(columns) if columns else avail
    unknown = [c for c in cols if c not in avail]
    if unknown:
        raise KeyError(f"columns {unknown} not in table (available: {avail})")
    fields = [dict(_ORDER_FIELD)]
    for c in cols:
        phys = aliases.get(c, c)
        if phys not in src:
            raise KeyError(
                f"snapshot records no source type for column {c!r}; "
                "re-encode with a current pyrle_spark to add source_schema"
            )
        fields.append(
            {"name": c, "type": src[phys], "nullable": True, "metadata": {}}
        )
    return StructType.fromJson({"type": "struct", "fields": fields})


# --------------------------------------------------------------- reader


@dataclass
class _PlanSlice(InputPartition):
    """One read task: a JSON slice of the read planner's block list —
    each block's winning (path, column, n_rows) rows and deleted
    offsets (:meth:`~pyrle_spark.plans.read_plan.ReadPlan.payloads`)."""

    payload: str
    value: int = 0


def _slices(plan) -> list:
    """A plan's blocks as one input partition per slice, at most one
    slice per local core (the reader plans without a SparkContext)."""
    return [
        _PlanSlice(payload=p) for p in plan.payloads(os.cpu_count() or 1)
    ]


def _norm_filters(filters: list) -> list:
    """Typed V2 filters → the engine's ``(col, lo, hi, values)`` predicate
    tuples (the :func:`scan_encoded` normal form).  Only one-part column
    paths; anything else was never claimed as supported."""
    preds = []
    for f in filters:
        col = f.attribute[0]
        if isinstance(f, EqualTo):
            preds.append((col, f.value, f.value, None))
        elif isinstance(f, GreaterThan) or isinstance(f, GreaterThanOrEqual):
            preds.append((col, f.value, None, None))
        elif isinstance(f, LessThan) or isinstance(f, LessThanOrEqual):
            preds.append((col, None, f.value, None))
        elif isinstance(f, In):
            vs = [v for v in f.value if v is not None]
            if vs:
                lo, hi = min(vs), max(vs)
                preds.append((col, lo, hi, vs))
    return preds


class PyrleReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType):
        from pyspark.sql.pandas.types import to_arrow_type

        from pyrle_spark.sources.icetable import IceTable

        self.path = _norm_path(options.get("path")) or _path_from_schema(
            schema
        )
        if not self.path:
            raise ValueError("pyrle reader requires .load(<table path>)")
        table = IceTable(self.path)
        self.snapshot_id = _resolve_read_snapshot(table, options)
        props = table.properties(self.snapshot_id)
        self.block_rows = int(props["block_rows"])
        aliases = props.get("column_aliases", {})
        self.cols = [f.name for f in schema.fields if f.name != "_order"]
        self.phys_of = {c: aliases.get(c, c) for c in self.cols}
        # decoded blocks are cast to the declared schema's arrow types
        self.targets = {
            f.name: to_arrow_type(f.dataType, timestamp_utc=True)
            for f in schema.fields
            if f.name != "_order"
        }
        self.apply_deletes = (
            str(options.get("apply_deletes", "true")).lower() != "false"
        )
        self.preds: list = []

    def pushFilters(self, filters):
        """Record range/equality/IN filters for block pruning in the read
        planner and a conservative row filter in the tasks; EVERY filter
        is handed back to Spark for re-evaluation, so the scan output is
        exact even if a zone or digest is missing."""
        self.preds = _norm_filters(
            [
                f
                for f in filters
                if isinstance(
                    f,
                    (EqualTo, GreaterThan, GreaterThanOrEqual,
                     LessThan, LessThanOrEqual, In),
                )
                and len(f.attribute) == 1
                and f.attribute[0] in self.cols
            ]
        )
        return filters

    def partitions(self):
        """The read planner's block list (pruned, resume-deduplicated,
        fully deleted blocks dropped), sliced into input partitions."""
        from pyrle_spark.plans.read_plan import plan_read

        return _slices(
            plan_read(
                self.path,
                columns=self.cols,
                predicates=self.preds,
                snapshot_id=self.snapshot_id,
                apply_deletes=self.apply_deletes,
            )
        )

    def read(self, partition: _PlanSlice):
        from pyrle_spark.plans.read_plan import (
            decode_blocks,
            make_preds,
            task_blocks,
        )

        fn = decode_blocks(
            self.block_rows,
            self.targets,
            self.phys_of,
            make_preds(self.preds, self.phys_of),
        )
        yield from fn(task_blocks(partition.payload, self.block_rows))


# --------------------------------------------------------------- writer


@dataclass
class _EncodeCommit(WriterCommitMessage):
    file: str
    bytes: int
    block_ids: list
    cells: list = field(default_factory=list)  # (part_id, column, codec) stats


def _encode_task(
    iterator,
    columns: list,
    order_col: str,
    block_rows: int,
    zstd_threshold: float,
    data_dir: str,
) -> "_EncodeCommit":
    """Task side of every V2 write (batch and streaming): derive block
    ids from the order column, verify global monotonicity (the encode
    kernel only checks within-block order; a block revisited after a
    different block would silently fork into two partial rows), stream
    through the shared encode kernel, and write ONE kill-atomic data
    file.  Returns the file + per-(column, codec) lineage cells."""
    import pyarrow.parquet as pq
    from pyspark import TaskContext

    from pyrle_spark.plans.encode_job import (
        _ENCODED_PA_SCHEMA,
        _make_encode_fn,
        _stat_cells,
        _STAT_COLS,
    )

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx else 0
    inner = _make_encode_fn(list(columns), zstd_threshold, verify_order=True)
    state = {"last": None}

    def tagged(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            onp = (
                b.column(order_col)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64, copy=False)
            )
            if state["last"] is not None and onp[0] <= state["last"]:
                raise ValueError(
                    "rows are not sorted by order_col within the "
                    "partition; write with .sortWithinPartitions"
                    f"({order_col!r}) after clustering by block"
                )
            if len(onp) > 1 and not bool(np.all(np.diff(onp) > 0)):
                raise ValueError(
                    f"duplicate or decreasing {order_col!r} values "
                    "within a batch; order values must be unique"
                )
            state["last"] = int(onp[-1])
            yield pa.RecordBatch.from_arrays(
                [pa.array(onp // block_rows), pa.array(onp)]
                + [b.column(c) for c in columns],
                names=["_block_id", "_order"] + list(columns),
            )

    os.makedirs(data_dir, exist_ok=True)
    final = os.path.join(
        data_dir, f"part-{pid:05d}-{uuid.uuid4().hex[:8]}.parquet"
    )
    tmp = final + ".inprogress"
    writer = None
    kept = []
    try:
        for enc_rb in inner(tagged(iterator)):
            if writer is None:
                writer = pq.ParquetWriter(
                    tmp, _ENCODED_PA_SCHEMA, compression="none"
                )
            writer.write_batch(enc_rb)
            kept.append(enc_rb.select(_STAT_COLS))
    finally:
        if writer is not None:
            writer.close()
    if writer is None:
        return _EncodeCommit(file="", bytes=0, block_ids=[])
    os.replace(tmp, final)
    stats = pa.Table.from_batches(kept)
    return _EncodeCommit(
        file=final,
        bytes=os.path.getsize(final),
        block_ids=sorted(set(stats.column("block_id").to_pylist())),
        cells=_stat_cells(stats, block_rows),
    )


def _check_disjoint_blocks(msgs: list) -> None:
    """A block written by two tasks means the input was not clustered by
    block — fail the commit instead of committing two partial rows that
    dedup-on-read would silently halve."""
    seen: dict = {}
    for m in msgs:
        for b in m.block_ids:
            if b in seen and seen[b] != m.file:
                raise ValueError(
                    f"block {b} was written by two tasks ({seen[b]} and "
                    f"{m.file}): the input was not clustered by block — "
                    "repartition by floor(order_col / block_rows) and "
                    "sortWithinPartitions(order_col) before writing"
                )
            seen[b] = m.file


class PyrleWriter(DataSourceArrowWriter):
    """Task side: encode pre-clustered batches and write one data file.
    Driver side (``commit``): verify no block spans two tasks, then link
    the reported files in one locked metadata commit."""

    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        # Writes require an EXPLICIT path.  The reader falls back to the
        # path schema() stamps into field metadata (catalog SELECTs hand
        # readers empty options), but that metadata also survives
        # arbitrary transformations of a read DataFrame — a writer that
        # fell back to it would turn a forgotten ``.save(path)`` into a
        # silent append/overwrite of whatever table the data was READ
        # from.  Keep the forgotten-path case a loud error.
        self.path = _norm_path(options.get("path"))
        if not self.path:
            raise ValueError("pyrle writer requires .save(<table path>)")
        self.order_col = options.get("order_col", "doc_seq")
        self.block_rows = int(options.get("block_rows", 65536))
        self.zstd_threshold = float(options.get("zstd_threshold", 0.9))
        self.overwrite = overwrite
        if self.order_col not in schema.fieldNames():
            raise ValueError(
                f"order_col {self.order_col!r} not in the written columns "
                f"{schema.fieldNames()}; pass .option('order_col', ...)"
            )
        self.columns = sorted(
            f.name for f in schema.fields if f.name != self.order_col
        )
        self.src_schema_json = {
            f.name: f.dataType.jsonValue()
            for f in schema.fields
            if f.name != self.order_col
        }
        self.snap_id = None
        self.t0 = time.time()

    def write(self, iterator):
        if self.snap_id is None:
            # one snapshot id per job: planned on the driver, shipped in
            # the pickled writer, shared by every task's data dir
            raise RuntimeError("writer not initialized with a snapshot id")
        return _encode_task(
            iterator,
            list(self.columns),
            self.order_col,
            self.block_rows,
            self.zstd_threshold,
            os.path.join(self.path, "data", self.snap_id),
        )

    def commit(self, messages):
        from pyrle_spark.plans.encode_job import (
            EncodeConfig,
            _encoded_schema_json,
            _finish_snapshot,
            _prior_props_guarded,
            _snapshot_properties,
        )
        from pyrle_spark.sources.icetable import IceTable

        msgs = [m for m in messages if m is not None and m.file]
        _check_disjoint_blocks(msgs)
        table = IceTable(self.path)
        config = EncodeConfig(
            columns=list(self.columns),
            order_col=self.order_col,
            block_rows=self.block_rows,
            block_aligned=True,
            zstd_threshold=self.zstd_threshold,
        )
        prior = _prior_props_guarded(table, list(self.columns))
        table.commit_files(
            self.snap_id,
            [
                {"path": m.file, "bytes": m.bytes}
                for m in sorted(msgs, key=lambda m: m.file)
            ],
            _encoded_schema_json(),
            mode="overwrite" if self.overwrite else "append",
            properties=_snapshot_properties(
                config, list(self.columns), prior, self.src_schema_json
            ),
        )
        cells = [c for m in msgs for c in m.cells]
        _finish_snapshot(
            table, self.path, self.snap_id, cells, list(self.columns),
            config, 0, time.time() - self.t0,
        )

    def abort(self, messages):
        for m in messages or []:
            if m is not None and getattr(m, "file", ""):
                try:
                    os.remove(m.file)
                except OSError:
                    pass


# ------------------------------------------------------------ streaming


class PyrleStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("pyrle")`` — a CDC tail of the encoded
    table through Spark's streaming offset machinery.

    The offset is the length of the MAIN snapshot lineage (the parent
    chain from the current head): each micro-batch delivers the decoded
    rows of the data files ADDED by the snapshots in ``(start, end]`` —
    the same manifest diff as :func:`scan_incremental`, planned by the
    driver from O(metadata) and decoded by the shared block reader.

    Semantics match ``streaming/decode_stream.py``'s documented contract:
    at-least-once per block (a resume/widen/compaction re-adds files and
    their blocks are re-delivered with current content — exactly-once
    consumers key on ``_order`` and upsert); MoR deletes are not part of
    the append stream (diff them with ``incremental_deletes``); a
    rollback shortens the lineage and fails the stream loudly — restart
    it with a fresh checkpoint.  ``option("startingSnapshot", "latest")``
    begins at the current head instead of the table's beginning."""

    def __init__(self, options: dict, schema: StructType):
        from pyspark.sql.pandas.types import to_arrow_type

        from pyrle_spark.sources.icetable import IceTable

        self.path = _norm_path(options.get("path")) or _path_from_schema(
            schema
        )
        if not self.path:
            raise ValueError("pyrle stream reader requires .load(<table path>)")
        table = IceTable(self.path)
        props = table.properties()
        self.block_rows = int(props["block_rows"])
        aliases = props.get("column_aliases", {})
        self.cols = [f.name for f in schema.fields if f.name != "_order"]
        self.phys_of = {c: aliases.get(c, c) for c in self.cols}
        self.targets = {
            f.name: to_arrow_type(f.dataType, timestamp_utc=True)
            for f in schema.fields
            if f.name != "_order"
        }
        self._chain: list = []  # main-lineage snapshot ids, oldest first
        # Spark lowercases data source option keys
        start = options.get("startingsnapshot", options.get("startingSnapshot", ""))
        self.start_latest = str(start).lower() == "latest"

    def _main_chain(self) -> list:
        """Snapshot ids on the main lineage, oldest → head.  The chain is
        append-only for a healthy table; a rollback (shorter or diverged
        chain) raises — streaming offsets cannot regress."""
        from pyrle_spark.sources.icetable import IceTable

        table = IceTable(self.path)
        head = table._read_meta()["current_snapshot_id"]
        known = set(self._chain)
        suffix: list = []
        cur = head
        while cur is not None and cur not in known:
            suffix.append(cur)
            cur = table._manifest(cur).get("parent")
        suffix.reverse()
        if cur is None and known:
            raise RuntimeError(
                f"snapshot lineage of {self.path} no longer extends the "
                "streamed prefix (rollback or compaction rewrote history); "
                "restart the stream with a fresh checkpoint"
            )
        if known and cur != self._chain[-1]:
            raise RuntimeError(
                f"snapshot lineage of {self.path} diverged at {cur} "
                "(rollback?); restart the stream with a fresh checkpoint"
            )
        self._chain = self._chain + suffix
        return self._chain

    def initialOffset(self) -> dict:
        return {"idx": len(self._main_chain()) if self.start_latest else 0}

    def latestOffset(self) -> dict:
        return {"idx": len(self._main_chain())}

    def partitions(self, start: dict, end: dict):
        from pyrle_spark.plans.read_plan import ReadPlan, plan_read
        from pyrle_spark.sources.icetable import IceTable

        chain = self._main_chain()
        table = IceTable(self.path)
        added: list = []
        for snap_id in chain[int(start["idx"]):int(end["idx"])]:
            m = table._manifest(snap_id)
            n_added = int(m.get("added_files", 0))
            if n_added:
                added.extend(f["path"] for f in m["files"][-n_added:])
        if not added:
            return _slices(ReadPlan(self.block_rows, {}, {}))
        # the added files alone: their blocks, deduplicated among them
        return _slices(
            plan_read(
                self.path, columns=self.cols, paths=added, apply_deletes=False
            )
        )

    def read(self, partition: _PlanSlice):
        from pyrle_spark.plans.read_plan import decode_blocks, task_blocks

        fn = decode_blocks(self.block_rows, self.targets, self.phys_of)
        yield from fn(task_blocks(partition.payload, self.block_rows))

    def commit(self, end: dict) -> None:
        pass  # offsets live in the query checkpoint; the table needs nothing


class PyrleStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("pyrle")`` — one snapshot per micro-batch
    through the same Iceberg commit protocol as the batch writer, with
    exactly-once METADATA: the batch id is recorded in the snapshot
    properties, and a replayed batch (failure between task success and
    checkpoint advance) finds its id already committed and skips the
    re-link — its re-written task files become vacuum()-able orphans,
    never duplicate manifest entries."""

    def __init__(self, options: dict, schema: StructType, overwrite: bool):
        if overwrite:
            # complete/truncate output modes would need a REPLACE snapshot
            # per micro-batch; the sink is append-only by design — fail at
            # plan time instead of silently appending
            raise ValueError(
                "the pyrle streaming sink is append-only; use "
                'outputMode("append")'
            )
        # reuse the batch writer's option parsing / schema bookkeeping
        self._w = PyrleWriter(options, schema, overwrite=False)
        self.path = self._w.path
        self.sink_id = options.get("checkpointlocation", options.get(
            "checkpointLocation", ""
        ))

    def write(self, iterator):
        return _encode_task(
            iterator,
            list(self._w.columns),
            self._w.order_col,
            self._w.block_rows,
            self._w.zstd_threshold,
            os.path.join(self.path, "data", "stream"),
        )

    def _last_committed_batch(self, table) -> int:
        """Largest micro-batch id this sink has committed, read by walking
        the parent chain from the head until this sink's newest snapshot
        (batch ids are monotone per query, so the first hit is the max).
        O(snapshots by OTHER writers since our last commit) manifest
        reads — normally one."""
        cur = table.current_snapshot_id()
        while cur is not None:
            m = table._manifest(cur)
            p = m.get("properties", {})
            if (
                p.get("stream_sink_id", "") == self.sink_id
                and "stream_batch_id" in p
            ):
                return int(p["stream_batch_id"])
            cur = m.get("parent")
        return -1

    def commit(self, messages, batchId: int) -> None:
        from pyrle_spark.plans.encode_job import (
            EncodeConfig,
            _encoded_schema_json,
            _finish_snapshot,
            _prior_props_guarded,
            _snapshot_properties,
        )
        from pyrle_spark.sources.icetable import IceTable

        msgs = [m for m in messages if m is not None and m.file]
        table = IceTable(self.path)
        if table.exists() and batchId <= self._last_committed_batch(table):
            # replayed micro-batch (failure between this commit and the
            # checkpoint advance): already in the snapshot log — drop the
            # re-written task files instead of committing duplicates
            self.abort(messages, batchId)
            return
        if not msgs:
            return
        _check_disjoint_blocks(msgs)
        w = self._w
        config = EncodeConfig(
            columns=list(w.columns),
            order_col=w.order_col,
            block_rows=w.block_rows,
            block_aligned=True,
            zstd_threshold=w.zstd_threshold,
        )
        prior = _prior_props_guarded(table, list(w.columns))
        props = _snapshot_properties(
            config, list(w.columns), prior, w.src_schema_json
        )
        props["stream_batch_id"] = batchId
        props["stream_sink_id"] = self.sink_id
        snap_id = table.new_snapshot_id()
        table.commit_files(
            snap_id,
            [
                {"path": m.file, "bytes": m.bytes}
                for m in sorted(msgs, key=lambda m: m.file)
            ],
            _encoded_schema_json(),
            mode="append",
            properties=props,
        )
        cells = [c for m in msgs for c in m.cells]
        _finish_snapshot(
            table, self.path, snap_id, cells, list(w.columns), config, 0, 0.0
        )

    def abort(self, messages, batchId: int) -> None:
        for m in messages or []:
            if m is not None and getattr(m, "file", ""):
                try:
                    os.remove(m.file)
                except OSError:
                    pass


class PyrleDataSource(DataSource):
    """``spark.read.format("pyrle")`` / ``.write.format("pyrle")`` —
    see module docstring.  Register once per session with
    :func:`register`."""

    @classmethod
    def name(cls):
        return "pyrle"

    def schema(self):
        from pyrle_spark.sources.icetable import IceTable

        path = _norm_path(self.options.get("path"))
        if not path:
            raise ValueError("pyrle data source requires a path")
        table = IceTable(path)
        if not table.exists():
            raise FileNotFoundError(f"no encoded table at {path}")
        props = table.properties(_resolve_read_snapshot(table, self.options))
        cols_opt = self.options.get("columns")
        cols = (
            [c.strip() for c in cols_opt.split(",") if c.strip()]
            if cols_opt
            else None
        )
        sch = _decoded_schema(props, cols).jsonValue()
        # stamp the path into field metadata: catalog SELECTs hand the
        # reader empty options but DO hand it this schema (see
        # _path_from_schema)
        for f in sch["fields"]:
            if f["name"] == "_order":
                f["metadata"] = {**(f.get("metadata") or {}), "pyrle.path": path}
        return StructType.fromJson(sch)

    def reader(self, schema: StructType):
        return PyrleReader(dict(self.options), schema)

    def writer(self, schema: StructType, overwrite: bool):
        from pyrle_spark.sources.icetable import IceTable

        w = PyrleWriter(dict(self.options), schema, overwrite)
        w.snap_id = IceTable(w.path).new_snapshot_id()
        return w

    def streamReader(self, schema: StructType):
        return PyrleStreamReader(dict(self.options), schema)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return PyrleStreamWriter(dict(self.options), schema, overwrite)


def register(spark) -> None:
    """Idempotently register the ``pyrle`` format on a session (and turn
    on the Python-data-source filter-pushdown flag it relies on — a
    reader that implements ``pushFilters`` fails planning when the flag
    is off)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(PyrleDataSource)
