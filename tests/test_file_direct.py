"""The encode paths and their one block writer: encode_parquet_dir's
bit-identity with encode_table (aligned and shuffled), exact resume at
block granularity, layout guards (misaligned files, blocks spanning
files, unsorted rows, split blocks refused before the commit), the
direct-write commit protocol's kill-atomicity, and the task layout
(job counts of both paths, contiguous per-task block ranges,
lineage)."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyrle_spark.plans.encode_job import (
    EncodeConfig,
    decode_table,
    encode_parquet_dir,
    encode_table,
    verify_checksums,
)
from pyrle_spark.sources.icetable import IceTable
from pyrle_spark.sources.webtext import generate_webtext
from tests.conftest import spark_jobs

N_ROWS = 4000
BLOCK = 500  # divides N_ROWS
COLS = ["url", "warc_ts", "html", "text", "lang"]


def _cfg(**kw):
    base = dict(
        columns=COLS, block_rows=BLOCK, block_aligned=True, input_presorted=True
    )
    base.update(kw)
    return EncodeConfig(**base)


@pytest.fixture(scope="module")
def src_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fd") / "src")
    generate_webtext(spark, N_ROWS, n_hosts=50, block_rows=BLOCK).write.parquet(d)
    return d


MANY_BLOCK = 100
MANY_FILES = 20  # more files than the session's default parallelism


@pytest.fixture(scope="module")
def many_src(spark, tmp_path_factory):
    """MANY_FILES one-block files, written with pyarrow in block order."""
    d = str(tmp_path_factory.mktemp("fd_many") / "src")
    pdf = (
        generate_webtext(spark, MANY_BLOCK * MANY_FILES, n_hosts=20)
        .toPandas()
        .sort_values("doc_seq")
    )
    t = pa.Table.from_pandas(pdf, preserve_index=False)
    os.makedirs(d)
    files = []
    for i in range(MANY_FILES):
        files.append(os.path.join(d, f"f{i:02d}.parquet"))
        pq.write_table(t.slice(i * MANY_BLOCK, MANY_BLOCK), files[-1])
    return d, files


def _signatures(spark, table_dir):
    enc = IceTable(table_dir).read_table(spark)
    return sorted(
        enc.select(
            "block_id", "column", "crc32", "bytes_out", "n_rows", "codec"
        ).collect()
    )


@pytest.mark.parametrize(
    "layout",
    [
        pytest.param(dict(block_aligned=True, input_presorted=True), id="aligned"),
        pytest.param(dict(block_aligned=False, input_presorted=False), id="shuffle"),
    ],
)
def test_identical_to_jvm_scan_path(spark, src_dir, tmp_path, layout):
    """The file-direct encode produces byte-identical blocks to
    encode_table on the same input, aligned or through the block_id
    shuffle — blocks are a property of the data, not of the path that
    encoded them.  Covers the timestamp normalization
    (_jvm_equivalent_type): warc_ts is stored ns-naive in parquet but
    reaches the codecs as us/UTC either way."""
    out_jvm = str(tmp_path / "jvm")
    out_direct = str(tmp_path / "direct")
    s_jvm = encode_table(
        spark, spark.read.parquet(src_dir), out_jvm, _cfg(**layout)
    )
    s_dir = encode_parquet_dir(spark, src_dir, out_direct, _cfg())
    assert _signatures(spark, out_jvm) == _signatures(spark, out_direct)
    assert s_jvm["bytes_out"] == s_dir["bytes_out"] > 0
    assert verify_checksums(spark, out_direct)["bad"] == 0
    a = decode_table(spark, out_jvm).orderBy("_order").toPandas()
    b = decode_table(spark, out_direct).orderBy("_order").toPandas()
    import pandas as pd

    pd.testing.assert_frame_equal(a, b)
    # per-column lineage recorded from the job's own stat rows
    assert {c["column"] for c in s_dir["columns"]} == set(COLS)
    assert all(p["encode_mb_per_s"] > 0 for p in s_dir["partitions"])


def test_resume_skips_committed_blocks(spark, src_dir, tmp_path):
    out = str(tmp_path / "resume")
    s1 = encode_parquet_dir(spark, src_dir, out, _cfg())
    s2 = encode_parquet_dir(spark, src_dir, out, _cfg())
    assert s2["resumed_committed_blocks"] == N_ROWS // BLOCK
    assert s2["bytes_out"] == 0 and s2["partitions"] == []
    assert verify_checksums(spark, out)["bad"] == 0
    assert decode_table(spark, out).count() == N_ROWS
    assert s1["bytes_out"] > 0


def test_resume_masks_committed_blocks_within_file(spark, tmp_path):
    """A file holding several blocks, some already committed: the file is
    re-read but only the uncommitted blocks are encoded (np.isin mask in
    the kernel), and the result equals a fresh single-pass encode."""
    d = str(tmp_path / "multi_src")
    # 4 blocks per file: write manually with pyarrow so one file spans
    # several blocks (generate_webtext writes one file per block)
    pdf = generate_webtext(spark, 2000, n_hosts=20).toPandas().sort_values("doc_seq")
    t = pa.Table.from_pandas(pdf, preserve_index=False)
    os.makedirs(d)
    pq.write_table(t.slice(0, 1000), os.path.join(d, "f0.parquet"))
    pq.write_table(t.slice(1000, 1000), os.path.join(d, "f1.parquet"))
    cfg = _cfg(block_rows=250)
    out_half = str(tmp_path / "half")
    # first pass: only blocks 0..3 (mask via files list restricted to f0)
    encode_parquet_dir(
        spark, d, out_half, cfg, files=[os.path.join(d, "f0.parquet")]
    )
    assert IceTable(out_half).read_table(spark).select("block_id").distinct().count() == 4
    # second pass over the whole dir resumes: f0's 4 blocks skipped
    s2 = encode_parquet_dir(spark, d, out_half, cfg)
    assert s2["resumed_committed_blocks"] == 4
    out_full = str(tmp_path / "full")
    encode_parquet_dir(spark, d, out_full, cfg)
    assert _signatures(spark, out_half) == _signatures(spark, out_full)


def test_misaligned_file_rejected(spark, tmp_path):
    d = str(tmp_path / "mis_src")
    generate_webtext(spark, 2000, block_rows=500).write.parquet(d)
    with pytest.raises(ValueError, match="block boundary"):
        encode_parquet_dir(
            spark, d, str(tmp_path / "mis_out"), _cfg(block_rows=300)
        )


def test_block_spanning_files_rejected(spark, tmp_path):
    d = str(tmp_path / "span_src")
    pdf = generate_webtext(spark, 1000, n_hosts=20).toPandas().sort_values("doc_seq")
    t = pa.Table.from_pandas(pdf, preserve_index=False)
    os.makedirs(d)
    # both files start block-aligned but file 0's trailing partial block
    # (rows 0..749 at block_rows=500 → block 1 is half here, half there)
    pq.write_table(t.slice(0, 750), os.path.join(d, "f0.parquet"))
    pq.write_table(t.slice(750, 250), os.path.join(d, "f1.parquet"))
    # f1 starts at order 750 → misaligned start catches it first
    with pytest.raises(ValueError, match="block boundary|spans multiple"):
        encode_parquet_dir(spark, d, str(tmp_path / "span_out"), _cfg())


def test_unsorted_file_fails_loudly(spark, tmp_path):
    d = str(tmp_path / "unsorted_src")
    pdf = generate_webtext(spark, 1000, n_hosts=20).toPandas()
    pdf = pdf.sample(frac=1.0, random_state=7)  # shuffle rows
    os.makedirs(d)
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(d, "f0.parquet"),
    )
    with pytest.raises(Exception, match="strictly increasing"):
        encode_parquet_dir(spark, d, str(tmp_path / "unsorted_out"), _cfg())


def test_inprogress_orphan_invisible_and_vacuumed(spark, src_dir, tmp_path):
    """A task killed mid-write leaves only a .inprogress file: readers
    never see it (manifest lists exactly the reported files; the rename
    to .parquet happens after a complete write) and vacuum reclaims it."""
    out = str(tmp_path / "orph")
    s = encode_parquet_dir(spark, src_dir, out, _cfg())
    data_dir = os.path.dirname(
        IceTable(out)._manifest(s["snapshot_id"])["files"][0]["path"]
    )
    orphan = os.path.join(data_dir, "part-99999-deadbeef.parquet.inprogress")
    with open(orphan, "wb") as f:
        f.write(b"\x00" * 128)
    old = os.path.getmtime(orphan) - 7200
    os.utime(orphan, (old, old))
    assert decode_table(spark, out).count() == N_ROWS
    assert verify_checksums(spark, out)["bad"] == 0
    res = IceTable(out).vacuum(older_than_s=3600.0, force=True)
    assert res["deleted_files"] >= 1
    assert not os.path.exists(orphan)
    assert decode_table(spark, out).count() == N_ROWS


def test_widen_reencodes_only_new_columns(spark, src_dir, tmp_path):
    """Widening via the file-direct path: a second pass with an extra
    column re-encodes every block (the new column is missing from all),
    but a third identical pass resumes fully."""
    out = str(tmp_path / "widen")
    encode_parquet_dir(spark, src_dir, out, _cfg(columns=["lang"]))
    s2 = encode_parquet_dir(spark, src_dir, out, _cfg(columns=["lang", "url"]))
    assert s2["resumed_committed_blocks"] == 0
    s3 = encode_parquet_dir(spark, src_dir, out, _cfg(columns=["lang", "url"]))
    assert s3["resumed_committed_blocks"] == N_ROWS // BLOCK
    dec = decode_table(spark, out, columns=["lang", "url"])
    assert dec.count() == N_ROWS


def test_job_counts_pinned(spark, many_src, tmp_path):
    """A fresh encode and a partial resume are one Spark job each; a fully
    resumed call plans in the driver and launches none."""
    d, files = many_src
    out = str(tmp_path / "jobs")
    cfg = _cfg(block_rows=MANY_BLOCK)
    _, fresh = spark_jobs(
        spark, lambda: encode_parquet_dir(spark, d, out, cfg, files=files[:7])
    )
    s2, partial = spark_jobs(spark, lambda: encode_parquet_dir(spark, d, out, cfg))
    s3, resumed = spark_jobs(spark, lambda: encode_parquet_dir(spark, d, out, cfg))
    assert (fresh, partial, resumed) == (1, 1, 0)
    assert s2["resumed_committed_blocks"] == 7
    assert s3["resumed_committed_blocks"] == MANY_FILES
    assert sum(p["blocks"] for p in s2["partitions"]) == MANY_FILES - 7
    assert verify_checksums(spark, out)["bad"] == 0


def test_one_file_per_slot_contiguous_blocks(spark, many_src, tmp_path):
    """The driver cuts the span-ordered files into min(#files,
    defaultParallelism) contiguous payloads: one data file per task, each
    holding one contiguous block range, the ranges disjoint, covering
    every block and differing in length by at most one block."""
    d, files = many_src
    out = str(tmp_path / "layout")
    s = encode_parquet_dir(spark, d, out, _cfg(block_rows=MANY_BLOCK))
    data = [f["path"] for f in IceTable(out)._manifest(s["snapshot_id"])["files"]]
    assert len(data) == min(len(files), spark.sparkContext.defaultParallelism)
    ranges = []
    for p in data:
        bids = sorted(set(pq.read_table(p, columns=["block_id"])["block_id"].to_pylist()))
        assert bids == list(range(bids[0], bids[-1] + 1)), p
        ranges.append(bids)
    ranges.sort()
    assert [b for r in ranges for b in r] == list(range(MANY_FILES))
    assert max(map(len, ranges)) - min(map(len, ranges)) <= 1


def test_lineage_matches_table_rows(spark, many_src, tmp_path):
    """The per-column and per-partition lineage the driver rolls up from
    the job's stat rows equals a recount from the table's own rows."""
    d, _ = many_src
    out = str(tmp_path / "lineage")
    s = encode_parquet_dir(spark, d, out, _cfg(block_rows=MANY_BLOCK))
    rows = IceTable(out).read_table(spark).select(
        "part_id", "column", "codec", "n_rows", "bytes_in", "bytes_out",
        "encode_ns", "n_runs",
    ).collect()
    cols, parts = {}, {}
    for r in rows:
        c = cols.setdefault(
            (r["column"], r["codec"]),
            {"column": r["column"], "codec": r["codec"], "blocks": 0,
             "bytes_in": 0, "bytes_out": 0, "runs_emitted": None},
        )
        c["blocks"] += 1
        c["bytes_in"] += r["bytes_in"]
        c["bytes_out"] += r["bytes_out"]
        if r["n_runs"] is not None:
            c["runs_emitted"] = (c["runs_emitted"] or 0) + r["n_runs"]
        p = parts.setdefault(
            r["part_id"],
            {"part_id": r["part_id"], "blocks": 0, "rows": 0, "bytes_in": 0,
             "bytes_out": 0, "encode_ns": 0},
        )
        if r["column"] == COLS[0]:
            p["blocks"] += 1
            p["rows"] += r["n_rows"]
        for k in ("bytes_in", "bytes_out", "encode_ns"):
            p[k] += r[k]
    assert s["columns"] == sorted(cols.values(), key=lambda c: (c["column"], c["codec"]))
    got = [
        {k: v for k, v in p.items() if k != "encode_mb_per_s"}
        for p in s["partitions"]
    ]
    assert got == sorted(parts.values(), key=lambda p: p["part_id"])
    assert sum(p["rows"] for p in got) == MANY_BLOCK * MANY_FILES
    assert s["bytes_out"] == sum(r["bytes_out"] for r in rows)


def test_encode_table_job_counts_pinned(spark, src_dir, tmp_path):
    """encode_table lands its blocks like encode_parquet_dir: one job
    aligned, the block_id shuffle's map job plus the write job
    unaligned, and a fully resumed call runs only the (empty) scan — it
    commits no snapshot and returns the current one with zero lineage."""
    wt = spark.read.parquet(src_dir)
    got = {}
    for name, layout in [
        ("aligned", dict(block_aligned=True, input_presorted=True)),
        ("shuffle", dict(block_aligned=False, input_presorted=False)),
    ]:
        out = str(tmp_path / name)
        cfg = _cfg(**layout)
        s1, fresh = spark_jobs(spark, lambda: encode_table(spark, wt, out, cfg))
        snaps = len(IceTable(out).snapshots())
        s2, noop = spark_jobs(spark, lambda: encode_table(spark, wt, out, cfg))
        assert len(IceTable(out).snapshots()) == snaps == 1
        assert s2["snapshot_id"] == s1["snapshot_id"]
        assert s2["resumed_committed_blocks"] == N_ROWS // BLOCK
        assert s2["bytes_out"] == 0 and s2["partitions"] == []
        assert verify_checksums(spark, out)["bad"] == 0
        got[name] = (fresh, noop)
    assert got == {"aligned": (1, 1), "shuffle": (2, 2)}


def test_blocks_per_pass_noop_commits_nothing(spark, src_dir, tmp_path):
    """A blocks_per_pass rerun over a fully committed table commits no
    snapshot in any of its passes."""
    out = str(tmp_path / "passes")
    cfg = _cfg(blocks_per_pass=3)
    s1 = encode_table(spark, spark.read.parquet(src_dir), out, cfg)
    snaps = len(IceTable(out).snapshots())
    assert snaps == s1["passes"] == 3
    s2 = encode_table(spark, spark.read.parquet(src_dir), out, cfg)
    assert len(IceTable(out).snapshots()) == snaps
    assert s2["snapshot_id"] == s1["snapshot_id"]
    assert s2["bytes_out"] == 0
    assert decode_table(spark, out).count() == N_ROWS


def test_split_block_refused_before_commit(spark, tmp_path):
    """block_aligned input whose partitions cut every block apart: the
    split-block check on the tasks' stat rows refuses the write before
    anything commits — no table, no data files left behind."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "split")
    df = spark.range(2048).withColumn("v", F.col("id") % 7).repartition(4)
    with pytest.raises(ValueError, match="clustered"):
        encode_table(
            spark, df, out,
            EncodeConfig(columns=["v"], order_col="id", block_rows=512,
                         block_aligned=True),
        )
    assert not IceTable(out).exists()
    left = [n for _, _, names in os.walk(out) for n in names]
    assert left == []
