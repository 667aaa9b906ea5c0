"""Sharded delete-vector manifest: a takedown commit writes O(1) entries
(one immutable dm-*.json shard + a name-list index), never a rewrite of
the accumulated entry list; reads come from the per-process shard cache;
compaction collapses the shard chain to one; conditional-marker clearing
rewrites only the shards it touches; legacy inline manifests read as-is
and wrap once; clones are metadata-self-contained.

The 1k-commit cost test is the verdict's done-criterion for retiring the
last O(all-entries)-per-commit metadata structure: at GDPR-takedown rates
on a web corpus the delete log sees thousands of commits between
compactions, and each must cost the same as the first."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from pyrle_spark.plans.encode_job import (
    EncodeConfig,
    compact_delete_vectors,
    count_rows,
    decode_table,
    delete_rows,
    encode_table,
)
from pyrle_spark.sources.icetable import (
    _DELETE_SHARD_CACHE,
    IceTable,
    clone_table,
    read_delete_entries,
)


@pytest.fixture()
def small_table(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(0, 2000, 1, 4).select(
        F.col("id").alias("doc_seq"), (F.col("id") * 3).alias("v")
    )
    encode_table(spark, df, t, EncodeConfig(columns=["v"], block_rows=200))
    return t


def _shard_files(table_dir):
    d = os.path.join(table_dir, "deletes")
    return sorted(
        f for f in os.listdir(d) if f.startswith("dm-") and f.endswith(".json")
    )


def test_delete_commit_is_o1_entries_at_1k_commits(spark, small_table):
    """1,000 takedown commits: every commit writes one single-entry
    shard whose size does not grow with history, the index carries only
    shard names, and the full entry set still reads back correctly."""
    t = small_table
    shard_sizes = []
    for i in range(1000):
        delete_rows(spark, t, [i])  # driver-path: no Spark job
        names = _shard_files(t)
        assert len(names) == i + 1
        shard_sizes.append(
            os.path.getsize(os.path.join(t, "deletes", names[-1]))
        )
    # O(1)-entry commits: the 1000th shard is the same size as the 1st
    # (same single entry), never the accumulated list
    assert abs(shard_sizes[-1] - shard_sizes[0]) < 64, (
        shard_sizes[0],
        shard_sizes[-1],
    )
    assert shard_sizes[-1] < 1024
    # the index is a name list, not inline entries
    with open(os.path.join(t, "deletes", "manifest.json")) as f:
        idx = json.load(f)
    assert isinstance(idx, dict) and len(idx["shards"]) == 1000
    entries = read_delete_entries(t)
    assert len(entries) == 1000
    assert sum(e["n_positions"] for e in entries) == 1000
    # MoR read applies all 1000 vectors
    assert count_rows(spark, t) == 2000 - 1000
    # immutable shards are cached: a re-read parses nothing new
    key = os.path.join(t, "deletes", idx["shards"][0])
    assert key in _DELETE_SHARD_CACHE


def test_compaction_collapses_shard_chain(spark, small_table):
    t = small_table
    for i in range(8):
        delete_rows(spark, t, [10 * i, 10 * i + 1])
    before = count_rows(spark, t)
    assert len(_shard_files(t)) == 8
    info = compact_delete_vectors(spark, t)
    assert info["merged_entries"] == 8
    # entry merge doubles as manifest compaction: the index names ONE
    # shard; the per-takedown shards stay for readers holding the old
    # index until vacuum's mtime-gated sweep reclaims them
    with open(os.path.join(t, "deletes", "manifest.json")) as f:
        assert len(json.load(f)["shards"]) == 1
    assert len(read_delete_entries(t)) == 1
    assert count_rows(spark, t) == before
    IceTable(t).vacuum(older_than_s=0.0, force=True)
    assert len(_shard_files(t)) == 1
    assert count_rows(spark, t) == before


def test_compaction_between_index_and_shard_load(
    spark, small_table, monkeypatch
):
    """A lock-free reader loads the delete index, then compaction swaps
    it before the reader opens the shards the old index names.  The
    reader must still read the old shards' entries instead of failing
    with FileNotFoundError."""
    from pyrle_spark.sources import icetable

    t = small_table
    for i in range(3):
        delete_rows(spark, t, [10 * i])
    before = count_rows(spark, t)
    _DELETE_SHARD_CACHE.clear()
    real_load = icetable._load_delete_shard
    compacted = []

    def load_after_compaction(full):
        # first shard load of the outer read: the index is already in
        # hand, so compact now (its own reads go straight through)
        if not compacted:
            monkeypatch.setattr(icetable, "_load_delete_shard", real_load)
            compacted.append(compact_delete_vectors(spark, t))
            _DELETE_SHARD_CACHE.clear()
        return real_load(full)

    monkeypatch.setattr(icetable, "_load_delete_shard", load_after_compaction)
    entries = read_delete_entries(t)
    assert compacted and compacted[0]["merged_entries"] == 3
    assert sum(e["n_positions"] for e in entries) == 3
    monkeypatch.undo()
    assert count_rows(spark, t) == before


def test_legacy_inline_manifest_reads_and_wraps_once(spark, small_table):
    """A pre-shard manifest.json (inline entry list) reads unchanged;
    the next commit wraps it into one legacy shard and appends its own
    shard, so the chain is O(1) entries from there."""
    t = small_table
    delete_rows(spark, t, [0, 1])
    delete_rows(spark, t, [2])
    entries = read_delete_entries(t)
    # rewrite into the legacy inline form
    mp = os.path.join(t, "deletes", "manifest.json")
    with open(mp, "w") as f:
        json.dump(entries, f)
    for name in _shard_files(t):
        os.remove(os.path.join(t, "deletes", name))
    assert len(read_delete_entries(t)) == 2  # inline read path
    assert count_rows(spark, t) == 2000 - 3

    delete_rows(spark, t, [3])
    with open(mp) as f:
        idx = json.load(f)
    assert isinstance(idx, dict)
    assert len(idx["shards"]) == 2  # wrap shard + new commit's shard
    assert len(read_delete_entries(t)) == 3
    assert count_rows(spark, t) == 2000 - 4


def test_marker_clear_rewrites_only_affected_shards(spark, small_table):
    """expire_snapshots clears only_if_snapshot markers of retired
    snapshots by rewriting ONLY the shards holding affected entries;
    untouched shards keep their file names (and cache entries)."""
    t = small_table
    table = IceTable(t)
    delete_rows(spark, t, [100])  # unconditional: must not be rewritten
    snap = table.current_snapshot_id()
    delete_rows(spark, t, [200], only_if_snapshot=snap)
    with open(os.path.join(t, "deletes", "manifest.json")) as f:
        refs_before = json.load(f)["shards"]
    # advance the table so the marker's snapshot can expire
    df = spark.range(2000, 2400, 1, 2).select(
        F.col("id").alias("doc_seq"), (F.col("id") * 3).alias("v")
    )
    encode_table(spark, df, t, EncodeConfig(columns=["v"], block_rows=200))
    table.expire_snapshots(keep_last=1)
    with open(os.path.join(t, "deletes", "manifest.json")) as f:
        refs_after = json.load(f)["shards"]
    assert refs_after[0] == refs_before[0]  # untouched shard kept
    assert refs_after[1] != refs_before[1]  # marker shard rewritten
    entries = read_delete_entries(t)
    assert not any("only_if_snapshot" in e for e in entries)
    # the conditional delete still applies after its trigger expired
    assert count_rows(spark, t) == 2400 - 2


def test_orphan_shard_invisible_and_vacuumed(spark, small_table):
    """Crash between shard write and index swap leaves an orphan
    dm-*.json: reads must not see it (the index is the source of
    truth), and vacuum reclaims it without touching indexed shards or
    referenced vectors."""
    from pyrle_spark.sources.icetable import _write_delete_shard

    t = small_table
    delete_rows(spark, t, [0, 1])
    # simulate the crash: a shard exists but was never indexed
    _write_delete_shard(
        t, [{"file": os.path.join(t, "deletes", "nope.parquet"),
             "n_positions": 1, "as_of_snapshot": None, "as_of_ts": None}]
    )
    assert len(_shard_files(t)) == 2
    assert len(read_delete_entries(t)) == 1  # orphan invisible
    assert count_rows(spark, t) == 1998
    res = IceTable(t).vacuum(older_than_s=0.0, force=True)
    assert res["deleted_files"] >= 1  # the orphan (plus any data debris)
    assert len(_shard_files(t)) == 1  # orphan gone, indexed shard kept
    assert len(read_delete_entries(t)) == 1
    assert count_rows(spark, t) == 1998  # vectors untouched


def test_clone_copies_delete_shards(spark, small_table, tmp_path):
    t = small_table
    delete_rows(spark, t, [0, 1, 2])
    delete_rows(spark, t, [3])
    dst = str(tmp_path / "clone")
    clone_table(t, dst)
    assert len(read_delete_entries(dst)) == 2
    assert count_rows(spark, dst) == 2000 - 4
    # self-contained: removing the source's shard files must not break
    # the clone's reads (vector parquet stays shared, like data blocks)
    for name in _shard_files(t):
        os.remove(os.path.join(t, "deletes", name))
    _DELETE_SHARD_CACHE.clear()
    assert len(read_delete_entries(dst)) == 2
