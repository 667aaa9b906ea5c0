"""End-to-end pipeline tests: webtext generation determinism, encode →
decode bit-identity against the source, checksum verification, resume,
and N-vs-4N output identity (parallelism-independence of the blocks)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pyrle_spark.plans.encode_job import (
    EncodeConfig,
    decode_table,
    encode_table,
    verify_checksums,
)
from pyrle_spark.sources.icetable import IceTable
from pyrle_spark.sources.webtext import extract_text, generate_webtext

N_ROWS = 4000
BLOCK = 500  # divides N_ROWS: the resume test needs complete blocks
COLS = ["url", "warc_ts", "html", "text", "lang"]


@pytest.fixture(scope="module")
def webtext(spark):
    return generate_webtext(spark, N_ROWS, n_hosts=50).cache()


def test_webtext_deterministic_across_parallelism(spark):
    a = generate_webtext(spark, 1000, n_hosts=20, n_partitions=2).orderBy("doc_seq")
    b = generate_webtext(spark, 1000, n_hosts=20, n_partitions=16).orderBy("doc_seq")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_webtext_text_extractable_from_html(webtext):
    bad = webtext.filter(extract_text(F.col("html")) != F.col("text")).count()
    assert bad == 0


def test_webtext_skew_exists(webtext):
    top = webtext.groupBy("lang").count().orderBy(F.desc("count")).first()
    assert top["lang"] == "en"
    assert top["count"] > N_ROWS * 0.3  # hot key


def test_encode_decode_roundtrip(spark, webtext, tmp_path):
    out = str(tmp_path / "enc")
    summary = encode_table(
        spark, webtext, out, EncodeConfig(columns=COLS, block_rows=BLOCK)
    )
    assert summary["bytes_out"] < summary["bytes_in"]
    # decode and compare every column against the source
    dec = decode_table(spark, out)
    src = webtext.select(F.col("doc_seq").alias("_order"), *COLS)
    joined = dec.alias("d").join(src.alias("s"), "_order", "full_outer")
    mismatches = joined.filter(
        " OR ".join(
            f"(d.{c} IS DISTINCT FROM s.{c})" for c in COLS
        )
    ).count()
    assert mismatches == 0
    assert dec.count() == N_ROWS
    # checksums verify without touching the source
    res = verify_checksums(spark, out)
    assert res["bad"] == 0 and res["ok"] > 0


def test_codec_choices_sensible(spark, webtext, tmp_path):
    out = str(tmp_path / "enc2")
    encode_table(spark, webtext, out, EncodeConfig(columns=COLS, block_rows=BLOCK))
    enc = IceTable(out).read_table(spark)
    codec_by_col = {
        r["column"]: set(r["codecs"])
        for r in enc.groupBy("column")
        .agg(F.collect_set("codec").alias("codecs"))
        .collect()
    }
    # lang: 32 distinct values → dict; warc_ts ints → for/delta family
    assert codec_by_col["lang"] <= {"dict", "dict+zstd", "rle"}
    assert codec_by_col["warc_ts"] <= {"for", "delta", "rle", "raw"}
    # text/html: fsst or its zstd-wrapped variant (raw+zstd acceptable)
    assert all(
        c.split("+")[0] in ("fsst", "dict", "raw") for c in codec_by_col["text"]
    )


def test_resume_skips_committed_blocks(spark, webtext, tmp_path):
    out = str(tmp_path / "enc3")
    half = webtext.filter(F.col("doc_seq") < N_ROWS // 2)
    s1 = encode_table(spark, half, out, EncodeConfig(columns=COLS, block_rows=BLOCK))
    assert s1["resumed_committed_blocks"] == 0
    # second pass with the full input: only the missing blocks are encoded
    s2 = encode_table(spark, webtext, out, EncodeConfig(columns=COLS, block_rows=BLOCK))
    assert s2["resumed_committed_blocks"] == (N_ROWS // 2) // BLOCK
    table = IceTable(out)
    assert len(table.snapshots()) == 2
    enc = table.read_table(spark)
    # no duplicate blocks, full coverage
    per_block = enc.filter(F.col("column") == "lang").groupBy("block_id").count()
    assert per_block.filter("count != 1").count() == 0
    assert per_block.count() == N_ROWS // BLOCK
    dec = decode_table(spark, out)
    assert dec.count() == N_ROWS
    # idempotent third pass: nothing left to encode
    s3 = encode_table(spark, webtext, out, EncodeConfig(columns=COLS, block_rows=BLOCK))
    assert s3["bytes_in"] == 0


def test_widen_table_with_new_columns(spark, webtext, tmp_path):
    """Column widening: a second pass that encodes extra columns into an
    existing table re-encodes exactly the blocks missing them (per-column
    resume), and the latest snapshot advertises the UNION of all encoded
    columns so decode_table sees every column by default."""
    out = str(tmp_path / "enc_widen")
    s1 = encode_table(
        spark, webtext, out, EncodeConfig(columns=["url"], block_rows=BLOCK)
    )
    assert s1["resumed_committed_blocks"] == 0
    # widen with ONLY the new column: no block has lang yet → zero resumed
    s2 = encode_table(
        spark, webtext, out, EncodeConfig(columns=["lang"], block_rows=BLOCK)
    )
    assert s2["resumed_committed_blocks"] == 0
    table = IceTable(out)
    assert table.properties()["columns"] == ["lang", "url"]
    dec = decode_table(spark, out)  # default columns = advertised union
    assert set(dec.columns) == {"_order", "lang", "url"}
    src = webtext.select(F.col("doc_seq").alias("_order"), "url", "lang")
    joined = dec.alias("d").join(src.alias("s"), "_order", "full_outer")
    assert (
        joined.filter(
            "(d.url IS DISTINCT FROM s.url) OR (d.lang IS DISTINCT FROM s.lang)"
        ).count()
        == 0
    )
    # a third pass over the full widened set resumes every block
    s3 = encode_table(
        spark, webtext, out, EncodeConfig(columns=["url", "lang"], block_rows=BLOCK)
    )
    assert s3["resumed_committed_blocks"] == N_ROWS // BLOCK
    assert s3["bytes_in"] == 0


def test_partial_block_superseded_on_resume(spark, webtext, tmp_path):
    """A partial trailing block from an earlier pass (input grew / killed
    mid-range) is NOT treated as committed; the complete re-encode
    supersedes it on the read path."""
    out = str(tmp_path / "enc_partial")
    block = 512  # does not divide 2000 → pass 1 leaves block 3 partial
    half = webtext.filter(F.col("doc_seq") < 2000)
    encode_table(spark, half, out, EncodeConfig(columns=["lang"], block_rows=block))
    s2 = encode_table(
        spark, webtext, out, EncodeConfig(columns=["lang"], block_rows=block)
    )
    assert s2["resumed_committed_blocks"] == 3  # only the complete blocks
    dec = decode_table(spark, out)
    assert dec.count() == N_ROWS  # no rows lost to the stale partial block
    res = verify_checksums(spark, out)
    assert res["bad"] == 0


def test_output_identical_across_parallelism(spark, webtext, tmp_path):
    """The N vs 4N contract: same input → byte-identical encoded blocks
    regardless of shuffle width / task parallelism."""
    outs = []
    for i, nparts in enumerate((2, 16)):
        out = str(tmp_path / f"enc_p{i}")
        encode_table(
            spark,
            webtext,
            out,
            EncodeConfig(columns=COLS, block_rows=BLOCK, shuffle_partitions=nparts),
        )
        outs.append(
            IceTable(out)
            .read_table(spark)
            .select("block_id", "column", "codec", "crc32", "bytes_out", "n_rows")
        )
    a, b = outs
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_lineage_recorded(spark, webtext, tmp_path):
    out = str(tmp_path / "enc4")
    encode_table(spark, webtext, out, EncodeConfig(columns=["lang"], block_rows=BLOCK))
    table = IceTable(out)
    lineage = table.properties()["lineage"]
    assert lineage["partitions"], "per-partition lineage rows missing"
    row = lineage["partitions"][0]
    for key in ("blocks", "rows", "bytes_in", "bytes_out", "encode_mb_per_s"):
        assert key in row
    assert any(c["column"] == "lang" for c in lineage["columns"])


def test_zonemap_prune_decode(spark, tmp_path):
    """Zone maps (per-block min/max captured at encode) let decode skip
    blocks whose range cannot match; pruned decode equals full decode
    filtered, and actually skips blocks."""
    from pyrle_spark.plans.encode_job import prune_blocks

    out = str(tmp_path / "zm")
    df = spark.range(0, 40_000, 1, 4).select(
        F.col("id").alias("doc_seq"),
        F.col("id").alias("v"),
        F.concat(F.lit("k"), F.lpad(F.col("id").cast("string"), 6, "0")).alias("s"),
    )
    encode_table(
        spark, df, out, EncodeConfig(columns=["v", "s"], block_rows=4096)
    )
    enc = IceTable(out).read_table(spark)
    live = prune_blocks(enc, "v", lo=9000, hi=10_000)
    ids = sorted(r["block_id"] for r in live.collect())
    assert ids == [2], ids  # 9000..10000 lives entirely in block 2
    pruned = decode_table(spark, out, blocks=live)
    full = decode_table(spark, out)
    want = (
        full.filter((F.col("v") >= 9000) & (F.col("v") <= 10_000))
        .orderBy("v")
        .collect()
    )
    got = (
        pruned.filter((F.col("v") >= 9000) & (F.col("v") <= 10_000))
        .orderBy("v")
        .collect()
    )
    assert got == want and len(got) == 1001
    # string zones prune too
    live_s = prune_blocks(enc, "s", lo="k020000", hi="k020100")
    assert sorted(r["block_id"] for r in live_s.collect()) == [4]
    # conservative on blocks without stats: unprunable type keeps all
    assert prune_blocks(enc, "v").count() == 10


def test_scan_encoded_pushdown(spark, tmp_path):
    """scan_encoded = conjunctive zone-map pushdown + selective decode +
    residual filter; equals full decode + filter exactly."""
    from pyrle_spark.plans.encode_job import scan_encoded

    out = str(tmp_path / "scan")
    df = spark.range(0, 30_000, 1, 4).select(
        F.col("id").alias("doc_seq"),
        F.col("id").alias("v"),
        (F.col("id") % 7).alias("m"),
        F.concat(F.lit("s"), F.lpad(F.col("id").cast("string"), 6, "0")).alias("s"),
    )
    encode_table(
        spark, df, out, EncodeConfig(columns=["v", "m", "s"], block_rows=4096)
    )
    got = (
        scan_encoded(
            spark, out,
            columns=["v", "s"],
            predicates=[("v", 8000, 9000), ("m", 3, 3)],
        )
        .orderBy("v")
        .toPandas()
    )
    full = (
        decode_table(spark, out)
        .filter((F.col("v") >= 8000) & (F.col("v") <= 9000) & (F.col("m") == 3))
        .select("_order", "m", "s", "v")
        .orderBy("v")
        .toPandas()
    )
    assert list(got["v"]) == list(full["v"])
    assert list(got["s"]) == list(full["s"])
    # predicate columns are decoded for the residual filter even when not
    # in the projection explicitly
    assert "m" in got.columns


def test_zone_bounds_nan_and_float(spark, tmp_path):
    """Float zones skip NaN (NaN never matches a range predicate); an
    all-NaN block has no zone and stays conservatively unprunable."""
    from pyrle_spark.plans.encode_job import prune_blocks

    out = str(tmp_path / "zf")
    df = spark.range(0, 8192, 1, 2).select(
        F.col("id").alias("doc_seq"),
        F.when(F.col("id") < 4096, F.lit(float("nan")))
        .otherwise(F.col("id").cast("double"))
        .alias("x"),
    )
    encode_table(spark, df, out, EncodeConfig(columns=["x"], block_rows=4096))
    enc = IceTable(out).read_table(spark)
    zones = {
        r["block_id"]: (r["zmin"], r["zmax"])
        for r in enc.filter("column='x'").select("block_id", "zmin", "zmax").collect()
    }
    assert zones[0] == (None, None)  # all-NaN block: no zone
    assert float(zones[1][0]) == 4096.0
    live = prune_blocks(enc, "x", lo=5000.0, hi=5100.0)
    ids = sorted(r["block_id"] for r in live.collect())
    assert ids == [0, 1]  # block 0 kept conservatively (no stats), block 1 matches


def test_zone_cast_failure_keeps_block(spark):
    """A zone string the cast can't parse casts to NULL; the keep
    predicate must null-check the CAST value (not the raw string) so the
    block stays conservatively kept — a superset, never a dropped match."""
    import datetime

    from pyrle_spark.plans.encode_job import prune_blocks

    rows = [
        (0, "t", "timestamp[ns]", "not-a-timestamp", "also-not"),
        (1, "t", "timestamp[ns]", "2024-06-01 00:00:00", "2024-06-02 00:00:00"),
        (2, "t", "timestamp[ns]", "2023-01-01 00:00:00", "2023-01-02 00:00:00"),
    ]
    enc = spark.createDataFrame(
        rows, "block_id long, column string, arrow_type string, zmin string, zmax string"
    )
    live = prune_blocks(enc, "t", lo=datetime.datetime(2024, 5, 1), hi=None)
    ids = sorted(r["block_id"] for r in live.collect())
    # block 0: unparsable zone → kept; block 1: zmax >= lo → kept; block 2 pruned
    assert ids == [0, 1], ids


def test_encode_driver_tables(spark, tmp_path):
    """The block pipeline handles the driver's real testdata tables
    (documents: int64/string mix keyed by doc_id; events: timestamp +
    double + skewed strings keyed by event_id) — full roundtrip via
    stored checksums."""
    from pyrle_spark.plans.encode_job import verify_checksums

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out1 = str(tmp_path / "docs")
    s1 = encode_table(
        spark,
        docs,
        out1,
        EncodeConfig(
            columns=["text", "lang", "source", "n_chars"],
            order_col="doc_id",
            block_rows=128,
        ),
    )
    assert s1["bytes_out"] < s1["bytes_in"]
    assert verify_checksums(spark, out1)["bad"] == 0

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out2 = str(tmp_path / "events")
    s2 = encode_table(
        spark,
        ev,
        out2,
        EncodeConfig(
            columns=["ts", "user_id", "event_type", "value", "props"],
            order_col="event_id",
            block_rows=1024,
        ),
    )
    assert verify_checksums(spark, out2)["bad"] == 0
    dec = decode_table(spark, out2, columns=["ts", "event_type"])
    got = dec.orderBy("_order").limit(5).collect()
    exp = ev.orderBy("event_id").limit(5).collect()
    assert [r.ts for r in got] == [r.ts for r in exp]
    assert [r.event_type for r in got] == [r.event_type for r in exp]


def test_bloom_prune_equality(spark, tmp_path):
    """Per-block bloom digests skip blocks for equality predicates that
    zone ranges cannot prune: a hot tag that appears in only two blocks
    keeps exactly those (plus any bloom false positives — none at this
    cardinality), and an absent tag keeps none."""
    from pyrle_spark.plans.encode_job import prune_blocks_eq

    out = str(tmp_path / "bl")
    # tag cycles 0..9 within a block-sized stride, except blocks 3 and 7
    # also contain the rare tag "special"; min/max per block is the full
    # alphabet so zone maps cannot prune tag equality at all
    df = spark.range(0, 40_960, 1, 4).select(
        F.col("id").alias("doc_seq"),
        F.when(
            ((F.col("id") % 4096 == 0) & ((F.col("id") / 4096).isin(3.0, 7.0))),
            F.lit("special"),
        )
        .otherwise(F.concat(F.lit("tag"), (F.col("id") % 10).cast("string")))
        .alias("tag"),
    )
    encode_table(spark, df, out, EncodeConfig(columns=["tag"], block_rows=4096))
    enc = IceTable(out).read_table(spark)
    live = sorted(r["block_id"] for r in prune_blocks_eq(enc, "tag", "special").collect())
    assert live == [3, 7], live
    # common tag: present everywhere, all 10 blocks kept
    assert prune_blocks_eq(enc, "tag", "tag5").count() == 10
    # absent tag: no block keeps it (no false positive at this cardinality)
    assert prune_blocks_eq(enc, "tag", "never-seen").count() == 0


def test_time_travel_decode_old_snapshot(spark, webtext, tmp_path):
    """Snapshot time travel: decode_table at an older snapshot id sees
    exactly the blocks that existed then; the current snapshot sees the
    resumed append on top."""
    out = str(tmp_path / "tt")
    half = webtext.filter(F.col("doc_seq") < N_ROWS // 2)
    encode_table(spark, half, out, EncodeConfig(columns=["lang"], block_rows=BLOCK))
    encode_table(spark, webtext, out, EncodeConfig(columns=["lang"], block_rows=BLOCK))
    snaps = IceTable(out).snapshots()
    assert len(snaps) == 2
    old_id, new_id = snaps[0]["id"], snaps[1]["id"]
    assert decode_table(spark, out, snapshot_id=old_id).count() == N_ROWS // 2
    assert decode_table(spark, out, snapshot_id=new_id).count() == N_ROWS
    assert decode_table(spark, out).count() == N_ROWS


def test_compressed_domain_counts(spark, tmp_path):
    """count_by_value answers GROUP BY count from the encoded blocks —
    dict codes (strings), rle runs (runny ints), the full-decode
    fallback (high-entropy strings), and nulls — all matching the
    row-level answer exactly."""
    from pyrle_spark.plans.compressed import count_by_value, count_where_in

    out = str(tmp_path / "cdom")
    df = spark.range(0, 8192, 1, 4).select(
        F.col("id").alias("doc_seq"),
        # low-cardinality strings → dict codec; nulls every 100th row
        F.when(F.col("id") % 100 == 0, None)
        .otherwise(F.concat(F.lit("t"), (F.col("id") % 7).cast("string")))
        .alias("tag"),
        # long runs → rle codec
        (F.col("id") / 1000).cast("long").alias("bucket"),
        # high-entropy strings → fsst/raw fallback path
        F.sha1(F.col("id").cast("string")).alias("h"),
    )
    encode_table(
        spark, df, out, EncodeConfig(columns=["tag", "bucket", "h"], block_rows=1024)
    )
    for col in ["tag", "bucket", "h"]:
        got = {
            r["value"]: r["n_rows"]
            for r in count_by_value(spark, out, col).collect()
        }
        exp = {
            (str(r[col]) if r[col] is not None else None): r["cnt"]
            for r in df.groupBy(col).agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        assert got == exp, (col, got, exp)
    got_in = {
        r["value"]: r["n_rows"]
        for r in count_where_in(spark, out, "tag", ["t3", "t5"]).collect()
    }
    exp_in = {
        r["tag"]: r["cnt"]
        for r in df.filter(F.col("tag").isin("t3", "t5"))
        .groupBy("tag")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got_in == exp_in
    # numeric stats: the runny column folds runs×values without expanding
    from pyrle_spark.plans.compressed import numeric_stats

    row = numeric_stats(spark, out, "bucket").collect()[0]
    exp_row = df.agg(
        F.count("bucket"), F.sum("bucket"), F.min("bucket"), F.max("bucket")
    ).collect()[0]
    assert (row["n_rows"], row["sum_value"], row["min_value"], row["max_value"]) == (
        exp_row[0],
        float(exp_row[1]),
        float(exp_row[2]),
        float(exp_row[3]),
    )
    # grouped sum: dict group column (with NULL groups) x numeric measure
    from pyrle_spark.plans.compressed import sum_by_value

    got_sum = {
        r["value"]: (r["n_rows"], r["sum_value"])
        for r in sum_by_value(spark, out, "tag", "bucket").collect()
    }
    exp_sum = {
        r["tag"]: (r["cnt"], float(r["s"]))
        for r in df.filter(F.col("tag").isNotNull())
        .groupBy("tag")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("bucket").alias("s"))
        .collect()
    }
    assert got_sum == exp_sum
    # non-dict group column (high-entropy h falls back to single-column decode)
    got_h = sum_by_value(spark, out, "h", "bucket")
    assert got_h.count() == 8192
    assert got_h.agg(F.sum("n_rows")).collect()[0][0] == 8192


def test_in_list_bloom_pushdown(spark, tmp_path):
    """IN-list predicates prune with the disjunctive bloom probe: blocks
    containing ANY listed value survive, blocks containing none are
    skipped, and scan_encoded's (column, values) form returns exactly
    the full-decode-filter result."""
    from pyrle_spark.plans.encode_job import prune_blocks_in, scan_encoded

    out = str(tmp_path / "blin")
    # rare markers live in disjoint blocks: "alpha" in block 2, "beta"
    # in block 5; every block's zone spans the whole tag alphabet
    df = spark.range(0, 40_960, 1, 4).select(
        F.col("id").alias("doc_seq"),
        F.when((F.col("id") % 4096 == 0) & (F.col("id") / 4096 == 2.0), F.lit("alpha"))
        .when((F.col("id") % 4096 == 0) & (F.col("id") / 4096 == 5.0), F.lit("beta"))
        .otherwise(F.concat(F.lit("tag"), (F.col("id") % 10).cast("string")))
        .alias("tag"),
    )
    encode_table(spark, df, out, EncodeConfig(columns=["tag"], block_rows=4096))
    enc = IceTable(out).read_table(spark)
    live = sorted(
        r["block_id"]
        for r in prune_blocks_in(enc, "tag", ["alpha", "beta"]).collect()
    )
    assert live == [2, 5], live
    assert prune_blocks_in(enc, "tag", ["nope-1", "nope-2"]).count() == 0
    got = (
        scan_encoded(spark, out, predicates=[("tag", ["alpha", "beta"])])
        .select("_order", "tag")
        .collect()
    )
    assert sorted((r["_order"], r["tag"]) for r in got) == [
        (2 * 4096, "alpha"),
        (5 * 4096, "beta"),
    ]


def test_scan_encoded_equality_bloom_pushdown(spark, tmp_path):
    """scan_encoded pushes equality predicates through the bloom digests
    AND the residual filter: exact results, fewer blocks decoded."""
    from pyrle_spark.plans.encode_job import prune_blocks_eq, scan_encoded

    out = str(tmp_path / "blscan")
    df = spark.range(0, 32_768, 1, 4).select(
        F.col("id").alias("doc_seq"),
        F.col("id").alias("v"),
        F.when(F.col("id") < 4096, F.lit("rare")).otherwise(
            F.concat(F.lit("w"), (F.col("id") % 50).cast("string"))
        ).alias("word"),
    )
    encode_table(spark, df, out, EncodeConfig(columns=["v", "word"], block_rows=4096))
    got = (
        scan_encoded(spark, out, columns=["v", "word"], predicates=[("word", "rare", "rare")])
        .orderBy("v")
        .toPandas()
    )
    full = (
        decode_table(spark, out)
        .filter(F.col("word") == "rare")
        .select("_order", "v", "word")
        .orderBy("v")
        .toPandas()
    )
    assert list(got["v"]) == list(full["v"]) and len(got) == 4096
    enc = IceTable(out).read_table(spark)
    assert prune_blocks_eq(enc, "word", "rare").count() == 1  # only block 0


def test_bloom_digest_no_false_negatives():
    """Property: every value present in a block passes its own digest
    probe (bloom guarantees no false negatives); absent values mostly
    fail (sanity on selectivity, not a hard guarantee)."""
    import numpy as np
    import pyarrow as pa

    from pyrle_spark.plans.encode_job import (
        _bloom_digest,
        _bloom_positions,
        _bloom_value_bytes,
    )

    rng = np.random.default_rng(5)
    for trial in range(20):
        n = int(rng.integers(1, 400))
        vals = [f"v{int(rng.integers(0, 10_000))}" for _ in range(n)]
        digest = _bloom_digest(pa.array(vals))
        bits = bytes.fromhex(digest)

        def hit(v):
            return all(
                bits[p // 8] & (1 << (p % 8))
                for p in _bloom_positions(_bloom_value_bytes(v))
            )

        assert all(hit(v) for v in vals), trial  # no false negatives
        absent = [f"absent{int(rng.integers(0, 10_000))}x" for _ in range(200)]
        fp = sum(hit(v) for v in absent) / len(absent)
        # 4096 bits / 2 probes at ≤400 distincts: expected FP ≈ 3%
        assert fp < 0.2, (trial, fp)


def test_compact_table_rewrites_history(spark, webtext, tmp_path):
    """compact_table consolidates resume/widen append history into one
    overwrite snapshot: decode is bit-identical before and after, the
    superseded rows and expired snapshot files are gone from disk, and
    time travel now lists exactly one snapshot."""
    import os

    from pyrle_spark.plans.encode_job import compact_table

    out = str(tmp_path / "compact")
    half = webtext.filter(F.col("doc_seq") < N_ROWS // 2)
    encode_table(spark, half, out, EncodeConfig(columns=["lang"], block_rows=BLOCK))
    encode_table(spark, webtext, out, EncodeConfig(columns=["lang"], block_rows=BLOCK))
    encode_table(  # widen: adds a column → third snapshot
        spark, webtext, out, EncodeConfig(columns=["lang", "url"], block_rows=BLOCK)
    )
    table = IceTable(out)
    assert len(table.snapshots()) == 3
    before = decode_table(spark, out, columns=["lang", "url"]).toPandas()
    before = before.sort_values(list(before.columns)).reset_index(drop=True)
    n_files_before = sum(
        len(files) for _, _, files in os.walk(os.path.join(out, "data"))
    )

    stats = compact_table(spark, out)

    assert stats["snapshots_expired"] == 3
    assert stats["deleted_files"] > 0
    assert len(table.snapshots()) == 1
    assert table.current_snapshot_id() == stats["snapshot_id"]
    # every file on disk is referenced by the one retained manifest
    on_disk = set()
    for root, _, files in os.walk(os.path.join(out, "data")):
        on_disk.update(os.path.join(root, f) for f in files if f.endswith(".parquet"))
    referenced = {f["path"] for f in table._manifest(stats["snapshot_id"])["files"]}
    assert on_disk == referenced
    assert len(on_disk) < n_files_before
    # no superseded rows remain: every (block_id, column) appears once
    enc = table.read_table(spark)
    assert (
        enc.groupBy("block_id", "column").count().filter(F.col("count") > 1).count()
        == 0
    )
    after = decode_table(spark, out, columns=["lang", "url"]).toPandas()
    after = after.sort_values(list(after.columns)).reset_index(drop=True)
    assert before.equals(after)
    assert verify_checksums(spark, out)["bad"] == 0


def test_expire_snapshots_keeps_current(spark, webtext, tmp_path):
    """expire_snapshots never deletes files a retained snapshot still
    references (append snapshots share files with their parents)."""
    out = str(tmp_path / "expire")
    half = webtext.filter(F.col("doc_seq") < N_ROWS // 2)
    encode_table(spark, half, out, EncodeConfig(columns=["lang"], block_rows=BLOCK))
    encode_table(spark, webtext, out, EncodeConfig(columns=["lang"], block_rows=BLOCK))
    table = IceTable(out)
    gc = table.expire_snapshots(keep_last=1)
    # snapshot 2 (append) references snapshot 1's files → nothing deletable
    assert gc["deleted_files"] == 0 and len(gc["expired_snapshots"]) == 1
    assert len(table.snapshots()) == 1
    assert decode_table(spark, out).count() == N_ROWS
    assert verify_checksums(spark, out)["bad"] == 0


def test_delete_rows_merge_on_read(spark, webtext, tmp_path):
    """Row-level deletes (position delete vectors): deleted _order
    positions vanish from decode without any block rewrite; a fully
    deleted block is pruned before decode; time travel to a snapshot
    older than the delete commit still sees the rows."""
    from pyrle_spark.plans.encode_job import delete_rows

    out = str(tmp_path / "mor")
    half = webtext.filter(F.col("doc_seq") < N_ROWS // 2)
    encode_table(spark, half, out, EncodeConfig(columns=["lang"], block_rows=BLOCK))
    encode_table(spark, webtext, out, EncodeConfig(columns=["lang"], block_rows=BLOCK))
    snaps = IceTable(out).snapshots()
    old_id = snaps[0]["id"]

    # scattered positions + one whole block (block 1: [BLOCK, 2*BLOCK))
    scattered = [3, 77, N_ROWS - 1]
    whole_block = list(range(BLOCK, 2 * BLOCK))
    info = delete_rows(spark, out, scattered + whole_block)
    assert info["n_positions"] == len(scattered) + BLOCK

    dec = decode_table(spark, out)
    got = {r["_order"] for r in dec.select("_order").collect()}
    assert got == set(range(N_ROWS)) - set(scattered) - set(whole_block)
    # time travel: the delete was committed at the CURRENT snapshot, so
    # the older snapshot is unaffected
    old = decode_table(spark, out, snapshot_id=old_id)
    assert old.count() == N_ROWS // 2
    assert {r["_order"] for r in old.select("_order").collect()} == set(
        range(N_ROWS // 2)
    )
    # audit view bypasses deletes
    assert decode_table(spark, out, apply_deletes=False).count() == N_ROWS

    # second delete via a DataFrame of positions stacks with the first
    delete_rows(spark, out, dec.filter(F.col("_order") == 42).select("_order"))
    assert decode_table(spark, out).count() == N_ROWS - len(scattered) - BLOCK - 1


def test_deletes_survive_compaction(spark, webtext, tmp_path):
    """Compaction expires the snapshot a delete was tagged with; the
    delete must still apply afterwards (an expired tag predates every
    retained snapshot)."""
    from pyrle_spark.plans.encode_job import compact_table, delete_rows

    out = str(tmp_path / "mor2")
    encode_table(spark, webtext, out, EncodeConfig(columns=["lang"], block_rows=BLOCK))
    delete_rows(spark, out, [0, 1, 2])
    assert decode_table(spark, out).count() == N_ROWS - 3
    compact_table(spark, out)
    assert decode_table(spark, out).count() == N_ROWS - 3


def test_compressed_domain_respects_deletes(spark, tmp_path):
    """Merge-on-read deletes reach the compressed-domain paths: after a
    delete, count_by_value / numeric_stats / sum_by_value equal the
    row-level answers over the KEPT rows (affected blocks take the
    decode-and-mask path; untouched blocks stay compressed)."""
    from pyrle_spark.plans.compressed import (
        count_by_value,
        numeric_stats,
        sum_by_value,
    )
    from pyrle_spark.plans.encode_job import delete_rows

    out = str(tmp_path / "cdom_del")
    df = spark.range(0, 8192, 1, 4).select(
        F.col("id").alias("doc_seq"),
        F.when(F.col("id") % 100 == 0, None)
        .otherwise(F.concat(F.lit("t"), (F.col("id") % 7).cast("string")))
        .alias("tag"),
        (F.col("id") / 1000).cast("long").alias("bucket"),
    )
    encode_table(
        spark, df, out, EncodeConfig(columns=["tag", "bucket"], block_rows=1024)
    )
    # a scatter (mask path) + everything from id 7000 (covers the whole
    # last block → prune path, plus a partial block → mask path), which
    # also removes buckets 7 and 8 entirely so min/max must recompute
    doomed = [5, 700, 1234, 4096] + list(range(7000, 8192))
    delete_rows(spark, out, doomed)
    kept = df.filter(~F.col("doc_seq").isin(doomed))

    got = {r["value"]: r["n_rows"] for r in count_by_value(spark, out, "tag").collect()}
    exp = {
        (str(r["tag"]) if r["tag"] is not None else None): r["cnt"]
        for r in kept.groupBy("tag").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert got == exp

    row = numeric_stats(spark, out, "bucket").collect()[0]
    e = kept.agg(
        F.count("bucket"), F.sum("bucket"), F.min("bucket"), F.max("bucket")
    ).collect()[0]
    assert (row["n_rows"], row["sum_value"], row["min_value"], row["max_value"]) == (
        e[0], float(e[1]), float(e[2]), float(e[3]),
    )
    assert row["max_value"] == 6.0  # buckets 7 and 8 were fully deleted

    got_s = {
        r["value"]: (r["n_rows"], r["sum_value"])
        for r in sum_by_value(spark, out, "tag", "bucket").collect()
    }
    exp_s = {
        r["tag"]: (r["cnt"], float(r["s"]))
        for r in kept.filter(F.col("tag").isNotNull())
        .groupBy("tag")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("bucket").alias("s"))
        .collect()
    }
    assert got_s == exp_s


@pytest.mark.parametrize(
    "doomed",
    [
        [],                                  # no-op delete
        [0],                                 # first position
        [3999],                              # last position
        [7, 7, 7, 8],                        # duplicates in the request
        list(range(4000)),                   # delete everything
        list(range(0, 4000, 2)),             # half the table, every block
    ],
)
def test_delete_rows_edge_cases(spark, webtext, tmp_path, doomed):
    """Delete-vector edges: empty set, boundary positions, duplicate
    requests, full-table delete, and every-block scatter all leave
    decode == all-minus-deleted."""
    from pyrle_spark.plans.encode_job import delete_rows

    out = str(tmp_path / "edge")
    encode_table(spark, webtext, out, EncodeConfig(columns=["lang"], block_rows=BLOCK))
    if doomed:
        info = delete_rows(spark, out, doomed)
        assert info["n_positions"] == len(set(doomed))
    got = {r["_order"] for r in decode_table(spark, out).select("_order").collect()}
    assert got == set(range(N_ROWS)) - set(doomed)


def test_delete_where_equality(spark, webtext, tmp_path):
    """Equality delete: every row whose lang is in the kill list vanishes
    (resolved through bloom-pruned decode of the one column, committed
    as a position delete); re-running is idempotent."""
    from pyrle_spark.plans.encode_job import delete_where

    out = str(tmp_path / "eqdel")
    encode_table(
        spark, webtext, out, EncodeConfig(columns=["lang", "url"], block_rows=BLOCK)
    )
    kill = [r["lang"] for r in webtext.select("lang").distinct().limit(2).collect()]
    n_kill = webtext.filter(F.col("lang").isin(kill)).count()
    assert n_kill > 0
    info = delete_where(spark, out, "lang", kill)
    assert info["n_positions"] == n_kill
    dec = decode_table(spark, out)
    assert dec.count() == N_ROWS - n_kill
    assert dec.filter(F.col("lang").isin(kill)).count() == 0
    # idempotent: the survivors contain none of the values
    info2 = delete_where(spark, out, "lang", kill)
    assert info2["n_positions"] == 0
    assert decode_table(spark, out).count() == N_ROWS - n_kill


def test_delete_where_through_read_planner(spark, tmp_path):
    """delete_where resolves its positions through the driver-side read
    planner: a renamed column and an int column given string values
    delete exactly the matching rows, in a pinned number of Spark jobs
    (the thin-row collect + decode_table(blocks=DataFrame) chain took 6
    on this table)."""
    from pyrle_spark.plans.encode_job import delete_where, rename_column
    from tests.conftest import spark_jobs

    out = str(tmp_path / "eqdel_plan")
    n = 4096
    df = spark.range(0, n, 1, 4).select(
        F.col("id").alias("seq"),
        F.concat(F.lit("g"), (F.col("id") % 5).cast("string")).alias("tag"),
        (F.col("id") % 7).alias("k"),
    )
    encode_table(
        spark,
        df,
        out,
        EncodeConfig(columns=["tag", "k"], order_col="seq", block_rows=512),
    )
    rename_column(spark, out, "tag", "category")
    live = set(range(n))

    info, jobs = spark_jobs(
        spark, lambda: delete_where(spark, out, "category", ["g1", "g3"])
    )
    live -= {i for i in range(n) if i % 5 in (1, 3)}
    assert info["n_positions"] == n - len(live)
    assert jobs == 2

    info = delete_where(spark, out, "k", ["2", "6", "9"])
    doomed = {i for i in live if i % 7 in (2, 6)}
    assert info["n_positions"] == len(doomed)
    live -= doomed
    got = decode_table(spark, out).collect()
    assert sorted(r["_order"] for r in got) == sorted(live)
    assert all(r["category"] == f"g{r['_order'] % 5}" for r in got)


def test_assign_row_order_matches_global_rank(spark):
    """The de-globalized two-pass rank equals a plain global row_number
    over the same (key, tiebreak) order — including hot keys split
    across many sub-buckets (sub_rows=8 forces the split) and ties
    broken by the old position."""
    from pyspark.sql import Window
    from pyrle_spark.plans.encode_job import assign_row_order

    df = spark.range(500).select(
        F.col("id").alias("_order"),
        (F.when(F.col("id") % 10 < 7, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 3).cast("string"))
        )).alias("k"),
    )
    got = assign_row_order(df, ["k"], "_order", sub_rows=8, out_col="_rk")
    want = df.withColumn(
        "_rk", F.row_number().over(Window.orderBy("k", "_order")) - 1
    )
    assert got.count() == 500
    diff = got.select("_order", "_rk").exceptAll(want.select("_order", "_rk"))
    assert diff.count() == 0


def test_rewrite_sorted_clusters_and_preserves(spark, webtext, tmp_path):
    """Layout rewrite by lang: the multiset of rows is preserved, lang
    comes out clustered (exactly n_distinct runs), total run count
    drops, and merge-on-read deletes of the source are compacted away."""
    from pyrle_spark.plans.encode_job import delete_rows, rewrite_sorted

    src_dir, out_dir = str(tmp_path / "src"), str(tmp_path / "sorted")
    encode_table(
        spark,
        webtext,
        src_dir,
        EncodeConfig(columns=["lang", "url", "warc_ts"], block_rows=BLOCK),
    )
    delete_rows(spark, src_dir, [0, 1, 2, 3, 4])
    info = rewrite_sorted(spark, src_dir, out_dir, ["lang"])
    assert info["rows"] == N_ROWS - 5
    assert info["n_runs_after"] < info["n_runs_before"]
    # multiset preservation (deletes applied): compare against source
    dec = decode_table(spark, out_dir).select("lang", "url", "warc_ts")
    src = webtext.filter(F.col("doc_seq") >= 5).select("lang", "url", "warc_ts")
    assert dec.exceptAll(src).count() == 0
    assert src.exceptAll(dec).count() == 0
    # clustering: decoded in _order, lang never goes backwards
    rows = decode_table(spark, out_dir).orderBy("_order").select("lang").collect()
    langs = [r["lang"] for r in rows]
    assert langs == sorted(langs)
    # the new table starts with an empty delete set
    assert decode_table(spark, out_dir, apply_deletes=False).count() == N_ROWS - 5


def test_incremental_scan_and_deletes(spark, webtext, tmp_path):
    """CDC between snapshots: the incremental scan returns exactly the
    appended rows (by position), and incremental_deletes returns
    exactly the positions deleted between the two snapshots."""
    from pyrle_spark.plans.encode_job import (
        delete_rows,
        incremental_deletes,
        scan_incremental,
    )

    out = str(tmp_path / "cdc")
    cfg = EncodeConfig(columns=["lang", "url"], block_rows=BLOCK)
    half = N_ROWS // 2
    first = encode_table(
        spark, webtext.filter(F.col("doc_seq") < half), out, cfg
    )
    s1 = first["snapshot_id"]
    encode_table(spark, webtext, out, cfg)
    inc = scan_incremental(spark, out, s1)
    got = {r["_order"] for r in inc.select("_order").collect()}
    assert got == set(range(half, N_ROWS))
    # column pruning still applies on the incremental path
    assert set(scan_incremental(spark, out, s1, columns=["lang"]).columns) == {
        "_order",
        "lang",
    }
    # delete CDC: a delete commits against the CURRENT snapshot (s2), so
    # it appears in the s1→now diff but not in the s2→now diff (it is
    # already visible when reading s2 itself — snapshot-scoped MoR)
    s2 = IceTable(out).current_snapshot_id()
    delete_rows(spark, out, [1, half + 1])
    assert incremental_deletes(out, s1) == [1, half + 1]
    assert incremental_deletes(out, s2) == []
    # no appended data between s2 and now: incremental rows are empty
    assert scan_incremental(spark, out, s2).count() == 0


def test_vacuum_removes_orphans_only(spark, webtext, tmp_path):
    """vacuum deletes exactly the unreferenced residue (a fake crashed
    write + marker files) and never a live data or delete-vector file;
    decode is bit-unchanged and a too-recent mtime is spared."""
    import os

    from pyrle_spark.plans.encode_job import delete_rows

    out = str(tmp_path / "vac")
    encode_table(
        spark, webtext, out, EncodeConfig(columns=["lang", "url"], block_rows=BLOCK)
    )
    delete_rows(spark, out, [3])
    before = {
        r["_order"]: r["url"]
        for r in decode_table(spark, out).select("_order", "url").collect()
    }
    # fake a crashed write: an orphan snapshot dir + a marker in a live dir
    orphan_dir = os.path.join(out, "data", "deadbeef-crashed")
    os.makedirs(orphan_dir)
    with open(os.path.join(orphan_dir, "part-00000.parquet"), "wb") as f:
        f.write(b"x" * 1024)
    live_dirs = [d for d in os.listdir(os.path.join(out, "data")) if "crashed" not in d]
    marker = os.path.join(out, "data", live_dirs[0], "_SUCCESS")
    open(marker, "a").close()
    # a fresh orphan is spared by the concurrency margin
    spared = IceTable(out).vacuum(older_than_s=3600)
    assert spared["deleted_files"] == 0
    info = IceTable(out).vacuum(older_than_s=0.0, force=True)
    assert info["deleted_files"] >= 2  # orphan parquet + marker
    assert info["reclaimed_bytes"] >= 1024
    assert not os.path.exists(orphan_dir)
    after = {
        r["_order"]: r["url"]
        for r in decode_table(spark, out).select("_order", "url").collect()
    }
    assert after == before
    # idempotent
    assert IceTable(out).vacuum(older_than_s=0.0, force=True)["deleted_files"] == 0


def test_assign_row_order_null_and_degenerate_keys(spark):
    """Null sort keys survive the offset join (null-safe equality), an
    all-one-key input still ranks correctly across sub-buckets, and a
    single row ranks 0."""
    from pyspark.sql import Window
    from pyrle_spark.plans.encode_job import assign_row_order

    df = spark.range(100).select(
        F.col("id").alias("_order"),
        F.when(F.col("id") % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 2).cast("string")))
        .alias("k"),
    )
    got = assign_row_order(df, ["k"], "_order", sub_rows=16, out_col="_rk")
    want = df.withColumn(
        "_rk", F.row_number().over(Window.orderBy("k", "_order")) - 1
    )
    assert got.count() == 100
    assert got.select("_order", "_rk").exceptAll(want.select("_order", "_rk")).count() == 0
    one_key = spark.range(40).select(
        F.col("id").alias("_order"), F.lit("same").alias("k")
    )
    got1 = assign_row_order(one_key, ["k"], "_order", sub_rows=7, out_col="_rk")
    rows = {r["_order"]: r["_rk"] for r in got1.collect()}
    assert rows == {i: i for i in range(40)}
    single = spark.createDataFrame([(5, "x")], "_order long, k string")
    assert assign_row_order(single, ["k"], "_order").first()["_new_order"] == 0


def test_incremental_scan_widen_fallback(spark, webtext, tmp_path):
    """Column widening splits a block's columns across old and new
    files: the incremental fast path (added-paths-only scan) is
    unsound there, so scan_incremental must fall back to the
    block-filtered full-snapshot scan and still return complete rows."""
    from pyrle_spark.plans.encode_job import scan_incremental

    out = str(tmp_path / "cdc_widen")
    s1 = encode_table(
        spark, webtext, out, EncodeConfig(columns=["url"], block_rows=BLOCK)
    )["snapshot_id"]
    encode_table(spark, webtext, out, EncodeConfig(columns=["lang"], block_rows=BLOCK))
    inc = scan_incremental(spark, out, s1)  # all blocks touched by the widen
    assert set(inc.columns) == {"_order", "lang", "url"}
    assert inc.count() == N_ROWS
    assert inc.filter(F.col("url").isNull() | F.col("lang").isNull()).count() == 0
    # restricted to the widened column only: fast path applies, same rows
    lang_only = scan_incremental(spark, out, s1, columns=["lang"])
    assert lang_only.count() == N_ROWS
    assert set(lang_only.columns) == {"_order", "lang"}


def test_distinct_values_with_nulls_and_deletes(spark, tmp_path):
    """distinct_values: dict fast path, null fallback (validity blocks
    must decode — a dict slot could back only null rows), and the
    delete-aware fallback all agree with the row-level answer."""
    from pyrle_spark.plans.compressed import distinct_values
    from pyrle_spark.plans.encode_job import delete_rows

    df = spark.range(200).select(
        F.col("id").alias("_seq"),
        F.when(F.col("id") % 7 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("v"), (F.col("id") % 3).cast("string")))
        .alias("val"),
    )
    out = str(tmp_path / "dv")
    encode_table(
        spark, df, out, EncodeConfig(columns=["val"], order_col="_seq", block_rows=16)
    )
    got = {r["value"] for r in distinct_values(spark, out, "val").collect()}
    assert got == {None, "v0", "v1", "v2"}
    # delete every row of value v1 that lives in block 0 (positions 1,4,..)
    # plus all other v1 positions: v1 must vanish from the distinct set
    v1_pos = [i for i in range(200) if i % 7 != 0 and i % 3 == 1]
    delete_rows(spark, out, v1_pos)
    got2 = {r["value"] for r in distinct_values(spark, out, "val").collect()}
    assert got2 == {None, "v0", "v2"}


def test_drop_column_lifecycle(spark, webtext, tmp_path):
    """Column drop: metadata-only commit hides the column (default
    decode, explicit request, time travel back still works); re-encode
    of the same name is refused until compact_table physically reclaims
    the blocks and clears the tombstone; after compaction a fresh
    encode of that name serves the NEW data."""
    from pyrle_spark.plans.encode_job import compact_table, drop_column

    out = str(tmp_path / "dropcol")
    encode_table(
        spark, webtext, out, EncodeConfig(columns=["lang", "url"], block_rows=BLOCK)
    )
    pre_bytes = (
        IceTable(out).read_table(spark).agg(F.sum("bytes_out").alias("b")).first()["b"]
    )
    pre_snap = IceTable(out).current_snapshot_id()
    info = drop_column(spark, out, "url")
    assert info["columns"] == ["lang"]
    dec = decode_table(spark, out)
    assert set(dec.columns) == {"_order", "lang"}
    with pytest.raises(KeyError, match="url"):
        decode_table(spark, out, columns=["url"])
    # time travel to the pre-drop snapshot still reads url
    old = decode_table(spark, out, columns=["url"], snapshot_id=pre_snap)
    assert old.count() == N_ROWS
    # re-encode of the dropped name is refused while stale blocks remain
    with pytest.raises(ValueError, match="compact_table"):
        encode_table(
            spark, webtext, out, EncodeConfig(columns=["url"], block_rows=BLOCK)
        )
    compact_table(spark, out)
    post_bytes = (
        IceTable(out).read_table(spark).agg(F.sum("bytes_out").alias("b")).first()["b"]
    )
    assert post_bytes < pre_bytes  # url blocks physically gone
    # tombstone cleared: the name is reusable, with fresh content
    encode_table(
        spark,
        webtext.withColumn("url", F.upper(F.col("url"))),
        out,
        EncodeConfig(columns=["url"], block_rows=BLOCK),
    )
    dec2 = decode_table(spark, out)
    assert set(dec2.columns) == {"_order", "lang", "url"}
    assert dec2.filter(F.col("url") != F.upper(F.col("url"))).count() == 0


def test_concurrent_commits_are_serialized(spark, webtext, tmp_path):
    """The commit lock makes concurrent metadata read-modify-writes
    lose nothing: 8 parallel delete commits all land in the manifest
    (without the lock, last-writer-wins would drop entries), and 6
    parallel metadata commits all append to the snapshot log."""
    import json as _json
    import os
    from concurrent.futures import ThreadPoolExecutor

    from pyrle_spark.plans.encode_job import delete_rows

    out = str(tmp_path / "conc")
    encode_table(
        spark, webtext, out, EncodeConfig(columns=["lang"], block_rows=BLOCK)
    )
    with ThreadPoolExecutor(8) as ex:
        list(ex.map(lambda i: delete_rows(spark, out, [i]), range(8)))
    from pyrle_spark.sources.icetable import read_delete_entries

    entries = read_delete_entries(out)
    assert len(entries) == 8
    # sharded form: 8 concurrent commits = 8 single-entry shards
    assert len(
        [
            n
            for n in os.listdir(os.path.join(out, "deletes"))
            if n.startswith("dm-")
        ]
    ) == 8
    dec = decode_table(spark, out)
    assert dec.count() == N_ROWS - 8
    assert dec.filter(F.col("_order") < 8).count() == 0
    props = IceTable(out).properties()
    n_before = len(IceTable(out).snapshots())
    with ThreadPoolExecutor(6) as ex:
        list(
            ex.map(
                lambda i: IceTable(out).commit_metadata({**props, "tag": i}),
                range(6),
            )
        )
    assert len(IceTable(out).snapshots()) == n_before + 6
    assert not os.path.exists(os.path.join(out, "metadata", ".commit.lock"))


def test_table_op_sequence_model(spark, tmp_path):
    """Model-based interleaving check: a sequence of append / delete /
    compact / expire / vacuum ops, each followed by a full decode
    compared against a driver-side reference model (dict of live rows).
    Catches cross-op interactions (deletes surviving compaction and
    expiry, duplicate deletes, whole-block deletes, resume appends)
    that single-op tests cannot."""
    from pyrle_spark.plans.encode_job import compact_table, delete_rows

    out = str(tmp_path / "model")
    B = 32
    cfg = EncodeConfig(columns=["lang"], order_col="doc_seq", block_rows=B)

    def mkrows(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_seq"),
            F.concat(F.lit("L"), (F.col("id") % 5).cast("string")).alias("lang"),
        )

    model: dict = {}
    deleted: set = set()

    def append(lo, hi):
        # resume semantics: encode the FULL prefix; committed blocks skip
        encode_table(spark, mkrows(0, hi), out, cfg)
        model.update({i: f"L{i % 5}" for i in range(lo, hi)})

    def check(step):
        got = {
            r["_order"]: r["lang"]
            for r in decode_table(spark, out).collect()
        }
        want = {k: v for k, v in model.items() if k not in deleted}
        assert got == want, f"step {step}: {len(got)} vs {len(want)} rows"

    append(0, 96); check("append1")
    delete_rows(spark, out, [5, 40]); deleted |= {5, 40}; check("delete1")
    append(96, 160); check("append2")
    delete_rows(spark, out, [96, 5]); deleted |= {96, 5}; check("dup-delete")
    compact_table(spark, out); check("compact")
    delete_rows(spark, out, [130]); deleted |= {130}; check("delete-after-compact")
    IceTable(out).expire_snapshots(keep_last=1); check("expire")
    IceTable(out).vacuum(older_than_s=0.0, force=True); check("vacuum")
    append(160, 192); check("append3")
    whole = list(range(32, 64))
    delete_rows(spark, out, whole); deleted |= set(whole); check("whole-block-delete")
    compact_table(spark, out); check("final-compact")


def test_update_where_mor(spark, webtext, tmp_path):
    """MoR update: matched rows reappear updated at tail positions, the
    originals position-delete away, untouched rows never rewrite, time
    travel pre-update sees the original table — including the tricky
    partial-tail-block re-encode (existing tail rows must carry over,
    not be superseded away)."""
    from pyrle_spark.plans.encode_job import delete_rows, update_where

    out = str(tmp_path / "upd")
    block = 512  # 4000 % 512 != 0 → partial tail block
    encode_table(
        spark, webtext, out, EncodeConfig(columns=["lang", "url"], block_rows=block)
    )
    kill = [r["lang"] for r in webtext.select("lang").distinct().limit(2).collect()]
    n_kill = webtext.filter(F.col("lang").isin(kill)).count()
    # one matching row already deleted: it must NOT resurrect as updated
    victim = (
        webtext.filter(F.col("lang").isin(kill)).select("doc_seq").first()["doc_seq"]
    )
    delete_rows(spark, out, [victim])
    pre_snap = IceTable(out).current_snapshot_id()
    info = update_where(spark, out, "lang", kill, {"lang": "'und'"})
    assert info["n_updated"] == n_kill - 1
    assert info["first_new_pos"] == N_ROWS
    dec = decode_table(spark, out).cache()
    assert dec.count() == N_ROWS - 1  # victim stays deleted
    assert dec.filter(F.col("lang").isin(kill)).count() == 0
    assert dec.filter(F.col("lang") == "und").count() == n_kill - 1
    # updated images carry the other columns: url multiset preserved
    src_urls = webtext.filter(
        F.col("lang").isin(kill) & (F.col("doc_seq") != victim)
    ).select("url")
    upd_urls = dec.filter(F.col("lang") == "und").select("url")
    assert upd_urls.exceptAll(src_urls).count() == 0
    assert src_urls.exceptAll(upd_urls).count() == 0
    # untouched rows stay at their positions with their values
    untouched = dec.filter(
        (~F.col("lang").isin(kill)) & (F.col("lang") != "und")
    )
    srcu = webtext.filter(~F.col("lang").isin(kill)).select(
        F.col("doc_seq").alias("_order"), "lang", "url"
    )
    assert untouched.exceptAll(srcu).count() == 0
    dec.unpersist()
    # time travel: pre-update snapshot shows the original rows (minus
    # the earlier delete), none marked 'und'
    old = decode_table(spark, out, snapshot_id=pre_snap)
    assert old.count() == N_ROWS - 1
    assert old.filter(F.col("lang") == "und").count() == 0
    assert old.filter(F.col("lang").isin(kill)).count() == n_kill - 1
    # idempotent: nothing matches the predicate any more
    again = update_where(spark, out, "lang", kill, {"lang": "'und'"})
    assert again["n_updated"] == 0


def test_write_audit_publish(spark, webtext, tmp_path):
    """Write-audit-publish: a staged snapshot (publish=False) is readable
    by id for auditing but invisible to current readers until
    publish_snapshot flips the pointer; publishing over an interleaved
    commit is refused (lost-update guard)."""
    out = str(tmp_path / "wap")
    base = webtext.filter(F.col("doc_seq") < 100).select("doc_seq", "url", "lang")
    extra = webtext.filter(
        (F.col("doc_seq") >= 100) & (F.col("doc_seq") < 150)
    ).select("doc_seq", "url", "lang")
    table = IceTable(out)
    table.write_snapshot(base)
    cur = table.current_snapshot_id()
    staged = table.write_snapshot(extra, publish=False)
    # current readers still see only the base rows
    assert table.current_snapshot_id() == cur
    assert table.read_table(spark).count() == 100
    # the audit path sees the staged state by id
    assert table.read_table(spark, snapshot_id=staged).count() == 150
    # audit passed → publish flips the pointer atomically
    table.publish_snapshot(staged)
    assert table.current_snapshot_id() == staged
    assert table.read_table(spark).count() == 150
    # publishing a published snapshot is an error
    with pytest.raises(ValueError):
        table.publish_snapshot(staged)
    # conflict: stage, then another commit interleaves → publish refused
    staged2 = table.write_snapshot(
        extra.withColumn("lang", F.lit("xx")), publish=False
    )
    table.write_snapshot(base.limit(1))  # interleaved append
    with pytest.raises(RuntimeError, match="publish conflict"):
        table.publish_snapshot(staged2)


def test_merge_into_upsert(spark, webtext, tmp_path):
    """MERGE INTO: matched keys replaced by the source image, unseen keys
    inserted, untouched rows byte-stable; re-running the same MERGE
    converges; time travel to the pre-merge snapshot is clean."""
    from pyrle_spark.plans.encode_job import merge_into

    out = str(tmp_path / "merge")
    cols = ["url", "lang", "n_chars"]
    base = webtext.filter(F.col("doc_seq") < 1000).select(
        "doc_seq", "url", "lang", F.length("text").alias("n_chars")
    )
    encode_table(
        spark, base, out,
        EncodeConfig(columns=cols, order_col="doc_seq", block_rows=BLOCK),
    )
    pre_snap = IceTable(out).current_snapshot_id()
    # source: re-crawl of docs 900..1099 — 100 updates + 100 inserts,
    # with a changed payload on the updated half
    src = webtext.filter(
        (F.col("doc_seq") >= 900) & (F.col("doc_seq") < 1100)
    ).select(
        "url", F.lit("und").alias("lang"),
        (F.length("text") + 7).alias("n_chars"),
    )
    info = merge_into(spark, out, src, on="url")
    assert info["n_updated"] == 100 and info["n_inserted"] == 100
    assert info["first_new_pos"] == 1000
    dec = decode_table(spark, out).cache()
    assert dec.count() == 1100
    # every source row is present with the source image (exact multiset)
    got_imgs = dec.filter(F.col("lang") == "und").select("url", "lang", "n_chars")
    assert got_imgs.count() == 200
    assert got_imgs.exceptAll(src).count() == 0
    assert src.exceptAll(got_imgs).count() == 0
    # untouched rows keep their original values and positions
    untouched = dec.filter(F.col("lang") != "und").select(
        "_order", "url", "lang", "n_chars"
    )
    orig = base.filter(F.col("doc_seq") < 900).select(
        F.col("doc_seq").alias("_order"), "url", "lang", "n_chars"
    )
    assert untouched.exceptAll(orig).count() == 0
    assert orig.exceptAll(untouched).count() == 0
    dec.unpersist()
    # time travel: pre-merge snapshot shows the original 1000 rows
    old = decode_table(spark, out, snapshot_id=pre_snap)
    assert old.count() == 1000
    assert old.filter(F.col("lang") == "und").count() == 0
    # convergence: the same MERGE again updates the 200, inserts nothing
    again = merge_into(spark, out, src, on="url")
    assert again["n_updated"] == 200 and again["n_inserted"] == 0
    assert decode_table(spark, out).count() == 1100


def test_merge_into_delete_and_errors(spark, webtext, tmp_path):
    from pyrle_spark.plans.encode_job import merge_into

    out = str(tmp_path / "merge_del")
    cols = ["url", "lang"]
    base = webtext.filter(F.col("doc_seq") < 500).select("doc_seq", "url", "lang")
    encode_table(
        spark, base, out,
        EncodeConfig(columns=cols, order_col="doc_seq", block_rows=BLOCK),
    )
    # matched-delete: a takedown list by key, no inserts
    kill = webtext.filter(F.col("doc_seq") < 50).select("url")
    info = merge_into(
        spark, out, kill, on="url", when_matched="delete", when_not_matched=None
    )
    assert info["n_deleted"] == 50 and info["n_inserted"] == 0
    assert decode_table(spark, out).count() == 450
    # cardinality violation: duplicate source keys are refused
    dup_src = kill.union(kill)
    with pytest.raises(ValueError, match="cardinality"):
        merge_into(spark, out, dup_src, on="url", when_matched="delete",
                   when_not_matched=None)
    # missing columns for an update merge are refused
    with pytest.raises(KeyError, match="missing table columns"):
        merge_into(spark, out, kill, on="url")
    # no-op merge: nothing matches, nothing inserted
    none_src = webtext.filter(
        (F.col("doc_seq") >= 600) & (F.col("doc_seq") < 610)
    ).select("url")
    noop = merge_into(
        spark, out, none_src, on="url", when_matched="delete", when_not_matched=None
    )
    assert noop["n_deleted"] == 0 and noop["snapshot_id"] == info["snapshot_id"]


def test_refs_tags_branches_rollback(spark, webtext, tmp_path):
    """Snapshot refs: tags pin state through expiry, branches isolate a
    commit chain until fast-forward, rollback undoes in O(metadata)."""
    out = str(tmp_path / "refs")
    base = webtext.filter(F.col("doc_seq") < 300).select("doc_seq", "url", "lang")
    more = webtext.filter(
        (F.col("doc_seq") >= 300) & (F.col("doc_seq") < 400)
    ).select("doc_seq", "url", "lang")
    t = IceTable(out)
    s1 = t.write_snapshot(base)
    t.create_tag("v1")
    # branch from v1, two commits on the branch — main never moves
    t.create_branch("audit", s1)
    t.write_snapshot(more, branch="audit")
    b2 = t.write_snapshot(
        webtext.filter(
            (F.col("doc_seq") >= 400) & (F.col("doc_seq") < 450)
        ).select("doc_seq", "url", "lang"),
        branch="audit",
    )
    assert t.current_snapshot_id() == s1
    assert t.read_table(spark).count() == 300
    assert t.read_table(spark, snapshot_id="audit").count() == 450
    assert t.refs()["audit"]["snapshot_id"] == b2
    # fast-forward main onto the audited branch head
    t.fast_forward("audit")
    assert t.current_snapshot_id() == b2
    assert t.read_table(spark).count() == 450
    # rollback undoes both branch commits on main; tag still resolves
    t.rollback_to(s1)
    assert t.read_table(spark).count() == 300
    assert t.read_table(spark, snapshot_id="v1").count() == 300
    # fast-forward refused after a diverging main commit
    t.write_snapshot(more.limit(10))
    with pytest.raises(RuntimeError, match="fast-forward refused"):
        t.fast_forward("audit")
    # expiry keeps every ref head: v1 (= s1) and the audit head survive
    t.expire_snapshots(keep_last=1)
    assert t.read_table(spark, snapshot_id="v1").count() == 300
    assert t.read_table(spark, snapshot_id="audit").count() == 450
    # dropping the refs unpins them for the next expiry
    t.drop_ref("v1")
    t.drop_ref("audit")
    t.expire_snapshots(keep_last=1)
    assert len(t.snapshots()) == 1


def test_analyze_table_stats(spark, webtext, tmp_path):
    """ANALYZE: decode-free stats are exact (vs brute force), nulls are
    counted, the commit is metadata-only and snapshot-stamped, and the
    manifest-only mode ([] NDV columns) runs without data IO."""
    from pyrle_spark.plans.stats import analyze_table, table_stats_df

    out = str(tmp_path / "stats")
    src = webtext.filter(F.col("doc_seq") < 1000).select(
        "doc_seq",
        "url",
        # plant nulls: lang NULL on every 10th row
        F.when(F.col("doc_seq") % 10 == 0, None)
        .otherwise(F.col("lang"))
        .alias("lang"),
        F.length("text").alias("n_chars"),
    )
    encode_table(
        spark, src, out,
        EncodeConfig(columns=["url", "lang", "n_chars"], order_col="doc_seq",
                     block_rows=250),
    )
    n_snaps = len(IceTable(out).snapshots())
    payload = analyze_table(spark, out)
    assert payload["analyzed_snapshot"] is not None
    # metadata-only commit: exactly one new snapshot, zero data files added
    snaps = IceTable(out).snapshots()
    assert len(snaps) == n_snaps + 1 and snaps[-1]["mode"] == "metadata"
    stats = payload["columns"]
    exp = src.agg(
        F.countDistinct("lang"),
        F.countDistinct("url"),
        F.countDistinct("n_chars"),
        F.min("n_chars"),
        F.max("n_chars"),
        F.min("url"),
        F.max("url"),
    ).first()
    assert stats["lang"]["ndv"] == exp[0] and stats["lang"]["has_nulls"]
    assert stats["url"]["ndv"] == exp[1] and not stats["url"]["has_nulls"]
    assert stats["n_chars"]["ndv"] == exp[2]
    assert stats["n_chars"]["min"] == exp[3] and stats["n_chars"]["max"] == exp[4]
    assert stats["url"]["min"] == exp[5] and stats["url"]["max"] == exp[6]
    assert all(s["n_rows"] == 1000 for s in stats.values())
    # the relation view matches the dict
    df = {r["column"]: r for r in table_stats_df(spark, out).collect()}
    assert df["n_chars"]["ndv"] == exp[2] and df["lang"]["n_rows"] == 1000
    # manifest-only re-analyze (no NDV): stays exact on bounds, skips ndv
    p2 = analyze_table(spark, out, ndv_columns=[])
    assert "ndv" not in p2["columns"]["lang"]
    assert p2["columns"]["n_chars"]["max"] == exp[4]


def test_table_changes_replay(spark, webtext, tmp_path):
    """Changelog replay contract: applying table_changes(from) to a copy
    of the table at `from` reproduces the table at `to` exactly; a MERGE
    update appears as delete(pre-image) + insert(post-image)."""
    from pyrle_spark.plans.encode_job import merge_into, table_changes

    out = str(tmp_path / "changes")
    cols = ["url", "lang", "n_chars"]
    base = webtext.filter(F.col("doc_seq") < 1000).select(
        "doc_seq", "url", "lang", F.length("text").alias("n_chars")
    )
    s0 = encode_table(
        spark, base, out,
        EncodeConfig(columns=cols, order_col="doc_seq", block_rows=250),
    )
    # window: an upsert MERGE (50 updates + 50 inserts) and a raw delete
    src = webtext.filter(
        (F.col("doc_seq") >= 950) & (F.col("doc_seq") < 1050)
    ).select("url", F.lit("und").alias("lang"), F.lit(-1).alias("n_chars"))
    merge_into(spark, out, src, on="url")
    from pyrle_spark.plans.encode_job import delete_rows

    delete_rows(spark, out, [10, 11])
    ch = table_changes(spark, out, s0["snapshot_id"]).cache()
    ins = ch.filter("_change_type = 'insert'")
    dels = ch.filter("_change_type = 'delete'")
    # updates: 50 pre-images deleted at original positions + 50 post-
    # images inserted at tail; plus 50 pure inserts; plus the 2 raw dels
    assert ins.count() == 100
    assert dels.count() == 52
    assert ins.filter("n_chars = -1").count() == 100
    assert dels.filter("n_chars = -1").count() == 0  # pre-images only
    assert sorted(
        r["_order"] for r in dels.filter("_order < 100").collect()
    ) == [10, 11]
    # replay onto the from-state: upsert inserts by _order, drop deletes
    at_from = decode_table(spark, out, snapshot_id=s0["snapshot_id"])
    del_pos = {r["_order"] for r in dels.select("_order").collect()}
    replayed = (
        at_from.join(ins.select("_order"), "_order", "left_anti")
        .unionByName(ins.drop("_change_type"))
        .filter(~F.col("_order").isin(list(del_pos)))
    )
    now = decode_table(spark, out)
    assert replayed.exceptAll(now).count() == 0
    assert now.exceptAll(replayed).count() == 0
    ch.unpersist()


def test_type_widening_int32_to_int64(spark, tmp_path):
    """Schema evolution: blocks written as int32 before a widening and
    int64 after decode as one long column (Iceberg's int->long promotion),
    with the narrow blocks cast up bit-exactly."""
    from pyrle_spark.plans.encode_job import _widest_type

    out = str(tmp_path / "enc_typew")
    cfg = EncodeConfig(columns=["v"], order_col="seq", block_rows=4096)
    df32 = spark.range(0, 8192).select(
        F.col("id").alias("seq"), F.col("id").cast("int").alias("v")
    )
    encode_table(spark, df32, out, cfg)
    full = spark.range(0, 12288).select(
        F.col("id").alias("seq"), F.col("id").cast("long").alias("v")
    )
    encode_table(spark, full, out, cfg)
    dec = decode_table(spark, out)
    assert dec.schema["v"].dataType.simpleString() == "bigint"
    got = [r["v"] for r in dec.orderBy("_order").collect()]
    assert got == list(range(12288))
    # incompatible mixes are an error, not a silent pick
    assert _widest_type("c", {"float", "double"}) == "double"
    with pytest.raises(TypeError):
        _widest_type("c", {"int64", "string"})


def test_rename_column_metadata_only(spark, tmp_path):
    """rename_column is a metadata-only commit: decode resolves the alias
    (logical name out, physical blocks untouched), time travel sees the
    old name, scan_encoded prunes on the physical name, encode passes on
    the aliased column are refused, and compact_table materializes the
    rename and clears the alias map."""
    from pyrle_spark.plans.encode_job import (
        compact_table,
        rename_column,
        scan_encoded,
    )

    out = str(tmp_path / "enc_rename")
    cfg = EncodeConfig(columns=["v", "u"], order_col="seq", block_rows=1024)
    df = spark.range(0, 4096).select(
        F.col("id").alias("seq"),
        F.col("id").alias("v"),
        (F.col("id") % 7).alias("u"),
    )
    encode_table(spark, df, out, cfg)
    pre_snap = IceTable(out).current_snapshot_id()

    res = rename_column(spark, out, "v", "w")
    assert res["columns"] == ["u", "w"]
    assert res["column_aliases"] == {"w": "v"}

    dec = decode_table(spark, out)
    assert sorted(dec.columns) == ["_order", "u", "w"]
    got = [r["w"] for r in dec.orderBy("_order").collect()]
    assert got == list(range(4096))
    # old name is gone at the head...
    with pytest.raises(KeyError):
        decode_table(spark, out, columns=["v"])
    # ...but time travel to the parent snapshot still reads it
    old = decode_table(spark, out, columns=["v"], snapshot_id=pre_snap)
    assert old.count() == 4096

    # pushdown on the logical name prunes via the physical zone maps
    sc = scan_encoded(spark, out, columns=["w"], predicates=[("w", 100, 200)])
    assert sc.count() == 101

    # chained rename collapses to the original physical name
    res2 = rename_column(spark, out, "w", "x")
    assert res2["column_aliases"] == {"x": "v"}
    # renaming back to the physical name clears the alias
    res3 = rename_column(spark, out, "x", "v")
    assert res3["column_aliases"] == {}
    rename_column(spark, out, "v", "w")

    # encode passes on a renamed column are refused until compaction
    with pytest.raises(ValueError, match="pending rename"):
        encode_table(
            spark,
            df.select("seq", F.col("v").alias("w")),
            out,
            EncodeConfig(columns=["w"], order_col="seq", block_rows=1024),
        )

    # compaction materializes: blocks carry logical names, alias clears
    compact_table(spark, out)
    table = IceTable(out)
    assert table.properties().get("column_aliases") == {}
    phys = {
        r["column"]
        for r in table.read_table(spark).select("column").distinct().collect()
    }
    assert phys == {"u", "w"}
    dec2 = decode_table(spark, out)
    assert [r["w"] for r in dec2.orderBy("_order").collect()] == list(range(4096))

    # collisions are refused
    with pytest.raises(ValueError):
        rename_column(spark, out, "w", "u")
    with pytest.raises(KeyError):
        rename_column(spark, out, "nope", "y")


def test_compressed_agg_join_dim(spark, tmp_path):
    """agg_join_dim: star-schema aggregate with the fact side held in the
    compressed domain — inner-join semantics (fact values missing from
    the dim drop; factless dim keys contribute nothing), count-only and
    count+sum variants, and MoR deletes reflected in the answer."""
    from pyrle_spark.plans.compressed import agg_join_dim
    from pyrle_spark.plans.encode_job import delete_rows

    out = str(tmp_path / "cjoin")
    df = spark.range(0, 4096, 1, 4).select(
        F.col("id").alias("doc_seq"),
        F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias("tag"),
        (F.col("id") % 13).cast("long").alias("score"),
    )
    encode_table(
        spark, df, out, EncodeConfig(columns=["tag", "score"], block_rows=512)
    )
    # dim misses t4 (those fact rows must drop) and carries a factless t9
    dim = spark.createDataFrame(
        [("t0", "even"), ("t2", "even"), ("t4x", "none"), ("t1", "odd"), ("t3", "odd"), ("t9", "ghost")],
        "tag string, par string",
    )

    def expected(src):
        return {
            (r["par"]): (r["n"], float(r["s"]))
            for r in src.join(dim, "tag")
            .groupBy("par")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("score").alias("s"))
            .collect()
        }

    got = {
        r["par"]: (r["n_rows"], r["sum_value"])
        for r in agg_join_dim(
            spark, out, "tag", dim, "tag", "par", measure_col="score"
        ).collect()
    }
    assert got == expected(df)
    assert "ghost" not in got and "none" not in got

    # count-only variant
    gotc = {
        r["par"]: r["n_rows"]
        for r in agg_join_dim(spark, out, "tag", dim, "tag", "par").collect()
    }
    assert gotc == {k: v[0] for k, v in expected(df).items()}

    # MoR delete: remove a slice; the compressed-domain answer follows
    delete_rows(spark, out, range(0, 700))
    survivors = df.filter(F.col("doc_seq") >= 700)
    got2 = {
        r["par"]: (r["n_rows"], r["sum_value"])
        for r in agg_join_dim(
            spark, out, "tag", dim, "tag", "par", measure_col="score"
        ).collect()
    }
    assert got2 == expected(survivors)


def test_metadata_tables_and_age_expiry(spark, tmp_path):
    """$snapshots/$history/$refs metadata relations reflect the commit
    log (rollback leaves non-ancestor entries flagged), and age-based
    expire_snapshots retains young snapshots beyond keep_last."""
    out = str(tmp_path / "metatbl")
    cfg = EncodeConfig(columns=["v"], order_col="seq", block_rows=512)

    def part(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("seq"), F.col("id").alias("v")
        )

    encode_table(spark, part(0, 1024), out, cfg)
    table = IceTable(out)
    s1 = table.current_snapshot_id()
    table.create_tag("v1")
    encode_table(spark, part(0, 2048), out, cfg)
    s2 = table.current_snapshot_id()

    snaps = {r["snapshot_id"]: r for r in table.snapshots_df(spark).collect()}
    assert snaps[s1]["is_current"] is False and snaps[s2]["is_current"] is True
    assert snaps[s2]["parent_id"] == s1
    assert snaps[s2]["total_files"] >= snaps[s2]["added_files"] > 0

    refs = {r["name"]: r for r in table.refs_df(spark).collect()}
    assert refs["main"]["snapshot_id"] == s2
    assert refs["v1"]["kind"] == "tag" and refs["v1"]["snapshot_id"] == s1

    # rollback: s2 stays in the log but is no longer a current-ancestor
    table.rollback_to(s1)
    hist = {r["snapshot_id"]: r for r in table.history_df(spark).collect()}
    assert hist[s1]["is_current_ancestor"] is True
    assert hist[s2]["is_current_ancestor"] is False
    table.rollback_to(s2)

    # age-based retention: everything is "young" vs a cutoff in the past,
    # so keep_last=1 alone would expire s1 but the age guard retains it
    table.drop_ref("v1")  # unpin s1 so only the age guard can save it
    res = table.expire_snapshots(keep_last=1, older_than_ms=0)
    assert res["expired_snapshots"] == []
    assert len(table.snapshots()) == 2
    # cutoff in the future: the count rule applies again
    res2 = table.expire_snapshots(
        keep_last=1, older_than_ms=snaps[s2]["timestamp_ms"] + 10_000
    )
    assert res2["expired_snapshots"] == [s1]
    assert [s["id"] for s in table.snapshots()] == [s2]


def test_optimize_table_advisor(spark, tmp_path):
    """optimize_table reads the achievable layout win straight from the
    manifest (n_runs / NDV) and picks sort, zorder, or compaction; apply
    banks the predicted run-count drop."""
    from pyrle_spark.plans.optimize import optimize_table

    # scattered low-NDV column + high-card column → sort on the low-NDV one
    t1 = str(tmp_path / "opt1")
    df1 = spark.range(0, 4096, 1, 4).select(
        F.col("id").alias("doc_seq"),
        F.concat(F.lit("t"), (F.col("id") % 7).cast("string")).alias("tag"),
        F.sha1(F.col("id").cast("string")).alias("h"),
    )
    encode_table(
        spark, df1, t1, EncodeConfig(columns=["tag", "h"], block_rows=512)
    )
    rec = optimize_table(spark, t1)
    assert rec["action"] == "rewrite_sorted" and rec["order_by"] == ["tag"]
    assert rec["columns"]["tag"]["ratio"] > 100  # fully scattered
    out1 = str(tmp_path / "opt1_sorted")
    applied = optimize_table(spark, t1, out_dir=out1, apply=True)["applied"]
    assert applied["n_runs_after"] < applied["n_runs_before"]
    assert decode_table(spark, out1).count() == 4096

    # two similar scattered low-NDV columns → zorder over both
    t2 = str(tmp_path / "opt2")
    df2 = spark.range(0, 4096, 1, 4).select(
        F.col("id").alias("doc_seq"),
        (F.col("id") % 5).alias("a"),
        (F.col("id") % 11).alias("b"),
    )
    encode_table(spark, df2, t2, EncodeConfig(columns=["a", "b"], block_rows=512))
    rec2 = optimize_table(spark, t2)
    assert rec2["action"] == "rewrite_zorder"
    assert set(rec2["order_by"]) == {"a", "b"}

    # already-clustered column, heavy deletes: no layout win; the
    # constant-per-block column's delta cells sit above the manifest RLE
    # bound, and that codec saving outweighs the delete reclaim — codec
    # rewrite first, THEN the next advisory pass compacts the deletes
    t3 = str(tmp_path / "opt3")
    df3 = spark.range(0, 4096, 1, 4).select(
        F.col("id").alias("doc_seq"), (F.col("id") / 512).cast("long").alias("bucket")
    )
    encode_table(spark, df3, t3, EncodeConfig(columns=["bucket"], block_rows=512))
    from pyrle_spark.plans.encode_job import delete_rows

    delete_rows(spark, t3, range(0, 1024))
    rec3 = optimize_table(spark, t3, apply=True)
    assert rec3["action"] == "rewrite_column_codec"
    assert rec3["applied"]["codec"] == "rle+zstd"
    rec3b = optimize_table(spark, t3, apply=True)
    assert rec3b["action"] == "compact_table"
    assert rec3b["delete_ratio"] >= 0.2
    assert rec3b["applied"]["snapshot_id"]
    assert decode_table(spark, t3).count() == 3072


def test_optimize_codec_tier(spark, tmp_path):
    """The advisor's codec tier: a clustered column pinned to raw (the
    legacy-table case) has no layout win (runs ≈ NDV) but a large
    manifest-derived RLE gain — optimize_table picks
    rewrite_column_codec, applies it IN PLACE, and decode is unchanged."""
    from pyrle_spark.plans.optimize import optimize_table

    t = str(tmp_path / "optc")
    df = spark.range(0, 4096, 1, 4).select(
        F.col("id").alias("doc_seq"),
        (F.col("id") / 512).cast("long").alias("bucket"),
    )
    encode_table(
        spark,
        df,
        t,
        EncodeConfig(
            columns=["bucket"],
            block_rows=512,
            codec_overrides={"bucket": "raw"},
        ),
    )
    before = decode_table(spark, t).orderBy("_order").toPandas()
    rec = optimize_table(spark, t)
    assert rec["action"] == "rewrite_column_codec"
    assert rec["order_by"] == ["bucket"]
    assert rec["columns"]["bucket"]["codec_gain"] > 10
    applied = optimize_table(spark, t, apply=True)["applied"]
    assert applied["codec"] == "rle+zstd"
    assert applied["bytes_out_after"] < applied["bytes_out_before"]
    after = decode_table(spark, t).orderBy("_order").toPandas()
    assert before.equals(after)
    # a second advisory run sees the column already rle → no re-fire
    rec2 = optimize_table(spark, t)
    assert rec2["action"] != "rewrite_column_codec"


def test_rename_alias_reaches_block_level_apis(spark, tmp_path):
    """After a metadata-only rename, every API that filters block rows by
    column name must resolve the alias: delete_where, the
    compressed-domain family, and ANALYZE (stats re-keyed to logical
    names) — a missed translation silently matches zero blocks."""
    from pyrle_spark.plans.compressed import (
        count_by_value,
        count_where_in,
        numeric_stats,
        sum_by_value,
    )
    from pyrle_spark.plans.encode_job import delete_where, rename_column
    from pyrle_spark.plans.stats import analyze_table

    out = str(tmp_path / "ren_apis")
    df = spark.range(0, 2048, 1, 4).select(
        F.col("id").alias("doc_seq"),
        F.concat(F.lit("g"), (F.col("id") % 4).cast("string")).alias("tag"),
        (F.col("id") % 9).alias("score"),
    )
    encode_table(
        spark, df, out, EncodeConfig(columns=["tag", "score"], block_rows=256)
    )
    rename_column(spark, out, "tag", "category")
    rename_column(spark, out, "score", "points")

    hist = {
        r["value"]: r["n_rows"]
        for r in count_by_value(spark, out, "category").collect()
    }
    assert hist == {f"g{i}": 512 for i in range(4)}
    st = numeric_stats(spark, out, "points").first()
    assert st["n_rows"] == 2048 and st["max_value"] == 8.0
    sums = {
        r["value"]: r["sum_value"]
        for r in sum_by_value(spark, out, "category", "points").collect()
    }
    assert len(sums) == 4 and sum(sums.values()) == float(
        df.agg(F.sum("score")).first()[0]
    )
    got_in = {
        r["value"]: r["n_rows"]
        for r in count_where_in(spark, out, "category", ["g1"]).collect()
    }
    assert got_in == {"g1": 512}

    stats = analyze_table(spark, out)["columns"]
    assert set(stats) == {"category", "points"}
    assert stats["category"]["ndv"] == 4

    # equality delete through the renamed column
    res = delete_where(spark, out, "category", ["g2"])
    assert res["n_positions"] == 512
    assert decode_table(spark, out).filter(F.col("category") == "g2").count() == 0
    assert decode_table(spark, out).count() == 1536


def test_drop_after_rename_reclaims_physical_blocks(spark, tmp_path):
    """Dropping a renamed column records the PHYSICAL tombstone, so
    compaction reclaims the storage instead of the alias materialization
    resurrecting the dropped data under the freed name."""
    from pyrle_spark.plans.encode_job import (
        compact_table,
        drop_column,
        rename_column,
    )

    out = str(tmp_path / "drop_ren")
    cfg = EncodeConfig(columns=["v", "u"], order_col="seq", block_rows=512)
    df = spark.range(0, 2048).select(
        F.col("id").alias("seq"),
        F.col("id").alias("v"),
        (F.col("id") % 3).alias("u"),
    )
    encode_table(spark, df, out, cfg)
    rename_column(spark, out, "v", "w")
    res = drop_column(spark, out, "w")
    assert res["columns"] == ["u"]
    table = IceTable(out)
    props = table.properties()
    assert props["dropped_columns"] == ["v"]  # physical tombstone
    assert props["column_aliases"] == {}  # alias retired with the drop

    gc = compact_table(spark, out)
    assert gc["reclaimed_bytes"] >= 0
    phys = {
        r["column"]
        for r in table.read_table(spark).select("column").distinct().collect()
    }
    assert phys == {"u"}  # the dropped column's blocks are gone

    # the freed name encodes fresh data — no resurrection of old values
    df2 = spark.range(0, 2048).select(
        F.col("id").alias("seq"), (F.col("id") * 10).alias("w")
    )
    encode_table(
        spark, df2, out, EncodeConfig(columns=["w"], order_col="seq", block_rows=512)
    )
    got = [r["w"] for r in decode_table(spark, out, columns=["w"]).orderBy("_order").collect()]
    assert got == [i * 10 for i in range(2048)]


def test_scan_encoded_dnf_pushdown(spark, tmp_path):
    """any_of (DNF) pushdown: the OR group's survivor blocks are the
    union of each disjunct's conjunctive survivors; results equal a full
    decode + boolean filter, and blocks outside every disjunct's zones
    are provably skipped."""
    from pyrle_spark.plans.encode_job import prune_blocks, scan_encoded

    out = str(tmp_path / "dnf")
    # lang-sorted layout → single-value lang zones per block
    df = spark.range(0, 4096, 1, 4).select(
        F.col("id").alias("doc_seq"),
        F.element_at(
            F.array(F.lit("aa"), F.lit("bb"), F.lit("cc"), F.lit("dd")),
            (F.col("id") / 1024).cast("int") + 1,
        ).alias("lang"),
        (F.col("id") % 500).alias("n"),
    )
    encode_table(
        spark, df, out, EncodeConfig(columns=["lang", "n"], block_rows=256)
    )
    got = scan_encoded(
        spark,
        out,
        columns=["lang", "n"],
        any_of=[[("lang", "aa", "aa")], [("lang", "cc", "cc"), ("n", 400, None)]],
    )
    exp = df.filter(
        (F.col("lang") == "aa") | ((F.col("lang") == "cc") & (F.col("n") >= 400))
    )
    assert got.count() == exp.count()
    assert got.agg(F.sum("n")).first()[0] == exp.agg(F.sum("n")).first()[0]

    # the union survivor set covers only aa- and cc-blocks: 8 of 16
    enc = IceTable(out).read_table(spark)
    aa = prune_blocks(enc, "lang", "aa", "aa").count()
    cc = prune_blocks(enc, "lang", "cc", "cc").count()
    assert aa == 4 and cc == 4

    # global conjuncts intersect with the OR group
    got2 = scan_encoded(
        spark,
        out,
        columns=["lang", "n"],
        predicates=[("n", 100, None)],
        any_of=[[("lang", "aa", "aa")], [("lang", "cc", "cc")]],
    )
    exp2 = df.filter(
        (F.col("n") >= 100) & ((F.col("lang") == "aa") | (F.col("lang") == "cc"))
    )
    assert got2.count() == exp2.count()


def test_zip_tables_positional_join(spark, tmp_path):
    """zip_tables: positional inner join of two encoded tables sharing
    the order domain — equals the row-level join on _order, drops blocks
    missing from one side, truncates a shorter tail, respects renames
    and MoR deletes of either side."""
    from pyrle_spark.plans.encode_job import delete_rows, rename_column
    from pyrle_spark.plans.zipjoin import zip_tables

    a_dir = str(tmp_path / "zip_a")
    b_dir = str(tmp_path / "zip_b")
    # side A: 4096 rows; side B: 3900 rows (shorter tail + missing blocks)
    dfa = spark.range(0, 4096, 1, 4).select(
        F.col("id").alias("doc_seq"),
        F.concat(F.lit("t"), (F.col("id") % 7).cast("string")).alias("tag"),
        (F.col("id") * 2).alias("v"),
    )
    dfb = spark.range(0, 3900, 1, 4).select(
        F.col("id").alias("doc_seq"),
        (F.col("id") % 13).alias("score"),
        (F.col("id") + 5).alias("v"),  # name collision with side A
    )
    encode_table(
        spark, dfa, a_dir, EncodeConfig(columns=["tag", "v"], block_rows=512)
    )
    encode_table(
        spark, dfb, b_dir, EncodeConfig(columns=["score", "v"], block_rows=512)
    )

    z = zip_tables(spark, a_dir, b_dir)
    exp = dfa.join(
        dfb.select(
            F.col("doc_seq"), "score", F.col("v").alias("v_b")
        ),
        "doc_seq",
    )
    assert sorted(z.columns) == ["_order", "score", "tag", "v", "v_b"]
    assert z.count() == exp.count() == 3900
    assert (
        z.agg(F.sum(F.col("v") + F.col("v_b") + F.col("score"))).first()[0]
        == exp.agg(F.sum(F.col("v") + F.col("v_b") + F.col("score"))).first()[0]
    )
    # spot-check row alignment
    r = z.filter(F.col("_order") == 1234).first()
    assert r["tag"] == f"t{1234 % 7}" and r["v"] == 2468 and r["v_b"] == 1239
    assert r["score"] == 1234 % 13

    # rename on one side resolves through the alias
    rename_column(spark, b_dir, "score", "points")
    z2 = zip_tables(spark, a_dir, b_dir, columns_b=["points"])
    assert z2.filter(F.col("_order") == 77).first()["points"] == 77 % 13

    # MoR delete on side A excludes the position from the join
    delete_rows(spark, a_dir, [10, 11, 12])
    z3 = zip_tables(spark, a_dir, b_dir, columns_b=["points"])
    assert z3.count() == 3897
    assert z3.filter(F.col("_order").isin(10, 11, 12)).count() == 0

    # mismatched block spans are refused
    c_dir = str(tmp_path / "zip_c")
    encode_table(
        spark, dfb, c_dir, EncodeConfig(columns=["score"], block_rows=256)
    )
    with pytest.raises(ValueError, match="block_rows"):
        zip_tables(spark, a_dir, c_dir)


def test_expiry_severs_ancestry_without_crash(spark, tmp_path):
    """Snapshot expiry can delete a branch head's parent-chain manifests;
    is_ancestor then reports False (chain severed) and fast_forward
    refuses with its clear error instead of FileNotFoundError."""
    out = str(tmp_path / "sever")
    cfg = EncodeConfig(columns=["v"], order_col="seq", block_rows=512)

    def part(hi):
        return spark.range(0, hi).select(
            F.col("id").alias("seq"), F.col("id").alias("v")
        )

    encode_table(spark, part(512), out, cfg)
    table = IceTable(out)
    s1 = table.current_snapshot_id()
    table.create_branch("dev")
    encode_table(spark, part(1024), out, cfg)  # s2 (expired below)
    encode_table(spark, part(1536), out, cfg)  # s3 (current)
    table.expire_snapshots(keep_last=1)
    # s1 is pinned by the branch; s2 (the middle ancestor) is gone
    assert table.is_ancestor(s1, table.current_snapshot_id()) is False
    with pytest.raises(RuntimeError, match="not an ancestor"):
        table.fast_forward("dev")  # dev head (s1) is not a descendant


def test_empty_snapshot_read(spark, tmp_path):
    """A zero-file snapshot reads back as an empty DataFrame with the
    recorded schema (the schema JSON must parse, not be fed as DDL)."""
    out = str(tmp_path / "emptysnap")
    table = IceTable(out)
    empty = spark.createDataFrame([], "block_id long, column string")
    table.write_snapshot(empty, mode="overwrite")
    got = table.read_table(spark)
    assert got.count() == 0
    assert got.schema.simpleString() == "struct<block_id:bigint,column:string>"


def test_vacuum_safety_floor(spark, webtext, tmp_path):
    """ADVICE r02: vacuum's mtime margin is the only guard against deleting
    a concurrent writer's finished-but-uncommitted output; sub-10-minute
    margins must be an explicit opt-in, never a default."""
    out = str(tmp_path / "vfloor")
    encode_table(
        spark,
        webtext.filter(F.col("doc_seq") < 500).select("doc_seq", "url", "lang"),
        out,
        EncodeConfig(columns=["url", "lang"], order_col="doc_seq", block_rows=BLOCK),
    )
    with pytest.raises(ValueError, match="force=True"):
        IceTable(out).vacuum(older_than_s=0.0)
    # default margin spares a fresh orphan
    import os

    orphan = os.path.join(out, "data", "orphan.parquet")
    os.makedirs(os.path.dirname(orphan), exist_ok=True)
    with open(orphan, "wb") as f:
        f.write(b"x" * 64)
    assert IceTable(out).vacuum()["deleted_files"] == 0
    assert os.path.exists(orphan)
    # forced zero-margin vacuum takes the orphan (plus marker files,
    # which are orphans by definition)
    assert IceTable(out).vacuum(older_than_s=0.0, force=True)["deleted_files"] >= 1
    assert not os.path.exists(orphan)


def test_expire_preserves_log_order_with_pinned_ref(spark, webtext, tmp_path):
    """ADVICE r02: a pinned ref snapshot interleaved with age-retained ones
    used to be hoisted to the log front; _delete_positions scopes
    delete-vector visibility by log index, so retention must keep commit
    order.  Asserts the retained log is an ordered subsequence AND that
    time-travel reads to the pinned snapshot still honor deletes."""
    from pyrle_spark.plans.encode_job import delete_rows

    out = str(tmp_path / "exporder")
    cols = ["doc_seq", "url", "lang"]

    def batch(lo, hi):
        return webtext.filter(
            (F.col("doc_seq") >= lo) & (F.col("doc_seq") < hi)
        ).select(*cols)

    cfg = EncodeConfig(columns=["url", "lang"], order_col="doc_seq", block_rows=BLOCK)
    encode_table(spark, batch(0, 500), out, cfg)       # s1
    t = IceTable(out)
    delete_rows(spark, out, [3, 7])                    # as_of s1
    encode_table(spark, batch(500, 1000), out, cfg)    # s2
    s2 = t.current_snapshot_id()
    t.create_tag("pin", s2)                            # pinned mid-log
    delete_rows(spark, out, [11])                      # as_of s2
    encode_table(spark, batch(1000, 1500), out, cfg)   # s3
    delete_rows(spark, out, [1203])                    # as_of s3 (expired below)
    encode_table(spark, batch(1500, 2000), out, cfg)   # s4 (current)
    order_before = [s["id"] for s in t.snapshots()]
    assert len(order_before) == 4
    # keep_last=1 retains only the head by count; the pinned tag forces
    # exactly {pin, head} — pin must stay mid-order, never hoisted
    info = t.expire_snapshots(keep_last=1)
    assert info["expired_snapshots"]
    retained = [s["id"] for s in IceTable(out).snapshots()]
    assert set(retained) == {s2, order_before[-1]}
    assert retained == [i for i in order_before if i in set(retained)]
    # the pinned snapshot sees deletes {3,7,11} but NOT the one tagged
    # with the (expired, mid-log, newer-than-pin) s3
    pinned = decode_table(spark, out, snapshot_id="pin")
    seqs = {r["_order"] for r in pinned.select("_order").collect()}
    assert {3, 7, 11}.isdisjoint(seqs)
    assert len(seqs) == 997
    # the current head still sees every delete, incl. the s3-tagged one
    cur = {r["_order"] for r in decode_table(spark, out).select("_order").collect()}
    assert {3, 7, 11, 1203}.isdisjoint(cur)
    assert len(cur) == 1996


def test_merge_into_empty_table_insert_only(spark, webtext, tmp_path):
    """ADVICE r02: insert-only MERGE into a table with zero blocks used to
    raise int(None); it must start inserting at position 0."""
    from pyrle_spark.plans.encode_job import merge_into

    out = str(tmp_path / "mergeempty")
    cols = ["url", "lang", "n_chars"]
    base = webtext.filter(F.lit(False)).select(
        "doc_seq", "url", "lang", F.length("text").alias("n_chars")
    )
    encode_table(
        spark, base, out,
        EncodeConfig(columns=cols, order_col="doc_seq", block_rows=BLOCK),
    )
    src = webtext.filter(F.col("doc_seq") < 50).select(
        "url", "lang", F.length("text").alias("n_chars")
    )
    info = merge_into(spark, out, src, on="url")
    assert info["n_updated"] == 0 and info["n_inserted"] == 50
    assert info["first_new_pos"] == 0
    dec = decode_table(spark, out)
    assert dec.count() == 50
    assert dec.agg(F.min("_order")).first()[0] == 0


# ------------------------------------------------- presorted (no-sort) path
def test_presorted_block_aligned_identical(spark, tmp_path):
    """input_presorted=True skips the sortWithinPartitions pass; with a
    block-aligned source (one file per block, file rows already in
    order_col order — how generate_webtext(block_rows=...) writes and how
    an Iceberg ingest naturally lands) the encoded blocks must be
    byte-identical to the sorted path's."""
    src = str(tmp_path / "src_aligned")
    generate_webtext(spark, 3000, n_hosts=20, block_rows=500).write.mode(
        "overwrite"
    ).parquet(src)
    wt = spark.read.parquet(src)
    sigs = []
    for i, presorted in enumerate((False, True)):
        out = str(tmp_path / f"enc_ps{i}")
        encode_table(
            spark,
            wt,
            out,
            EncodeConfig(
                columns=COLS,
                block_rows=500,
                block_aligned=True,
                input_presorted=presorted,
            ),
        )
        sigs.append(
            sorted(
                tuple(r)
                for r in IceTable(out)
                .read_table(spark)
                .select("block_id", "column", "codec", "crc32", "bytes_out", "n_rows")
                .collect()
            )
        )
    assert sigs[0] == sigs[1]
    res = verify_checksums(spark, str(tmp_path / "enc_ps1"))
    assert res["bad"] == 0 and res["ok"] > 0


def test_presorted_misdeclared_raises(spark, tmp_path):
    """A shuffled source mis-declared as presorted must fail loudly (the
    kernel's strict-monotone _order check), never silently encode a
    permuted block."""
    import pyspark.sql.utils

    src = str(tmp_path / "src_shuffled")
    (
        generate_webtext(spark, 2000, n_hosts=20)
        .orderBy(F.md5(F.col("url")))  # scramble row order within files
        .coalesce(2)
        .write.mode("overwrite")
        .parquet(src)
    )
    wt = spark.read.parquet(src)
    out = str(tmp_path / "enc_bad")
    with pytest.raises(Exception, match="input_presorted"):
        encode_table(
            spark,
            wt,
            out,
            EncodeConfig(
                columns=COLS,
                block_rows=500,
                block_aligned=True,
                input_presorted=True,
            ),
        )


def test_encode_decode_roundtrip_multilingual_nulls(spark, tmp_path):
    """Real Common-Crawl text is multilingual UTF-8 with nulls; the
    whole encode → decode pipeline (Spark ⇄ Arrow boundary included,
    not just the codec kernels hypothesis already fuzzes) must
    reproduce CJK / emoji / RTL / combining-mark text and NULL slots
    bit-identically, and the selector must never crash on them."""
    rows = []
    samples = [
        "純粋な日本語のテキストです。圧縮は意味を保存する必要があります。",
        "🦀🚀 emoji soup 🌍🌎🌏 mixed with ascii",
        "नमस्ते दुनिया — combining: é = é, ẍ, ǚ",
        "مرحبا بالعالم (RTL) mixed مع ASCII",
        "Ω≈ç√∫˜µ≤≥÷ æøå ß∂ƒ ∆˚¬",
        "",  # empty string is distinct from NULL
        None,
        "plain ascii line",
    ]
    for i in range(64):
        s = samples[i % len(samples)]
        rows.append((i, s, None if i % 13 == 7 else f"host-{i % 5}"))
    df = spark.createDataFrame(rows, "doc_seq long, text string, host string")
    out = str(tmp_path / "uenc")
    encode_table(
        spark, df, out, EncodeConfig(columns=["text", "host"], block_rows=16)
    )
    dec = decode_table(spark, out)
    src = df.select(F.col("doc_seq").alias("_order"), "text", "host")
    joined = dec.alias("d").join(src.alias("s"), "_order", "full_outer")
    bad = joined.filter(
        "(d.text IS DISTINCT FROM s.text) OR (d.host IS DISTINCT FROM s.host)"
    ).count()
    assert bad == 0
    assert dec.count() == 64
    assert verify_checksums(spark, out)["bad"] == 0


def test_schema_evolution_rename_add_drop(spark, tmp_path):
    """Id-based schema evolution: rename + add + drop are metadata-only;
    old files resolve by field id (rename visible on historical rows,
    added column reads as typed NULL there), and time travel to a
    pre-evolution snapshot still sees the old names."""
    t = IceTable(str(tmp_path / "evo"))
    v1 = spark.range(10).select(
        "id", (F.col("id") * 2).alias("chars"), F.lit("en").alias("lang")
    )
    t.write_snapshot(v1)
    pre = t.current_snapshot_id()
    t.evolve_schema(
        renames={"chars": "n_chars"}, adds=[("score", "long")], drops=["lang"]
    )
    v2 = spark.range(10, 15).select(
        "id", (F.col("id") * 2).alias("n_chars"), (F.col("id") % 7).alias("score")
    )
    t.write_snapshot(v2)
    cur = t.read_table(spark)
    assert cur.columns == ["id", "n_chars", "score"]
    rows = {r["id"]: r for r in cur.collect()}
    assert len(rows) == 15
    assert all(rows[i]["n_chars"] == 2 * i for i in range(15))
    assert all(rows[i]["score"] is None for i in range(10))
    assert all(rows[i]["score"] == i % 7 for i in range(10, 15))
    old = t.read_table(spark, snapshot_id=pre)
    assert old.columns == ["id", "chars", "lang"]
    assert old.count() == 10


def test_filtered_stats_below_decode():
    """_block_filtered_stats must equal the naive decode-and-mask sum on
    every codec path — rle folds runs, fixed dict histograms codes, the
    rest decode — across open/closed/empty bounds, without Spark."""
    import numpy as np
    import pyarrow as pa

    from pyrle_spark.codecs import encode_with
    from pyrle_spark.plans.compressed import _block_filtered_stats

    rng = np.random.default_rng(5)
    runny = np.repeat(
        rng.integers(0, 50, 40), rng.integers(1, 30, 40)
    ).astype(np.int64)
    dicty = (rng.integers(0, 16, 5000) * 3).astype(np.int64)
    floaty = np.round(rng.uniform(0, 100, 3000), 2)
    for codec, data in [
        ("rle", runny),
        ("dict", dicty),
        ("alp", floaty),
        ("raw", floaty),
        ("rle", floaty),  # float rle: NaN-free values path
    ]:
        t = pa.int64() if data.dtype.kind == "i" else pa.float64()
        enc = encode_with(codec, pa.array(data, type=t))
        for lo, hi in [(None, None), (10, 40), (None, 25), (33, None), (1000, 2000)]:
            n, tot = _block_filtered_stats(enc, lo, hi)
            lo_ = -np.inf if lo is None else lo
            hi_ = np.inf if hi is None else hi
            m = (data >= lo_) & (data <= hi_)
            assert n == int(m.sum()), (codec, lo, hi)
            assert abs(tot - float(data[m].sum())) < 1e-6, (codec, lo, hi)


def test_schema_evolution_type_widening(spark, tmp_path):
    """Iceberg's lossless type promotion: int→long widening is
    metadata-only; old files keep their narrow physical type and the
    evolved read casts them up; non-lossless promotions are rejected."""
    from pyspark.sql.types import IntegerType, LongType

    t = IceTable(str(tmp_path / "widen"))
    v1 = spark.range(6).select(
        F.col("id").cast(IntegerType()).alias("id"),
        F.lit("x").alias("tag"),
    )
    t.write_snapshot(v1)
    t.evolve_schema(widens={"id": "long"})
    v2 = spark.range(6, 9).select(
        F.col("id").cast(LongType()).alias("id"), F.lit("y").alias("tag")
    )
    t.write_snapshot(v2)
    cur = t.read_table(spark)
    assert dict(cur.dtypes)["id"] == "bigint"
    assert sorted(r["id"] for r in cur.collect()) == list(range(9))
    with pytest.raises(ValueError):
        t.evolve_schema(widens={"id": "integer"})  # narrowing refused


def test_schema_evolution_random_histories(spark, tmp_path):
    """Randomized evolution histories (append / rename / add / drop /
    widen interleaved) must always read back equal to a driver-side
    replay of the same operations — the id-resolution invariants hold
    under composition, not just for one scripted sequence."""
    import random

    import pandas as pd

    for seed in range(4):
        rng = random.Random(seed)
        t = IceTable(str(tmp_path / f"hist{seed}"))
        cols = {"a": "long", "b": "long"}  # name -> current type
        expected = pd.DataFrame({"a": [0, 1], "b": [10, 11]})
        t.write_snapshot(spark.createDataFrame(expected))
        next_id = 100
        for _ in range(6):
            op = rng.choice(["append", "rename", "add", "drop", "widen"])
            if op == "append":
                rows = {
                    c: [next_id + i * 7 + j for i in range(3)]
                    for j, c in enumerate(cols)
                }
                next_id += 50
                pdf = pd.DataFrame(rows)
                for c, ty in cols.items():
                    pdf[c] = pdf[c].astype(
                        "int32" if ty == "integer" else "int64"
                    )
                t.write_snapshot(spark.createDataFrame(pdf))
                expected = pd.concat([expected, pdf], ignore_index=True)
            elif op == "rename" and cols:
                old = rng.choice(sorted(cols))
                new = f"{old}_r{next_id}"
                t.evolve_schema(renames={old: new})
                cols[new] = cols.pop(old)
                expected = expected.rename(columns={old: new})
            elif op == "add":
                name = f"c{next_id}"
                t.evolve_schema(adds=[(name, "long")])
                cols[name] = "long"
                expected[name] = pd.array([None] * len(expected), dtype="Int64")
            elif op == "drop" and len(cols) > 1:
                name = rng.choice(sorted(cols))
                t.evolve_schema(drops=[name])
                cols.pop(name)
                expected = expected.drop(columns=[name])
            elif op == "widen":
                longs = [c for c, ty in cols.items() if ty == "long"]
                # nothing narrow to widen in this toy schema; exercise the
                # rejection path instead
                if longs:
                    with pytest.raises(ValueError):
                        t.evolve_schema(widens={longs[0]: "long"})
        got = (
            t.read_table(spark)
            .toPandas()
            .astype("Int64")
            .sort_values(sorted(cols))
            .reset_index(drop=True)[sorted(cols)]
        )
        exp = (
            expected.astype("Int64")
            .sort_values(sorted(cols))
            .reset_index(drop=True)[sorted(cols)]
        )
        pd.testing.assert_frame_equal(got, exp)


def test_files_metadata_relation(spark, tmp_path):
    """table$files: one row per live file with real sizes and the
    schema-version stamps; time travel scopes it to the old manifest."""
    import json as _json
    import os as _os

    t = IceTable(str(tmp_path / "files"))
    t.write_snapshot(spark.range(4).select("id"))
    first = t.current_snapshot_id()
    t.write_snapshot(spark.range(4, 6).select("id"))
    rows = t.files_df(spark).collect()
    assert len(rows) >= 2
    for r in rows:
        assert r["bytes"] == _os.path.getsize(r["path"])
        assert _json.loads(r["field_ids"]) == {"id": 1}
        assert _json.loads(r["types"]) == {"id": "long"}
    old = t.files_df(spark, snapshot_id=first).collect()
    assert len(old) < len(rows)


def test_schema_evolution_after_narrow_append(spark, tmp_path):
    """A narrower append shrinks the manifest schema but not the field
    registry; evolution must still work (review finding: KeyError)."""
    t = IceTable(str(tmp_path / "narrow"))
    t.write_snapshot(
        spark.range(3).select("id", (F.col("id") * 2).alias("b"))
    )
    t.write_snapshot(spark.range(3, 5).select("id"))  # no column b
    t.evolve_schema(renames={"id": "z"})
    cur = t.read_table(spark)
    assert set(cur.columns) == {"z", "b"}
    rows = {r["z"]: r["b"] for r in cur.collect()}
    assert rows == {0: 0, 1: 2, 2: 4, 3: None, 4: None}


def test_filtered_agg_respects_mor_deletes(spark, tmp_path):
    """filtered_numeric_agg must exclude position-deleted rows — the
    delete map forces the exact decode-and-mask fallback per affected
    block and the result equals the row-level oracle."""
    from pyrle_spark.plans.compressed import filtered_numeric_agg
    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        delete_rows,
        encode_table,
    )

    n = 500
    df = spark.range(n).select(
        F.col("id").alias("_seq"), (F.col("id") * 3 % 97).alias("v")
    )
    out = str(tmp_path / "fa")
    encode_table(
        spark, df, out,
        EncodeConfig(columns=["v"], order_col="_seq", block_rows=64),
    )
    delete_rows(
        spark, out,
        df.filter(F.col("_seq") % 11 == 0).select(F.col("_seq").alias("_order")),
    )
    got = filtered_numeric_agg(spark, out, "v", 10, 60).collect()[0]
    vals = [(i * 3) % 97 for i in range(n) if i % 11 != 0]
    keep = [v for v in vals if 10 <= v <= 60]
    assert got["n_match"] == len(keep)
    assert int(got["sum_match"]) == sum(keep)


def test_topk_below_decode_deletes_and_ties(spark, tmp_path):
    """topk_below_decode must stay exact when (a) position deletes have
    erased former block maxima — the stale zmax may only widen the
    candidate set — and (b) the k-th value ties across blocks, where the
    refinement pass must pull every block whose zmax EQUALS v_k so a
    tied row with a smaller id can still win."""
    from pyrle_spark.plans.compressed import topk_below_decode
    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        delete_rows,
        encode_table,
    )

    n, k = 600, 12
    # v = id*7 % 101 → ties everywhere; block_rows=64 spreads each value
    # across many blocks
    vals = [(i * 7) % 101 for i in range(n)]
    df = spark.range(n).select(
        F.col("id").alias("_seq"),
        F.col("id").alias("rid"),
        (F.col("id") * 7 % 101).alias("v"),
    )
    out = str(tmp_path / "topk")
    encode_table(
        spark, df, out,
        EncodeConfig(columns=["rid", "v"], order_col="_seq", block_rows=64),
    )
    # delete every row holding the global max (v=100) in the first half:
    # those blocks' zmax is now stale-high
    dead = [i for i in range(n // 2) if vals[i] == 100]
    assert dead, "fixture must delete at least one block maximum"
    delete_rows(spark, out, dead)
    got = [
        (r["rid"], r["v"])
        for r in topk_below_decode(spark, out, "v", "rid", k).collect()
    ]
    live = [(v, i) for i, v in enumerate(vals) if i not in set(dead)]
    live.sort(key=lambda t: (-t[0], t[1]))
    assert got == [(i, v) for v, i in live[:k]]


def test_count_where_eq_fsst_dict_deletes(spark, tmp_path):
    """count_where_eq across codec paths: a codec_overrides-pinned fsst
    column takes the encoded-span probe, a dict column counts codes, a
    numeric column takes the decode fallback — and merge-on-read
    deletes force the exact masked path on affected blocks."""
    from pyrle_spark.plans.compressed import count_where_eq
    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        delete_rows,
        encode_table,
    )

    n = 400
    svals = [f"w{i % 37}-{i % 11}" for i in range(n)]
    df = spark.createDataFrame(
        [(i, svals[i], f"L{i % 3}", i % 23, i // 50) for i in range(n)],
        "_seq long, s string, g string, v long, r long",
    )
    out = str(tmp_path / "eq")
    encode_table(
        spark, df, out,
        EncodeConfig(
            columns=["s", "g", "v", "r"],
            order_col="_seq",
            block_rows=64,
            codec_overrides={"s": "fsst", "r": "rle"},
        ),
    )
    from pyrle_spark.sources.icetable import IceTable
    codecs_used = {
        r["column"]: r["codec"]
        for r in IceTable(out).read_table(spark).select("column", "codec").collect()
    }
    assert codecs_used["s"].startswith("fsst"), codecs_used
    assert codecs_used["r"].startswith("rle"), codecs_used

    def naive(col, val, dead=()):
        vals = {"s": svals, "g": [f"L{i % 3}" for i in range(n)],
                "v": [i % 23 for i in range(n)],
                "r": [i // 50 for i in range(n)]}[col]
        return sum(1 for i in range(n) if i not in set(dead) and vals[i] == val)

    probes = [("s", "w5-5"), ("s", "absent"), ("g", "L1"), ("v", 7),
              ("r", 3), ("r", 99)]
    for col, val in probes:
        got = count_where_eq(spark, out, col, val).collect()[0]["n_match"]
        assert got == naive(col, val), (col, val, got)

    dead = [i for i in range(0, n, 10)]
    delete_rows(spark, out, dead)
    for col, val in [("s", "w5-5"), ("g", "L1"), ("v", 7), ("r", 3)]:
        got = count_where_eq(spark, out, col, val).collect()[0]["n_match"]
        assert got == naive(col, val, dead), (col, val, got)


def test_limit_scan_prefix_blocks_and_deletes(spark, tmp_path):
    """limit_scan decodes only the leading block prefix, and the
    delete-shifted cutoff fixed point is exact — including deletes that
    straddle the k-th row and k beyond the live row count."""
    from pyrle_spark.plans.encode_job import delete_rows, limit_scan
    from pyrle_spark.sources.icetable import IceTable as _IT

    t = str(tmp_path / "lim")
    df = spark.range(0, 1000, 1, 4).select(
        F.col("id").alias("doc_seq"), (F.col("id") * 3).alias("v")
    )
    encode_table(spark, df, t, EncodeConfig(columns=["v"], block_rows=100))

    got = limit_scan(spark, t, 250).orderBy("_order").toPandas()
    assert list(got["_order"]) == list(range(250))
    assert list(got["v"]) == [3 * i for i in range(250)]

    # deletes shift the cutoff across a block boundary: kill 0..149,
    # first 250 live rows are positions 150..399 (blocks 1..3, not 0..2)
    delete_rows(spark, t, range(0, 150))
    got = limit_scan(spark, t, 250).orderBy("_order").toPandas()
    assert list(got["_order"]) == list(range(150, 400))

    # k beyond the live row count returns everything that's left
    got = limit_scan(spark, t, 10_000).toPandas()
    assert len(got) == 850

    # k=0 is empty but schema-stable
    empty = limit_scan(spark, t, 0)
    assert empty.count() == 0 and "v" in empty.columns


def test_semi_join_scan_pushdown_equals_fallback(spark, tmp_path):
    """Both semi_join_scan strategies — IN-list pushdown below decode and
    the decode+left_semi fallback — return the same rows; the pushdown
    path prunes blocks and records honest stats."""
    from pyrle_spark.plans.dpp import semi_join_scan

    t = str(tmp_path / "dpp")
    df = spark.range(0, 2000, 1, 4).select(
        F.col("id").alias("doc_seq"),
        (F.col("id") % 10).alias("grp"),
        (F.col("id") * 7).alias("v"),
    )
    encode_table(
        spark, df, t, EncodeConfig(columns=["grp", "v"], block_rows=100)
    )
    keys = spark.createDataFrame([(3,), (7,), (3,)], ["grp"])

    pushed, info_p = semi_join_scan(spark, t, "grp", keys, columns=["grp", "v"])
    assert info_p["pushed"] and info_p["n_keys"] == 2
    assert 0 < info_p["kept_blocks"] <= info_p["total_blocks"]

    fell, info_f = semi_join_scan(
        spark, t, "grp", keys, columns=["grp", "v"], max_keys=1
    )
    assert not info_f["pushed"]

    a = sorted(map(tuple, pushed.select("grp", "v").collect()))
    b = sorted(map(tuple, fell.select("grp", "v").collect()))
    assert a == b and len(a) == 400


def test_analyze_ndv_estimate_from_kmv(spark, tmp_path):
    """ANALYZE surfaces a decode-free NDV estimate merged from the
    per-block KMV sketches, and the advisor consumes it."""
    from pyrle_spark.plans.stats import analyze_table

    t = str(tmp_path / "t")
    df = spark.range(0, 20_000, 1, 4).select(
        F.col("id").alias("doc_seq"),
        (F.col("id") % 1000).alias("v"),  # true NDV 1000
        (F.col("id") % 3).alias("w"),  # true NDV 3 (below k: exact)
    )
    encode_table(
        spark, df, t, EncodeConfig(columns=["v", "w"], block_rows=2048)
    )
    stats = analyze_table(spark, t, ndv_columns=[])["columns"]
    assert stats["w"]["ndv_est"] == 3
    assert abs(stats["v"]["ndv_est"] - 1000) / 1000 < 0.35, stats["v"]


def test_join_tables_on_edges(spark, tmp_path):
    """join_tables_on: empty intersections produce empty results (no
    scan-side error), name collisions suffix the right side, fallback
    path equals pushdown."""
    from pyrle_spark.plans.joins import join_tables_on

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    df_a = spark.range(0, 500, 1, 2).select(
        F.col("id").alias("doc_seq"), (F.col("id") % 50).alias("k"),
        (F.col("id") * 2).alias("v"),
    )
    df_b = spark.range(0, 500, 1, 2).select(
        F.col("id").alias("doc_seq"), (F.col("id") % 50 + 40).alias("k"),
        (F.col("id") * 3).alias("v"),
    )
    encode_table(spark, df_a, a, EncodeConfig(columns=["k", "v"], block_rows=100))
    encode_table(spark, df_b, b, EncodeConfig(columns=["k", "v"], block_rows=100))

    rows, info = join_tables_on(spark, a, b, on="k")
    assert info["left"]["pushed"] and info["left"]["n_keys"] == 10  # 40..49
    assert set(rows.columns) == {"k", "v", "v_r"}
    n = rows.count()
    # each side has 10 rows per k (500/50); overlap keys 40..49
    assert n == 10 * 10 * 10

    got = sorted(map(tuple, rows.collect()))
    fell, info2 = join_tables_on(spark, a, b, on="k", max_keys=2)
    assert not info2["left"]["pushed"]
    assert sorted(map(tuple, fell.collect())) == got

    # empty intersection
    c = str(tmp_path / "c")
    df_c = spark.range(0, 200, 1, 2).select(
        F.col("id").alias("doc_seq"), (F.col("id") % 10 + 1000).alias("k")
    )
    encode_table(spark, df_c, c, EncodeConfig(columns=["k"], block_rows=100))
    empty, _ = join_tables_on(spark, a, c, on="k")
    assert empty.count() == 0


def test_incremental_analyze_matches_full(spark, tmp_path):
    """Incremental ANALYZE after an append merges to EXACTLY the stats
    a full recompute produces (modulo the timestamp/mode fields); a
    rewrite that removes files falls back to the full pass."""
    import copy

    from pyrle_spark.plans.stats import analyze_table

    t = str(tmp_path / "t")
    df1 = spark.range(0, 4096, 1, 2).select(
        F.col("id").alias("doc_seq"),
        (F.col("id") % 100).alias("v"),
        (F.col("id") % 7).cast("string").alias("s"),
    )
    encode_table(spark, df1, t, EncodeConfig(columns=["v", "s"], block_rows=1024))
    analyze_table(spark, t, ndv_columns=[])

    # append-only growth: new rows, strictly new block ids
    df2 = spark.range(4096, 8192, 1, 2).select(
        F.col("id").alias("doc_seq"),
        (F.col("id") % 250).alias("v"),
        (F.col("id") % 7).cast("string").alias("s"),
    )
    encode_table(spark, df2, t, EncodeConfig(columns=["v", "s"], block_rows=1024))

    inc = copy.deepcopy(analyze_table(spark, t, ndv_columns=[], incremental=True))
    assert inc.get("mode") == "incremental"
    full = analyze_table(spark, t, ndv_columns=[])
    for c in full["columns"]:
        f, i = dict(full["columns"][c]), dict(inc["columns"][c])
        assert f == i, (c, f, i)
    # analyzed_snapshot differs: each ANALYZE commits its own metadata
    # snapshot; the COLUMNS equality above is the contract

    # no new files: incremental is a metadata no-op refresh
    again = analyze_table(spark, t, ndv_columns=[], incremental=True)
    assert again.get("mode") == "incremental"
    assert again["columns"] == inc["columns"]

    # compaction removes files -> the incremental path must fall back
    from pyrle_spark.plans.encode_job import compact_table

    compact_table(spark, t)
    post = analyze_table(spark, t, ndv_columns=["s"], incremental=True)
    assert post.get("mode") != "incremental"
    assert post["columns"]["s"]["ndv"] == 7


def test_explain_scan_tier_report(spark, tmp_path):
    """explain_scan reports each tier's honest superset: the zone tier
    prunes a clustered range, the bloom tier tightens an equality probe
    beyond zones, and survivor counts agree with the real scan."""
    from pyrle_spark.plans.encode_job import explain_scan, scan_encoded

    t = str(tmp_path / "t")
    # clustered by g (sorted order) so zones separate g ranges cleanly
    df = spark.range(0, 2000, 1, 4).select(
        (F.col("id")).alias("doc_seq"),
        (F.col("id") / 200).cast("long").alias("g"),  # 0..9, clustered
        (F.col("id") % 97).alias("v"),
    )
    encode_table(spark, df, t, EncodeConfig(columns=["g", "v"], block_rows=100))

    rep = explain_scan(spark, t, predicates=[("g", 3, 3)])
    assert rep["total_blocks"] == 20
    assert rep["per_predicate"][0]["kind"] == "eq"
    # g=3 lives in exactly 2 of the 20 blocks (200 rows / 100-row blocks)
    assert rep["survivor_blocks"] == 2
    assert rep["per_predicate"][0]["final_survivors"] == 2
    assert rep["selectivity"] == 0.1

    # the report's survivor count matches the actual pushdown scan
    rows = scan_encoded(spark, t, columns=["g"], predicates=[("g", 3, 3)])
    assert rows.count() == 200

    # DNF group: g=1 OR g=8 -> 4 blocks
    rep2 = explain_scan(spark, t, any_of=[[("g", 1, 1)], [("g", 8, 8)]])
    assert rep2["dnf_survivors"] == 4 and rep2["survivor_blocks"] == 4

    # no predicates: everything survives
    rep3 = explain_scan(spark, t)
    assert rep3["survivor_blocks"] == rep3["total_blocks"] == 20


def test_semi_join_scan_empty_keys_short_circuit(spark, tmp_path):
    """An empty (or all-NULL) dim key set returns a schema-stable empty
    result without decoding any block."""
    from pyrle_spark.plans.dpp import semi_join_scan

    t = str(tmp_path / "t")
    df = spark.range(0, 300, 1, 2).select(
        F.col("id").alias("doc_seq"), (F.col("id") % 3).alias("g")
    )
    encode_table(spark, df, t, EncodeConfig(columns=["g"], block_rows=100))
    empty_keys = spark.createDataFrame([], "g long")
    out, info = semi_join_scan(spark, t, "g", empty_keys, columns=["g"])
    assert info["pushed"] and info["n_keys"] == 0 and info["kept_blocks"] == 0
    assert out.count() == 0 and "g" in out.columns

    null_keys = spark.createDataFrame([(None,)], "g long")
    out2, info2 = semi_join_scan(spark, t, "g", null_keys, columns=["g"])
    assert info2["n_keys"] == 0 and out2.count() == 0


def test_decode_big_delete_distributed_path(spark, tmp_path, monkeypatch):
    """Above the driver threshold, deletes apply through the distributed
    anti-join (no driver materialization) and match the driver path
    row-for-row, including full-block pruning."""
    import pyrle_spark.plans.encode_job as ej

    t = str(tmp_path / "t")
    df = spark.range(0, 2000, 1, 4).select(
        F.col("id").alias("doc_seq"), (F.col("id") * 3).alias("v")
    )
    encode_table(spark, df, t, EncodeConfig(columns=["v"], block_rows=100))
    # kill blocks 0-1 entirely plus a scattering
    from pyrle_spark.plans.encode_job import decode_table, delete_rows

    delete_rows(spark, t, list(range(0, 200)) + [500, 777, 1999])
    small = decode_table(spark, t).orderBy("_order").toPandas()
    assert len(small) == 2000 - 203

    monkeypatch.setattr(ej, "_DELETE_DRIVER_MAX", 2)  # force the big path
    big = decode_table(spark, t).orderBy("_order").toPandas()
    assert big.equals(small)


def test_count_rows_metadata_only(spark, tmp_path):
    """count_rows equals the decoded count through appends, deletes
    (incl. full-block and out-of-range-position edge), and time travel
    — without decoding a buffer."""
    from pyrle_spark.plans.encode_job import count_rows, decode_table, delete_rows
    from pyrle_spark.sources.icetable import IceTable

    t = str(tmp_path / "t")
    df = spark.range(0, 950, 1, 4).select(
        F.col("id").alias("doc_seq"), (F.col("id") * 2).alias("v")
    )
    encode_table(spark, df, t, EncodeConfig(columns=["v"], block_rows=100))
    assert count_rows(spark, t) == 950 == decode_table(spark, t).count()

    snap1 = IceTable(t).current_snapshot_id()
    delete_rows(spark, t, list(range(0, 100)) + [500, 949])
    assert count_rows(spark, t) == 950 - 102 == decode_table(spark, t).count()
    # time travel agrees with decode's visibility rule: a delete tags
    # the snapshot current at delete time (deletes commit no snapshot),
    # so reads AT that snapshot see it too
    assert (
        count_rows(spark, t, snapshot_id=snap1)
        == decode_table(spark, t, snapshot_id=snap1).count()
    )


def test_count_nulls_delete_aware(spark, tmp_path):
    """count_nulls decodes only validity-bearing blocks and respects
    merge-on-read deletes (killing a NULL row lowers the answer;
    killing a non-null row does not)."""
    from pyrle_spark.plans.compressed import count_nulls
    from pyrle_spark.plans.encode_job import delete_rows

    t = str(tmp_path / "t")
    df = spark.range(0, 1000, 1, 4).select(
        F.col("id").alias("doc_seq"),
        F.when(F.col("id") < 10, F.lit(None))
        .otherwise(F.col("id"))
        .alias("v"),
    )
    encode_table(spark, df, t, EncodeConfig(columns=["v"], block_rows=100))
    assert count_nulls(spark, t, "v") == 10

    delete_rows(spark, t, [0, 1, 500])  # 2 null rows + 1 non-null
    assert count_nulls(spark, t, "v") == 8


def test_delete_rows_distributed_write_path(spark, tmp_path, monkeypatch):
    """Above the driver threshold, the delete VECTOR itself is written
    by tasks (range-partitioned parquet directory, multi-file manifest
    entry) — no driver materialization — and reads apply it identically
    to the driver-written path."""
    import json as _json
    import os as _os

    import pyrle_spark.plans.encode_job as ej
    from pyrle_spark.plans.encode_job import (
        count_rows,
        decode_table,
        delete_rows,
    )
    from pyrle_spark.sources.icetable import IceTable

    t = str(tmp_path / "t")
    df = spark.range(0, 3000, 1, 4).select(
        F.col("id").alias("doc_seq"), (F.col("id") * 3).alias("v")
    )
    encode_table(spark, df, t, EncodeConfig(columns=["v"], block_rows=100))

    monkeypatch.setattr(ej, "_DELETE_DRIVER_MAX", 50)  # force the big path
    doomed = decode_table(spark, t).filter(
        (F.col("_order") % 3 == 0) | (F.col("_order") < 100)
    ).select("_order")
    n_doomed = doomed.distinct().count()
    info = delete_rows(spark, t, doomed)
    assert info["n_positions"] == n_doomed
    assert "files" in info and len(info["files"]) > 1  # task-written parts
    assert all(_os.path.exists(f) for f in info["files"])

    got = {r["_order"] for r in decode_table(spark, t).select("_order").collect()}
    want = {i for i in range(3000) if not (i % 3 == 0 or i < 100)}
    assert got == want
    assert count_rows(spark, t) == len(want)

    # vacuum must treat every task-written part as live
    vac = IceTable(t).vacuum(older_than_s=0.0, force=True)
    assert all(_os.path.exists(f) for f in info["files"]), vac

    # the manifest entry round-trips (multi-file form)
    from pyrle_spark.sources.icetable import read_delete_entries

    entries = read_delete_entries(t)
    assert entries[-1]["n_positions"] == n_doomed

    # driver path on the same table (fresh small delete) still stacks
    monkeypatch.setattr(ej, "_DELETE_DRIVER_MAX", 1_000_000)
    delete_rows(spark, t, [101])
    assert count_rows(spark, t) == len(want) - 1


def test_count_rows_ignores_dropped_column_blocks(spark, tmp_path):
    """drop_column is metadata-only: the dropped column's stale blocks
    stop growing on later appends.  count_rows must pick its counting
    column from the LIVE set — a dropped column that sorts first used
    to freeze the count at its pre-drop value."""
    from pyrle_spark.plans.encode_job import (
        count_rows,
        decode_table,
        drop_column,
    )

    t = str(tmp_path / "t")
    df = spark.range(0, 500, 1, 4).select(
        F.col("id").alias("doc_seq"),
        (F.col("id") % 3).alias("a_col"),  # sorts before z_col
        (F.col("id") * 2).alias("z_col"),
    )
    encode_table(
        spark, df, t, EncodeConfig(columns=["a_col", "z_col"], block_rows=100)
    )
    drop_column(spark, t, "a_col")
    more = spark.range(500, 800, 1, 2).select(
        F.col("id").alias("doc_seq"), (F.col("id") * 2).alias("z_col")
    )
    encode_table(spark, more, t, EncodeConfig(columns=["z_col"], block_rows=100))
    assert decode_table(spark, t).count() == 800
    assert count_rows(spark, t) == 800  # not 500 (a_col's frozen blocks)


def test_analyze_ndv_survives_tiny_tail_block(spark, tmp_path):
    """A tail block below the KMV row gate (no sketch) must not disable
    the column's NDV estimate — it is emitted with a rows-covered
    fraction instead."""
    from pyrle_spark.plans.stats import analyze_table

    t = str(tmp_path / "t")
    # 4500 rows / 2048-row blocks → blocks of 2048, 2048, 404 (<1024 gate)
    df = spark.range(0, 4500, 1, 1).select(
        F.col("id").alias("doc_seq"), (F.col("id") % 700).alias("v")
    )
    encode_table(spark, df, t, EncodeConfig(columns=["v"], block_rows=2048))
    st = analyze_table(spark, t, ndv_columns=[])["columns"]["v"]
    assert "ndv_est" in st, st
    assert abs(st["ndv_est"] - 700) / 700 < 0.5
    assert 0.85 < st["ndv_sketched_frac"] < 1.0, st


def test_compact_delete_vectors(spark, tmp_path, monkeypatch):
    """Many takedown commits merge into ONE sorted deduplicated vector;
    decode, count_rows, and time travel are unchanged; later-tagged
    entries stay untouched; vector files of the merged entries stay for
    reads planned before the swap until vacuum reclaims them."""
    import json as _json
    import os as _os

    import pyrle_spark.plans.encode_job as ej
    from pyrle_spark.plans.encode_job import (
        compact_delete_vectors,
        count_rows,
        decode_table,
        delete_rows,
    )

    t = str(tmp_path / "t")
    df = spark.range(0, 2000, 1, 4).select(
        F.col("id").alias("doc_seq"), (F.col("id") * 3).alias("v")
    )
    encode_table(spark, df, t, EncodeConfig(columns=["v"], block_rows=100))
    # overlapping takedowns (dedup matters), incl. one through the
    # distributed multi-file write path
    delete_rows(spark, t, [1, 2, 3, 500])
    delete_rows(spark, t, [3, 4, 5])
    monkeypatch.setattr(ej, "_DELETE_DRIVER_MAX", 10)
    delete_rows(
        spark,
        t,
        decode_table(spark, t).filter(F.col("_order") < 40).select("_order"),
    )
    monkeypatch.setattr(ej, "_DELETE_DRIVER_MAX", 1_000_000)
    before = {r["_order"] for r in decode_table(spark, t).select("_order").collect()}

    info = compact_delete_vectors(spark, t)
    assert info["merged_entries"] == 3 and info["kept_entries"] == 0
    assert info["n_positions"] == len({1, 2, 3, 4, 5, 500} | set(range(40)))
    after = {r["_order"] for r in decode_table(spark, t).select("_order").collect()}
    assert after == before
    assert count_rows(spark, t) == len(before)
    from pyrle_spark.sources.icetable import read_delete_entries

    entries = read_delete_entries(t)
    assert len(entries) == 1 and entries[0]["compacted_from"] == 3
    # the index names one vector; vacuum's deletes/ sweep reclaims the
    # retired ones and leaves only the merged one
    assert "file" in entries[0] and "files" not in entries[0]
    IceTable(t).vacuum(older_than_s=0.0, force=True)
    files = []
    for root, _, names in _os.walk(_os.path.join(t, "deletes")):
        files += [n for n in names if n.endswith(".parquet")]
    assert len(files) == 1
    assert count_rows(spark, t) == len(before)

    # a delete AFTER an append is tagged mid-log: it must stay unmerged
    more = spark.range(2000, 2400, 1, 2).select(
        F.col("id").alias("doc_seq"), (F.col("id") * 3).alias("v")
    )
    encode_table(spark, more, t, EncodeConfig(columns=["v"], block_rows=100))
    delete_rows(spark, t, [2001])
    info2 = compact_delete_vectors(spark, t)
    # merged entry (tagged oldest) + later entry: later one not mergeable,
    # so fewer than 2 candidates -> no-op
    assert info2["merged_entries"] == 0 and info2["kept_entries"] == 2
    assert decode_table(spark, t).count() == len(before) + 400 - 1


def test_compaction_between_plan_and_decode(spark, tmp_path):
    """A read planned before compact_delete_vectors hands the merged
    vector files to its tasks (driver_max=0 keeps the delete set out of
    the driver); the decode after the compaction must still read them
    instead of failing with FileNotFoundError."""
    from pyrle_spark.plans.encode_job import (
        _decode_plan,
        compact_delete_vectors,
        delete_rows,
    )
    from pyrle_spark.plans.read_plan import plan_read

    t = str(tmp_path / "t")
    df = spark.range(0, 2000, 1, 4).select(
        F.col("id").alias("doc_seq"), (F.col("id") * 3).alias("v")
    )
    encode_table(spark, df, t, EncodeConfig(columns=["v"], block_rows=100))
    gone = {1, 2, 150, 1999}
    for pos in ([1, 2], [150], [1999]):
        delete_rows(spark, t, pos)
    plan = plan_read(t, driver_max=0)
    assert len(plan.delete_files) == 3
    assert compact_delete_vectors(spark, t)["merged_entries"] == 3
    got = [r["_order"] for r in _decode_plan(spark, plan).select("_order").collect()]
    assert sorted(got) == sorted(set(range(2000)) - gone)
