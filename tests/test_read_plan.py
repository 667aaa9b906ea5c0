"""The single read path (plans/read_plan.py) against DuckDB.

One table crosses what the read planner and the block reader must get
right at once: int, float with NaN, timestamp with and without a time
zone, string and binary columns with nulls; a resumed pass whose partial
block is superseded; a column widened from int to long; merge-on-read
deletes, one block of them deleting every row.  ``scan_encoded``,
``decode_table`` and ``format("pyrle")`` must return exactly the rows
DuckDB returns over the source — so the pushed residual and the block
pruning are supersets of Spark's own comparison semantics (NaN above
every value, NaN = NaN).  Also pinned: timestamp bounds on for/delta
blocks in the compressed aggregates, and the Spark jobs per read."""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest
from pyspark.sql import functions as F

from pyrle_spark.plans.compressed import (
    count_by_value,
    count_nulls,
    count_where_contains,
    count_where_eq,
    count_where_in,
    count_where_prefix,
    distinct_values,
    filtered_numeric_agg,
    group_count_where,
    numeric_stats,
    sum_by_value,
    topk_below_decode,
)
from pyrle_spark.plans.encode_job import (
    EncodeConfig,
    _residual_expr,
    decode_table,
    delete_rows,
    encode_table,
    explain_scan,
    scan_encoded,
    verify_checksums,
)
from pyrle_spark.plans.read_plan import norm_predicates
from pyrle_spark.sources.datasource import register

from tests.conftest import spark_jobs

BR = 64
N = 640  # 10 blocks
COLS = ["b", "f", "i", "s", "ts", "tsn", "w"]
T0 = 1_700_000_000
DEAD_BLOCK = 7
DELETED = sorted(set(range(3, N, 29)) | set(range(DEAD_BLOCK * BR, (DEAD_BLOCK + 1) * BR)))


def _ts(i: int) -> dt.datetime:
    return dt.datetime(2023, 11, 14, 22, 13, 20) + dt.timedelta(seconds=37 * i)


def _source(spark, n: int, w_type: str):
    i = F.col("id")
    return spark.range(0, n, 1, 4).select(
        i.alias("doc_seq"),
        F.when(i % 13 == 0, None).otherwise(i).alias("i"),
        F.when(i % 11 == 0, F.lit(float("nan")))
        .when(i % 17 == 0, None)
        .otherwise(i / 4.0)
        .alias("f"),
        F.when(i % 19 == 0, None)
        .otherwise(F.timestamp_seconds(F.lit(T0) + i * 37))
        .alias("ts"),
        F.when(i % 21 == 0, None)
        .otherwise(F.timestamp_seconds(F.lit(T0) + i * 37).cast("timestamp_ntz"))
        .alias("tsn"),
        F.when(i % 7 == 0, None)
        .otherwise(F.concat(F.lit("s"), F.lpad(i.cast("string"), 4, "0")))
        .alias("s"),
        F.when(i % 23 == 0, None)
        .otherwise(F.unhex(F.lpad(F.hex(i), 4, "0")))
        .alias("b"),
        i.cast(w_type).alias("w"),
    )


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    t = str(tmp_path_factory.mktemp("readplan") / "t")
    cfg = EncodeConfig(columns=COLS, order_col="doc_seq", block_rows=BR)
    # pass 1 leaves block 4 partial (rows 256..299) and w as int32;
    # pass 2 resumes, supersedes block 4 and writes w as int64
    encode_table(spark, _source(spark, 300, "int"), t, cfg)
    full = _source(spark, N, "long")
    encode_table(spark, full, t, cfg)
    delete_rows(spark, t, DELETED)
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.register("src_arrow", full.toArrow())
    con.execute("CREATE TABLE src AS SELECT * FROM src_arrow")
    return t, con


def _duck_where(conj: list) -> tuple:
    parts, params = [], []
    for col, lo, hi, values in norm_predicates(conj):
        if values is not None:
            parts.append(f"{col} IN ({', '.join('?' * len(values))})")
            params += list(values)
            continue
        if lo is not None:
            parts.append(f"{col} >= ?")
            params.append(lo)
        if hi is not None:
            parts.append(f"{col} <= ?")
            params.append(hi)
    return " AND ".join(parts) or "TRUE", params


def _expected(con, predicates, any_of) -> list:
    where, params = _duck_where(predicates)
    if any_of:
        ors = [_duck_where(c) for c in any_of]
        where += " AND (" + " OR ".join(f"({w})" for w, _ in ors) + ")"
        params += [p for _, ps in ors for p in ps]
    rows = con.execute(
        f"SELECT doc_seq FROM src WHERE {where} ORDER BY doc_seq", params
    ).fetchall()
    dead = set(DELETED)
    return [r[0] for r in rows if r[0] not in dead]


def _spark_filter(predicates, any_of):
    expr = _residual_expr(norm_predicates(predicates))
    if any_of:
        disj = None
        for conj in any_of:
            e = _residual_expr(norm_predicates(conj))
            e = F.lit(True) if e is None else e
            disj = e if disj is None else (disj | e)
        expr = disj if expr is None else (expr & disj)
    return expr


CASES = [
    ([("i", 100, 250)], None),
    ([("i", 137, 137)], None),
    ([("i", [5, 77, 400, 9999])], None),
    ([("i", ["5", "77", "400"])], None),  # Spark casts the strings to long
    ([("f", 30.0, None)], None),  # NaN rows satisfy f >= 30
    ([("f", None, 20.5)], None),
    ([("f", [3.25, 10.0])], None),
    ([("f", float("nan"), float("nan"))], None),  # NaN = NaN
    ([("ts", _ts(150), _ts(260))], None),
    ([("ts", _ts(500).replace(tzinfo=dt.timezone.utc), None)], None),
    ([("tsn", _ts(420), None)], None),
    ([("s", "s0100", "s0300")], None),
    ([("s", ["s0042", "s0500", "nope"])], None),
    ([("b", b"\x00\x10", b"\x00\x20")], None),
    ([("w", 200, 280)], None),
    ([("i", 430, 520)], None),  # crosses the fully deleted block
    ([], [[("i", None, 50)], [("s", "s0600", None), ("f", 100.0, None)]]),
    ([("ts", _ts(300), None)], [[("i", [500, 600])], [("s", "s0550", "s0560")]]),
]


@pytest.mark.parametrize("predicates,any_of", CASES)
def test_reads_match_duckdb(spark, table, predicates, any_of):
    t, con = table
    register(spark)
    want = _expected(con, predicates, any_of)
    got = scan_encoded(spark, t, columns=COLS, predicates=predicates, any_of=any_of)
    assert sorted(r["_order"] for r in got.select("_order").collect()) == want
    expr = _spark_filter(predicates, any_of)
    dec = decode_table(spark, t).filter(expr)
    assert sorted(r["_order"] for r in dec.select("_order").collect()) == want
    ds = spark.read.format("pyrle").load(t).filter(expr)
    assert sorted(r["_order"] for r in ds.select("_order").collect()) == want


def test_decode_values_match_duckdb(spark, table):
    """Full decode equals the source row for row (widened w as long,
    superseded partial block gone, deleted rows gone, NaN kept)."""
    t, con = table
    dec = decode_table(spark, t).orderBy("_order").toArrow()
    assert dec.schema.field("w").type == "int64"
    exp = con.execute(
        "SELECT * FROM src ORDER BY doc_seq"
    ).fetch_arrow_table()
    dead = set(DELETED)
    keep = [i for i, s in enumerate(exp.column("doc_seq").to_pylist()) if s not in dead]
    exp = exp.take(keep)
    assert dec.column("_order").to_pylist() == exp.column("doc_seq").to_pylist()
    for c in COLS:
        a, b = dec.column(c), exp.column(c)
        if c in ("ts", "tsn"):
            a, b = a.cast("int64"), b.cast("int64")
        assert a.to_pylist() == b.to_pylist() or (
            c == "f" and str(a.to_pylist()) == str(b.to_pylist())
        ), c


def test_pruning_bites_and_explain_launches_no_job(spark, table):
    t, _ = table
    info, jobs = spark_jobs(
        spark, lambda: explain_scan(spark, t, [("i", 100, 250)])
    )
    assert jobs == 0
    assert info["total_blocks"] == N // BR
    assert info["survivor_blocks"] == 3  # blocks 1..3 hold i in [100, 250]


AGGREGATES = {
    "count_by_value": lambda s, t: count_by_value(s, t, "s").collect(),
    "numeric_stats": lambda s, t: numeric_stats(s, t, "i").collect(),
    "filtered_numeric_agg": lambda s, t: filtered_numeric_agg(s, t, "i", 10, 90).collect(),
    "distinct_values": lambda s, t: distinct_values(s, t, "s").collect(),
    "sum_by_value": lambda s, t: sum_by_value(s, t, "s", "i").collect(),
    "count_where_in": lambda s, t: count_where_in(s, t, "s", ["s0042", "s0500"]).collect(),
    "count_where_eq": lambda s, t: count_where_eq(s, t, "s", "s0042").collect(),
    "count_where_prefix": lambda s, t: count_where_prefix(s, t, "s", "s01").collect(),
    "count_where_contains": lambda s, t: count_where_contains(s, t, "s", "42").collect(),
    "count_nulls": lambda s, t: count_nulls(s, t, "i"),
}


def test_job_counts_pinned(spark, table):
    t, _ = table
    assert spark_jobs(spark, lambda: verify_checksums(spark, t))[1] == 1
    assert spark_jobs(spark, lambda: decode_table(spark, t, columns=["s"]).collect())[1] == 1
    point = [("s", ["s0042", "s0500"])]
    assert spark_jobs(
        spark,
        lambda: scan_encoded(spark, t, columns=["s"], predicates=point).collect(),
    )[1] == 1
    assert spark_jobs(
        spark, lambda: group_count_where(spark, t, "s", "i", 10, 90).collect()
    )[1] <= 2
    assert spark_jobs(spark, lambda: explain_scan(spark, t, point))[1] == 0
    # each compressed aggregate: one read of the planned blocks plus the
    # final aggregate's stage
    for name, run in AGGREGATES.items():
        assert spark_jobs(spark, lambda: run(spark, t))[1] <= 2, name
    # top-k: the zone scan runs in the driver; the k-th value and the
    # answer are one job each
    assert spark_jobs(
        spark, lambda: topk_below_decode(spark, t, "i", "w", 5).collect()
    )[1] <= 2


@pytest.mark.parametrize("codec", ["for", "delta"])
def test_timestamp_bounds_in_compressed_aggregates(spark, tmp_path, codec):
    """A datetime bound on a for/delta-coded timestamp block compares in
    the column's epoch units (naive bounds and tz-aware bounds alike)."""
    t = str(tmp_path / codec)
    n = 4096
    i = F.col("id")
    df = spark.range(0, n, 1, 4).select(
        i.alias("doc_seq"),
        F.concat(F.lit("k"), (i % 12).cast("string")).alias("k"),
        F.timestamp_seconds(F.lit(T0) + i * 37 + (i % 5)).alias("ts"),
    )
    encode_table(
        spark, df, t,
        EncodeConfig(columns=["k", "ts"], order_col="doc_seq",
                     block_rows=512, codec_overrides={"ts": codec}),
    )
    lo, hi = _ts(700), _ts(3100)
    pdf = df.toPandas()
    sel = pdf[(pdf["ts"] >= lo) & (pdf["ts"] <= hi)]
    want_n = sel.groupby("k").size().to_dict()
    for bounds in [(lo, hi), (lo.replace(tzinfo=dt.timezone.utc),
                              hi.replace(tzinfo=dt.timezone.utc))]:
        got = group_count_where(spark, t, "k", "ts", *bounds).collect()
        assert {r["value_a"]: r["n_rows"] for r in got} == want_n
        got = filtered_numeric_agg(spark, t, "ts", *bounds).first()
        assert got["n_match"] == len(sel)
