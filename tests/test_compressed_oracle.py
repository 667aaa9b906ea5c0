"""The single-column compressed-domain aggregates of ``plans/compressed.py``
against DuckDB over the same rows.

Each table pins its codecs through ``EncodeConfig.codec_overrides`` so
every per-block tier runs: the int column ``v`` on rle, dict, for and
raw+zstd, the string column ``s`` on dict and fsst.  Nulls sit in some
blocks only (a block with a validity bitmap leaves the run and
dictionary tiers), and a merge-on-read delete touches two blocks,
empties a third and leaves the rest on their compressed path."""

from __future__ import annotations

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
    numeric_stats,
    sum_by_value,
    topk_below_decode,
)
from pyrle_spark.plans.encode_job import EncodeConfig, delete_rows, encode_table
from tests.conftest import spark_jobs

BR = 512
N = 4096  # 8 blocks
WORDS = ["ab", "abc", "b", "ba", "cab"]
DELETED = sorted(
    set(range(BR + 5, 2 * BR, 13))  # block 1: some rows
    | set(range(4 * BR, 5 * BR))  # block 4: every row
    | {6 * BR + 1, 6 * BR + 2}  # block 6: two rows
)
PINS = [("rle", "dict"), ("dict", "fsst"), ("for", "dict"), ("raw+zstd", "fsst")]


def _source(spark):
    i = F.col("id")
    blk = (i / BR).cast("long")
    v = ((i / 37).cast("long") % 23) * 3 - 10
    word = F.element_at(
        F.array(*[F.lit(w) for w in WORDS]), ((i / 41).cast("long") % 5 + 1).cast("int")
    )
    s = F.concat(word, ((i / 11).cast("long") % 13).cast("string"))
    return spark.range(0, N, 1, 4).select(
        i.alias("doc_seq"),
        i.alias("rid"),
        F.when(blk.isin(2, 5) & (i % 7 == 0), None).otherwise(v).alias("v"),
        F.when(blk.isin(1, 6) & (i % 5 == 0), None).otherwise(s).alias("s"),
    )


@pytest.fixture(scope="module", params=PINS, ids=lambda p: f"v={p[0]}-s={p[1]}")
def table(spark, tmp_path_factory, request):
    v_codec, s_codec = request.param
    t = str(tmp_path_factory.mktemp("coracle") / "t")
    src = _source(spark)
    encode_table(
        spark, src, t,
        EncodeConfig(
            columns=["rid", "v", "s"], order_col="doc_seq", block_rows=BR,
            codec_overrides={"v": v_codec, "s": s_codec},
        ),
    )
    delete_rows(spark, t, DELETED)
    con = duckdb.connect()
    con.register("src_arrow", src.toArrow())
    con.execute(
        "CREATE TABLE src AS SELECT * FROM src_arrow "
        f"WHERE doc_seq NOT IN ({', '.join(map(str, DELETED))})"
    )
    return t, con


def _q(con, sql: str) -> list:
    return con.execute(sql).fetchall()


@pytest.mark.parametrize("col", ["v", "s"])
def test_count_by_value(spark, table, col):
    t, con = table
    got = {r["value"]: r["n_rows"] for r in count_by_value(spark, t, col).collect()}
    want = dict(_q(con, f"SELECT CAST({col} AS VARCHAR), count(*) FROM src GROUP BY 1"))
    assert got == want


@pytest.mark.parametrize("col", ["v", "s"])
def test_distinct_values(spark, table, col):
    t, con = table
    got = sorted(
        (r["value"] for r in distinct_values(spark, t, col).collect()),
        key=lambda x: (x is None, x),
    )
    want = sorted(
        (r[0] for r in _q(con, f"SELECT DISTINCT CAST({col} AS VARCHAR) FROM src")),
        key=lambda x: (x is None, x),
    )
    assert got == want


def test_numeric_stats(spark, table):
    t, con = table
    r = numeric_stats(spark, t, "v").first()
    n, s, lo, hi = _q(con, "SELECT count(v), sum(v), min(v), max(v) FROM src")[0]
    assert (r["n_rows"], r["sum_value"], r["min_value"], r["max_value"]) == (
        n, float(s), float(lo), float(hi),
    )


@pytest.mark.parametrize("lo,hi", [(-4, 20), (None, 5), (30, None), (100, 200)])
def test_filtered_numeric_agg(spark, table, lo, hi):
    t, con = table
    r = filtered_numeric_agg(spark, t, "v", lo, hi).first()
    where = " AND ".join(
        [f"v >= {lo}"] * (lo is not None) + [f"v <= {hi}"] * (hi is not None)
    )
    n, s = _q(con, f"SELECT count(*), sum(v) FROM src WHERE {where}")[0]
    assert r["n_match"] == n
    assert (r["sum_match"] or 0.0) == float(s or 0)


def test_sum_by_value(spark, table):
    t, con = table
    got = {
        r["value"]: (r["n_rows"], r["sum_value"])
        for r in sum_by_value(spark, t, "s", "v").collect()
    }
    want = {
        k: (n, float(s))
        for k, n, s in _q(
            con,
            "SELECT s, count(*), sum(v) FROM src "
            "WHERE s IS NOT NULL AND v IS NOT NULL GROUP BY s",
        )
    }
    assert got == want


@pytest.mark.parametrize(
    "col,value", [("v", 5), ("v", -10), ("v", 999), ("s", "ab3"), ("s", "zzz")]
)
def test_count_where_eq(spark, table, col, value):
    t, con = table
    got = count_where_eq(spark, t, col, value).first()["n_match"]
    want = con.execute(
        f"SELECT count(*) FROM src WHERE {col} = ?", [value]
    ).fetchone()[0]
    assert got == want


@pytest.mark.parametrize(
    "col,values", [("v", [5, -10, 999]), ("s", ["ab3", "cab0", "nope"])]
)
def test_count_where_in(spark, table, col, values):
    t, con = table
    got = {
        r["value"]: r["n_rows"] for r in count_where_in(spark, t, col, values).collect()
    }
    want = dict(
        con.execute(
            f"SELECT CAST({col} AS VARCHAR), count(*) FROM src "
            f"WHERE {col} IN ({', '.join('?' * len(values))}) GROUP BY 1",
            values,
        ).fetchall()
    )
    assert got == want


@pytest.mark.parametrize("prefix", ["ab", "ca", "b1", "", "zz"])
def test_count_where_prefix(spark, table, prefix):
    t, con = table
    got = count_where_prefix(spark, t, "s", prefix).first()["n_match"]
    want = con.execute(
        "SELECT count(*) FROM src WHERE starts_with(s, ?)", [prefix]
    ).fetchone()[0]
    assert got == want


@pytest.mark.parametrize("sub", ["b", "ab", "a1", "zz"])
def test_count_where_contains(spark, table, sub):
    t, con = table
    got = count_where_contains(spark, t, "s", sub).first()["n_match"]
    want = con.execute(
        "SELECT count(*) FROM src WHERE contains(s, ?)", [sub]
    ).fetchone()[0]
    assert got == want


@pytest.mark.parametrize("col", ["v", "s"])
def test_count_nulls(spark, table, col):
    t, con = table
    assert count_nulls(spark, t, col) == _q(
        con, f"SELECT count(*) - count({col}) FROM src"
    )[0][0]


@pytest.mark.parametrize("k", [5, 40, 300])
def test_topk_below_decode(spark, table, k):
    t, con = table
    got = [(r["rid"], r["v"]) for r in topk_below_decode(spark, t, "v", "rid", k).collect()]
    want = _q(
        con, f"SELECT rid, v FROM src ORDER BY v DESC NULLS LAST, rid LIMIT {k}"
    )
    assert got == want


@pytest.fixture(scope="module")
def ts_table(spark, tmp_path_factory):
    """A 2,048-row, 4-block table with a timestamp column ``ts``: ties
    across blocks, nulls in block 1, and a delete of the latest rows of
    block 3 (its zone still names them)."""
    i = F.col("id")
    sec = (i * 7919) % 601 + F.when(i >= 3 * BR, 300).otherwise(0)
    src = spark.range(0, 4 * BR, 1, 4).select(
        i.alias("doc_seq"),
        i.alias("rid"),
        F.when(((i / BR).cast("long") == 1) & (i % 3 == 0), None)
        .otherwise(F.timestamp_seconds(F.lit(1_700_000_000) + sec))
        .alias("ts"),
    )
    t = str(tmp_path_factory.mktemp("coracle_ts") / "t")
    encode_table(
        spark, src, t,
        EncodeConfig(columns=["rid", "ts"], order_col="doc_seq", block_rows=BR),
    )
    late = [
        r["rid"]
        for r in src.filter(i >= 3 * BR).orderBy(F.col("ts").desc()).limit(40).collect()
    ]
    delete_rows(spark, t, late)
    con = duckdb.connect()
    con.register("src_arrow", src.toArrow())
    con.execute(
        "CREATE TABLE src AS SELECT * FROM src_arrow "
        f"WHERE doc_seq NOT IN ({', '.join(map(str, late))})"
    )
    return t, con


@pytest.mark.parametrize("k", [1, 25, 700])
def test_topk_below_decode_timestamp(spark, ts_table, k):
    t, con = ts_table
    got = [
        (r["rid"], r["us"])
        for r in topk_below_decode(spark, t, "ts", "rid", k)
        .select("rid", F.unix_micros("ts").alias("us"))
        .collect()
    ]
    want = _q(
        con,
        f"SELECT rid, epoch_us(ts) FROM src ORDER BY ts DESC NULLS LAST, rid LIMIT {k}",
    )
    assert got == want


@pytest.mark.parametrize("fn", [count_where_prefix, count_where_contains])
@pytest.mark.parametrize("col", ["v", "rid"])
def test_string_predicate_on_non_string_refused(spark, table, fn, col):
    """A string predicate on an int column is refused in the driver, with
    the column and its type named, before any Spark job."""
    t, _ = table
    refused, jobs = spark_jobs(
        spark, lambda: pytest.raises(TypeError, fn, spark, t, col, "12")
    )
    refused.match(f"{fn.__name__}: column '{col}' is int64, not a string column")
    assert jobs == 0
