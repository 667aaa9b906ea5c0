"""Differential coverage for `plans/compressed.group_sums_where` — the
r5 multi-measure filtered pair group-by — against a pandas recompute on
a seeded table with NULL keys, NULL measures, NULL filter values, and
merge-on-read deletes; plus the single-key mode and the
float-measure-raises contract."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from pyrle_spark.plans.compressed import group_sums_where
from pyrle_spark.plans.encode_job import (
    EncodeConfig,
    delete_rows,
    encode_table,
)
from pyrle_spark.sources.icetable import clone_table

N = 600


def _frame():
    """Seeded frame with nulls in keys, measures, and the filter col."""
    rng = np.arange(N, dtype=np.int64)
    ka = np.where(rng % 11 == 3, None, np.char.add("k", (rng % 4).astype(str)))
    kb = np.where(rng % 13 == 5, None, np.char.add("g", (rng % 3).astype(str)))
    m1 = np.where(rng % 7 == 2, None, (rng * 3) % 97)
    m2 = np.where(rng % 17 == 1, None, (rng * 5) % 41)
    f = np.where(rng % 19 == 4, None, rng % 50)
    return pd.DataFrame(
        {"doc_seq": rng, "ka": ka, "kb": kb, "m1": m1, "m2": m2, "f": f}
    )


@pytest.fixture(scope="module")
def encoded(spark, tmp_path_factory):
    t = str(tmp_path_factory.mktemp("gsw") / "t")
    pdf = _frame()
    df = spark.createDataFrame(pdf).select(
        "doc_seq",
        "ka",
        "kb",
        F.col("m1").cast("long").alias("m1"),
        F.col("m2").cast("long").alias("m2"),
        F.col("f").cast("long").alias("f"),
    )
    encode_table(
        spark,
        df,
        t,
        EncodeConfig(
            columns=["ka", "kb", "m1", "m2", "f"],
            order_col="doc_seq",
            block_rows=64,
        ),
    )
    return t, pdf


def _expected(pdf, lo, hi, single=False, deleted=()):
    rows = pdf[~pdf["doc_seq"].isin(list(deleted))]
    if lo is not None or hi is not None:
        fv = rows["f"]
        keep = fv.notna()
        if lo is not None:
            keep &= fv.ge(lo).fillna(False)
        if hi is not None:
            keep &= fv.le(hi).fillna(False)
        rows = rows[keep]
    out: dict = {}
    for _, r in rows.iterrows():
        key = (r["ka"], "_all" if single else r["kb"])
        n, s1, s2 = out.get(key, (0, 0, 0))
        out[key] = (
            n + 1,
            s1 + (0 if pd.isna(r["m1"]) else int(r["m1"])),
            s2 + (0 if pd.isna(r["m2"]) else int(r["m2"])),
        )
    return out


def _got(df):
    return {
        (r["value_a"], r["value_b"]): (
            r["n_rows"], r["sum_m1"], r["sum_m2"]
        )
        for r in df.collect()
    }


def test_pair_no_filter(spark, encoded):
    t, pdf = encoded
    got = _got(group_sums_where(spark, t, "ka", "kb", ["m1", "m2"]))
    assert got == _expected(pdf, None, None)


def test_pair_with_filter_all_tiers(spark, encoded):
    """Filter window chosen so blocks fall in all three tiers: fully
    outside (zone-pruned), fully inside (containment), straddling
    (codec mask) — block_rows=64 over f = doc_seq % 50 mixes them."""
    t, pdf = encoded
    got = _got(
        group_sums_where(spark, t, "ka", "kb", ["m1", "m2"],
                         filter_col="f", lo=10, hi=30)
    )
    assert got == _expected(pdf, 10, 30)


def test_single_key_mode(spark, encoded):
    t, pdf = encoded
    got = _got(
        group_sums_where(spark, t, "ka", None, ["m1", "m2"],
                         filter_col="f", hi=25)
    )
    assert got == _expected(pdf, None, 25, single=True)


def test_deletes_apply(spark, encoded, tmp_path):
    # deletes go to a shallow clone: the module-scoped table stays intact
    # for every other test, whatever order they run in
    src, pdf = encoded
    t = str(tmp_path / "clone")
    clone_table(src, t)
    doomed = list(range(0, N, 9))
    delete_rows(spark, t, doomed)
    got = _got(
        group_sums_where(spark, t, "ka", "kb", ["m1", "m2"],
                         filter_col="f", lo=5, hi=40)
    )
    assert got == _expected(pdf, 5, 40, deleted=doomed)


def test_float_measure_raises(spark, tmp_path):
    t = str(tmp_path / "tf")
    df = spark.range(0, 128, 1, 2).select(
        F.col("id").alias("doc_seq"),
        F.lit("a").alias("k"),
        (F.col("id") * 1.5).alias("m"),
    )
    encode_table(
        spark, df, t,
        EncodeConfig(columns=["k", "m"], order_col="doc_seq", block_rows=64),
    )
    with pytest.raises(Exception, match="integer measure"):
        group_sums_where(spark, t, "k", None, ["m"]).collect()
