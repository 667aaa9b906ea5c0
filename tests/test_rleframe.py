"""RleFrame (distributed) vs RleDict (driver-side compat) differentials:
both layers share the kernels, so results must match exactly."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyrle_spark.operators.rleframe import RleFrame
from pyrle_spark.rle import Rle
from pyrle_spark.rledict import RleDict
from tests.conftest import local_relation, spark_jobs


def _intervals_pdf(seed=0, n=200, chroms=("chr1", "chr2", "chr3")):
    rng = np.random.default_rng(seed)
    starts = rng.integers(0, 1000, n)
    return pd.DataFrame(
        {
            "Chromosome": rng.choice(chroms, n),
            "Start": starts,
            "End": starts + rng.integers(1, 200, n),
        }
    )


@pytest.fixture(scope="module")
def interval_frames(spark):
    p1, p2 = _intervals_pdf(1), _intervals_pdf(2)
    return (p1, p2, spark.createDataFrame(p1), spark.createDataFrame(p2))


def test_coverage_matches_rledict(spark, interval_frames):
    p1, _, d1, _ = interval_frames
    rf = RleFrame.from_intervals(d1)
    rd = rf.to_rledict()
    expected = RleDict(p1)
    assert rd == expected


@pytest.mark.parametrize("block_positions", [None, 4])
def test_value_col_coverage_matches_rledict(spark, block_positions):
    """Weighted coverage with events that coincide (one interval ends
    where another starts, shared Starts, duplicate intervals) sums them
    per position like the RleDict oracle.  The weights are exact binary
    fractions, so the result does not depend on summation order."""
    pdf = pd.DataFrame(
        {
            "Chromosome": ["chr1"] * 7 + ["chr2"] * 3,
            "Start": [0, 0, 5, 5, 3, 10, 10, 2, 2, 9],
            "End": [5, 5, 10, 8, 5, 12, 12, 9, 9, 11],
            "Score": [1.5, 1.5, 3.0, 0.25, -2.0, 2.0, 2.0, 0.5, 0.5, -1.0],
        }
    )
    rf = RleFrame.from_intervals(
        spark.createDataFrame(pdf),
        value_col="Score",
        block_positions=block_positions,
    )
    assert rf.unchunk().to_rledict() == RleDict(pdf, value_col="Score")


@pytest.mark.parametrize("block_positions", [None, 4])
@pytest.mark.parametrize("col", ["Start", "End"])
def test_null_position_refused(spark, col, block_positions):
    rows = {"Chromosome": "chr1", "Start": 2, "End": 6}
    bad = {**rows, col: None}
    df = spark.createDataFrame(
        [tuple(rows.values()), tuple(bad.values())],
        "Chromosome string, Start long, End long",
    )
    rf = RleFrame.from_intervals(df, block_positions=block_positions)
    # the blocked plan surfaces the task failure as a raw Py4JJavaError
    with pytest.raises(Exception, match=f"null in column '{col}'"):
        rf.to_rledict()


def test_job_counts_pinned(spark, interval_frames):
    """Each op is one key-grouped pass: the sum is computed once, at
    ``+`` (an eager checkpoint), and later actions read it.  ``+`` of two
    fresh coverages is one cogroup pass — a shuffle-map job per side and
    the checkpointed result — with both coverages built in its task."""
    _, _, d1, d2 = interval_frames
    queries = spark.createDataFrame(
        pd.DataFrame(
            {
                "Chromosome": ["chr1", "chr2"],
                "Start": [0, 50],
                "End": [50, 60],
                "ID": [0, 1],
            }
        )
    )
    c, add = spark_jobs(
        spark, lambda: RleFrame.from_intervals(d1) + RleFrame.from_intervals(d2)
    )
    _, getitems = spark_jobs(spark, lambda: c.getitems(queries).collect())
    _, to_ranges = spark_jobs(spark, lambda: c.to_ranges().collect())
    assert (add, getitems, to_ranges) == (3, 3, 1)


def test_job_counts_pinned_rdd_inputs(spark):
    """The same counts when the pandas inputs pass the session's
    local-relation threshold and arrive as Arrow-batch RDDs, and the sum
    still equals the RleDict oracle."""
    p1, p2 = _intervals_pdf(11, n=4_000), _intervals_pdf(12, n=4_000)
    d1, d2 = spark.createDataFrame(p1), spark.createDataFrame(p2)
    queries = spark.createDataFrame(
        _intervals_pdf(13, n=3_000).assign(ID=range(3_000))
    )
    assert not any(local_relation(df) for df in (d1, d2, queries))
    c, add = spark_jobs(
        spark, lambda: RleFrame.from_intervals(d1) + RleFrame.from_intervals(d2)
    )
    _, getitems = spark_jobs(spark, lambda: c.getitems(queries).collect())
    _, to_ranges = spark_jobs(spark, lambda: c.to_ranges().collect())
    assert (add, getitems, to_ranges) == (3, 3, 1)
    assert c.to_rledict() == RleDict(p1)._binary(RleDict(p2), "add")


def test_nan_values_stay_nan(spark):
    """A NaN value stays NaN, not null, on the Spark side through the
    row-local ops, both binary layouts, rechunk and getlocs; a null list
    element would turn the array sums of ``stats()`` into null."""
    rd = RleDict(
        {"chr1": Rle([2, 3, 4], [1.0, np.nan, 2.0]), "chr2": Rle([5], [3.0])}
    )
    f = RleFrame.from_rledict(spark, rd)
    frames = {
        "apply_values": f + 1.0,
        "binary": f + f,
        "rowwise": f.shift(1),
        "rechunk": f.rechunk(4),
        "blocked_binary": f.rechunk(4) + f.rechunk(4),
    }
    for name, g in frames.items():
        vals = [v for r in g.df.select("values").collect() for v in r["values"]]
        assert None not in vals and any(np.isnan(v) for v in vals), name
        st = g.stats().filter("Chromosome = 'chr1'").first()
        assert st["mean_quirk"] is not None and np.isnan(st["mean_quirk"]), name
    loc = f.getlocs([3]).filter("Chromosome = 'chr1'").first()["value"]
    assert loc is not None and np.isnan(loc)


@pytest.mark.parametrize("op", ["add", "sub", "mul", "div"])
def test_binary_ops_match_rledict(spark, interval_frames, op):
    p1, p2, d1, d2 = interval_frames
    rf = RleFrame.from_intervals(d1)._apply_or_binary(
        RleFrame.from_intervals(d2), op
    )
    expected = RleDict(p1)._binary(RleDict(p2), op)
    assert rf.to_rledict() == expected


def _weighted_pdfs():
    """Two weighted interval tables: chr1 only in A, chr3 only in B, chr2
    in both.  Negative weights, shared Starts, an End that meets a Start
    and positions that coincide across the two tables; the weights are
    exact binary fractions, so sums do not depend on their order."""
    a = pd.DataFrame(
        {
            "Chromosome": ["chr1"] * 3 + ["chr2"] * 5,
            "Start": [0, 0, 4, 1, 1, 6, 6, 12],
            "End": [4, 6, 9, 6, 9, 12, 8, 15],
            "Score": [1.5, -0.5, 2.0, 3.0, -3.0, 0.25, -1.25, 4.0],
        }
    )
    b = pd.DataFrame(
        {
            "Chromosome": ["chr2"] * 4 + ["chr3"] * 2,
            "Start": [1, 6, 9, 3, 2, 2],
            "End": [6, 9, 20, 3, 7, 5],
            "Score": [-1.5, 2.5, 0.75, 8.0, -2.0, 0.5],
        }
    )
    return a, b


_MIX_OPS = {
    "add": lambda x, y: x + y,
    "sub": lambda x, y: x - y,
    "mul": lambda x, y: x * y,
    "div": lambda x, y: x / y,
    "eq": lambda x, y: x == y,
    "ne": lambda x, y: x != y,
    "lt": lambda x, y: x < y,
}


def _oracle(rd_a: RleDict, rd_b: RleDict, op: str) -> RleDict:
    """Per-key ``op`` of the two oracle dicts; a key on one side only
    meets a zero-Rle of its length (methods.py:104-111)."""
    from pyrle_spark.rledict import _zero_rle_like

    fn = _MIX_OPS[op]
    out = {}
    for kk in set(rd_a.keys()) | set(rd_b.keys()):
        x = rd_a[kk] if kk in rd_a else _zero_rle_like(rd_b[kk])
        y = rd_b[kk] if kk in rd_b else _zero_rle_like(rd_a[kk])
        out[kk] = fn(x, y)
    return RleDict(out)


@pytest.mark.parametrize("op", list(_MIX_OPS))
@pytest.mark.parametrize(
    "mix", ["events+events", "events+rledict", "rledict+events", "events+sum"]
)
def test_binary_operand_mixes_match_rledict(spark, mix, op):
    """Unblocked binary ops over every mix of operand kinds — a fresh
    ``from_intervals`` coverage, a ``from_rledict`` frame and a
    checkpointed sum — against the ``RleDict`` oracle, with weighted
    events and keys present on one side only."""
    pa_, pb_ = _weighted_pdfs()
    rd_a = RleDict(pa_, value_col="Score")
    rd_b = RleDict(pb_, value_col="Score")
    half = len(pb_) // 2
    rd_b1 = RleDict(pb_.iloc[:half], value_col="Score")
    rd_b2 = RleDict(pb_.iloc[half:], value_col="Score")

    def events(pdf):
        return RleFrame.from_intervals(spark.createDataFrame(pdf), value_col="Score")

    left_kind, right_kind = mix.split("+")
    left = events(pa_) if left_kind == "events" else RleFrame.from_rledict(spark, rd_a)
    if right_kind == "events":
        right = events(pb_)
    elif right_kind == "rledict":
        right = RleFrame.from_rledict(spark, rd_b)
    else:
        right = events(pb_.iloc[:half]) + events(pb_.iloc[half:])
        rd_b = rd_b1 + rd_b2
    got = _MIX_OPS[op](left, right).to_rledict()
    assert got == _oracle(rd_a, rd_b, op), (mix, op)


@pytest.mark.parametrize("col", ["Start", "End"])
def test_null_position_refused_in_binary_op(spark, col):
    rows = {"Chromosome": "chr1", "Start": 2, "End": 6}
    bad = {**rows, col: None}
    schema = "Chromosome string, Start long, End long"
    df_bad = spark.createDataFrame([tuple(rows.values()), tuple(bad.values())], schema)
    df_ok = spark.createDataFrame([tuple(rows.values())], schema)
    with pytest.raises(Exception, match=f"null in column '{col}'"):
        (RleFrame.from_intervals(df_ok) + RleFrame.from_intervals(df_bad)).to_rledict()


def test_missing_keys_full_outer(spark):
    d1 = spark.createDataFrame(
        pd.DataFrame({"Chromosome": ["chrA"] * 3, "Start": [0, 5, 8], "End": [4, 9, 12]})
    )
    d2 = spark.createDataFrame(
        pd.DataFrame({"Chromosome": ["chrB"] * 2, "Start": [1, 2], "End": [6, 7]})
    )
    out = (RleFrame.from_intervals(d1) + RleFrame.from_intervals(d2)).to_rledict()
    assert set(out.keys()) == {"chrA", "chrB"}


def test_scalar_ops(spark, interval_frames):
    p1, _, d1, _ = interval_frames
    rf = (RleFrame.from_intervals(d1) * 2.0).to_rledict()
    expected = RleDict(p1) * 2.0
    assert rf == expected


def test_to_ranges_matches_rledict(spark, interval_frames):
    p1, _, d1, _ = interval_frames
    got = (
        RleFrame.from_intervals(d1)
        .to_ranges()
        .toPandas()
        .sort_values(["Chromosome", "Start"])
        .reset_index(drop=True)
    )
    exp = (
        RleDict(p1)
        .to_ranges()
        .sort_values(["Chromosome", "Start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got.astype({"Start": "int64", "End": "int64"}),
        exp.astype({"Start": "int64", "End": "int64"}),
        check_dtype=False,
    )


def test_getitems_matches_rle(spark, interval_frames):
    p1, _, d1, _ = interval_frames
    rf = RleFrame.from_intervals(d1)
    queries = pd.DataFrame(
        {
            "Chromosome": ["chr1", "chr1", "chr2"],
            "Start": [0, 100, 50],
            "End": [50, 300, 60],
            "ID": [0, 1, 2],
        }
    )
    got = (
        rf.getitems(spark.createDataFrame(queries))
        .toPandas()
        .sort_values(["ID", "Start", "Value"])
        .reset_index(drop=True)
    )
    rd = RleDict(p1)
    exp_frames = []
    for chrom, sub in queries.groupby("Chromosome"):
        res = rd[chrom][sub[["Start", "End"]].reset_index(drop=True)]
        res["ID"] = sub["ID"].to_numpy()[res["ID"]]
        res["Chromosome"] = chrom
        exp_frames.append(res)
    exp = (
        pd.concat(exp_frames)[["Chromosome", "Start", "End", "ID", "Run", "Value"]]
        .sort_values(["ID", "Start", "Value"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_stats_quirks(spark):
    rf = RleFrame.from_rledict(
        spark, RleDict({"chr1": Rle([1, 2, 1], [1, 2, 3])})
    )
    row = rf.stats().collect()[0]
    assert row["length"] == 4
    assert row["mean_quirk"] == 1.5  # sum(values)/length (rle.py:945-959)
    assert row["weighted_mean"] == 2.0
