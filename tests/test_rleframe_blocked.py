"""Blocked RleFrame: (key, block_id) chunking with edge stitching must be
byte-identical to the unblocked path — the chunking is a physical layout
change, never a semantic one.  Also pins the distributed apply family
(apply_values / apply_runs / apply / __array_ufunc__) against the
driver-compat RleDict layer, including the reference's quirks."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyrle_spark.operators.rleframe import RleFrame, _split_blocks
from pyrle_spark.rledict import RleDict

BLOCK = 64  # positions per block: small so every key spans many blocks


def _intervals_pdf(seed=0, n=200, chroms=("chr1", "chr2")):
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
def frames(spark):
    p1, p2 = _intervals_pdf(11), _intervals_pdf(22)
    f1 = RleFrame.from_intervals(spark.createDataFrame(p1))
    f2 = RleFrame.from_intervals(spark.createDataFrame(p2))
    return p1, p2, f1, f2


def _assert_same_rledict(a: RleDict, b: RleDict):
    assert set(a.keys()) == set(b.keys())
    for kk in a.keys():
        ra, rb = a[kk], b[kk]
        np.testing.assert_array_equal(ra.runs, rb.runs, err_msg=str(kk))
        np.testing.assert_array_equal(ra.values, rb.values, err_msg=str(kk))


# --------------------------------------------------------------- round trip


def test_split_blocks_kernel():
    runs = np.array([10, 100, 5], dtype=np.int64)
    values = np.array([1.0, 2.0, 3.0])
    blocks = list(_split_blocks(runs, values, 64))
    assert [b[0] for b in blocks] == [0, 1]
    np.testing.assert_array_equal(blocks[0][1], [10, 54])  # run 2 split at 64
    np.testing.assert_array_equal(blocks[0][2], [1.0, 2.0])
    np.testing.assert_array_equal(blocks[1][1], [46, 5])
    np.testing.assert_array_equal(blocks[1][2], [2.0, 3.0])
    # spans tile exactly
    assert sum(blocks[0][1]) == 64 and sum(blocks[1][1]) == 51


def test_rechunk_unchunk_roundtrip_byte_identical(frames):
    _, _, f1, _ = frames
    blocked = f1.rechunk(BLOCK)
    assert blocked.blocked and blocked.block_positions == BLOCK
    # every key really spans multiple blocks at this BLOCK size
    n_blocks = blocked.df.groupBy("Chromosome").count().collect()
    assert all(r["count"] > 1 for r in n_blocks)
    _assert_same_rledict(blocked.unchunk().to_rledict(), f1.to_rledict())


def test_block_spans_are_fixed(frames):
    _, _, f1, _ = frames
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    blocked = f1.rechunk(BLOCK)
    spans = blocked.df.select(
        "Chromosome",
        "block_id",
        F.aggregate("runs", F.lit(0).cast("long"), lambda a, x: a + x).alias("span"),
        F.max("block_id").over(Window.partitionBy("Chromosome")).alias("max_b"),
    ).collect()
    for r in spans:
        if r["block_id"] < r["max_b"]:
            assert r["span"] == BLOCK, (r["Chromosome"], r["block_id"])
        else:
            assert 0 < r["span"] <= BLOCK


def test_blocked_construction_matches_unblocked(spark, frames):
    """from_intervals(block_positions=B) builds the blocked layout
    directly — no task ever holds a whole key — and must equal the
    whole-key construction byte-for-byte after unchunk, and the
    rechunk-of-unblocked layout block-for-block."""
    p1, _, f1, _ = frames
    blocked = RleFrame.from_intervals(
        spark.createDataFrame(p1), block_positions=BLOCK
    )
    assert blocked.blocked and blocked.block_positions == BLOCK
    _assert_same_rledict(blocked.unchunk().to_rledict(), f1.to_rledict())
    # block-level identity against the rechunk path (same spans, same
    # per-block runs): compare via pandas on (key, block_id)
    import pandas as pd

    got = blocked.df.toPandas().sort_values(["Chromosome", "block_id"])
    want = f1.rechunk(BLOCK).df.toPandas().sort_values(["Chromosome", "block_id"])
    assert list(got["block_id"]) == list(want["block_id"])
    for (_, g), (_, w) in zip(got.iterrows(), want.iterrows()):
        np.testing.assert_array_equal(np.asarray(g["runs"]), np.asarray(w["runs"]))
        np.testing.assert_array_equal(
            np.asarray(g["values"]), np.asarray(w["values"])
        )


def test_blocked_construction_binary_end_to_end(spark, frames):
    """Construct blocked on both sides, add, unchunk — equals the fully
    unblocked pipeline."""
    p1, p2, f1, f2 = frames
    a = RleFrame.from_intervals(spark.createDataFrame(p1), block_positions=BLOCK)
    b = RleFrame.from_intervals(spark.createDataFrame(p2), block_positions=BLOCK)
    got = (a + b).unchunk().to_rledict()
    want = (f1 + f2).to_rledict()
    _assert_same_rledict(got, want)


# --------------------------------------------------------------- binary ops


@pytest.mark.parametrize("op", ["add", "mul"])
def test_blocked_binary_matches_unblocked(frames, op):
    """Integer-valued coverage in/out: byte-identical across layouts."""
    _, _, f1, f2 = frames
    got = (
        f1.rechunk(BLOCK)
        ._apply_or_binary(f2.rechunk(BLOCK), op)
        .unchunk()
        .to_rledict()
    )
    want = f1._apply_or_binary(f2, op).to_rledict()
    _assert_same_rledict(got, want)


def test_blocked_div_matches_unblocked_runs_exact(frames):
    """div produces non-integer values, which trip the reference's
    normalize quirk (remove_dupes float32-casts non-first values behind
    an isclose gate — a GLOBAL stateful scan, so its cast granularity is
    layout-dependent by construction).  Run structure must still be
    byte-identical; values agree to float32 resolution."""
    _, _, f1, f2 = frames
    got = (f1.rechunk(BLOCK) / f2.rechunk(BLOCK)).unchunk().to_rledict()
    want = (f1 / f2).to_rledict()
    assert set(got.keys()) == set(want.keys())
    for kk in got.keys():
        np.testing.assert_array_equal(got[kk].runs, want[kk].runs, err_msg=str(kk))
        np.testing.assert_allclose(
            got[kk].values, want[kk].values, rtol=2e-7, equal_nan=True
        )


def test_blocked_compare_matches_unblocked(frames):
    """Comparison ops exercise the NaN tail-extension path: a missing
    block of a present key must extend with NaN (equalize rules), not 0."""
    _, _, f1, f2 = frames
    got = f1.rechunk(BLOCK).compare(f2.rechunk(BLOCK), "eq").unchunk().to_rledict()
    want = f1.compare(f2, "eq").to_rledict()
    _assert_same_rledict(got, want)


def test_blocked_binary_missing_key_zero_rle(spark):
    """A key missing ENTIRELY on one side is a zero-Rle (not NaN), same
    as the unblocked path (methods.py:104-111)."""
    d1 = spark.createDataFrame(
        pd.DataFrame(
            {"Chromosome": ["chrA"] * 3, "Start": [0, 50, 200], "End": [40, 190, 300]}
        )
    )
    d2 = spark.createDataFrame(
        pd.DataFrame({"Chromosome": ["chrB"] * 2, "Start": [1, 90], "End": [80, 170]})
    )
    f1, f2 = RleFrame.from_intervals(d1), RleFrame.from_intervals(d2)
    got = (f1.rechunk(BLOCK) + f2.rechunk(BLOCK)).unchunk().to_rledict()
    want = (f1 + f2).to_rledict()
    _assert_same_rledict(got, want)


def test_blocked_binary_unequal_lengths(spark):
    """Same key, very different lengths: one side's tail blocks are
    fully missing — arithmetic zero-extends, exactly like equalize."""
    d1 = spark.createDataFrame(
        pd.DataFrame({"Chromosome": ["c"] * 2, "Start": [0, 500], "End": [100, 900]})
    )
    d2 = spark.createDataFrame(
        pd.DataFrame({"Chromosome": ["c"], "Start": [10], "End": [60]})
    )
    f1, f2 = RleFrame.from_intervals(d1), RleFrame.from_intervals(d2)
    got = (f1.rechunk(BLOCK) + f2.rechunk(BLOCK)).unchunk().to_rledict()
    want = (f1 + f2).to_rledict()
    _assert_same_rledict(got, want)
    got_eq = f1.rechunk(BLOCK).compare(f2.rechunk(BLOCK), "eq").unchunk().to_rledict()
    want_eq = f1.compare(f2, "eq").to_rledict()
    _assert_same_rledict(got_eq, want_eq)


def test_blocked_layout_mismatch_raises(frames):
    _, _, f1, f2 = frames
    with pytest.raises(ValueError, match="matching layouts"):
        f1.rechunk(BLOCK)._binary(f2, "add")
    with pytest.raises(ValueError, match="matching layouts"):
        f1.rechunk(BLOCK)._binary(f2.rechunk(BLOCK * 2), "add")


# ------------------------------------------------------------ element ops


def test_blocked_apply_values_and_ranges(frames):
    _, _, f1, _ = frames
    blocked = f1.rechunk(BLOCK).apply_values(lambda v: v * 3.0)
    want = f1.apply_values(lambda v: v * 3.0)
    _assert_same_rledict(blocked.unchunk().to_rledict(), want.to_rledict())
    got_r = blocked.to_ranges().toPandas().sort_values(
        ["Chromosome", "Start"]
    ).reset_index(drop=True)
    want_r = want.to_ranges().toPandas().sort_values(
        ["Chromosome", "Start"]
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_r, want_r)


def test_blocked_to_ranges_matches_unblocked(spark, frames):
    _, _, f1, _ = frames
    nan = float("nan")
    # chrA: a zero-length run between equal values, then a NaN run across
    # the edge at 64; chrB: one value over four blocks; chrZ: all zero
    edge = RleFrame(
        spark.createDataFrame(
            [
                ("chrA", [3, 0, 4, 53, 10, 6], [7.0, 9.0, 7.0, 1.0, nan, 2.0]),
                ("chrB", [200], [5.0]),
                ("chrZ", [100], [0.0]),
            ],
            "Chromosome string, runs array<bigint>, values array<double>",
        ),
        ["Chromosome"],
    )
    one_side = RleFrame.from_intervals(
        spark.createDataFrame(
            pd.DataFrame(
                {"Chromosome": ["chr9"] * 2, "Start": [5, 60], "End": [70, 130]}
            )
        )
    )
    cases = [
        (f1.rechunk(BLOCK), f1),
        (edge.rechunk(BLOCK), edge),
        (f1.rechunk(BLOCK) + one_side.rechunk(BLOCK), f1 + one_side),
    ]

    def ranges(frame):
        return frame.to_ranges().toPandas().sort_values(
            ["Chromosome", "Start"]
        ).reset_index(drop=True)

    for blocked, unblocked in cases:
        pd.testing.assert_frame_equal(ranges(blocked), ranges(unblocked))
    expected = pd.DataFrame(
        {
            "Chromosome": ["chrA"] * 4 + ["chrB"],
            "Start": [0, 7, 60, 70, 0],
            "End": [7, 60, 70, 76, 200],
            "Score": [7.0, 1.0, nan, 2.0, 5.0],
        }
    )
    pd.testing.assert_frame_equal(ranges(edge), expected, check_dtype=False)


def test_blocked_stats_matches_unblocked(frames):
    _, _, f1, _ = frames
    got = f1.rechunk(BLOCK).stats().toPandas().sort_values("Chromosome").reset_index(
        drop=True
    )
    want = f1.stats().toPandas().sort_values("Chromosome").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_exact=False, rtol=1e-12)


def test_blocked_span_changing_ops_raise(frames):
    _, _, f1, _ = frames
    blocked = f1.rechunk(BLOCK)
    for call in (
        lambda: blocked.shift(3),
        lambda: blocked.apply_runs(lambda r: r * 2),
        lambda: blocked.apply(lambda rle: rle),
        lambda: blocked.getlocs([1, 2]),
    ):
        with pytest.raises(ValueError, match="unchunk"):
            call()


# ------------------------------------------------- apply family vs RleDict


def test_apply_runs_matches_rledict(spark, frames):
    p1, _, f1, _ = frames
    got = f1.apply_runs(lambda r: r * 2).to_rledict()
    want = RleDict(p1).apply_runs(lambda r: r * 2)
    _assert_same_rledict(got, want)


def test_apply_runs_int64_cast_quirk(spark, frames):
    """apply_runs casts the mapped runs to int64 even when the function
    returns floats (rledict.py:486-546)."""
    p1, _, f1, _ = frames
    got = f1.apply_runs(lambda r: r * 1.5).to_rledict()
    want = RleDict(p1).apply_runs(lambda r: r * 1.5)
    _assert_same_rledict(got, want)
    for kk in got.keys():
        assert got[kk].runs.dtype == np.int64


def test_apply_always_defragments_quirk(spark, frames):
    """RleDict.apply ALWAYS defragments (rledict.py:480) — a function
    that fragments runs comes back merged on both layers."""
    from pyrle_spark.rle import Rle

    p1, _, f1, _ = frames

    def fragment(rle):
        # split every run in two halves with the same value → adjacent
        # equal runs that only defragment re-merges
        runs = np.repeat(rle.runs, 2)
        runs[0::2] = rle.runs // 2
        runs[1::2] = rle.runs - rle.runs // 2
        out = Rle.__new__(Rle)
        out.runs = runs[runs > 0]
        out.values = np.repeat(rle.values, 2)[runs > 0]
        return out

    got = f1.apply(fragment).to_rledict()
    want = RleDict(p1).apply(fragment)
    _assert_same_rledict(got, want)


def test_array_ufunc_matches_rle_layer(spark, frames):
    """np.sqrt(frame) mirrors Rle.__array_ufunc__: values mapped, runs
    copied, NO defragment."""
    p1, _, f1, _ = frames
    got = np.sqrt(f1).to_rledict()
    want = RleDict({kk: np.sqrt(rle) for kk, rle in RleDict(p1).items()})
    _assert_same_rledict(got, want)
    # binary ufunc with scalar operand
    got2 = np.add(f1, 2.5).to_rledict()
    want2 = RleDict({kk: np.add(rle, 2.5) for kk, rle in RleDict(p1).items()})
    _assert_same_rledict(got2, want2)
    # blocked frames keep the values-only ufunc path
    got3 = np.sqrt(f1.rechunk(BLOCK)).unchunk().to_rledict()
    _assert_same_rledict(got3, want)


def test_ufunc_two_frames_not_implemented(frames):
    _, _, f1, f2 = frames
    with pytest.raises(TypeError):
        np.add(f1, f2)


def test_parquet_roundtrip_both_layouts(spark, frames, tmp_path):
    """write_parquet/read_parquet preserve both layouts byte-for-byte;
    a layout-parameter mismatch raises instead of mislabeling data."""
    _, _, f1, _ = frames
    p1 = str(tmp_path / "flat")
    f1.write_parquet(p1)
    back = RleFrame.read_parquet(spark, p1, key_cols=("Chromosome",))
    _assert_same_rledict(back.to_rledict(), f1.to_rledict())

    blocked = f1.rechunk(BLOCK)
    p2 = str(tmp_path / "blocked")
    blocked.write_parquet(p2)
    back_b = RleFrame.read_parquet(
        spark, p2, key_cols=("Chromosome",), block_positions=BLOCK
    )
    assert back_b.blocked
    _assert_same_rledict(back_b.unchunk().to_rledict(), f1.to_rledict())
    # binary ops work straight off the loaded blocked frame
    got = (back_b + back_b).unchunk().to_rledict()
    want = (f1 + f1).to_rledict()
    _assert_same_rledict(got, want)

    with pytest.raises(ValueError, match="layout mismatch"):
        RleFrame.read_parquet(spark, p1, key_cols=("Chromosome",), block_positions=BLOCK)
    with pytest.raises(ValueError, match="layout mismatch"):
        RleFrame.read_parquet(spark, p2, key_cols=("Chromosome",))
