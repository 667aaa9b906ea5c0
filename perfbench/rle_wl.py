"""The ``rle_algebra`` workload: pyrle semantics on ``RleFrame``.

Two seeded interval tables A and B (the FIXTURES.md section 3 layout:
25 chromosome keys, Start in [1, 1e7], length in [1, 1e4]) and a seeded
set of query ranges Q.  Each iteration builds ``coverage(A) + coverage(B)``,
extracts Q with ``getitems`` and decodes the sum with ``to_ranges``.  The
expected coverage is computed from the same tables with DuckDB.
"""

from __future__ import annotations

import os
import statistics
import time

import duckdb
import numpy as np
import pandas as pd

N_INTERVALS = 30_000
N_QUERIES = 10_000
N_SAMPLE_KEYS = 2
CHROMS = [f"chr{i}" for i in range(1, 23)] + ["chrX", "chrY", "chrM"]


def intervals(rng: np.random.Generator, n: int) -> pd.DataFrame:
    start = rng.integers(1, 10**7 + 1, n)
    return pd.DataFrame(
        {
            "Chromosome": np.array(CHROMS)[rng.integers(0, len(CHROMS), n)],
            "Start": start,
            "End": start + rng.integers(1, 10**4 + 1, n),
        }
    )


def queries(rng: np.random.Generator, n: int) -> pd.DataFrame:
    start = rng.integers(0, 10**7, n)
    return pd.DataFrame(
        {
            "Chromosome": np.array(CHROMS)[rng.integers(0, len(CHROMS), n)],
            "Start": start,
            "End": start + rng.integers(1, 10**5 + 1, n),
            "ID": np.arange(n, dtype=np.int64),
        }
    )


def nonzero_segments(starts, ends, vals):
    """Maximal runs of equal non-zero value as (start, end, value) arrays,
    given contiguous segments sorted by start."""
    starts, ends, vals = map(np.asarray, (starts, ends, vals))
    if len(vals) == 0:
        return starts, ends, vals.astype(np.float64)
    new = np.ones(len(vals), dtype=bool)
    new[1:] = (vals[1:] != vals[:-1]) | (starts[1:] != ends[:-1])
    grp = np.cumsum(new) - 1
    s = starts[new]
    e = np.zeros(len(s), dtype=np.int64)
    np.maximum.at(e, grp, ends)
    v = vals[new].astype(np.float64)
    keep = v != 0
    return s[keep], e[keep], v[keep]


def coverage_integral(s, e, v, x):
    """Integral of the step function given by disjoint sorted segments
    ``[s, e)`` with values ``v`` over ``[0, x)``, for each ``x``."""
    before = np.concatenate([[0.0], np.cumsum((e - s) * v)])
    i = np.searchsorted(s, x, side="left")
    j = np.maximum(i - 1, 0)
    return np.where(i > 0, before[j] + (np.minimum(x, e[j]) - s[j]) * v[j], 0.0)


def rle_segments(runs, values):
    ends = np.cumsum(np.asarray(runs, dtype=np.int64))
    return nonzero_segments(ends - np.asarray(runs, dtype=np.int64), ends, values)


class RleAlgebra:
    name = "rle_algebra"

    def __init__(self, ctx):
        self.ctx = ctx

    def check(self, ok: bool, what: str) -> None:
        self.ctx.check(ok, f"{self.name}: {what}")

    def prepare(self):
        ctx = self.ctx
        t0 = time.perf_counter()
        rng = np.random.default_rng(ctx.seed)
        self.a_pd = intervals(rng, N_INTERVALS)
        self.b_pd = intervals(rng, N_INTERVALS)
        self.q_pd = queries(rng, N_QUERIES)
        self.sample_keys = sorted(
            rng.choice(CHROMS, N_SAMPLE_KEYS, replace=False).tolist()
        )
        self.generate_s = time.perf_counter() - t0
        self.A = ctx.spark.createDataFrame(self.a_pd)
        self.B = ctx.spark.createDataFrame(self.b_pd)
        self.Q = ctx.spark.createDataFrame(self.q_pd)
        self._oracle()
        self.input_bytes = sum(
            int(df["Chromosome"].str.len().sum()) + 16 * len(df)
            for df in (self.a_pd, self.b_pd)
        )
        self.prepare_s = time.perf_counter() - t0
        return self

    def _oracle(self) -> None:
        con = duckdb.connect(
            config={"temp_directory": os.path.join(self.ctx.work, "tmp")}
        )
        con.register("a", self.a_pd)
        con.register("b", self.b_pd)
        seg = con.sql(
            """
            WITH ev AS (
                SELECT Chromosome k, Start pos, 1 d FROM a
                UNION ALL SELECT Chromosome, "End", -1 FROM a
                UNION ALL SELECT Chromosome, Start, 1 FROM b
                UNION ALL SELECT Chromosome, "End", -1 FROM b),
            agg AS (SELECT k, pos, sum(d) d FROM ev GROUP BY k, pos),
            cum AS (
                SELECT k, pos,
                       sum(d) OVER (PARTITION BY k ORDER BY pos) v,
                       lead(pos) OVER (PARTITION BY k ORDER BY pos) nxt
                FROM agg)
            SELECT k, pos, nxt, v FROM cum WHERE nxt IS NOT NULL ORDER BY k, pos
            """
        ).df()
        con.close()
        self.expect_keys = {}
        getitems_runs = getitems_int = total_length = 0
        n_ranges = 0
        integral = 0.0
        for k, g in seg.groupby("k", sort=True):
            s, e, v = nonzero_segments(
                g["pos"].to_numpy(np.int64), g["nxt"].to_numpy(np.int64),
                g["v"].to_numpy(np.float64),
            )
            n_ranges += len(s)
            integral += float(np.sum((e - s) * v))
            if k in self.sample_keys:
                self.expect_keys[k] = (s, e, v)
            # getitems over [0, length): run lengths clip at the key's end,
            # values integrate the coverage over each query
            q = self.q_pd[self.q_pd["Chromosome"] == k]
            length = int(e[-1])
            total_length += length
            qs = np.minimum(q["Start"].to_numpy(np.int64), length)
            qe = np.minimum(q["End"].to_numpy(np.int64), length)
            getitems_runs += int(np.maximum(qe - qs, 0).sum())
            getitems_int += float(np.sum(
                coverage_integral(s, e, v, qe) - coverage_integral(s, e, v, qs)
            ))
        self.expect = {
            "length": total_length,
            "getitems": (getitems_runs, getitems_int),
            "to_ranges": (n_ranges, integral),
        }

    def corrupt(self) -> None:
        n, i = self.expect["to_ranges"]
        self.expect["to_ranges"] = (n + 1, i)

    def run_pipeline(self, timed: bool) -> float:
        from pyspark.sql import functions as F

        from pyrle_spark.operators.rleframe import RleFrame

        ctx, total = self.ctx, 0.0
        with ctx.op("rle_add", "operators", timed=timed) as rec:
            c = RleFrame.from_intervals(self.A) + RleFrame.from_intervals(self.B)
            sample = F.col("Chromosome").isin(self.sample_keys)
            rows = c.df.select(
                "Chromosome",
                F.size("runs").alias("n"),
                F.aggregate("runs", F.lit(0).cast("long"), lambda a, x: a + x).alias("len"),
                F.when(sample, F.col("runs")).alias("runs"),
                F.when(sample, F.col("values")).alias("values"),
            ).collect()
        total += rec["s"]
        self.runs_out = sum(r["n"] for r in rows)
        self.dense_positions = sum(r["len"] for r in rows)
        self.check(self.dense_positions == self.expect["length"],
                   f"add length {self.dense_positions}")
        self.check(len(rows) == len(CHROMS), f"add keys {len(rows)}")
        got = {r["Chromosome"]: rle_segments(r["runs"], r["values"])
               for r in rows if r["runs"] is not None}
        for k, (s, e, v) in self.expect_keys.items():
            gs, ge, gv = got.get(k, ([], [], []))
            self.check(
                np.array_equal(gs, s) and np.array_equal(ge, e) and np.array_equal(gv, v),
                f"coverage of {k}",
            )
        with ctx.op("rle_getitems", "operators", timed=timed) as rec:
            g = c.getitems(self.Q).agg(
                F.sum("Run"), F.sum(F.col("Run") * F.col("Value"))
            ).collect()[0]
        total += rec["s"]
        self.check((int(g[0] or 0), float(g[1] or 0.0)) == self.expect["getitems"],
                   f"getitems {tuple(g)} != {self.expect['getitems']}")
        with ctx.op("rle_to_ranges", "operators", timed=timed) as rec:
            t = c.to_ranges().agg(
                F.count(F.lit(1)), F.sum((F.col("End") - F.col("Start")) * F.col("Score"))
            ).collect()[0]
        total += rec["s"]
        self.check((int(t[0]), float(t[1] or 0.0)) == self.expect["to_ranges"],
                   f"to_ranges {tuple(t)} != {self.expect['to_ranges']}")
        return total

    def warmup(self):
        self.run_pipeline(timed=False)

    def iteration(self, i: int) -> float:
        return self.run_pipeline(timed=True)

    def compression_ratio(self) -> float:
        # the pyrle storage model: one int64 run and one float64 value per
        # run stand for `length` dense float64 positions
        return self.dense_positions * 8 / (16 * self.runs_out)

    def probe_target(self) -> tuple:
        """This workload owns no encoded table: encode a small webtext
        sample so the codec and table probes still have one."""
        from pyrle_spark.plans.encode_job import encode_parquet_dir

        from perfbench.webtext_wl import BLOCK_ROWS, WebtextInputs, encode_config

        inp = WebtextInputs(self.ctx, "probe", n_rows=2 * BLOCK_ROWS)
        table_dir = os.path.join(self.ctx.work, "probe-table")
        t0 = time.perf_counter()
        with self.ctx.tr.span("encode_parquet_dir", "plans"):
            summary = encode_parquet_dir(
                self.ctx.spark, inp.src, table_dir, encode_config(), files=inp.files
            )
        return summary, time.perf_counter() - t0, inp.files, table_dir, inp.predicates()

    def detail(self, samples: dict) -> dict:
        it = statistics.median(samples["iter"])
        return {"rle_op_s": it, "input_mbps": self.input_bytes / 1e6 / it}
