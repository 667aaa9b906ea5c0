"""Per-layer numbers for the traced run.

Every number here is taken from outside the program: by timing the
benchmark's own calls into a layer's public functions, or by reading
counters those functions already return (the encode summary, the table
manifest, ``explain_scan``, Spark's status tracker).
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.webtext_wl import COLS, table_stats

CODECS = ["raw", "dict", "rle", "fsst", "bitpack", "for", "delta", "alp", "bss"]
SPARK_OPS = [
    "encode", "verify", "project", "filter", "point", "agg",
    "rle_add", "rle_getitems", "rle_to_ranges",
]
LAYERS = ["session", "sources", "codecs", "kernels", "plans", "operators", "bench"]
PROBE_BLOCKS = 2


def metric_names() -> list:
    """Every per-layer metric, in BENCHMARK.json order."""
    names = ["setup.jvm_s", "setup.generate_s", "setup.prepare_s", "setup.warmup_s",
             "encode_job.job_s", "encode_job.driver_s", "encode_job.codec_share",
             "encode_job.task_skew"]
    names += [f"encode_job.runs.{c}" for c in COLS]
    names += [f"codecs.encode_mbps.{c}" for c in COLS]
    names += [f"codecs.decode_mbps.{c}" for c in COLS]
    names += ["codecs.select_s"]
    names += [f"codecs.ratio.{c}" for c in COLS]
    names += [f"codecs.blocks.{c}" for c in CODECS] + ["codecs.blocks.zstd_wrapped"]
    names += ["plans.total_blocks", "plans.survivor_blocks.filter",
              "plans.survivor_blocks.point"]
    for kind in ("jobs", "stages", "tasks"):
        names += [f"spark.{kind}.{op}" for op in SPARK_OPS]
    names += ["icetable.read_table_s", "icetable.snapshots", "icetable.data_files",
              "icetable.delete_files", "icetable.metadata_bytes"]
    names += ["kernels.coverage_s", "kernels.binary_op_s", "kernels.getitems_s",
              "rleframe.runs_out"]
    names += [f"self_share.{layer}" for layer in LAYERS]
    names += ["trace.overhead_s", "trace.spans"]
    return names


def encode_job(summary: dict, call_s: float, slots: int) -> dict:
    job_s = summary["wall_s"]
    ns = [p["encode_ns"] for p in summary["partitions"]]
    out = {
        "encode_job.job_s": job_s,
        "encode_job.driver_s": call_s - job_s,
        "encode_job.codec_share": sum(ns) / 1e9 / (slots * job_s),
        "encode_job.task_skew": max(ns) / statistics.median(ns),
    }
    for c in COLS:
        out[f"encode_job.runs.{c}"] = sum(
            r["runs_emitted"] or 0 for r in summary["columns"] if r["column"] == c
        )
    return out


def codecs(tr, files: list) -> dict:
    """Encode, select and decode the first source blocks in-process."""
    from pyrle_spark.codecs import decode_array, encode_array
    from pyrle_spark.codecs.base import arrow_to_payload
    from pyrle_spark.codecs.selector import choose_fixed, choose_var, column_stats

    tbl = pa.concat_tables(pq.read_table(f, columns=COLS) for f in files[:PROBE_BLOCKS])
    out, select_s = {}, 0.0
    for c in COLS:
        arr = tbl.column(c).combine_chunks()
        nbytes = arr.nbytes
        t0 = time.perf_counter()
        with tr.span("encode_array", "codecs"):
            enc = encode_array(arr)
        t1 = time.perf_counter()
        with tr.span("decode_array", "codecs"):
            back = decode_array(enc)
        t2 = time.perf_counter()
        with tr.span("column_stats+choose", "codecs"):
            kind, payload, _ = arrow_to_payload(arr)
            stats = column_stats(kind, payload)
            if kind == "fixed":
                choose_fixed(stats, np.asarray(payload).dtype.kind)
            else:
                choose_var(stats)
        select_s += time.perf_counter() - t2
        if not back.equals(arr.cast(back.type)):
            raise AssertionError(f"codec round trip changed column {c}")
        out[f"codecs.encode_mbps.{c}"] = nbytes / 1e6 / (t1 - t0)
        out[f"codecs.decode_mbps.{c}"] = nbytes / 1e6 / (t2 - t1)
        out[f"codecs.ratio.{c}"] = nbytes / enc.nbytes
    out["codecs.select_s"] = select_s
    return out


def table(ctx, table_dir: str, predicates: dict) -> dict:
    from pyspark.sql import functions as F

    from pyrle_spark.plans.encode_job import explain_scan
    from pyrle_spark.sources.icetable import IceTable

    spark, tr = ctx.spark, ctx.tr
    t0 = time.perf_counter()
    with tr.span("read_table", "sources"):
        enc = IceTable(table_dir).read_table(spark)
    out = {"icetable.read_table_s": time.perf_counter() - t0}
    out.update(table_stats(table_dir))
    blocks = dict.fromkeys(CODECS, 0)
    wrapped = 0
    for codec, n in enc.groupBy("codec").agg(F.count(F.lit(1))).collect():
        base = codec.removesuffix("+zstd")
        blocks[base] = blocks.get(base, 0) + n
        wrapped += n if codec.endswith("+zstd") else 0
    out.update({f"codecs.blocks.{c}": blocks[c] for c in CODECS})
    out["codecs.blocks.zstd_wrapped"] = wrapped
    for op, preds in predicates.items():
        with tr.span(f"explain_scan.{op}", "plans"):
            ex = explain_scan(spark, table_dir, preds)
        out["plans.total_blocks"] = ex["total_blocks"]
        out[f"plans.survivor_blocks.{op}"] = ex["survivor_blocks"]
    return out


def kernels(tr, seed: int) -> dict:
    """Call the rlecore kernels directly on the largest key's arrays."""
    from pyrle_spark.kernels import rlecore as k
    from perfbench.rle_wl import N_INTERVALS, N_QUERIES, intervals, queries

    rng = np.random.default_rng(seed)
    a, b, q = intervals(rng, N_INTERVALS), intervals(rng, N_INTERVALS), queries(rng, N_QUERIES)
    key = a["Chromosome"].value_counts().idxmax()

    def events(df):
        df = df[df["Chromosome"] == key]
        pos = np.concatenate([df["Start"].to_numpy(), df["End"].to_numpy()])
        d = np.concatenate([np.ones(len(df)), -np.ones(len(df))])
        return pos, d

    t0 = time.perf_counter()
    with tr.span("coverage", "kernels"):
        ra, va = k.coverage(*events(a))
        rb, vb = k.coverage(*events(b))
    t1 = time.perf_counter()
    with tr.span("binary_op", "kernels"):
        rc, vc = k.binary_op("add", ra, va, rb, vb)
    t2 = time.perf_counter()
    qk = q[q["Chromosome"] == key].sort_values("Start", kind="stable")
    with tr.span("getitems", "kernels"):
        k.getitems(rc, vc, qk["Start"].to_numpy(), qk["End"].to_numpy())
    t3 = time.perf_counter()
    return {
        "kernels.coverage_s": t1 - t0,
        "kernels.binary_op_s": t2 - t1,
        "kernels.getitems_s": t3 - t2,
    }


class JobCounter:
    """Spark jobs, stages and tasks per op call, via job groups."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.calls: dict = {}
        self.totals: dict = {}

    def start(self, op: str, n: int) -> str:
        group = f"perfbench-{op}-{n}"
        self.sc.setJobGroup(group, op)
        return group

    def finish(self, op: str, group: str) -> None:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = [s for j in jobs if (info := st.getJobInfo(j)) for s in info.stageIds]
        tasks = sum(
            info.numTasks for s in stages if (info := st.getStageInfo(s)) is not None
        )
        tot = self.totals.setdefault(op, [0, 0, 0])
        tot[0] += len(jobs)
        tot[1] += len(stages)
        tot[2] += tasks
        self.calls[op] = self.calls.get(op, 0) + 1
        self.sc.setJobGroup("perfbench-other", "other")

    def metrics(self) -> dict:
        out = {}
        for i, kind in enumerate(("jobs", "stages", "tasks")):
            for op in SPARK_OPS:
                n = self.calls.get(op, 0)
                out[f"spark.{kind}.{op}"] = self.totals[op][i] / n if n else 0
        return out

