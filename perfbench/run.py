"""The repository's benchmark of record.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One driver process starts a ``local[4]``
Spark session, builds the seeded inputs of one workload, warms every op
type up (charged to ``setup_s``), then runs a closed loop with one client
for ``--seconds`` seconds (at least ``MIN_ITERS`` iterations).  Every op
result is checked against an expected answer computed with DuckDB; a
wrong result counts as a failed op and makes the exit code 1.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics of BENCHMARK.json, or
with ``--trace 1`` its per-layer metrics.  The line before it holds the
per-op timings (median, highest percentile with >= 10 samples beyond it,
sample count).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_ITERS = 2
WORKLOADS = ("bulk_encode", "mixed_read", "rle_algebra")


class Context:
    """What a workload sees: the session, its work dir, the seed, the
    tracer, and the op/check bookkeeping."""

    def __init__(self, spark, work: str, seed: int, tr, jobs):
        self.spark, self.work, self.seed, self.tr, self.jobs = spark, work, seed, tr, jobs
        self.samples: dict = {}
        self.records: list = []
        self.errors: list = []
        self.in_loop = False
        self._n = 0

    def check(self, ok: bool, what: str) -> None:
        if ok:
            return
        self.errors.append(what)
        print(f"perfbench: CHECK FAILED: {what}", file=sys.stderr)
        if self.in_loop and self.records:
            self.records[-1]["failed"] = True

    @contextmanager
    def op(self, name: str, layer: str, timed: bool):
        self._n += 1
        group = self.jobs.start(name, self._n) if self.jobs else None
        rec = {"op": name, "failed": False}
        t0 = time.perf_counter()
        try:
            with self.tr.span(name, layer):
                yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            if self.jobs:
                self.jobs.finish(name, group)
            if timed:
                self.samples.setdefault(name, []).append(rec["s"])
                self.records.append(rec)


def summarize(xs: list) -> dict:
    """Median and sample count, plus the highest percentile that has at
    least 10 samples beyond it (omitted when there are too few samples)."""
    xs = sorted(xs)
    n = len(xs)
    out = {"n": n, "median": statistics.median(xs)}
    for p in (99.9, 99, 95, 90, 75, 50):
        if n * (1 - p / 100) >= 10:
            out[f"p{p:g}"] = xs[min(n - 1, int(n * p / 100))]
            break
    return out


def make_workload(name: str, ctx):
    if name == "rle_algebra":
        from perfbench.rle_wl import RleAlgebra

        return RleAlgebra(ctx)
    from perfbench.webtext_wl import BulkEncode, MixedRead

    return {"bulk_encode": BulkEncode, "mixed_read": MixedRead}[name](ctx)


def run(args, work: str) -> tuple:
    from perfbench import env, probes
    from perfbench.trace import Tracer

    tr = Tracer(bool(args.trace), f"{args.workload}-{args.seed}-{os.getpid()}")
    t0 = time.perf_counter()
    with tr.span("get_spark", "session"):
        spark = env.start_spark(work)
    jvm_s = time.perf_counter() - t0
    try:
        jobs = probes.JobCounter(spark) if args.trace else None
        ctx = Context(spark, work, args.seed, tr, jobs)
        wl = make_workload(args.workload, ctx)
        with tr.span("prepare", "bench"):
            inp = wl.prepare()
        if args.corrupt_oracle:
            inp.corrupt()
        t0 = time.perf_counter()
        with tr.span("warmup", "bench"):
            wl.warmup()
        warmup_s = time.perf_counter() - t0
        setup_s = jvm_s + inp.prepare_s + warmup_s

        ctx.in_loop = True
        iters = []
        t_loop = time.perf_counter()
        with tr.span("loop", "bench") as loop_span:
            while len(iters) < MIN_ITERS or time.perf_counter() - t_loop < args.seconds:
                with tr.span(f"iteration.{len(iters)}", "bench"):
                    iters.append(wl.iteration(len(iters)))
        ctx.in_loop = False
        ctx.samples["iter"] = iters

        e2e = {
            "setup_s": setup_s,
            "iter_s": statistics.median(iters),
            "compression_ratio": wl.compression_ratio(),
        }
        layer = None
        if args.trace:
            layer = per_layer(ctx, wl, tr, loop_span, {
                "setup.jvm_s": jvm_s,
                "setup.generate_s": inp.generate_s,
                "setup.prepare_s": inp.prepare_s,
                "setup.warmup_s": warmup_s,
            })
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "ops": {k: summarize(v) for k, v in ctx.samples.items()},
            "iter_samples": iters,
            "metrics": {
                **wl.detail(ctx.samples),
                "op_error_rate": sum(r["failed"] for r in ctx.records)
                / max(1, len(ctx.records)),
            },
            "end_to_end": e2e,
        }
        if args.trace:
            tr.write(os.path.join(ROOT, ".perfbench_work",
                                  f"trace-{args.workload}-{args.seed}.json"))
        return ctx, e2e, layer, detail
    finally:
        env.stop_spark(spark)


def per_layer(ctx, wl, tr, loop_span, setup: dict) -> dict:
    from perfbench import env, probes

    out = dict(setup)
    loop_s = loop_span["end"] - loop_span["start"]
    shares = tr.self_times(within=loop_span["id"])
    out.update({f"self_share.{layer}": shares.get(layer, 0.0) / loop_s
                for layer in probes.LAYERS})
    out.update(ctx.jobs.metrics())
    with tr.span("probes", "bench"):
        summary, call_s, files, table_dir, predicates = wl.probe_target()
        out.update(probes.encode_job(summary, call_s, env.CPUS))
        out.update(probes.codecs(tr, files))
        out.update(probes.table(ctx, table_dir, predicates))
        out.update(probes.kernels(tr, ctx.seed))
    out["rleframe.runs_out"] = getattr(wl, "runs_out", 0)
    # tracing overhead: one more iteration with spans and job groups off
    traced = statistics.median(ctx.samples["iter"])
    tr.enabled, jobs, ctx.jobs = False, ctx.jobs, None
    ctx.in_loop = True
    untraced = wl.iteration(len(ctx.samples["iter"]))
    ctx.in_loop, ctx.jobs, tr.enabled = False, jobs, True
    out["trace.overhead_s"] = traced - untraced
    out["trace.spans"] = len(tr.spans)
    missing = set(probes.metric_names()) - set(out)
    if missing:
        raise AssertionError(f"per-layer metrics not measured: {sorted(missing)}")
    return {k: out[k] for k in probes.metric_names()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-oracle", action="store_true",
                    help="self-test: make one expected answer wrong")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "pyrle_spark", "__init__.py")):
        print(f"perfbench: no pyrle_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import env

    work = env.pin(ROOT)
    try:
        ctx, e2e, layer, detail = run(args, work)
    except Exception:
        traceback.print_exc()
        print("perfbench: run aborted", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values = layer if args.trace else e2e
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    correct = not ctx.errors
    attempted = max(1, len(ctx.records))
    failed = sum(r["failed"] for r in ctx.records)
    if not correct and failed == 0:
        failed = 1  # a set-up answer was wrong
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
