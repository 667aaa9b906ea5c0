"""The webtext workloads: ``bulk_encode`` and ``mixed_read``.

Both start from the same generated input: ``generate_webtext`` with the
workload seed, written as block-aligned parquet (one file per block).
The expected answers are computed from that parquet with DuckDB, outside
the program under test.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

N_ROWS = 131_072
BLOCK_ROWS = 16_384
COLS = ["url", "warc_ts", "html", "text", "lang"]
FILTER_LANGS = ["de", "fr", "es", "zh", "ru", "pt", "ja", "it"]


def parquet_files(d: str) -> list:
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )


def _dir_bytes(d: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs
    )


class WebtextInputs:
    """Seeded input table plus every op's arguments and expected answer."""

    def __init__(self, ctx, tag: str, n_rows: int = N_ROWS):
        from pyrle_spark.sources.webtext import generate_webtext

        self.src = os.path.join(ctx.work, f"src-{tag}")
        rng = random.Random(ctx.seed)
        t0 = time.perf_counter()
        with ctx.tr.span("generate_webtext", "sources"):
            generate_webtext(
                ctx.spark, n_rows, seed=ctx.seed, block_rows=BLOCK_ROWS
            ).write.parquet(self.src)
        self.generate_s = time.perf_counter() - t0
        self.files = parquet_files(self.src)
        con = duckdb.connect(config={"temp_directory": os.path.join(ctx.work, "tmp")})
        con.execute(
            f"CREATE VIEW src AS SELECT * FROM read_parquet('{self.src}/*.parquet')"
        )
        self.n_rows = con.sql("SELECT count(*) FROM src").fetchone()[0]
        self.lang_counts = dict(
            con.sql("SELECT lang, count(*) FROM src GROUP BY lang").fetchall()
        )
        # filter: one lang AND a warc_ts window placed by seeded quantiles
        self.f_lang = rng.choice(FILTER_LANGS)
        q = rng.uniform(0.05, 0.65)
        lo, hi = con.sql(
            f"SELECT quantile_disc(warc_ts, {q}), quantile_disc(warc_ts, {q + 0.25}) "
            "FROM src"
        ).fetchone()
        self.f_lo, self.f_hi = lo, hi
        self.f_expect = tuple(
            con.execute(
                "SELECT count(*), coalesce(sum(length(url)), 0) FROM src "
                "WHERE lang = ? AND warc_ts BETWEEN ? AND ?",
                [self.f_lang, lo, hi],
            ).fetchone()
        )
        # point lookup: 4 urls at seeded row positions
        seqs = rng.sample(range(self.n_rows), 4)
        rows = con.execute(
            "SELECT url, text FROM src WHERE doc_seq IN (?, ?, ?, ?)", seqs
        ).fetchall()
        self.p_urls = sorted(u for u, _ in rows)
        self.p_expect = dict(rows)
        con.close()
        self.prepare_s = time.perf_counter() - t0

    def corrupt(self) -> None:
        """Self-test hook: make one expected answer wrong."""
        self.n_rows += 1
        self.lang_counts["en"] += 1
        self.f_expect = (self.f_expect[0] + 1, self.f_expect[1])

    def predicates(self) -> dict:
        return {
            "filter": [
                ("lang", self.f_lang, self.f_lang),
                ("warc_ts", self.f_lo, self.f_hi),
            ],
            "point": [("url", self.p_urls)],
        }


def encode_config():
    from pyrle_spark.plans.encode_job import EncodeConfig

    return EncodeConfig(
        columns=COLS, block_rows=BLOCK_ROWS, block_aligned=True,
        input_presorted=True,
    )


def cluster_source(src: str, out: str) -> list:
    """Write the rows of ``src`` in ``(lang, warc_ts, doc_seq)`` order as a
    new block-aligned parquet directory with ``doc_seq`` renumbered."""
    tbl = pa.concat_tables(pq.read_table(f) for f in parquet_files(src))
    tbl = tbl.sort_by(
        [("lang", "ascending"), ("warc_ts", "ascending"), ("doc_seq", "ascending")]
    )
    i = tbl.schema.get_field_index("doc_seq")
    tbl = tbl.set_column(i, tbl.schema.field(i), pa.array(range(len(tbl)), pa.int64()))
    os.makedirs(out)
    for b, start in enumerate(range(0, len(tbl), BLOCK_ROWS)):
        pq.write_table(
            tbl.slice(start, BLOCK_ROWS),
            os.path.join(out, f"part-{b:05d}.parquet"),
            use_deprecated_int96_timestamps=True,
        )
    return parquet_files(out)


class _Webtext:
    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = random.Random(ctx.seed + 1)
        self.n_cells = None

    def check(self, ok: bool, what: str) -> None:
        self.ctx.check(ok, f"{self.name}: {what}")

    def compression_ratio(self) -> float:
        return self.bytes_in / self.bytes_out

    def probe_target(self) -> tuple:
        """(encode summary, its call wall time, source files, table dir,
        scan predicates) for the per-layer probes."""
        return (self.last_summary, self.last_call_s, self.probe_files,
                self.table_dir, self.inp.predicates())

    def verify(self, table_dir: str, timed: bool = False):
        from pyrle_spark.plans.encode_job import verify_checksums

        with self.ctx.op("verify", "plans", timed=timed) as rec:
            v = verify_checksums(self.ctx.spark, table_dir)
        self.check(v["bad"] == 0, f"verify_checksums bad={v['bad']}")
        self.check(v["ok"] == self.n_cells, f"verify_checksums ok={v['ok']}")
        return rec


class BulkEncode(_Webtext):
    """Each iteration encodes the crawl-order source into a fresh table."""

    name = "bulk_encode"

    def prepare(self):
        self.inp = WebtextInputs(self.ctx, "crawl")
        self.probe_files = self.inp.files
        self.n_cells = -(-self.inp.n_rows // BLOCK_ROWS) * len(COLS)
        return self.inp

    def _encode(self, out: str, timed: bool):
        from pyrle_spark.plans.encode_job import encode_parquet_dir

        with self.ctx.op("encode", "plans", timed=timed) as rec:
            s = encode_parquet_dir(
                self.ctx.spark, self.inp.src, out, encode_config(),
                files=self.inp.files,
            )
        rows = sum(p["rows"] for p in s["partitions"])
        self.check(rows == self.inp.n_rows, f"encoded rows {rows}")
        return s, rec

    def warmup(self):
        out = os.path.join(self.ctx.work, "enc-warm")
        self.ref, rec = self._encode(out, timed=False)
        self.last_summary, self.last_call_s = self.ref, rec["s"]
        self.verify(out)
        self.table_dir = out
        self.bytes_in, self.bytes_out = self.ref["bytes_in"], self.ref["bytes_out"]

    def iteration(self, i: int) -> float:
        out = os.path.join(self.ctx.work, f"enc-{i}")
        s, rec = self._encode(out, timed=True)
        self.check(s["bytes_out"] == self.ref["bytes_out"], f"bytes_out {s['bytes_out']}")
        self.check(s["bytes_in"] == self.ref["bytes_in"], f"bytes_in {s['bytes_in']}")
        self.verify(out)
        self.last_summary, self.last_call_s = s, rec["s"]
        shutil.rmtree(out, ignore_errors=True)
        return rec["s"]

    def detail(self, samples: dict) -> dict:
        return {"encode_gbps": self.bytes_in / 1e9 / statistics.median(samples["encode"])}


class MixedRead(_Webtext):
    """Reads on a table clustered by ``(lang, warc_ts)``: each iteration
    runs the five reads in a seeded order."""

    name = "mixed_read"
    ops = ("verify", "project", "filter", "point", "agg")

    def prepare(self):
        from pyrle_spark.plans.encode_job import encode_parquet_dir

        self.inp = inp = WebtextInputs(self.ctx, "crawl")
        t0 = time.perf_counter()
        clustered = os.path.join(self.ctx.work, "clustered")
        files = self.probe_files = cluster_source(inp.src, clustered)
        self.table_dir = os.path.join(self.ctx.work, "table")
        with self.ctx.tr.span("encode_parquet_dir", "plans"):
            t1 = time.perf_counter()
            s = encode_parquet_dir(
                self.ctx.spark, clustered, self.table_dir, encode_config(),
                files=files,
            )
            self.last_call_s = time.perf_counter() - t1
        self.last_summary = s
        self.bytes_in, self.bytes_out = s["bytes_in"], s["bytes_out"]
        self.n_cells = -(-inp.n_rows // BLOCK_ROWS) * len(COLS)
        inp.prepare_s += time.perf_counter() - t0
        return inp

    def warmup(self):
        for op in self.ops:
            self.run_op(op, timed=False)

    def run_op(self, op: str, timed: bool):
        from pyspark.sql import functions as F

        from pyrle_spark.plans.compressed import group_count_where
        from pyrle_spark.plans.encode_job import decode_table, scan_encoded

        spark, d, inp = self.ctx.spark, self.table_dir, self.inp
        if op == "verify":
            return self.verify(d, timed=timed)["s"]
        with self.ctx.op(op, "plans", timed=timed) as rec:
            if op == "project":
                got = decode_table(spark, d, columns=["lang"]).groupBy("lang").count().collect()
            elif op == "filter":
                got = (
                    scan_encoded(spark, d, columns=["url"],
                                 predicates=inp.predicates()["filter"])
                    .agg(F.count(F.lit(1)), F.sum(F.length("url")))
                    .collect()
                )
            elif op == "point":
                got = scan_encoded(spark, d, columns=["url", "text"],
                                   predicates=inp.predicates()["point"]).collect()
            else:
                # unbounded: a timestamp bound raises TypeError on
                # for/delta-coded warc_ts blocks (see perfbench/README.md)
                got = group_count_where(spark, d, "lang", "warc_ts").collect()
        if op in ("project", "agg"):
            self.check(dict((r[0], r[1]) for r in got) == inp.lang_counts, f"{op} counts")
        elif op == "filter":
            n, ln = got[0][0], got[0][1] or 0
            self.check((n, ln) == tuple(inp.f_expect), f"filter {(n, ln)} != {inp.f_expect}")
        else:
            self.check({r["url"]: r["text"] for r in got} == inp.p_expect, "point rows")
        return rec["s"]

    def iteration(self, i: int) -> float:
        order = list(self.ops)
        self.rng.shuffle(order)
        return sum(self.run_op(op, timed=True) for op in order)

    def detail(self, samples: dict) -> dict:
        out = {"scan_gbps": self.bytes_in / 1e9 / statistics.median(samples["verify"])}
        out.update({f"{op}_s": statistics.median(samples[op])
                    for op in ("project", "filter", "point", "agg")})
        return out


def table_stats(table_dir: str) -> dict:
    from pyrle_spark.sources.icetable import IceTable, read_delete_entries

    t = IceTable(table_dir)
    snap = t.current_snapshot_id()
    return {
        "icetable.snapshots": len(t.snapshots()),
        "icetable.data_files": len(t._manifest(snap)["files"]),
        "icetable.delete_files": len(read_delete_entries(table_dir)),
        "icetable.metadata_bytes": _dir_bytes(os.path.join(table_dir, "metadata")),
    }

