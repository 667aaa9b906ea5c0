"""Spark Python Data Source (`spark.read/write.format("pyrle")`):
roundtrip identity vs the library paths, filter-pushdown block pruning
(superset contract + actual skipping), column pruning, MoR deletes,
time travel, resume-dedup reads, and the writer's loud-failure
contracts (unsorted input, block split across tasks)."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from pyrle_spark.plans.encode_job import (
    EncodeConfig,
    decode_table,
    delete_rows,
    encode_table,
)
from pyrle_spark.plans.read_plan import _surviving_blocks
from pyrle_spark.sources.datasource import _norm_filters, register
from pyrle_spark.sources.icetable import IceTable
from pyrle_spark.sources.webtext import generate_webtext

BR = 512
N = 4096
COLS = ["url", "warc_ts", "html", "text", "lang"]


@pytest.fixture(scope="module")
def ds_spark(spark):
    register(spark)
    return spark


@pytest.fixture(scope="module")
def table_dir(ds_spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("dsv2") / "tbl")
    rows = generate_webtext(ds_spark, N, n_hosts=40, block_rows=BR)
    (
        rows.repartition(4, F.floor(F.col("doc_seq") / BR).cast("long"))
        .sortWithinPartitions("doc_seq")
        .write.format("pyrle")
        .option("order_col", "doc_seq")
        .option("block_rows", str(BR))
        .mode("append")
        .save(out)
    )
    return out


def test_write_then_read_roundtrip(ds_spark, table_dir):
    rows = generate_webtext(ds_spark, N, n_hosts=40, block_rows=BR)
    got = (
        ds_spark.read.format("pyrle")
        .load(table_dir)
        .orderBy("_order")
        .select(*sorted(COLS))
        .toPandas()
    )
    exp = rows.orderBy("doc_seq").select(*sorted(COLS)).toPandas()
    assert got.shape == exp.shape
    for c in sorted(COLS):
        assert (got[c].values == exp[c].values).all(), c


def test_read_matches_decode_table(ds_spark, table_dir):
    via_ds = (
        ds_spark.read.format("pyrle").load(table_dir).orderBy("_order").toPandas()
    )
    via_lib = (
        decode_table(ds_spark, table_dir).orderBy("_order").toPandas()
    )
    assert list(via_ds.columns) == list(via_lib.columns)
    for c in via_ds.columns:
        assert (via_ds[c].values == via_lib[c].values).all(), c


def test_filter_pushdown_exact(ds_spark, table_dir):
    df = ds_spark.read.format("pyrle").load(table_dir)
    full = decode_table(ds_spark, table_dir)
    for cond in [
        F.col("lang") == "en",
        F.col("lang").isin("en", "de", "zz_nope"),
        F.col("url") > "https://m",
    ]:
        assert df.filter(cond).count() == full.filter(cond).count()


def test_column_pruning_option(ds_spark, table_dir):
    df = (
        ds_spark.read.format("pyrle")
        .option("columns", "lang,text")
        .load(table_dir)
    )
    assert df.columns == ["_order", "lang", "text"]
    assert df.count() == N


def test_pruning_skips_blocks_superset(ds_spark, table_dir):
    """_surviving_blocks (the read planner's evaluator) must skip at least one
    block for a selective predicate, and never a matching one."""
    import pyarrow.parquet as pq
    from pyspark.sql.datasource import EqualTo

    meta = IceTable(table_dir)._read_meta()
    snap = meta["current_snapshot_id"]
    paths = [f["path"] for f in IceTable(table_dir)._manifest(snap)["files"]]
    thin = pa.concat_tables(
        pq.read_table(
            p,
            columns=[
                "block_id", "column", "arrow_type", "n_rows",
                "zmin", "zmax", "bloom",
            ],
        )
        for p in paths
    )
    all_blocks = set(thin.column("block_id").to_pylist())
    # a url range predicate: zone maps must prune some blocks
    preds = _norm_filters([EqualTo(("lang",), "fr")])
    surv = _surviving_blocks(thin, preds)
    assert surv is not None and surv <= all_blocks
    # superset contract: every block that actually contains a match survives
    dec = decode_table(ds_spark, table_dir, columns=["lang"])
    hit_blocks = {
        r["b"]
        for r in dec.filter(F.col("lang") == "fr")
        .select(F.floor(F.col("_order") / BR).alias("b"))
        .distinct()
        .collect()
    }
    assert hit_blocks <= surv


def test_mor_deletes_and_time_travel(ds_spark, tmp_path):
    out = str(tmp_path / "mor")
    rows = generate_webtext(ds_spark, 2 * BR, n_hosts=10, block_rows=BR)

    def _write(df):
        (
            df.repartition(1, F.floor(F.col("doc_seq") / BR).cast("long"))
            .sortWithinPartitions("doc_seq")
            .write.format("pyrle")
            .option("order_col", "doc_seq")
            .option("block_rows", str(BR))
            .mode("append")
            .save(out)
        )

    _write(rows.filter(F.col("doc_seq") < BR))  # snap0
    snap0 = IceTable(out)._read_meta()["current_snapshot_id"]
    _write(rows.filter(F.col("doc_seq") >= BR))  # snap1
    # delete tags the CURRENT snapshot (snap1): visible at snap1+, not snap0
    delete_rows(ds_spark, out, list(range(10, 60)))
    assert ds_spark.read.format("pyrle").load(out).count() == 2 * BR - 50
    assert (
        ds_spark.read.format("pyrle")
        .option("snapshot", snap0)
        .load(out)
        .count()
        == BR
    )


def test_resume_dedup_read(ds_spark, tmp_path):
    """A table holding a superseded partial block (resume semantics) must
    read the complete row only — files with overlapping block spans fuse
    into one task and dedup there."""
    out = str(tmp_path / "resume")
    rows = generate_webtext(ds_spark, 2 * BR + 100, n_hosts=10, block_rows=BR)
    cfg = EncodeConfig(columns=COLS, order_col="doc_seq", block_rows=BR)
    encode_table(ds_spark, rows.filter(F.col("doc_seq") < 2 * BR + 40), out, cfg)
    encode_table(ds_spark, rows, out, cfg)  # re-encodes the partial tail
    got = (
        ds_spark.read.format("pyrle")
        .load(out)
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("_order").alias("d"))
        .first()
    )
    assert got["n"] == 2 * BR + 100 == got["d"]


def test_writer_requires_explicit_path(ds_spark, table_dir):
    """A read DataFrame carries the source path in field metadata (the
    catalog-SELECT recovery channel).  The WRITER must not fall back to
    it: a forgotten .save(path) would silently append to the table the
    data was read from.  Pin the loud error."""
    got = ds_spark.read.format("pyrle").load(table_dir)
    before = IceTable(table_dir).current_snapshot_id()
    with pytest.raises(Exception, match="save"):
        (
            got.write.format("pyrle")
            .option("order_col", "_order")
            .mode("append")
            .save()
        )
    assert IceTable(table_dir).current_snapshot_id() == before


def test_writer_rejects_unsorted(ds_spark, tmp_path):
    out = str(tmp_path / "unsorted")
    rows = generate_webtext(ds_spark, BR, n_hosts=5, block_rows=BR)
    with pytest.raises(Exception, match="sort|order"):
        (
            rows.orderBy(F.desc("doc_seq"))
            .coalesce(1)
            .write.format("pyrle")
            .option("order_col", "doc_seq")
            .option("block_rows", str(BR))
            .mode("append")
            .save(out)
        )
    assert not IceTable(out).exists()  # nothing committed


def test_writer_rejects_block_split_across_tasks(ds_spark, tmp_path):
    out = str(tmp_path / "split")
    rows = generate_webtext(ds_spark, 2 * BR, n_hosts=5, block_rows=BR)
    # range-partition on doc_seq with 3 partitions: boundaries will not
    # align to BR, so some block spans two tasks -> commit must fail
    with pytest.raises(Exception, match="two tasks|clustered"):
        (
            rows.repartitionByRange(3, "doc_seq")
            .sortWithinPartitions("doc_seq")
            .write.format("pyrle")
            .option("order_col", "doc_seq")
            .option("block_rows", str(BR))
            .mode("append")
            .save(out)
        )
    assert not IceTable(out).exists()


def test_writer_append_accumulates(ds_spark, tmp_path):
    out = str(tmp_path / "append2")
    rows = generate_webtext(ds_spark, 2 * BR, n_hosts=5, block_rows=BR)

    def _write(df):
        (
            df.repartition(2, F.floor(F.col("doc_seq") / BR).cast("long"))
            .sortWithinPartitions("doc_seq")
            .write.format("pyrle")
            .option("order_col", "doc_seq")
            .option("block_rows", str(BR))
            .mode("append")
            .save(out)
        )

    _write(rows.filter(F.col("doc_seq") < BR))
    _write(rows.filter(F.col("doc_seq") >= BR))
    got = ds_spark.read.format("pyrle").load(out)
    assert got.count() == 2 * BR
    assert got.select(F.countDistinct("_order")).first()[0] == 2 * BR


def test_writer_overwrite_replaces_visible_rows(ds_spark, tmp_path):
    """mode("overwrite") commits a REPLACE snapshot: the read sees only
    the new rows, and the pre-overwrite snapshot still time-travels."""
    out = str(tmp_path / "ovw")
    rows = generate_webtext(ds_spark, 2 * BR, n_hosts=5, block_rows=BR)

    def _write(df, mode):
        (
            df.repartition(2, F.floor(F.col("doc_seq") / BR).cast("long"))
            .sortWithinPartitions("doc_seq")
            .write.format("pyrle")
            .option("order_col", "doc_seq")
            .option("block_rows", str(BR))
            .mode(mode)
            .save(out)
        )

    _write(rows.filter(F.col("doc_seq") < BR), "append")
    old_snap = IceTable(out).current_snapshot_id()
    _write(rows.filter(F.col("doc_seq") >= BR), "overwrite")

    got = ds_spark.read.format("pyrle").load(out)
    assert got.count() == BR
    assert got.agg(F.min("_order")).first()[0] == BR  # only the new half

    old = (
        ds_spark.read.format("pyrle")
        .option("snapshot", old_snap)
        .load(out)
    )
    assert old.count() == BR
    assert old.agg(F.max("_order")).first()[0] == BR - 1  # pre-overwrite rows


def test_lineage_and_codecs_metadata_relations(ds_spark, table_dir):
    """$lineage / $codecs relations surface the per-partition metrics and
    codec choices the north rule requires, straight from the manifests."""
    t = IceTable(table_dir)
    lin = t.lineage_df(ds_spark).toPandas()
    assert len(lin) > 0
    assert (lin["bytes_in"] > 0).all() and (lin["bytes_out"] > 0).all()
    assert (lin["encode_mb_per_s"] > 0).all()
    # partition rows sum to the table's committed blocks
    assert lin["blocks"].sum() == N // BR

    cod = t.codecs_df(ds_spark).toPandas()
    assert set(COLS) <= set(cod["column"])  # fixture also wrote extras
    assert (cod["runs_emitted"] > 0).all()
    # every (column, codec) cell compressed or stayed ≤ raw+ε
    assert (cod["bytes_out"] <= cod["bytes_in"] * 1.05).all()


def test_sql_over_temp_view_with_pushdown(spark, tmp_path):
    """The SQL surface of the V2 source: a temp view over
    read.format('pyrle') serves Spark SQL, and WHERE clauses reach the
    reader's pushFilters block pruning.  (Catalog DDL also works — see
    test_catalog_ddl_create_and_select.)"""
    import pyspark.sql.functions as F

    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table
    from pyrle_spark.sources.datasource import register

    register(spark)
    t = str(tmp_path / "t")
    df = spark.range(0, 1000, 1, 2).select(
        F.col("id").alias("doc_seq"),
        (F.col("id") % 5).alias("g"),
        (F.col("id") * 2).alias("v"),
    )
    encode_table(spark, df, t, EncodeConfig(columns=["g", "v"], block_rows=100))
    spark.read.format("pyrle").load(t).createOrReplaceTempView("pyrle_v")
    got = spark.sql(
        "SELECT g, count(*) AS n, sum(v) AS s FROM pyrle_v "
        "WHERE v >= 1000 GROUP BY g ORDER BY g"
    ).collect()
    # rows with v >= 1000 are id >= 500: 100 per residue class
    assert [r["n"] for r in got] == [100] * 5
    assert sum(r["s"] for r in got) == sum(2 * i for i in range(500, 1000))
    spark.catalog.dropTempView("pyrle_v")


def test_timestamp_as_of_read_option(spark, tmp_path):
    """read.format('pyrle').option('timestampAsOf', <epoch ms>) reads
    the snapshot current at that instant."""
    import pyspark.sql.functions as F

    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table
    from pyrle_spark.sources.datasource import register
    from pyrle_spark.sources.icetable import IceTable

    register(spark)
    t = str(tmp_path / "t")
    df1 = spark.range(0, 200, 1, 2).select(
        F.col("id").alias("doc_seq"), (F.col("id") * 2).alias("v")
    )
    encode_table(spark, df1, t, EncodeConfig(columns=["v"], block_rows=100))
    table = IceTable(t)
    s1 = table.current_snapshot_id()
    ts1 = next(s["timestamp_ms"] for s in table.snapshots() if s["id"] == s1)

    df2 = spark.range(200, 400, 1, 2).select(
        F.col("id").alias("doc_seq"), (F.col("id") * 2).alias("v")
    )
    encode_table(spark, df2, t, EncodeConfig(columns=["v"], block_rows=100))

    old = spark.read.format("pyrle").option("timestampAsOf", str(ts1)).load(t)
    assert old.count() == 200
    assert spark.read.format("pyrle").load(t).count() == 400


def test_catalog_ddl_create_and_select(spark, tmp_path):
    """``CREATE TABLE … USING pyrle OPTIONS (path …)`` + catalog
    SELECT/filter work end-to-end.  Spark hands a catalog table's
    Python data source READER an empty options dict (the CREATE-time
    options reach only ``schema()``), so ``schema()`` stamps the table
    path into the ``_order`` field metadata — which round-trips through
    the catalog — and the reader recovers it from there."""
    import pyspark.sql.functions as F

    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table
    from pyrle_spark.sources.datasource import register

    register(spark)
    t = str(tmp_path / "cat_tbl")
    df = spark.range(0, 600, 1, 2).select(
        F.col("id").alias("doc_seq"),
        (F.col("id") % 3).alias("g"),
        (F.col("id") * 2).alias("v"),
    )
    encode_table(spark, df, t, EncodeConfig(columns=["g", "v"], block_rows=100))
    spark.sql("DROP TABLE IF EXISTS pyrle_cat_t")
    spark.sql(f"CREATE TABLE pyrle_cat_t USING pyrle OPTIONS (path '{t}')")
    try:
        assert spark.sql("SELECT count(*) FROM pyrle_cat_t").first()[0] == 600
        got = spark.sql(
            "SELECT g, sum(v) AS s FROM pyrle_cat_t WHERE v < 200 "
            "GROUP BY g ORDER BY g"
        ).collect()
        want = {}
        for i in range(100):  # v = 2i < 200
            want[i % 3] = want.get(i % 3, 0) + 2 * i
        assert {r["g"]: r["s"] for r in got} == want
    finally:
        spark.sql("DROP TABLE IF EXISTS pyrle_cat_t")


def test_reader_mass_delete_distributed(ds_spark, tmp_path, monkeypatch):
    """Past the driver threshold the DSv2 reader ships the delete FILE
    list and each task fetches only the positions in its block span —
    result identical to the driver-array path and to decode_table."""
    import pyrle_spark.plans.encode_job as ej
    from pyrle_spark.plans.encode_job import delete_rows

    out = str(tmp_path / "mass")
    rows = generate_webtext(ds_spark, 4 * BR, n_hosts=10, block_rows=BR)
    cfg = EncodeConfig(columns=COLS, order_col="doc_seq", block_rows=BR)
    encode_table(ds_spark, rows, out, cfg)
    monkeypatch.setattr(ej, "_DELETE_DRIVER_MAX", 50)  # force both big paths
    delete_rows(
        ds_spark,
        out,
        decode_table(ds_spark, out)
        .filter((F.col("_order") % 5 == 0) | (F.col("_order") < BR))
        .select("_order"),
    )
    got = (
        ds_spark.read.format("pyrle").load(out)
        .orderBy("_order")
        .select("_order", "lang")
        .toPandas()
    )
    want = (
        decode_table(ds_spark, out)
        .orderBy("_order")
        .select("_order", "lang")
        .toPandas()
    )
    assert got.equals(want)
    n_expected = 4 * BR - len(
        {i for i in range(4 * BR) if i % 5 == 0 or i < BR}
    )
    assert len(got) == n_expected
    # driver path on the same table agrees
    monkeypatch.setattr(ej, "_DELETE_DRIVER_MAX", 1_000_000)
    again = (
        ds_spark.read.format("pyrle").load(out)
        .orderBy("_order")
        .select("_order", "lang")
        .toPandas()
    )
    assert again.equals(want)
