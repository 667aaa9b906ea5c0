"""The engine session's representation of driver-local inputs: pandas
and pyarrow inputs past ``spark.sql.execution.arrow.localRelationThreshold``
(64 KB in :func:`get_spark`) are RDDs over their Arrow batches; smaller
ones stay driver ``LocalRelation`` s."""

import numpy as np
import pandas as pd
import pyarrow as pa

from pyrle_spark.session import get_spark
from tests.conftest import local_relation, spark_jobs

THRESHOLD = "spark.sql.execution.arrow.localRelationThreshold"


def _reuse(**kw):
    # the arguments of the session fixture (tests/conftest.py)
    return get_spark("pyrle_spark_tests", cpus=8, shuffle_partitions=8, **kw)


def _intervals(n):
    rng = np.random.default_rng(n)
    start = rng.integers(1, 10**7, n)
    return pd.DataFrame(
        {
            "Chromosome": rng.choice(["chr1", "chr2", "chrX"], n),
            "Start": start,
            "End": start + rng.integers(1, 10**4, n),
        }
    )


def test_large_input_is_rdd_backed(spark):
    pdf = _intervals(4_000)  # ~100 KB of Arrow batches
    assert spark.conf.get(THRESHOLD) == "64k"
    df = spark.createDataFrame(pdf)
    assert not local_relation(df)
    assert not local_relation(spark.createDataFrame(pa.Table.from_pandas(pdf)))
    assert df.count() == len(pdf)
    got = df.orderBy("Start", "End", "Chromosome").toPandas()
    want = pdf.sort_values(["Start", "End", "Chromosome"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)


def test_small_input_stays_local(spark):
    df = spark.createDataFrame(_intervals(10))
    assert local_relation(df)
    rows, jobs = spark_jobs(spark, df.collect)
    assert len(rows) == 10 and jobs == 0


def test_threshold_survives_reuse_and_extra_conf_overrides(spark):
    pdf = _intervals(4_000)
    try:
        assert _reuse() is spark
        assert spark.conf.get(THRESHOLD) == "64k"
        _reuse(extra_conf={THRESHOLD: "48m"})
        assert spark.conf.get(THRESHOLD) == "48m"
        assert local_relation(spark.createDataFrame(pdf))
    finally:
        _reuse()
    assert spark.conf.get(THRESHOLD) == "64k"
    assert not local_relation(spark.createDataFrame(pdf))
