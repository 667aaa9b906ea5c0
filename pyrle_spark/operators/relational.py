"""RLE algebra expressed as relational DataFrame operators.

Each operator here is the *pure Catalyst* form of a reference operation
(see SURVEY.md §2 for the mapping): gaps-and-islands for encode,
window cumsum for coverage, boundary-union + as-of fill for run-aligned
binary ops, conditional join for range extraction.  Every function takes
``(spark, sf_dir)`` and returns a DataFrame whose columns are aliased to
match the duckdb oracle in :data:`ORACLE_SQL` — the driver's correctness
gate compares them value-by-value.

Scale note: these forms keep windows partitioned by a real key
(source / event_type), so Catalyst parallelizes them; the
deliberately-global windows (``rle_add_step``, ``rle_eq_step``) exist for oracle parity
of the boundary-union algorithm — the production path for that operation
is the kernel inside :mod:`pyrle_spark.operators.rleframe`, which
co-partitions by key and never sees a global window.

Reference parity (file:line in /root/reference):
- encode      → pyrle/rle.py:34-64 (find_runs)
- coverage    → pyrle/src/coverage.pyx:28-81, pyrle/methods.py:139-156
- add         → pyrle/src/rle.pyx:20-78 (two-pointer boundary walk)
- defragment  → pyrle/src/coverage.pyx:87-183
- getitems    → pyrle/src/getitem.pyx:201-325
- shift       → pyrle/rle.py:1000-1095
- mean quirk  → pyrle/rle.py:945-959 (sum(values)/length, unweighted)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

TABLES = "lineitem events documents embeddings".split()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------- encode


def rle_encode_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RLE-encode documents.lang within each source (ordered by doc_id).

    Gaps-and-islands: global row number minus per-value row number is
    constant within a run.  Windows are partitioned by ``source`` so the
    plan shuffles once on the partition key and parallelizes per group.
    """
    docs = load(spark, sf_dir, "documents").select("source", "lang", "doc_id")
    w = W.partitionBy("source").orderBy("doc_id")
    wv = W.partitionBy("source", "lang").orderBy("doc_id")
    base = docs.select(
        "source",
        "lang",
        F.row_number().over(w).alias("rn"),
        F.row_number().over(wv).alias("rnv"),
    )
    return (
        base.groupBy("source", "lang", (F.col("rn") - F.col("rnv")).alias("grp"))
        .agg(
            (F.min("rn") - F.lit(1)).alias("start_pos"),
            F.count(F.lit(1)).alias("run_len"),
        )
        .select("source", "start_pos", F.col("lang").alias("value"), "run_len")
    )


_RLE_ENCODE_LANG_SQL = """
WITH base AS (
  SELECT source, lang,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
         row_number() OVER (PARTITION BY source, lang ORDER BY doc_id) AS rnv
  FROM documents
)
SELECT source, min(rn) - 1 AS start_pos, lang AS value, count(*) AS run_len
FROM base GROUP BY source, lang, rn - rnv
"""


def rle_roundtrip_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode(encode(lang)) — positions exploded back out of the runs;
    the oracle is the *identity* (positions straight off the raw table),
    so this checks the round-trip invariant end-to-end."""
    runs = rle_encode_lang(spark, sf_dir)
    return runs.select(
        "source",
        F.explode(
            F.sequence(F.col("start_pos"), F.col("start_pos") + F.col("run_len") - 1)
        ).alias("pos"),
        "value",
    )


_RLE_ROUNDTRIP_LANG_SQL = """
SELECT source,
       row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS pos,
       lang AS value
FROM documents
"""


# --------------------------------------------------------------------------- coverage


def _event_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic intervals derived from the events table
    (testdata has no interval table): [event_id % 997, +1 + user_id % 49)."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_type",
        (F.col("event_id") % 997).alias("s"),
        (F.col("event_id") % 997 + 1 + F.col("user_id") % 49).alias("e"),
    )


_EVENT_INTERVALS_SQL = """
  SELECT event_type, event_id % 997 AS s,
         event_id % 997 + 1 + user_id % 49 AS e
  FROM events
"""


def coverage_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coverage as a step function per event_type: +1/-1 boundary
    events → per-position delta sums → running cumsum → runs from
    position diffs.  Pure window aggregation (coverage.pyx:28-81 analog)."""
    iv = _event_intervals(spark, sf_dir)
    ev = iv.select("event_type", F.col("s").alias("pos"), F.lit(1.0).alias("d")).unionAll(
        iv.select("event_type", F.col("e").alias("pos"), F.lit(-1.0).alias("d"))
    )
    agg = ev.groupBy("event_type", "pos").agg(F.sum("d").alias("d"))
    w = W.partitionBy("event_type").orderBy("pos")
    cum = agg.select(
        "event_type",
        "pos",
        F.sum("d").over(w).alias("cov_value"),
        (F.lead("pos").over(w) - F.col("pos")).alias("run_len"),
    )
    return cum.filter(F.col("run_len").isNotNull()).select(
        "event_type", F.col("pos").alias("start_pos"), "run_len", "cov_value"
    )


_COVERAGE_EVENTS_SQL = f"""
WITH iv AS ({_EVENT_INTERVALS_SQL}),
ev AS (
  SELECT event_type, s AS pos, 1.0 AS d FROM iv
  UNION ALL
  SELECT event_type, e AS pos, -1.0 AS d FROM iv
),
agg AS (SELECT event_type, pos, sum(d) AS d FROM ev GROUP BY 1, 2),
cum AS (
  SELECT event_type, pos,
         sum(d) OVER (PARTITION BY event_type ORDER BY pos) AS cov_value,
         lead(pos) OVER (PARTITION BY event_type ORDER BY pos) - pos AS run_len
  FROM agg
)
SELECT event_type, pos AS start_pos, run_len, cov_value
FROM cum WHERE run_len IS NOT NULL
"""


def coverage_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-weighted coverage — the ``value_col`` form of the reference
    constructor (RleDict(df, value_col=...), rledict.py:133-180 /
    methods.py:147-148): each interval contributes ±value at its
    boundaries instead of ±1.  Weights rounded to 3 decimals so the
    cumsum is float-stable against the oracle."""
    iv = load(spark, sf_dir, "events").select(
        "event_type",
        (F.col("event_id") % 997).alias("s"),
        (F.col("event_id") % 997 + 1 + F.col("user_id") % 49).alias("e"),
        F.round("value", 3).alias("wgt"),
    )
    ev = iv.select("event_type", F.col("s").alias("pos"), F.col("wgt").alias("d")).unionAll(
        iv.select("event_type", F.col("e").alias("pos"), (-F.col("wgt")).alias("d"))
    )
    agg = ev.groupBy("event_type", "pos").agg(F.round(F.sum("d"), 3).alias("d"))
    w = W.partitionBy("event_type").orderBy("pos")
    cum = agg.select(
        "event_type",
        "pos",
        F.round(F.sum("d").over(w), 3).alias("cov_value"),
        (F.lead("pos").over(w) - F.col("pos")).alias("run_len"),
    )
    return cum.filter(F.col("run_len").isNotNull()).select(
        "event_type", F.col("pos").alias("start_pos"), "run_len", "cov_value"
    )


_COVERAGE_WEIGHTED_SQL = """
WITH iv AS (
  SELECT event_type, event_id % 997 AS s,
         event_id % 997 + 1 + user_id % 49 AS e,
         round(value, 3) AS wgt
  FROM events
),
ev AS (
  SELECT event_type, s AS pos, wgt AS d FROM iv
  UNION ALL
  SELECT event_type, e AS pos, -wgt AS d FROM iv
),
agg AS (SELECT event_type, pos, round(sum(d), 3) AS d FROM ev GROUP BY 1, 2),
cum AS (
  SELECT event_type, pos,
         round(sum(d) OVER (PARTITION BY event_type ORDER BY pos), 3) AS cov_value,
         lead(pos) OVER (PARTITION BY event_type ORDER BY pos) - pos AS run_len
  FROM agg
)
SELECT event_type, pos AS start_pos, run_len, cov_value
FROM cum WHERE run_len IS NOT NULL
"""


# --------------------------------------------------------------------- binary op

# Position-range bucket width for the partitioned boundary-union scan.
# Rows shuffle once on floor(pos/BUCKET); the per-bucket edge summary is
# O(#buckets) = O(pos_range / width) — tiny relative to the data — and
# is the only sequential stage (SURVEY "What's hard" #1 edge-stitch
# rule).  512 keeps >1 bucket even at sf0.01 so the driver's own
# correctness gate exercises the edge stitching.
_FILL_BUCKET = 512


def _bucketed_fill(cov: DataFrame, bucket: int = _FILL_BUCKET) -> DataFrame:
    """Boundary union + as-of fill + lead over position order WITHOUT a
    global window.

    The click/view coverage is pivoted into one sparse boundary table
    (pos, av, bv) — a conditional pivot aggregation, not a
    filter-twice-and-join, which would replicate the coverage subtree per
    side.  The pivot groups on (bkt, pos) after ONE ``repartition(bkt)``
    (hash partitioning on ``bkt = floor(pos/bucket)`` satisfies the
    clustering of every downstream groupBy/window here, so the whole fill
    runs on a single data shuffle).

    Two-level scan: per-bucket windows compute local fills; the bucket
    summary is read off the SAME windowed pass (first/last row per
    bucket — so Catalyst reuses the data exchange instead of recomputing
    the subtree); a tiny O(#buckets) edge table carries last non-null
    values and next-bucket start positions across edges and broadcasts
    back.  Result: ``(bkt, pos, af, bf, next_pos)`` — af/bf are the
    zero-defaulted filled sides, next_pos the next boundary (NULL only
    at the global end).  Semantics equal ``last(·, ignorenulls) OVER
    (ORDER BY pos)`` + ``lead(pos)``, but no WindowExec ever sees the
    whole table in one partition."""
    j = (
        cov.filter(F.col("event_type").isin("click", "view"))
        .withColumn("bkt", F.floor(F.col("start_pos") / F.lit(bucket)))
        .repartition("bkt")
        .groupBy("bkt", F.col("start_pos").alias("pos"))
        .agg(
            F.max(
                F.when(F.col("event_type") == "click", F.col("cov_value"))
            ).alias("av"),
            F.max(
                F.when(F.col("event_type") == "view", F.col("cov_value"))
            ).alias("bv"),
        )
    )
    wb = W.partitionBy("bkt").orderBy("pos")
    local = j.select(
        "bkt",
        "pos",
        F.last("av", ignorenulls=True).over(wb).alias("af_loc"),
        F.last("bv", ignorenulls=True).over(wb).alias("bf_loc"),
        F.lead("pos").over(wb).alias("next_loc"),
    )
    # bucket summary straight off j: both this aggregate and the window
    # above consume the IDENTICAL Exchange(bkt) subtree, so ReuseExchange
    # shuffles the data once; the aggregate itself needs no new exchange
    # (j is already clustered by bkt).  max_by skips rows whose key
    # expression is NULL → last non-null value per bucket.
    summary = j.groupBy("bkt").agg(
        F.min("pos").alias("min_pos"),
        F.max_by("av", F.when(F.col("av").isNotNull(), F.col("pos"))).alias(
            "last_av"
        ),
        F.max_by("bv", F.when(F.col("bv").isNotNull(), F.col("pos"))).alias(
            "last_bv"
        ),
    )
    # window over the summary only: #buckets rows, deliberately a single
    # partition — the edge scan is sequential by nature and tiny; this is
    # NOT a window over the data.  pmod(bkt,1) is a constant key Catalyst
    # can't fold away (lit(0) would be optimized into an empty partition
    # spec and trip the WindowExec single-partition warning).
    one = F.pmod(F.col("bkt"), F.lit(1))
    ws = W.partitionBy(one).orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    wn = W.partitionBy(one).orderBy("bkt")
    edges = summary.select(
        "bkt",
        F.last("last_av", ignorenulls=True).over(ws).alias("carry_av"),
        F.last("last_bv", ignorenulls=True).over(ws).alias("carry_bv"),
        F.lead("min_pos").over(wn).alias("next_bkt_pos"),
    )
    return local.join(F.broadcast(edges), "bkt", "left").select(
        "bkt",
        "pos",
        F.coalesce("af_loc", "carry_av", F.lit(0.0)).alias("af"),
        F.coalesce("bf_loc", "carry_bv", F.lit(0.0)).alias("bf"),
        F.coalesce("next_loc", "next_bkt_pos").alias("next_pos"),
    )


def rle_add_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-aligned addition of two step functions (click + view coverage):
    union both sides' boundaries, as-of fill each side with
    last(value, ignorenulls) over position order, add, re-run-length.

    This is the pure-SQL form of the reference's two-pointer merge kernel
    (rle.pyx:20-78) — the positional full-outer as-of join of SURVEY §2.3.
    The fill is bucket-partitioned (:func:`_bucketed_fill`) so no window
    moves the whole table to one partition."""
    cov = coverage_events(spark, sf_dir)
    filled = _bucketed_fill(cov)
    out = filled.select(
        F.col("pos").alias("start_pos"),
        (F.col("next_pos") - F.col("pos")).alias("run_len"),
        (F.col("af") + F.col("bf")).alias("sum_value"),
    )
    return out.filter(F.col("run_len").isNotNull())


def _island_compress(stepped: DataFrame, val: str) -> DataFrame:
    """Defragment a contiguously-tiling step table — merge adjacent runs
    with equal ``val`` — WITHOUT a global prefix-sum over the data.

    Input: ``(bkt, pos, run_len, <val>)`` rows that tile the covered
    range (each run ends where the next begins).  An island's length is
    then simply ``next island start − island start``, so islands are
    compressed per-bucket (bucket-partitioned windows, no aggregation)
    and merged across bucket edges with one tiny window over the island
    rows — whose count is O(output + #buckets), not O(data).  Output:
    ``(start_pos, run_len, <val>)``."""
    wb = W.partitionBy("bkt").orderBy("pos")
    # per-bucket island compress: keep only change rows; an island runs to
    # the next change row, or to the bucket's end (= max pos+run_len)
    wbf = wb.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    flagged = stepped.select(
        "bkt",
        "pos",
        val,
        F.when(
            F.coalesce(F.lag(val).over(wb), F.lit(-1e308)) != F.col(val), 1
        )
        .otherwise(0)
        .alias("chg"),
        F.max(F.col("pos") + F.col("run_len")).over(wbf).alias("bkt_end"),
    )
    islands = flagged.filter(F.col("chg") == 1).select(
        "bkt",
        "pos",
        val,
        (
            F.coalesce(F.lead("pos").over(wb), F.col("bkt_end")) - F.col("pos")
        ).alias("run_len"),
    )
    # cross-edge merge over the island rows only (tiny): same compress,
    # single intentional partition via the non-foldable pmod key
    one = F.pmod(F.col("bkt"), F.lit(1))
    wg = W.partitionBy(one).orderBy("pos")
    wgf = wg.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    merged = islands.select(
        "bkt",
        "pos",
        val,
        F.when(
            F.coalesce(F.lag(val).over(wg), F.lit(-1e308)) != F.col(val), 1
        )
        .otherwise(0)
        .alias("chg"),
        F.max(F.col("pos") + F.col("run_len")).over(wgf).alias("g_end"),
    )
    return merged.filter(F.col("chg") == 1).select(
        F.col("pos").alias("start_pos"),
        (F.coalesce(F.lead("pos").over(wg), F.col("g_end")) - F.col("pos")).alias(
            "run_len"
        ),
        val,
    )


def rle_add_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-aligned addition by ALGEBRAIC REWRITE: the sum of two interval
    coverages equals the coverage of the union of their boundary deltas
    (Σ of step functions built from deltas = step function of the merged
    deltas).  Where ``rle_add_step`` mirrors the reference's two-pointer
    boundary walk (coverage each side → boundary union → as-of fill →
    add), this plan skips both per-side coverages and the fill entirely:
    ONE delta stream, ONE shuffle on the position bucket, one per-bucket
    cumsum, and an O(#buckets) prefix broadcast to stitch bucket edges —
    the plan you'd actually run at 100 TB.

    Semantics note vs ``rle_add_step``: beyond the shorter side's domain
    this computes the exact zero-extension (the side's closing −v delta
    is part of the union), matching the reference's
    ``_make_rles_equal_length`` (rle.py:17-31) precisely, whereas the
    step form carries each side's last value to the global end."""
    iv = _event_intervals(spark, sf_dir).filter(
        F.col("event_type").isin("click", "view")
    )
    ev = iv.select(F.col("s").alias("pos"), F.lit(1.0).alias("d")).unionAll(
        iv.select(F.col("e").alias("pos"), F.lit(-1.0).alias("d"))
    )
    agg = (
        ev.withColumn("bkt", F.floor(F.col("pos") / F.lit(_FILL_BUCKET)))
        .repartition("bkt")
        .groupBy("bkt", "pos")
        .agg(F.sum("d").alias("d"))
    )
    wb = W.partitionBy("bkt").orderBy("pos")
    local = agg.select(
        "bkt",
        "pos",
        F.sum("d").over(wb).alias("cum_loc"),
        F.lead("pos").over(wb).alias("next_loc"),
    )
    # O(#buckets) summary off the same Exchange(bkt) subtree; prefix-sum
    # of bucket totals carries the running value across bucket edges
    summary = agg.groupBy("bkt").agg(
        F.sum("d").alias("tot"), F.min("pos").alias("min_pos")
    )
    one = F.pmod(F.col("bkt"), F.lit(1))
    ws = W.partitionBy(one).orderBy("bkt").rowsBetween(W.unboundedPreceding, -1)
    wn = W.partitionBy(one).orderBy("bkt")
    edges = summary.select(
        "bkt",
        F.coalesce(F.sum("tot").over(ws), F.lit(0.0)).alias("carry"),
        F.lead("min_pos").over(wn).alias("next_bkt_pos"),
    )
    return (
        local.join(F.broadcast(edges), "bkt")
        .select(
            F.col("pos").alias("start_pos"),
            (F.coalesce("next_loc", "next_bkt_pos") - F.col("pos")).alias(
                "run_len"
            ),
            (F.col("cum_loc") + F.col("carry")).alias("sum_value"),
        )
        .filter(F.col("run_len").isNotNull())
    )


_RLE_ADD_FUSED_SQL = f"""
WITH iv AS ({_EVENT_INTERVALS_SQL}),
ev AS (
  SELECT s AS pos, 1.0 AS d FROM iv WHERE event_type IN ('click', 'view')
  UNION ALL
  SELECT e AS pos, -1.0 AS d FROM iv WHERE event_type IN ('click', 'view')
),
agg AS (SELECT pos, sum(d) AS d FROM ev GROUP BY pos),
cum AS (
  SELECT pos,
         sum(d) OVER (ORDER BY pos) AS sum_value,
         lead(pos) OVER (ORDER BY pos) - pos AS run_len
  FROM agg
)
SELECT pos AS start_pos, run_len, sum_value
FROM cum WHERE run_len IS NOT NULL
"""


def rle_eq_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``==`` comparison operator as a relational plan (Rle.__eq__,
    rle.py:248-276): boundary-union + as-of fill both sides, emit a
    0/1-valued step function, then defragment — merge adjacent runs with
    equal values (the §1.3-2 invariant the reference's constructor
    enforces on comparison output).  Defragment is the bucket-partitioned
    island compress of :func:`_island_compress` — no window ever sees the
    whole table in one partition."""
    cov = coverage_events(spark, sf_dir)
    filled = _bucketed_fill(cov)
    stepped = filled.select(
        "bkt",
        "pos",
        (F.col("next_pos") - F.col("pos")).alias("run_len"),
        F.when(F.col("af") == F.col("bf"), F.lit(1.0)).otherwise(0.0).alias("eq"),
    ).filter(F.col("run_len").isNotNull())
    return _island_compress(stepped, "eq").select(
        "start_pos", "run_len", F.col("eq").alias("eq_value")
    )


def rle_cmp_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordered-comparison family ``< <= > >= !=`` as one relational
    plan (rle.py:342-466,502-522: subtract, threshold, defragment).

    All five comparisons are functions of ``sign(a − b)``, so the plan
    computes the sign step function once, defragments it (same
    bucket-partitioned island compress as ``rle_eq_step``), and projects
    the five 0/1 Rle value columns off the merged sign runs.  Sides are
    zero-extended (not NaN): the as-of fill already defaults missing
    coverage to 0 (rle.py:17-31)."""
    cov = coverage_events(spark, sf_dir)
    filled = _bucketed_fill(cov)
    stepped = filled.select(
        "bkt",
        "pos",
        (F.col("next_pos") - F.col("pos")).alias("run_len"),
        F.signum(F.col("af") - F.col("bf")).alias("s"),
    ).filter(F.col("run_len").isNotNull())
    runs = _island_compress(stepped, "s")
    z = F.lit(0.0)
    o = F.lit(1.0)
    return runs.select(
        "start_pos",
        "run_len",
        F.when(F.col("s") < 0, o).otherwise(z).alias("lt_value"),
        F.when(F.col("s") <= 0, o).otherwise(z).alias("le_value"),
        F.when(F.col("s") > 0, o).otherwise(z).alias("gt_value"),
        F.when(F.col("s") >= 0, o).otherwise(z).alias("ge_value"),
        F.when(F.col("s") != 0, o).otherwise(z).alias("ne_value"),
    )


_RLE_EQ_STEP_SQL = f"""
WITH cov AS ({_COVERAGE_EVENTS_SQL}),
a AS (SELECT start_pos AS pos, cov_value AS av FROM cov WHERE event_type = 'click'),
b AS (SELECT start_pos AS pos, cov_value AS bv FROM cov WHERE event_type = 'view'),
joined AS (
  SELECT coalesce(a.pos, b.pos) AS pos, a.av, b.bv
  FROM a FULL OUTER JOIN b ON a.pos = b.pos
),
filled AS (
  SELECT pos,
         coalesce(last_value(av IGNORE NULLS) OVER (ORDER BY pos), 0) AS af,
         coalesce(last_value(bv IGNORE NULLS) OVER (ORDER BY pos), 0) AS bf
  FROM joined
),
stepped AS (
  SELECT pos,
         lead(pos) OVER (ORDER BY pos) - pos AS run_len,
         CASE WHEN af = bf THEN 1.0 ELSE 0.0 END AS eq
  FROM filled QUALIFY run_len IS NOT NULL
),
flagged AS (
  SELECT pos, run_len, eq,
         CASE WHEN coalesce(lag(eq) OVER (ORDER BY pos), -1.0) != eq
              THEN 1 ELSE 0 END AS chg
  FROM stepped
),
grps AS (
  SELECT pos, run_len, eq,
         sum(chg) OVER (ORDER BY pos) AS grp
  FROM flagged
)
SELECT min(pos) AS start_pos, CAST(sum(run_len) AS BIGINT) AS run_len,
       first(eq ORDER BY pos) AS eq_value
FROM grps GROUP BY grp
"""


_RLE_CMP_STEP_SQL = f"""
WITH cov AS ({_COVERAGE_EVENTS_SQL}),
a AS (SELECT start_pos AS pos, cov_value AS av FROM cov WHERE event_type = 'click'),
b AS (SELECT start_pos AS pos, cov_value AS bv FROM cov WHERE event_type = 'view'),
joined AS (
  SELECT coalesce(a.pos, b.pos) AS pos, a.av, b.bv
  FROM a FULL OUTER JOIN b ON a.pos = b.pos
),
filled AS (
  SELECT pos,
         coalesce(last_value(av IGNORE NULLS) OVER (ORDER BY pos), 0) AS af,
         coalesce(last_value(bv IGNORE NULLS) OVER (ORDER BY pos), 0) AS bf
  FROM joined
),
stepped AS (
  SELECT pos,
         lead(pos) OVER (ORDER BY pos) - pos AS run_len,
         sign(af - bf) AS s
  FROM filled QUALIFY run_len IS NOT NULL
),
flagged AS (
  SELECT pos, run_len, s,
         CASE WHEN coalesce(lag(s) OVER (ORDER BY pos), -1e308) != s
              THEN 1 ELSE 0 END AS chg
  FROM stepped
),
grps AS (
  SELECT pos, run_len, s,
         sum(chg) OVER (ORDER BY pos) AS grp
  FROM flagged
),
runs AS (
  SELECT min(pos) AS start_pos, CAST(sum(run_len) AS BIGINT) AS run_len,
         first(s ORDER BY pos) AS s
  FROM grps GROUP BY grp
)
SELECT start_pos, run_len,
       CASE WHEN s < 0  THEN 1.0 ELSE 0.0 END AS lt_value,
       CASE WHEN s <= 0 THEN 1.0 ELSE 0.0 END AS le_value,
       CASE WHEN s > 0  THEN 1.0 ELSE 0.0 END AS gt_value,
       CASE WHEN s >= 0 THEN 1.0 ELSE 0.0 END AS ge_value,
       CASE WHEN s != 0 THEN 1.0 ELSE 0.0 END AS ne_value
FROM runs
"""


_RLE_ADD_STEP_SQL = f"""
WITH cov AS ({_COVERAGE_EVENTS_SQL}),
a AS (SELECT start_pos AS pos, cov_value AS av FROM cov WHERE event_type = 'click'),
b AS (SELECT start_pos AS pos, cov_value AS bv FROM cov WHERE event_type = 'view'),
joined AS (
  SELECT coalesce(a.pos, b.pos) AS pos, a.av, b.bv
  FROM a FULL OUTER JOIN b ON a.pos = b.pos
),
filled AS (
  SELECT pos,
         coalesce(last_value(av IGNORE NULLS) OVER (ORDER BY pos), 0) AS af,
         coalesce(last_value(bv IGNORE NULLS) OVER (ORDER BY pos), 0) AS bf
  FROM joined
)
SELECT pos AS start_pos,
       lead(pos) OVER (ORDER BY pos) - pos AS run_len,
       af + bf AS sum_value
FROM filled QUALIFY run_len IS NOT NULL
"""


# --------------------------------------------------------------------- defragment


def defragment_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Defragment: remap run values onto a coarser alphabet (first letter
    of lang — 'en'/'es' collide) then merge now-adjacent equal runs.
    Gaps-and-islands re-merge (coverage.pyx:87-183 analog)."""
    runs = rle_encode_lang(spark, sf_dir).select(
        "source", "start_pos", F.substring("value", 1, 1).alias("v"), "run_len"
    )
    w = W.partitionBy("source").orderBy("start_pos")
    marked = runs.select(
        "source",
        "start_pos",
        "v",
        "run_len",
        F.when(
            F.lag("v").over(w).isNull() | (F.lag("v").over(w) != F.col("v")), 1
        )
        .otherwise(0)
        .alias("chg"),
    )
    grp = marked.withColumn("grp", F.sum("chg").over(w))
    return (
        grp.groupBy("source", "grp")
        .agg(
            F.min("start_pos").alias("start_pos"),
            F.min("v").alias("value"),
            F.sum("run_len").alias("run_len"),
        )
        .select("source", "start_pos", "value", "run_len")
    )


_DEFRAGMENT_RUNS_SQL = f"""
WITH runs AS ({_RLE_ENCODE_LANG_SQL}),
mapped AS (
  SELECT source, start_pos, substr(value, 1, 1) AS v, run_len FROM runs
),
marked AS (
  SELECT source, start_pos, v, run_len,
         CASE WHEN lag(v) OVER (PARTITION BY source ORDER BY start_pos) IS DISTINCT FROM v
              THEN 1 ELSE 0 END AS chg
  FROM mapped
),
grps AS (
  SELECT *, sum(chg) OVER (PARTITION BY source ORDER BY start_pos) AS grp FROM marked
)
SELECT source, min(start_pos) AS start_pos, min(v) AS value, CAST(sum(run_len) AS BIGINT) AS run_len
FROM grps GROUP BY source, grp
"""


# ------------------------------------------------------------------------ range join


def getitems_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch range extraction (getitem.pyx:201-325 analog): small query
    intervals × run table, overlap join, clip.  The query side is tiny and
    broadcast — block-level pruning comes from the (start,end) predicates."""
    runs = rle_encode_lang(spark, sf_dir).withColumn(
        "end_pos", F.col("start_pos") + F.col("run_len")
    )
    sources = load(spark, sf_dir, "documents").select("source").distinct()
    queries = sources.crossJoin(
        spark.range(4).select(
            F.col("id").alias("query_id"),
            (F.col("id") * 7).alias("qstart"),
            (F.col("id") * 7 + 5).alias("qend"),
        )
    )
    joined = runs.join(
        F.broadcast(queries),
        (runs.source == queries.source)
        & (runs.start_pos < queries.qend)
        & (runs.end_pos > queries.qstart),
    )
    return joined.select(
        runs.source,
        "query_id",
        "value",
        (
            F.least(runs.end_pos, queries.qend)
            - F.greatest(runs.start_pos, queries.qstart)
        ).alias("clipped_run"),
    )


_GETITEMS_RANGE_SQL = f"""
WITH runs AS (
  SELECT *, start_pos + run_len AS end_pos FROM ({_RLE_ENCODE_LANG_SQL})
),
queries AS (
  SELECT s.source, g.query_id, g.query_id * 7 AS qstart, g.query_id * 7 + 5 AS qend
  FROM (SELECT DISTINCT source FROM documents) s
  CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS query_id) g
)
SELECT r.source, q.query_id, r.value,
       least(r.end_pos, q.qend) - greatest(r.start_pos, q.qstart) AS clipped_run
FROM runs r JOIN queries q
  ON r.source = q.source AND r.start_pos < q.qend AND r.end_pos > q.qstart
"""


# ----------------------------------------------------------------------------- shift


def shift_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logical-vector shift (rle.py:1000-1095) in decoded form: lag with
    fill, per source ordered by doc_id."""
    docs = load(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("doc_id")
    return docs.select(
        "source",
        "doc_id",
        F.lag("lang", 1, "FILL").over(w).alias("prev_lang"),
    )


_SHIFT_LAG_SQL = """
SELECT source, doc_id,
       coalesce(lag(lang) OVER (PARTITION BY source ORDER BY doc_id), 'FILL') AS prev_lang
FROM documents
"""


# ----------------------------------------------------------------------------- stats


def rle_stats_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key Rle aggregates over the coverage step function, including
    the reference's faithful quirks: mean = sum(values)/length
    (rle.py:945-959, unweighted) plus the corrected weighted mean."""
    cov = coverage_events(spark, sf_dir)
    return cov.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.sum("run_len").alias("length"),
        (F.sum("cov_value") / F.sum("run_len")).alias("mean_quirk"),
        (
            F.sum(F.col("cov_value") * F.col("run_len")) / F.sum("run_len")
        ).alias("weighted_mean"),
    )


_RLE_STATS_COVERAGE_SQL = f"""
WITH cov AS ({_COVERAGE_EVENTS_SQL})
SELECT event_type,
       count(*) AS n_runs,
       CAST(sum(run_len) AS BIGINT) AS length,
       sum(cov_value) / sum(run_len) AS mean_quirk,
       sum(cov_value * run_len) / sum(run_len) AS weighted_mean
FROM cov GROUP BY event_type
"""


def length_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invariant: sum(runs) == number of encoded rows (rle.py:917-943)."""
    runs = rle_encode_lang(spark, sf_dir).groupBy("source").agg(
        F.sum("run_len").alias("rle_length")
    )
    counts = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    return runs.join(counts, "source").select(
        "source",
        "rle_length",
        "n_rows",
        (F.col("rle_length") == F.col("n_rows")).alias("ok"),
    )


_LENGTH_INVARIANT_SQL = f"""
WITH runs AS ({_RLE_ENCODE_LANG_SQL})
SELECT r.source, CAST(sum(r.run_len) AS BIGINT) AS rle_length, max(c.n_rows) AS n_rows,
       sum(r.run_len) = max(c.n_rows) AS ok
FROM runs r
JOIN (SELECT source, count(*) AS n_rows FROM documents GROUP BY source) c
  ON r.source = c.source
GROUP BY r.source
"""


# ----------------------------------------------------------------------------- codecs


def dict_encode_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary encoding: per-source sorted-dictionary codes for lang."""
    docs = load(spark, sf_dir, "documents").select("source", "lang").distinct()
    w = W.partitionBy("source").orderBy("lang")
    return docs.select(
        "source", "lang", (F.dense_rank().over(w) - 1).alias("code")
    )


_DICT_ENCODE_LANG_SQL = """
SELECT source, lang, dense_rank() OVER (PARTITION BY source ORDER BY lang) - 1 AS code
FROM (SELECT DISTINCT source, lang FROM documents)
"""


def for_encode_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-of-reference on timestamps: per event_type, delta from the
    frame minimum in microseconds.  The deltas are what bit-packing
    operates on in the codec pipeline."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("event_type")
    # parquet yields TIMESTAMP_NTZ; cast to LTZ under the UTC session —
    # identical instant semantics to duckdb's naive-as-UTC epoch_us
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return ev.select(
        "event_type",
        "event_id",
        (us - F.min(us).over(w)).alias("delta_us"),
    )


_FOR_ENCODE_TS_SQL = """
SELECT event_type, event_id,
       epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY event_type) AS delta_us
FROM events
"""


def bitpack_width_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-pack width planning: bits needed for (max-min) per event_type."""
    ev = load(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.min("user_id").alias("min_id"),
        F.max("user_id").alias("max_id"),
        F.count(F.lit(1)).alias("n"),
    )
    rng = F.col("max_id") - F.col("min_id")
    return agg.select(
        "event_type",
        "min_id",
        "max_id",
        "n",
        F.when(rng == 0, F.lit(0))
        .otherwise(F.floor(F.log2(rng)) + 1)
        .cast("long")
        .alias("bit_width"),
    )


_BITPACK_WIDTH_EVENTS_SQL = """
SELECT event_type, min(user_id) AS min_id, max(user_id) AS max_id, count(*) AS n,
       CASE WHEN max(user_id) - min(user_id) = 0 THEN 0
            ELSE CAST(floor(log2(max(user_id) - min(user_id))) + 1 AS BIGINT)
       END AS bit_width
FROM events GROUP BY event_type
"""


def fsst_roundtrip_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FSST symbol-table compression certified end-to-end — the one
    north-star codec that had no oracle row (dict/FoR/bit-pack/selector
    are covered; ``codecs/fsst.py`` implements the VLDB'20 FSST model
    with 1-2-byte symbols, pure numpy).  Per 256-doc block: train +
    encode the concatenated text payloads, decode, and report exact
    integers the oracle recomputes from the raw table — ``n_docs``,
    ``raw_bytes`` — plus two Spark-side certifications: ``ok_docs``
    (byte-identical roundtrip count, must equal ``n_docs``) and
    ``fsst_smaller`` (compressed strictly below raw; measured ratio
    ~0.52 on this corpus, so the boolean has a 2× margin).

    Scale shape: one ``applyInPandas`` over block groups (the production
    codec granularity — symbol tables are per block), one shuffle on the
    block key; no driver data."""
    from pyrle_spark.codecs.fsst import FsstCodec

    B = 256
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    blocked = docs.withColumn(
        "block_id", F.floor(F.col("doc_id") / F.lit(B)).cast("long")
    )

    def enc(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("doc_id")
        texts = [t.encode("utf-8") for t in pdf["text"]]
        data = b"".join(texts)
        offs = np.zeros(len(texts) + 1, dtype=np.int64)
        offs[1:] = np.cumsum([len(t) for t in texts])
        meta, bufs = FsstCodec.encode(offs, data)
        comp = sum(len(v) for v in bufs.values())
        o2, d2 = FsstCodec.decode(meta, bufs)
        ok = d2 == data and np.array_equal(np.asarray(o2, dtype=np.int64), offs)
        return pd.DataFrame(
            {
                "block_id": [int(pdf["block_id"].iloc[0])],
                "n_docs": [len(texts)],
                "raw_bytes": [int(len(data))],
                "ok_docs": [len(texts) if ok else 0],
                "fsst_smaller": [bool(comp < len(data))],
            }
        )

    return blocked.groupBy("block_id").applyInPandas(
        enc,
        "block_id long, n_docs long, raw_bytes long, ok_docs long, "
        "fsst_smaller boolean",
    )


_FSST_ROUNDTRIP_TEXT_SQL = """
SELECT doc_id // 256 AS block_id, count(*) AS n_docs,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS raw_bytes,
       count(*) AS ok_docs, true AS fsst_smaller
FROM documents GROUP BY block_id
"""


def delta_encode_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta codec certified end-to-end (the last codec in the suite with
    no dedicated oracle row — dict/FoR/bit-pack/FSST/BSS/selector are
    covered).  Per (event_type, 4096-event block): sort the block's
    timestamps, encode the microsecond sequence with the real
    ``codecs.bitpack.DeltaCodec`` (diff → zigzag → bit-pack), decode, and
    report exact integers the oracle recomputes from the raw table —
    ``max_delta_us`` (largest gap in the sorted sequence), ``width``
    (bits per zigzag delta; sorted ⇒ deltas ≥ 0 ⇒ zigzag = 2·delta),
    ``packed_bytes`` (= ceil((n−1)·width / 8), pinning the pack layout)
    — plus the Spark-side certification ``ok_rows`` (bit-identical
    roundtrip count, must equal ``n``; the oracle asserts it does).

    Scale shape: one ``applyInPandas`` over fixed-size blocks (the
    production codec granularity), one shuffle on the block key, output
    is O(#blocks) metadata.  Generalizes the reference's int64 runs
    array (pyrle rle.py:146) into width-minimal delta storage for the
    crawl-timestamp column of the north-rule webtext schema."""
    from pyrle_spark.codecs.bitpack import DeltaCodec

    B = 4096
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("event_id") / F.lit(B)).cast("long").alias("block_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )

    def enc(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        us = np.sort(pdf["us"].to_numpy(np.int64))
        meta, bufs = DeltaCodec.encode(us)
        dec = DeltaCodec.decode(meta, bufs)
        ok = np.array_equal(dec, us)
        n = len(us)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "block_id": [int(pdf["block_id"].iloc[0])],
                "n": [n],
                "max_delta_us": [int(np.diff(us).max()) if n > 1 else 0],
                "width": [int(meta["width"])],
                "packed_bytes": [len(bufs["packed"])],
                "ok_rows": [n if ok else 0],
            }
        )

    return ev.groupBy("event_type", "block_id").applyInPandas(
        enc,
        "event_type string, block_id long, n long, max_delta_us long, "
        "width long, packed_bytes long, ok_rows long",
    )


_DELTA_ENCODE_TS_SQL = """
WITH base AS (
  SELECT event_type, event_id // 4096 AS block_id, epoch_us(ts) AS us
  FROM events
),
d AS (
  SELECT event_type, block_id,
         us - lag(us) OVER (PARTITION BY event_type, block_id ORDER BY us)
           AS dlt
  FROM base
),
agg AS (
  SELECT event_type, block_id, CAST(count(*) AS BIGINT) AS n,
         CAST(coalesce(max(dlt), 0) AS BIGINT) AS max_delta_us
  FROM d GROUP BY event_type, block_id
)
SELECT event_type, block_id, n, max_delta_us,
       CASE WHEN max_delta_us = 0 THEN 0
            ELSE CAST(floor(log2(2 * max_delta_us)) + 1 AS BIGINT)
       END AS width,
       CAST(ceil((n - 1) * (CASE WHEN max_delta_us = 0 THEN 0
                                 ELSE floor(log2(2 * max_delta_us)) + 1
                            END) / 8.0) AS BIGINT) AS packed_bytes,
       n AS ok_rows
FROM agg
"""


def alp_roundtrip_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALP float compression certified end-to-end (``codecs/alp.py``, the
    two-factor SIGMOD'24 scheme: digits = round(x·10^e·10^-f), exact
    slots FoR-bit-packed, the rest raw exceptions — decode bit-exact for
    EVERY input by construction).  Per 4096-orderkey block of
    ``l_extendedprice``: encode, decode, and report ``ok_rows``
    (bitwise-identical roundtrip count, must equal ``n``; the oracle
    asserts it does), ``sum_cents`` recomputed **from the decoded
    values** (the oracle recomputes it independently from the raw table
    — a value-level proof the decode is right, not just self-consistent),
    and ``alp_smaller`` (2-decimal prices pack at ~24 digit bits vs 64
    raw, so the boolean has a >2× margin).

    Scale shape: one ``applyInPandas`` over fixed-size blocks (the
    production codec granularity), one shuffle on the block key, output
    is O(#blocks) metadata."""
    from pyrle_spark.codecs.alp import AlpCodec

    B = 4096
    li = load(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_orderkey") / F.lit(B)).cast("long").alias("block_id"),
        F.col("l_extendedprice").alias("price"),
    )

    def enc(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        x = np.ascontiguousarray(pdf["price"].to_numpy(np.float64))
        meta, bufs = AlpCodec.encode(x)
        dec = AlpCodec.decode(meta, bufs)
        ok = int((dec.view(np.uint64) == x.view(np.uint64)).sum())
        comp = sum(len(b) for b in bufs.values())
        cents = np.round(dec * 100.0).astype(np.int64)
        return pd.DataFrame(
            {
                "block_id": [int(pdf["block_id"].iloc[0])],
                "n": [len(x)],
                "raw_bytes": [int(x.nbytes)],
                "ok_rows": [ok],
                "sum_cents": [int(cents.sum())],
                "alp_smaller": [bool(comp < x.nbytes)],
            }
        )

    return li.groupBy("block_id").applyInPandas(
        enc,
        "block_id long, n long, raw_bytes long, ok_rows long, "
        "sum_cents long, alp_smaller boolean",
    )


_ALP_ROUNDTRIP_PRICE_SQL = """
SELECT l_orderkey // 4096 AS block_id,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) * 8 AS BIGINT) AS raw_bytes,
       CAST(count(*) AS BIGINT) AS ok_rows,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       true AS alp_smaller
FROM lineitem GROUP BY block_id
"""


_EMBED_DIM = 64


def bss_roundtrip_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode(bss+zstd(encode)) over the flattened embedding floats,
    executed per Arrow batch inside the scan — the distributed proof that
    byte-stream split (codecs/bss.py) is bit-lossless on real float32
    data.  The oracle is the identity (elements straight off the table),
    so any bit the codec drops turns the cell red.

    Plan shape at scale: one narrow projection + posexplode, zero
    shuffle, Python only as an Arrow-batched pass (no per-row UDF)."""
    import pyarrow as pa

    flat = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode("embedding").alias("dim", "val"))
        .select("vec_id", F.col("dim").cast("long").alias("dim"), "val")
    )

    def _roundtrip(batches):
        from pyrle_spark.codecs import decode_array, encode_with

        for batch in batches:
            vals = batch.column("val")
            dec = decode_array(encode_with("bss", vals, zstd=True))
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("vec_id"),
                    batch.column("dim"),
                    dec.cast(pa.float64()),
                ],
                names=["vec_id", "dim", "val"],
            )

    return flat.mapInArrow(_roundtrip, "vec_id long, dim long, val double")


_BSS_ROUNDTRIP_SQL = f"""
SELECT vec_id, k - 1 AS dim, CAST(embedding[k] AS DOUBLE) AS val
FROM embeddings, generate_series(1, {_EMBED_DIM}) AS t(k)
"""


def html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule per-row invariant ("byte-identical extracted text
    per url") as a certified query: wrap each document's text in the
    exact html template the webtext generator uses
    (sources/webtext.py html construction), run the production
    ``extract_text`` expression (sources/webtext.py) on the encoded
    binary column, and return the extraction + a per-row byte-identity
    flag for an independent engine to re-derive.  Newlines are
    normalized first — ``.`` crosses no line in either regex engine
    (Java and RE2 agree), so the invariant is over single-line text,
    which is what the generator emits."""
    from pyrle_spark.sources.webtext import extract_text

    docs = load(spark, sf_dir, "documents")
    flat = F.regexp_replace("text", r"[\r\n]+", " ")
    d = docs.select(
        "doc_id",
        flat.alias("flat"),
        F.encode(
            F.concat(
                F.lit("<html><head><title>Page "),
                F.col("doc_id").cast("string"),
                F.lit("</title></head><body><p>"),
                flat,
                F.lit("</p></body></html>"),
            ),
            "utf-8",
        ).alias("html"),
    )
    extracted = extract_text(F.col("html"))
    return d.select(
        "doc_id",
        extracted.alias("extracted"),
        (extracted == F.col("flat")).cast("int").alias("byte_identical"),
    )


_HTML_TEXT_EXTRACT_SQL = r"""
WITH d AS (
  SELECT doc_id,
         regexp_replace(text, '[
]+', ' ', 'g') AS flat
  FROM documents
), h AS (
  SELECT doc_id, flat,
         '<html><head><title>Page ' || CAST(doc_id AS VARCHAR) ||
         '</title></head><body><p>' || flat || '</p></body></html>' AS html
  FROM d
)
SELECT doc_id,
       regexp_extract(html, '<p>(.*)</p>', 1) AS extracted,
       CAST(regexp_extract(html, '<p>(.*)</p>', 1) = flat AS INT)
         AS byte_identical
FROM h
"""


def codec_selector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stats-driven codec auto-selector expressed relationally:
    per (source) group, cardinality / run ratio / avg length → rule table.
    Same rules as :mod:`pyrle_spark.codecs.selector` (generalizing the
    reference's divisor-content kernel choice, rle.py:740-743)."""
    docs = load(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("doc_id")
    marked = docs.select(
        "source",
        "lang",
        F.length("text").alias("text_len"),
        F.when(
            F.lag("lang").over(w).isNull() | (F.lag("lang").over(w) != F.col("lang")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    agg = marked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("lang").alias("n_distinct"),
        F.sum("chg").alias("n_runs"),
        # round(·, 3) on both engines: Spark's and DuckDB's float summation
        # orders differ in the last ulp, which flips the driver's value-hash
        # (same discipline as coverage_weighted).
        F.round(F.avg("text_len"), 3).alias("avg_text_len"),
    )
    run_ratio = F.col("n_runs") / F.col("n")
    distinct_ratio = F.col("n_distinct") / F.col("n")
    return agg.select(
        "source",
        "n",
        "n_distinct",
        "n_runs",
        "avg_text_len",
        F.when(run_ratio < 0.3, F.lit("rle"))
        .when(distinct_ratio < 0.2, F.lit("dict"))
        .otherwise(F.lit("fsst"))
        .alias("chosen_codec"),
    )


_CODEC_SELECTOR_STATS_SQL = """
WITH marked AS (
  SELECT source, lang, length(text) AS text_len,
         CASE WHEN lag(lang) OVER (PARTITION BY source ORDER BY doc_id)
                   IS DISTINCT FROM lang THEN 1 ELSE 0 END AS chg
  FROM documents
),
agg AS (
  SELECT source, count(*) AS n, count(DISTINCT lang) AS n_distinct,
         sum(chg) AS n_runs, round(avg(text_len), 3) AS avg_text_len
  FROM marked GROUP BY source
)
SELECT source, n, n_distinct, n_runs, avg_text_len,
       CASE WHEN n_runs / n < 0.3 THEN 'rle'
            WHEN n_distinct / n < 0.2 THEN 'dict'
            ELSE 'fsst' END AS chosen_codec
FROM agg
"""


def lang_counts_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation on the Zipf-hot lang key
    (plans/salting.py): salted partials then merge — result must equal a
    plain GROUP BY exactly (the oracle runs the plain form)."""
    from pyrle_spark.plans.salting import salted_agg

    docs = load(spark, sf_dir, "documents")
    return salted_agg(
        docs,
        "lang",
        "doc_id",
        {"n_docs": ("count", None), "sum_chars": ("sum", "n_chars")},
        buckets=16,
    )


_LANG_COUNTS_SALTED_SQL = """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY lang
"""


def numbers_only_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``numbers_only`` as a column expression (Rle.numbers_only,
    rle.py:961-998): NaN → 0, +inf → 2147483647, -inf → -2147483648.
    Specials are injected deterministically by event_id so both engines
    clean the identical input."""
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    x = (
        F.when(F.col("event_id") % 4 == 0, F.lit(float("nan")))
        .when(F.col("event_id") % 4 == 1, F.lit(float("inf")))
        .when(F.col("event_id") % 4 == 2, F.lit(float("-inf")))
        .otherwise(F.round("value", 3))
    )
    cleaned = (
        F.when(F.isnan(x), F.lit(0.0))
        .when(x == F.lit(float("inf")), F.lit(2147483647.0))
        .when(x == F.lit(float("-inf")), F.lit(-2147483648.0))
        .otherwise(x)
    )
    return ev.select("event_id", cleaned.alias("cleaned"))


_NUMBERS_ONLY_SQL = """
WITH injected AS (
  SELECT event_id,
         CASE CAST(event_id % 4 AS INT)
           WHEN 0 THEN CAST('NaN' AS DOUBLE)
           WHEN 1 THEN CAST('Infinity' AS DOUBLE)
           WHEN 2 THEN CAST('-Infinity' AS DOUBLE)
           ELSE round(value, 3) END AS x
  FROM events
)
SELECT event_id,
       CASE WHEN isnan(x) THEN 0.0
            WHEN x = CAST('Infinity' AS DOUBLE) THEN 2147483647.0
            WHEN x = CAST('-Infinity' AS DOUBLE) THEN -2147483648.0
            ELSE x END AS cleaned
FROM injected
"""


def zonemap_prune_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping as a relational plan: build per-block
    (min, max) zones over ``documents.n_chars`` (block = 512 doc_ids,
    the manifest analog), keep only blocks whose zone can contain the
    predicate ``n_chars >= 440``, then scan just those blocks.

    The oracle is the NAIVE full scan — equality proves pruning loses
    and invents nothing.  The pipeline-level version of this (skip
    decoding encoded blocks via stored zmin/zmax) is
    ``plans.encode_job.prune_blocks`` + ``decode_table(blocks=...)``;
    at 10^12 docs the zone scan is O(#blocks) on the manifest, and the
    survivor list broadcasts."""
    B = 512
    docs = load(spark, sf_dir, "documents")
    with_block = docs.withColumn("block_id", F.floor(F.col("doc_id") / B))
    zones = with_block.groupBy("block_id").agg(
        F.min("n_chars").alias("zmin"), F.max("n_chars").alias("zmax")
    )
    live = zones.filter(F.col("zmax") >= 440).select("block_id")
    return (
        with_block.join(F.broadcast(live), "block_id", "left_semi")
        .filter(F.col("n_chars") >= 440)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_ZONEMAP_PRUNE_AGG_SQL = """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE n_chars >= 440 GROUP BY lang
"""


def _fixture_ordered(docs: DataFrame, cols: list, key_cols: tuple = ()) -> DataFrame:
    """Encode-fixture input with a dense ``_seq`` order column, built
    WITHOUT a partitionless window: ``assign_row_order`` ranks by
    ``(key_cols…, doc_id)`` through bounded per-(key, sub-range) windows
    with driver-cumulated group counts — the same primitive the
    production rewrite path uses (``plans/encode_job.assign_row_order``)
    — so the correctness gate itself stays scale-shaped at any sf (the
    r02 audit flagged the previous global ``row_number()`` fixtures as
    the one place the gate would serialize at a bigger factor)."""
    from pyrle_spark.plans.encode_job import assign_row_order

    ranked = assign_row_order(docs, list(key_cols), tiebreak="doc_id", out_col="_seq")
    return ranked.select("_seq", *cols)


def bloom_prune_eq_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-digest equality pruning end-to-end through the REAL encoded
    pipeline: encode documents (lang-sorted order → single-lang blocks),
    skip blocks whose per-block bloom digest rules out ``lang = 'fr'``
    (``plans.encode_job.prune_blocks_eq``), decode only the survivors,
    and aggregate.  The oracle is the naive full scan — equality proves
    the digest is a true superset filter (never drops a matching block)
    and that decode reproduces the skipped-scan rows bit-identically.

    Scale shape: the digest probe runs on the O(#blocks) manifest, the
    survivor block list broadcasts into the decode scan, and the decode
    itself is the streaming mapInArrow pass — no shuffle of row data.
    Zone maps can't prune this predicate (every value sits inside the
    block's [zmin, zmax] string range); the bloom digest can.

    The fixture's order column comes from ``_fixture_ordered`` (bounded
    two-pass rank, no partitionless window); a real pipeline already has
    one (the webtext generator's ``doc_seq``)."""
    import tempfile

    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        decode_table,
        encode_table,
        prune_blocks_eq,
    )
    from pyrle_spark.sources.icetable import IceTable

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["lang", "source", "n_chars"], key_cols=("lang",))
    out_dir = tempfile.mkdtemp(prefix="bloom_prune_eq_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(
            columns=["lang", "source", "n_chars"],
            order_col="_seq",
            block_rows=64,
        ),
    )
    enc = IceTable(out_dir).read_table(spark)
    live = prune_blocks_eq(enc, "lang", "fr")
    dec = decode_table(spark, out_dir, columns=["lang", "source", "n_chars"], blocks=live)
    return (
        dec.filter(F.col("lang") == "fr")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def semijoin_prune_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic semi-join pushdown (Spark's DPP at block level) end-to-end:
    encode ``documents`` clustered by ``source``, derive the key set AT
    RUNTIME from a dim subquery (the sources of ``doc_id < 5``), and let
    :func:`plans.dpp.semi_join_scan` push those keys below decode — zone
    range ∩ per-block bloom disjunction prune the manifest, only
    surviving blocks decode, the residual IN re-checks rows.  Oracle =
    the plain ``IN (subquery)`` scan, so equality proves the pushdown is
    a true superset filter chosen from the runtime key count.

    Scale shape: the dim probe pulls at most ``max_keys+1`` keys (never
    an unbounded collect); pruning runs on the O(#blocks) manifest; a
    dim side above the threshold falls back to decode + ``left_semi``
    join (asserted equivalent in ``test_pipeline.py``)."""
    import tempfile

    from pyrle_spark.plans.dpp import semi_join_scan
    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(
        docs, ["doc_id", "lang", "source", "n_chars"], key_cols=("source",)
    )
    out_dir = tempfile.mkdtemp(prefix="semijoin_prune_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(
            columns=["doc_id", "lang", "source", "n_chars"],
            order_col="_seq",
            block_rows=64,
        ),
    )
    dim = docs.filter(F.col("doc_id") < 5).select("source")
    rows, info = semi_join_scan(
        spark, out_dir, "source", dim, columns=["source", "n_chars"]
    )
    assert info["pushed"], "bounded dim must take the pushdown path"
    if info["total_blocks"] >= 16:  # enough blocks for skipping to show
        assert info["kept_blocks"] < info["total_blocks"], "pruning must bite"
    return rows.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def binpack_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file binpack compaction end-to-end: encode ``documents``
    into deliberately tiny files, pack them with
    :func:`plans.binpack.rewrite_binpack` (Iceberg's rewrite_data_files
    binpack strategy: only sub-floor files rewrite, block rows move
    VERBATIM, one overwrite snapshot), then decode the packed table and
    aggregate.  Oracle = the plain raw scan, so equality proves the
    pack moved every row and invented none.  File-count reduction and
    rewrite stats are asserted in-query; delete/time-travel
    transparency is pinned in ``test_binpack.py``."""
    import tempfile

    from pyrle_spark.plans.binpack import rewrite_binpack
    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        decode_table,
        encode_table,
    )
    from pyrle_spark.sources.icetable import IceTable

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["lang", "source", "n_chars"])
    out_dir = tempfile.mkdtemp(prefix="binpack_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(
            columns=["lang", "source", "n_chars"],
            order_col="_seq",
            block_rows=64,
        ),
    )
    table = IceTable(out_dir)
    before = len(table._manifest(table.current_snapshot_id())["files"])
    info = rewrite_binpack(spark, out_dir, target_file_bytes=4 << 20)
    assert info["snapshot_id"] is not None and info["rewritten_files"] >= 2
    after = len(table._manifest(table.current_snapshot_id())["files"])
    assert after < before, "binpack must reduce the file count"
    return (
        decode_table(spark, out_dir)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def concat_tables_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-decode UNION ALL: two halves of ``documents`` encode into
    SEPARATE tables, :func:`plans.concat.concat_tables` appends the
    second to the first by shifting block ids and moving the compressed
    buffers verbatim (no codec work, no row decode), and the combined
    decode aggregates.  Oracle = the single-scan union, so equality
    proves the concat kept every row once with dst strictly before src.
    Position-gap and delete-carry semantics are pinned in
    ``test_concat.py``; at 100 TB this is the "merge this month's crawl
    table into the corpus" primitive at O(src compressed bytes) cost."""
    import tempfile

    from pyrle_spark.plans.concat import concat_tables
    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        decode_table,
        encode_table,
    )

    docs = load(spark, sf_dir, "documents")
    cols = ["lang", "source", "n_chars"]
    dirs = []
    for lo, hi in ((0, 400), (400, 800)):
        part = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        ordered = _fixture_ordered(part, cols)
        d = tempfile.mkdtemp(prefix=f"concat_{lo}_")
        encode_table(
            spark,
            ordered,
            d,
            EncodeConfig(columns=cols, order_col="_seq", block_rows=64),
        )
        dirs.append(d)
    info = concat_tables(spark, dirs[0], dirs[1])
    assert info["snapshot_id"] is not None and info["moved_blocks"] > 0
    return (
        decode_table(spark, dirs[0])
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def clone_diverge_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow clone end-to-end: encode ``documents[doc_id < 400]``,
    ``clone_table`` it (O(metadata) fork, data files shared by absolute
    path), DIVERGE the clone by concatenating ``documents[400..800)``
    into it, and aggregate the clone.  Oracle = the ``doc_id < 800``
    scan over the raw table.  The source staying bit-identical through
    the divergence is asserted in-query; GC ownership safety (expiring
    clone history never deletes source files) is pinned in
    ``test_concat.py``."""
    import tempfile

    from pyrle_spark.plans.concat import concat_tables
    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        decode_table,
        encode_table,
    )
    from pyrle_spark.sources.icetable import clone_table

    docs = load(spark, sf_dir, "documents")
    cols = ["lang", "source", "n_chars"]
    dirs = {}
    for name, (lo, hi) in (("base", (0, 400)), ("extra", (400, 800))):
        part = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        d = tempfile.mkdtemp(prefix=f"clone_{name}_")
        encode_table(
            spark,
            _fixture_ordered(part, cols),
            d,
            EncodeConfig(columns=cols, order_col="_seq", block_rows=64),
        )
        dirs[name] = d
    cl = tempfile.mkdtemp(prefix="clone_dst_") + "/t"
    info = clone_table(dirs["base"], cl)
    assert info["snapshots"] >= 1
    n_src_before = decode_table(spark, dirs["base"]).count()
    concat_tables(spark, cl, dirs["extra"])
    # divergence is invisible to the source
    assert decode_table(spark, dirs["base"]).count() == n_src_before
    return (
        decode_table(spark, cl)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def encoded_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-materialization value join of TWO encoded tables: the key
    sets come from each side's dictionary/column metadata, their
    intersection prunes BOTH scans below decode
    (:func:`plans.joins.join_tables_on`), and only the surviving blocks
    decode into the hash join.  Fixture: documents ``doc_id < 300``
    (lang, n_chars) ⋈ documents ``200 ≤ doc_id < 500`` (source) on
    ``doc_id`` — the 100-key overlap is a tiny fraction of either side,
    so the pushdown path must engage and prune (asserted).  Oracle =
    the single-table band scan the join is equivalent to."""
    import tempfile

    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table
    from pyrle_spark.plans.joins import join_tables_on

    docs = load(spark, sf_dir, "documents")
    sides = {
        "l": (docs.filter(F.col("doc_id") < 300), ["doc_id", "lang", "n_chars"]),
        "r": (
            docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 500)),
            ["doc_id", "source"],
        ),
    }
    dirs = {}
    for name, (part, cols) in sides.items():
        d = tempfile.mkdtemp(prefix=f"encjoin_{name}_")
        encode_table(
            spark,
            _fixture_ordered(part, cols),
            d,
            EncodeConfig(columns=cols, order_col="_seq", block_rows=64),
        )
        dirs[name] = d
    rows, info = join_tables_on(
        spark,
        dirs["l"],
        dirs["r"],
        on="doc_id",
        left_columns=["lang", "n_chars"],
        right_columns=["source"],
    )
    assert info["left"]["pushed"] and info["right"]["pushed"]
    assert info["left"]["n_keys"] == 100
    if info["left"]["total_blocks"] >= 4:
        assert info["left"]["kept_blocks"] < info["left"]["total_blocks"]
    return rows.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def delete_where_range_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate MoR delete end-to-end: encode ``documents``, run
    ``DELETE WHERE n_chars >= 460 OR (lang = 'fr' AND n_chars < 410)``
    through :func:`plans.encode_job.delete_where_pred` (zone ∩ bloom
    pruned resolution, position-delete commit, no block rewrite), then
    decode and aggregate the survivors.  Oracle = the complementary
    WHERE on the raw table — equality proves the predicate delete
    removed exactly the matching rows and nothing else."""
    import tempfile

    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        decode_table,
        delete_where_pred,
        encode_table,
    )

    docs = load(spark, sf_dir, "documents")
    cols = ["lang", "source", "n_chars"]
    out_dir = tempfile.mkdtemp(prefix="delete_pred_")
    encode_table(
        spark,
        _fixture_ordered(docs, cols, key_cols=("lang",)),
        out_dir,
        EncodeConfig(columns=cols, order_col="_seq", block_rows=64),
    )
    info = delete_where_pred(
        spark,
        out_dir,
        any_of=[
            [("n_chars", 460, None)],
            [("lang", "fr", "fr"), ("n_chars", None, 409)],
        ],
    )
    assert info["n_positions"] > 0, "the delete must match rows"
    return (
        decode_table(spark, out_dir)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def metadata_count_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SELECT count(*)`` answered from METADATA alone: encode
    ``documents[doc_id < 500]``, position-delete 40 rows, and produce
    the live count via :func:`plans.encode_job.count_rows` (one
    thin-column manifest aggregation minus visible delete positions —
    zero buffers decoded).  The in-query cross-check against the real
    decode pins agreement; the oracle recomputes from the raw table."""
    import tempfile

    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        count_rows,
        decode_table,
        delete_rows,
        encode_table,
    )

    docs = load(spark, sf_dir, "documents")
    cols = ["lang", "n_chars"]
    out_dir = tempfile.mkdtemp(prefix="count_rows_")
    encode_table(
        spark,
        _fixture_ordered(docs.filter(F.col("doc_id") < 500), cols),
        out_dir,
        EncodeConfig(columns=cols, order_col="_seq", block_rows=64),
    )
    delete_rows(spark, out_dir, range(100, 140))
    n = count_rows(spark, out_dir)
    assert n == decode_table(spark, out_dir).count()
    return spark.createDataFrame([(n,)], "n_rows long")


_METADATA_COUNT_ROWS_SQL = """
SELECT count(*) - 40 AS n_rows FROM documents WHERE doc_id < 500
"""


def null_count_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validity-aware NULL counting: nulls are injected ONLY into the
    low-doc_id region (``doc_id % 7 == 0 AND doc_id < 50``), so after
    the doc_id-ordered encode the validity bitmaps cluster in the first
    block and :func:`plans.compressed.count_nulls` decodes just the
    null-bearing blocks — everything else prunes on the
    ``has_validity`` meta flag (asserted in-query).  Oracle = the raw
    count of the injected predicate."""
    import tempfile

    from pyrle_spark.plans.compressed import count_nulls
    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        dedup_blocks,
        encode_table,
    )
    from pyrle_spark.sources.icetable import IceTable

    docs = load(spark, sf_dir, "documents").withColumn(
        "lang_n",
        F.when(
            (F.col("doc_id") % 7 == 0) & (F.col("doc_id") < 50), F.lit(None)
        ).otherwise(F.col("lang")),
    )
    cols = ["lang_n", "n_chars"]
    out_dir = tempfile.mkdtemp(prefix="null_count_")
    encode_table(
        spark,
        _fixture_ordered(docs, cols),
        out_dir,
        EncodeConfig(columns=cols, order_col="_seq", block_rows=64),
    )
    enc = dedup_blocks(IceTable(out_dir).read_table(spark)).filter(
        F.col("column") == "lang_n"
    )
    with_validity = enc.filter(
        F.get_json_object(F.col("meta"), "$.has_validity") == "true"
    ).count()
    total_blocks = enc.count()
    assert 0 < with_validity < total_blocks, "validity pruning must bite"
    n = count_nulls(spark, out_dir, "lang_n")
    return spark.createDataFrame([(n,)], "n_nulls long")


_NULL_COUNT_PRUNED_SQL = """
SELECT count(*) AS n_nulls FROM documents
WHERE doc_id % 7 = 0 AND doc_id < 50
"""


_DELETE_WHERE_RANGE_AGG_SQL = """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE NOT (n_chars >= 460 OR (lang = 'fr' AND n_chars < 410))
GROUP BY lang
"""


def mass_delete_where_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mass takedown through the DISTRIBUTED delete-vector write path:
    encode ``documents``, lower the driver-materialization threshold so
    the matching position set exceeds it, and run ``DELETE WHERE
    n_chars BETWEEN 430 AND 449`` — the doomed positions are then
    range-partitioned and written by TASKS (multi-file vector entry,
    zero driver materialization: the write twin of decode's distributed
    anti-join).  In-query asserts pin that the distributed form was
    actually taken; the oracle is the complementary WHERE.  At 100 TB
    this is the path a 10⁹-row takedown takes without OOMing the
    driver."""
    import tempfile

    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        decode_table,
        delete_where_pred,
        encode_table,
    )

    docs = load(spark, sf_dir, "documents")
    cols = ["lang", "n_chars"]
    out_dir = tempfile.mkdtemp(prefix="mass_delete_")
    encode_table(
        spark,
        _fixture_ordered(docs, cols, key_cols=("lang",)),
        out_dir,
        EncodeConfig(columns=cols, order_col="_seq", block_rows=64),
    )
    # sandbox stand-in for the 1M cutover, threaded explicitly (never a
    # module-global patch — registry queries may run concurrently)
    info = delete_where_pred(
        spark, out_dir, predicates=[("n_chars", 430, 449)], driver_max=16
    )
    assert info["n_positions"] > 16, "must exceed the driver threshold"
    assert "files" in info and len(info["files"]) > 1, (
        "the distributed (task-written, multi-file) path must be taken"
    )
    # reads under the same low threshold exercise the distributed
    # anti-join against the task-written vector too
    return (
        decode_table(spark, out_dir, driver_max=16)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_MASS_DELETE_WHERE_AGG_SQL = """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE NOT (n_chars BETWEEN 430 AND 449)
GROUP BY lang
"""


def delete_vector_compaction_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-vector COMPACTION end-to-end: three overlapping takedown
    commits land on the encoded ``documents`` table, then
    :func:`plans.encode_job.compact_delete_vectors` merges them into
    one sorted deduplicated vector (Iceberg's
    ``rewrite_position_delete_files``) — and the decoded aggregate must
    be IDENTICAL before and after (asserted in-query) and equal to the
    oracle's complementary WHERE.  At 10⁴ takedowns this is what keeps
    read planning O(1) in delete files instead of O(#commits)."""
    import tempfile

    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        compact_delete_vectors,
        decode_table,
        delete_where_pred,
        encode_table,
    )

    docs = load(spark, sf_dir, "documents")
    cols = ["lang", "n_chars"]
    out_dir = tempfile.mkdtemp(prefix="dv_compact_")
    encode_table(
        spark,
        _fixture_ordered(docs, cols, key_cols=("lang",)),
        out_dir,
        EncodeConfig(columns=cols, order_col="_seq", block_rows=64),
    )
    # three overlapping predicate deletes (the overlap makes the
    # position dedup observable)
    delete_where_pred(spark, out_dir, predicates=[("n_chars", 470, 489)])
    delete_where_pred(spark, out_dir, predicates=[("n_chars", 480, 499)])
    delete_where_pred(spark, out_dir, predicates=[("lang", "fr", "fr"),
                                                  ("n_chars", 470, 509)])
    agg = lambda: (  # noqa: E731
        decode_table(spark, out_dir)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )
    before = {tuple(r) for r in agg().collect()}
    info = compact_delete_vectors(spark, out_dir)
    assert info["merged_entries"] == 3, info
    after = agg()
    assert {tuple(r) for r in after.collect()} == before
    return after


_DELETE_VECTOR_COMPACTION_AGG_SQL = """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE NOT (n_chars BETWEEN 470 AND 499
           OR (lang = 'fr' AND n_chars BETWEEN 470 AND 509))
GROUP BY lang
"""


def catalog_sql_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The catalog SQL surface end-to-end: encode ``documents``,
    ``CREATE TABLE … USING pyrle``, and answer the aggregate with plain
    ``spark.sql`` over the CATALOG table (no temp view, no DataFrame
    reader) — certifying the field-metadata path-recovery channel that
    survives Spark's empty reader-options handoff.  Oracle = the same
    aggregate on the raw table."""
    import tempfile
    import uuid

    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table
    from pyrle_spark.sources.datasource import register

    register(spark)
    docs = load(spark, sf_dir, "documents")
    cols = ["lang", "n_chars"]
    out_dir = tempfile.mkdtemp(prefix="catalog_sql_")
    encode_table(
        spark,
        _fixture_ordered(docs, cols, key_cols=("lang",)),
        out_dir,
        EncodeConfig(columns=cols, order_col="_seq", block_rows=64),
    )
    name = f"pyrle_cat_{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE TABLE {name} USING pyrle OPTIONS (path '{out_dir}')")
    try:
        # materialize before dropping: the catalog relation must exist
        # at execution time, and the result is O(#langs) rows
        rows = spark.sql(
            f"""SELECT lang, count(*) AS n_docs,
                       sum(n_chars) AS total_chars
                FROM {name} WHERE n_chars >= 420 GROUP BY lang"""
        ).collect()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    return spark.createDataFrame(
        rows, "lang string, n_docs long, total_chars long"
    )


_CATALOG_SQL_AGG_SQL = """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE n_chars >= 420 GROUP BY lang
"""


_ENCODED_JOIN_AGG_SQL = """
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE doc_id >= 200 AND doc_id < 300
GROUP BY lang, source
"""


_CLONE_DIVERGE_AGG_SQL = """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE doc_id < 800 GROUP BY lang
"""


_CONCAT_TABLES_AGG_SQL = """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE doc_id < 800 GROUP BY lang
"""


_BINPACK_AGG_SQL = """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""


_SEMIJOIN_PRUNE_AGG_SQL = """
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE source IN (SELECT DISTINCT source FROM documents WHERE doc_id < 5)
GROUP BY source
"""


_BLOOM_PRUNE_EQ_AGG_SQL = """
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE lang = 'fr' GROUP BY source
"""


def dsv2_pushdown_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine surfaced through Spark's own extension point: encode
    documents into an encoded-blocks table, then query it with
    ``spark.read.format("pyrle")`` — the registered Python Data Source
    (``sources/datasource.py``) — letting Catalyst hand the ``lang =
    'de'`` and ``n_chars <= 470`` predicates to the source's
    ``pushFilters`` hook.  The reader prunes blocks task-side (bloom
    digest for the equality, zone maps for the range) and Spark
    re-applies every filter on the decoded rows, so pruning is a pure
    superset optimization.  The oracle is the naive full scan — equality
    proves the planner-integrated path invents and loses nothing.

    Scale shape: planning touches O(#files) footers on the driver, the
    filters prune at block granularity before any decode, and decode
    parallelism is one task per data file — the DataSourceV2 contract,
    implemented in Python against the engine's own table format.  The
    fixture order comes from ``_fixture_ordered`` (bounded rank, no
    global window)."""
    import tempfile

    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table
    from pyrle_spark.sources.datasource import register

    register(spark)
    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["lang", "source", "n_chars"], key_cols=("lang",))
    out_dir = tempfile.mkdtemp(prefix="dsv2_pushdown_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(
            columns=["lang", "source", "n_chars"],
            order_col="_seq",
            block_rows=64,
        ),
    )
    df = spark.read.format("pyrle").load(out_dir)
    return (
        df.filter((F.col("lang") == "de") & (F.col("n_chars") <= 470))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_DSV2_PUSHDOWN_AGG_SQL = """
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE lang = 'de' AND n_chars <= 470 GROUP BY source
"""


def dsv2_roundtrip_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 writer → V2 reader roundtrip as a certified query: write the
    ordered fixture through ``df.write.format("pyrle")`` (each task
    encodes its pre-clustered rows and the driver links the reported
    files in one Iceberg-protocol metadata commit), read it back through
    the source, and aggregate per lang.  The oracle is the raw table —
    equality proves the write-side commit protocol preserves every row
    exactly once (no lost partial blocks, no double-linked task files).
    """
    import tempfile

    from pyrle_spark.sources.datasource import register

    register(spark)
    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["lang", "n_chars"], key_cols=("lang",))
    out_dir = tempfile.mkdtemp(prefix="dsv2_rt_")
    BR = 64
    (
        ordered.repartition(8, F.floor(F.col("_seq") / BR).cast("long"))
        .sortWithinPartitions("_seq")
        .write.format("pyrle")
        .option("order_col", "_seq")
        .option("block_rows", str(BR))
        .mode("append")
        .save(out_dir)
    )
    return (
        spark.read.format("pyrle")
        .load(out_dir)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_DSV2_ROUNDTRIP_COUNT_SQL = """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""


def mor_delete_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletion end-to-end through the REAL encoded
    pipeline: encode documents, record a position-delete vector for
    every doc with ``doc_id % 97 == 0`` (a takedown request), decode,
    and aggregate the survivors.  The oracle is the row-level filter —
    equality proves the delete vector removes exactly the requested
    rows and nothing else, without any block rewrite.

    Scale shape: the delete commit is O(deleted rows) (one parquet file
    + atomic manifest update); the read applies a broadcast anti-join
    of the tiny position set and prunes fully-deleted blocks from the
    manifest before any decode work."""
    import tempfile

    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        decode_table,
        delete_rows,
        encode_table,
    )

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["doc_id", "lang", "n_chars"])
    out_dir = tempfile.mkdtemp(prefix="mor_delete_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(
            columns=["doc_id", "lang", "n_chars"], order_col="_seq", block_rows=64
        ),
    )
    doomed = ordered.filter(F.col("doc_id") % 97 == 0).select(
        F.col("_seq").alias("_order")
    )
    delete_rows(spark, out_dir, doomed)
    dec = decode_table(spark, out_dir, columns=["doc_id", "lang", "n_chars"])
    return dec.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc_id"),
    )


_MOR_DELETE_AGG_SQL = """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc_id
FROM documents WHERE doc_id % 97 != 0 GROUP BY lang
"""


def mor_compressed_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-domain GROUP BY count AFTER a merge-on-read delete:
    encode documents.lang, delete every ``doc_id % 97 == 0`` position,
    then count by value straight from the blocks.  Blocks the delete
    touches decode-and-mask; the rest aggregate their code streams.
    Equality with the row-level oracle proves the compressed path and
    the decode path agree about deleted rows."""
    import tempfile

    from pyrle_spark.plans.compressed import count_by_value
    from pyrle_spark.plans.encode_job import EncodeConfig, delete_rows, encode_table

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["doc_id", "lang"])
    out_dir = tempfile.mkdtemp(prefix="mor_ccount_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(columns=["doc_id", "lang"], order_col="_seq", block_rows=64),
    )
    doomed = ordered.filter(F.col("doc_id") % 97 == 0).select(
        F.col("_seq").alias("_order")
    )
    delete_rows(spark, out_dir, doomed)
    return (
        count_by_value(spark, out_dir, "lang")
        .select(F.col("value").alias("lang"), "n_rows")
    )


_MOR_COMPRESSED_COUNT_SQL = """
SELECT lang, count(*) AS n_rows
FROM documents WHERE doc_id % 97 != 0 GROUP BY lang
"""


def compressed_count_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-BY-count answered IN THE COMPRESSED DOMAIN: encode
    documents.lang, then compute the histogram from each block's
    dictionary + code counts (``plans.compressed.count_by_value``) —
    no row is ever decoded.  The oracle is the plain row-level GROUP BY,
    so equality proves the run/code bookkeeping is exact.

    This is the distributed generalization of the reference's run-level
    statistics (pyrle computes sum/mean over (runs, values) without
    expanding positions, rle.py:931-959).  The fixture order column
    comes from ``_fixture_ordered`` (bounded rank, no global window)."""
    import tempfile

    from pyrle_spark.plans.compressed import count_by_value
    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["lang"])
    out_dir = tempfile.mkdtemp(prefix="compressed_count_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(columns=["lang"], order_col="_seq", block_rows=64),
    )
    return count_by_value(spark, out_dir, "lang").select(
        F.col("value").alias("lang"), "n_rows"
    )


_COMPRESSED_COUNT_SQL = """
SELECT lang, count(*) AS n_rows FROM documents GROUP BY lang
"""


def recompress_column_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER COLUMN ... SET CODEC, certified through the whole chain:
    encode documents.lang (the auto-selector picks dict), rewrite the
    column to ``fsst+zstd`` IN PLACE via
    :func:`~pyrle_spark.plans.encode_job.rewrite_column_codec` (one
    column re-encoded, nothing else touched, per-cell crc re-asserted),
    then answer the GROUP-BY count in the compressed domain ON THE
    REWRITTEN SNAPSHOT.  Equality with the row-level oracle proves the
    codec swap kept every value AND the compressed-domain operators work
    against the new representation.  The reference hard-codes one
    representation (rle.py:146-147); here it is a per-column, per-
    snapshot property."""
    import tempfile

    from pyrle_spark.plans.compressed import count_by_value
    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        encode_table,
        rewrite_column_codec,
    )

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["lang"])
    out_dir = tempfile.mkdtemp(prefix="recompress_count_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(columns=["lang"], order_col="_seq", block_rows=64),
    )
    rewrite_column_codec(spark, out_dir, "lang", "fsst+zstd")
    return count_by_value(spark, out_dir, "lang").select(
        F.col("value").alias("lang"), "n_rows"
    )


_RECOMPRESS_COUNT_SQL = """
SELECT lang, count(*) AS n_rows FROM documents GROUP BY lang
"""


def optimize_codec_action(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPTIMIZE advisor's codec tier, certified end to end: encode a
    size-bucket column (``n_chars // 100``) CLUSTERED by itself but
    pinned to ``raw`` (the legacy-table case — the layout is already
    right, the representation is not), let
    :func:`~pyrle_spark.plans.optimize.optimize_table` read the manifest
    stats, pick ``rewrite_column_codec`` (the layout tier must NOT fire:
    runs ≈ NDV), and apply it in place; then answer the GROUP-BY count
    in the compressed domain on the advisor-rewritten snapshot.  The
    query raises loudly if the advisor picks any other action, so a
    regression in the decision logic fails the gate rather than passing
    vacuously."""
    import tempfile

    from pyrle_spark.plans.compressed import count_by_value
    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table
    from pyrle_spark.plans.optimize import optimize_table

    docs = load(spark, sf_dir, "documents").withColumn(
        "sz", (F.col("n_chars") / F.lit(10)).cast("long")
    )
    # CLUSTERED by sz (key_cols): runs ≈ NDV (+ one split per block
    # boundary), so the layout tier sees ratio ≈ 1 at every sf and the
    # codec tier is what must fire
    ordered = _fixture_ordered(docs, ["sz"], key_cols=("sz",))
    out_dir = tempfile.mkdtemp(prefix="optimize_codec_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(
            columns=["sz"],
            order_col="_seq",
            block_rows=512,
            codec_overrides={"sz": "raw"},
        ),
    )
    res = optimize_table(spark, out_dir, apply=True)
    if res["action"] != "rewrite_column_codec":
        raise AssertionError(
            f"advisor picked {res['action']!r}, expected rewrite_column_codec "
            f"(report: {res['columns']})"
        )
    return count_by_value(spark, out_dir, "sz").select(
        F.col("value").cast("long").alias("sz"), "n_rows"
    )


_OPTIMIZE_CODEC_SQL = """
SELECT CAST(n_chars // 10 AS BIGINT) AS sz, count(*) AS n_rows
FROM documents GROUP BY 1
"""


def compressed_stats_n_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count/sum/min/max of documents.n_chars computed from the encoded
    blocks (``plans.compressed.numeric_stats``): rle blocks fold
    runs×values without expanding, other codecs decode only the one
    payload array.  Float64 accumulation is exact here (int sums well
    under 2^53), so the row-level oracle matches bit-for-bit."""
    import tempfile

    from pyrle_spark.plans.compressed import numeric_stats
    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["n_chars"])
    out_dir = tempfile.mkdtemp(prefix="compressed_stats_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(columns=["n_chars"], order_col="_seq", block_rows=64),
    )
    return numeric_stats(spark, out_dir, "n_chars")


_COMPRESSED_STATS_SQL = """
SELECT count(n_chars) AS n_rows,
       CAST(sum(n_chars) AS DOUBLE) AS sum_value,
       CAST(min(n_chars) AS DOUBLE) AS min_value,
       CAST(max(n_chars) AS DOUBLE) AS max_value
FROM documents
"""


def compressed_sum_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY lang SUM(n_chars) answered with the group column held in
    the compressed domain: dict blocks aggregate over their code stream
    (one np.add.at scatter per block), the measure decodes only its own
    payload (``plans.compressed.sum_by_value``).  Row-level GROUP BY is
    the oracle; int sums stay exact in float64 at this scale."""
    import tempfile

    from pyrle_spark.plans.compressed import sum_by_value
    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["lang", "n_chars"])
    out_dir = tempfile.mkdtemp(prefix="compressed_sum_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(columns=["lang", "n_chars"], order_col="_seq", block_rows=64),
    )
    return sum_by_value(spark, out_dir, "lang", "n_chars").select(
        F.col("value").alias("lang"), "n_rows", "sum_value"
    )


_COMPRESSED_SUM_SQL = """
SELECT lang, count(*) AS n_rows, CAST(sum(n_chars) AS DOUBLE) AS sum_value
FROM documents GROUP BY lang
"""


def compressed_sum_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level FILTER pushed below decode
    (``plans.compressed.filtered_numeric_agg``): rle blocks evaluate the
    range predicate on run VALUES and fold matching runs without
    expansion, fixed dict blocks evaluate it on the DICTIONARY and
    histogram the codes, other codecs decode only the one column.  The
    fixture encodes three numeric columns picked to land on three
    different codecs — ``n_chars`` (high-entropy → FoR/raw),
    ``nc16 = n_chars % 16`` (16 distinct, runless → dict),
    ``lang_len = length(lang)`` on a lang-sorted order (long runs →
    rle) — and runs one BETWEEN aggregate per column; the oracle is the
    row-level WHERE.

    Scale shape: one mapInArrow over the manifest per column, partial
    (n, sum) per block, O(#blocks) rows shuffled."""
    import tempfile

    from pyrle_spark.plans.compressed import filtered_numeric_agg
    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table

    docs = load(spark, sf_dir, "documents").withColumn(
        "nc16", F.col("n_chars") % 16
    ).withColumn("lang_len", F.length("lang").cast("long"))
    ordered = _fixture_ordered(
        docs, ["n_chars", "nc16", "lang_len"], key_cols=("lang",)
    )
    out_dir = tempfile.mkdtemp(prefix="compressed_where_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(
            columns=["n_chars", "nc16", "lang_len"],
            order_col="_seq",
            block_rows=64,
        ),
    )
    parts = []
    for col, lo, hi in (
        ("n_chars", 200, 800),
        ("nc16", 3, 9),
        ("lang_len", 2, 2),
    ):
        parts.append(
            filtered_numeric_agg(spark, out_dir, col, lo, hi).select(
                F.lit(col).alias("col"),
                "n_match",
                F.col("sum_match").cast("long").alias("sum_match"),
            )
        )
    return parts[0].unionByName(parts[1]).unionByName(parts[2])


_COMPRESSED_SUM_WHERE_SQL = """
SELECT 'n_chars' AS col, count(*) AS n_match,
       CAST(sum(n_chars) AS BIGINT) AS sum_match
FROM documents WHERE n_chars BETWEEN 200 AND 800
UNION ALL
SELECT 'nc16', count(*), CAST(sum(n_chars % 16) AS BIGINT)
FROM documents WHERE n_chars % 16 BETWEEN 3 AND 9
UNION ALL
SELECT 'lang_len', count(*), CAST(sum(length(lang)) AS BIGINT)
FROM documents WHERE length(lang) = 2
"""


def compressed_groupby_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-column GROUP BY answered below decode
    (``plans.compressed.group_count_pair``): events encode ordered by
    ``ym = year*100 + month`` so the pinned-rle ``ym`` column carries
    long runs, ``event_type`` auto-selects dict, and each block emits
    its joint code histogram — rle runs pair with dict codes without a
    single per-row value materializing; rle×rle pairs would zip at run
    boundaries (``_pair_hist``, pinned by the unit suite).  The oracle
    is the plain row-level two-key GROUP BY.

    Scale shape: ONE hash shuffle of compressed buffers on block_id
    (the zip-join move), O(#distinct pairs) rows per block out, final
    aggregate key = pair cardinality."""
    import tempfile

    from pyrle_spark.plans.compressed import group_count_pair
    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        assign_row_order,
        encode_table,
    )

    ev = load(spark, sf_dir, "events").select(
        (F.year("ts").cast("long") * 100 + F.month("ts")).alias("ym"),
        "event_type",
        "event_id",
    )
    ordered = assign_row_order(ev, ["ym"], tiebreak="event_id", out_col="_seq")
    out_dir = tempfile.mkdtemp(prefix="compressed_pair_")
    encode_table(
        spark,
        ordered.select("_seq", "ym", "event_type"),
        out_dir,
        EncodeConfig(
            columns=["ym", "event_type"],
            order_col="_seq",
            block_rows=64,
            codec_overrides={"ym": "rle"},
        ),
    )
    return group_count_pair(spark, out_dir, "ym", "event_type").select(
        F.col("value_a").alias("ym"),
        F.col("value_b").alias("event_type"),
        "n_rows",
    )


_COMPRESSED_GROUPBY_PAIR_SQL = """
SELECT CAST(CAST(EXTRACT(year FROM ts) AS BIGINT) * 100
            + CAST(EXTRACT(month FROM ts) AS BIGINT) AS VARCHAR) AS ym,
       event_type, count(*) AS n_rows
FROM events GROUP BY 1, 2
"""


def compressed_groupby_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group DISTINCT COUNT answered below decode
    (``plans.compressed.group_ndv_pair``): the same encoded layout as
    :func:`compressed_groupby_pair` but keyed per DAY (the corpus spans
    one month, so day granularity gives ~30 real groups) — rle ``ymd``
    × dict ``event_type``, and the global fold counts distinct partner
    codes per group instead of summing, i.e. ``SELECT ymd,
    count(DISTINCT event_type), count(*) GROUP BY ymd`` with
    deduplication happening on CODES inside
    each block and on O(#distinct pairs) rows after — no row-level
    expand, no sketch, exact by construction.

    Scale shape: one block_id shuffle of compressed buffers; the
    distinct-count shuffle is bounded by pair cardinality."""
    import tempfile

    from pyrle_spark.plans.compressed import group_ndv_pair
    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        assign_row_order,
        encode_table,
    )

    ev = load(spark, sf_dir, "events").select(
        (
            F.year("ts").cast("long") * 10000
            + F.month("ts") * 100
            + F.dayofmonth("ts")
        ).alias("ymd"),
        "event_type",
        "event_id",
    )
    ordered = assign_row_order(ev, ["ymd"], tiebreak="event_id", out_col="_seq")
    out_dir = tempfile.mkdtemp(prefix="compressed_ndv_")
    encode_table(
        spark,
        ordered.select("_seq", "ymd", "event_type"),
        out_dir,
        EncodeConfig(
            columns=["ymd", "event_type"],
            order_col="_seq",
            block_rows=64,
            codec_overrides={"ymd": "rle"},
        ),
    )
    return group_ndv_pair(spark, out_dir, "ymd", "event_type").select(
        F.col("value_a").alias("ymd"), "ndv_b", "n_rows"
    )


_COMPRESSED_GROUPBY_NDV_SQL = """
SELECT CAST(CAST(EXTRACT(year FROM ts) AS BIGINT) * 10000
            + CAST(EXTRACT(month FROM ts) AS BIGINT) * 100
            + CAST(EXTRACT(day FROM ts) AS BIGINT) AS VARCHAR) AS ymd,
       count(DISTINCT event_type) AS ndv_b, count(*) AS n_rows
FROM events GROUP BY 1
"""


def rollup_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical GROUPING SETS via ``rollup``: per-(lang, source)
    totals, per-lang subtotals, and the grand total in ONE aggregate —
    Catalyst expands the three grouping sets map-side (a single Expand
    + one shuffle, partial aggregation intact), so the subtotal rows
    cost one pass, not three scans.  Subtotal slots surface as the
    ``ALL`` sentinel (both key columns are non-null in the corpus, so
    the coalesce is unambiguous); the oracle is duckdb's native
    ``GROUP BY ROLLUP``.

    Scale shape: one shuffle keyed by the expanded grouping-set id +
    keys; output cardinality = |lang×source| + |lang| + 1."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.rollup("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            F.coalesce("source", F.lit("ALL")).alias("source"),
            "n_docs",
            "total_chars",
        )
    )


_ROLLUP_LANG_SOURCE_SQL = """
SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY ROLLUP (lang, source)
"""


def compressed_groupby_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-key GROUP BY with an integer-sum measure answered below row
    decode (``plans.compressed.group_sum_pair``): documents encode
    (lang, source)-clustered, both dict key columns pair on codes, and
    ``n_chars`` folds into the joint histogram with one ``np.add.at``
    per block — int64 end-to-end, so the row-level oracle matches
    bit-for-bit.  This is ``SELECT lang, source, count(*), sum(n_chars)``
    with no row-shaped record anywhere in the plan.

    Scale shape: one block_id shuffle of compressed buffers,
    O(#distinct pairs) per block out, final aggregate key = pair
    cardinality."""
    import tempfile

    from pyrle_spark.plans.compressed import group_sum_pair
    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(
        docs, ["lang", "source", "n_chars"], key_cols=("lang", "source")
    )
    out_dir = tempfile.mkdtemp(prefix="compressed_pairsum_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(
            columns=["lang", "source", "n_chars"],
            order_col="_seq",
            block_rows=64,
        ),
    )
    return group_sum_pair(spark, out_dir, "lang", "source", "n_chars").select(
        F.col("value_a").alias("lang"),
        F.col("value_b").alias("source"),
        "n_rows",
        "sum_m",
    )


_COMPRESSED_GROUPBY_SUM_SQL = """
SELECT lang, source, count(*) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS sum_m
FROM documents GROUP BY lang, source
"""


def compressed_group_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered grouped counts below decode
    (``plans.compressed.group_count_where``): documents encode
    CLUSTERED BY the filter column ``n_chars``, so its per-block zones
    tile the value range — blocks outside ``[150, 350]`` never shuffle
    (tier 1: manifest zone prune), blocks wholly inside histogram the
    ``lang`` key straight off codes with zero filter work (tier 2:
    zone containment), and only the two straddling edge blocks build a
    row mask (tier 3).  This is ``SELECT lang, count(*) WHERE n_chars
    BETWEEN 150 AND 350 GROUP BY lang`` — the everyday query shape —
    with the filter column contributing almost no row-level work.  The
    oracle is the plain row-level filtered GROUP BY.

    Scale shape: O(#blocks) manifest prune, one block_id shuffle of the
    SURVIVING compressed buffers only, O(#distinct keys) per block out."""
    import tempfile

    from pyrle_spark.plans.compressed import group_count_where
    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(
        docs, ["lang", "n_chars"], key_cols=("n_chars",)
    )
    out_dir = tempfile.mkdtemp(prefix="compressed_gwhere_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(
            columns=["lang", "n_chars"], order_col="_seq", block_rows=64
        ),
    )
    return group_count_where(
        spark, out_dir, "lang", "n_chars", lo=150, hi=350
    ).select(F.col("value_a").alias("lang"), "n_rows")


_COMPRESSED_GROUP_WHERE_SQL = """
SELECT lang, count(*) AS n_rows
FROM documents WHERE n_chars BETWEEN 150 AND 350
GROUP BY lang
"""


def compressed_groupby_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-key GROUP BY with MIN/MAX bounds answered below row decode
    (``plans.compressed.group_minmax_pair``): the same (lang, source)
    code-paired layout as :func:`compressed_groupby_sum`, with the
    integer ``n_chars`` measure folded into the pair domain via
    ``np.minimum.at`` / ``np.maximum.at`` — completing the below-decode
    aggregate family (count, sum, distinct, min/max).  int64 end-to-end
    so the row-level oracle matches bit-for-bit.

    Scale shape: one block_id shuffle of compressed buffers,
    O(#distinct pairs) per block out, final aggregate key = pair
    cardinality."""
    import tempfile

    from pyrle_spark.plans.compressed import group_minmax_pair
    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(
        docs, ["lang", "source", "n_chars"], key_cols=("lang", "source")
    )
    out_dir = tempfile.mkdtemp(prefix="compressed_minmax_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(
            columns=["lang", "source", "n_chars"],
            order_col="_seq",
            block_rows=64,
        ),
    )
    return group_minmax_pair(
        spark, out_dir, "lang", "source", "n_chars"
    ).select(
        F.col("value_a").alias("lang"),
        F.col("value_b").alias("source"),
        "n_rows",
        "min_m",
        "max_m",
    )


_COMPRESSED_GROUPBY_MINMAX_SQL = """
SELECT lang, source, count(*) AS n_rows,
       CAST(min(n_chars) AS BIGINT) AS min_m,
       CAST(max(n_chars) AS BIGINT) AS max_m
FROM documents GROUP BY lang, source
"""


def compressed_prefix_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE-'prefix%' counts answered with string-zonemap block pruning
    (``plans.compressed.count_where_prefix``): the source-clustered
    layout means the ``src1%`` probe touches only the blocks whose
    [zmin, zmax] window can hold it, and surviving dict blocks test the
    DICTIONARY (O(#distinct) startswith) while fsst text blocks decode
    only themselves.  The oracle is the row-level LIKE on both columns.

    Scale shape: O(#blocks) manifest prune, one mapInArrow emitting one
    int per surviving block, two single-row aggregates joined."""
    import tempfile

    from pyrle_spark.plans.compressed import count_where_prefix
    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["text", "source"], key_cols=("source",))
    out_dir = tempfile.mkdtemp(prefix="compressed_prefix_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(columns=["text", "source"], order_col="_seq", block_rows=64),
    )
    n_text = count_where_prefix(spark, out_dir, "text", "the").select(
        F.col("n_match").alias("n_text")
    )
    n_source = count_where_prefix(spark, out_dir, "source", "src1").select(
        F.col("n_match").alias("n_source")
    )
    return n_text.crossJoin(n_source)


_COMPRESSED_PREFIX_SQL = """
SELECT (SELECT count(*) FROM documents WHERE text LIKE 'the%') AS n_text,
       (SELECT count(*) FROM documents WHERE source LIKE 'src1%') AS n_source
"""


def compressed_contains_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring (LIKE '%sub%') counts in the compressed domain
    (``plans.compressed.count_where_contains``): a contains probe has
    no sound zonemap bound, so every block is visited — the saving is
    per-visit cost, not visit count: the source-clustered dict column
    answers from its DICTIONARY (O(#distinct) substring probes + one
    bincount of codes), and only non-dict text blocks decode their one
    column for a vectorized Arrow ``match_substring``.  Three probes —
    a dict-path hit (``rc1`` inside source names), a text-path hit,
    and a guaranteed miss — certify fast path, slow path, and the
    zero case; the oracle is the row-level LIKE for all three.

    Scale shape: O(#blocks) manifest scan, column-pruned; one int per
    block out of the Arrow pass."""
    import tempfile

    from pyrle_spark.plans.compressed import count_where_contains
    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["text", "source"], key_cols=("source",))
    out_dir = tempfile.mkdtemp(prefix="compressed_contains_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(columns=["text", "source"], order_col="_seq", block_rows=64),
    )
    n_src = count_where_contains(spark, out_dir, "source", "rc1").select(
        F.col("n_match").alias("n_src")
    )
    n_text = count_where_contains(spark, out_dir, "text", "and").select(
        F.col("n_match").alias("n_text")
    )
    n_miss = count_where_contains(
        spark, out_dir, "source", "no-such-substring"
    ).select(F.col("n_match").alias("n_miss"))
    return n_src.crossJoin(n_text).crossJoin(n_miss)


_COMPRESSED_CONTAINS_SQL = """
SELECT (SELECT count(*) FROM documents WHERE source LIKE '%rc1%') AS n_src,
       (SELECT count(*) FROM documents WHERE text LIKE '%and%') AS n_text,
       (SELECT count(*) FROM documents
        WHERE source LIKE '%no-such-substring%') AS n_miss
"""


def compressed_eq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality predicates evaluated in the compressed domain end-to-end
    (``plans.compressed.count_where_eq``): bloom digests prune blocks
    that never saw the probe, DICT blocks count the probe's code, and
    FSST blocks compare ENCODED spans against the probe encoded with
    each block's own symbol table — greedy FSST encode is canonical per
    string, so equal rows stored exactly those bytes (pinned by
    ``test_fsst_eq_probe_canonical``).  The fixture pins the
    high-cardinality ``probe_str`` column to fsst via
    ``EncodeConfig.codec_overrides`` (the per-column codec pin), lets
    ``lang`` auto-select dict, and routes ``n_chars`` through the
    decode fallback; the oracle is the row-level WHERE for all four
    probes, hit and miss.

    Scale shape: O(#blocks) manifest prune + one mapInArrow emitting one
    int per surviving block; no full-column decode on any fast path."""
    import tempfile

    from pyrle_spark.plans.compressed import count_where_eq
    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table

    docs = load(spark, sf_dir, "documents").withColumn(
        "probe_str",
        F.concat_ws("-", F.col("source"), (F.col("n_chars") % 50).cast("string")),
    )
    ordered = _fixture_ordered(docs, ["probe_str", "lang", "n_chars"])
    out_dir = tempfile.mkdtemp(prefix="compressed_eq_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(
            columns=["probe_str", "lang", "n_chars"],
            order_col="_seq",
            block_rows=64,
            codec_overrides={"probe_str": "fsst"},
        ),
    )
    parts = []
    for col, probe in (
        ("probe_str", "src3-17"),
        ("probe_str", "nope-999"),
        ("lang", "es"),
        ("n_chars", 300),
    ):
        parts.append(
            count_where_eq(spark, out_dir, col, probe).select(
                F.lit(col).alias("col"),
                F.lit(str(probe)).alias("probe"),
                "n_match",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_COMPRESSED_EQ_PROBE_SQL = """
SELECT 'probe_str' AS col, 'src3-17' AS probe, count(*) AS n_match
FROM documents WHERE source || '-' || CAST(n_chars % 50 AS VARCHAR) = 'src3-17'
UNION ALL
SELECT 'probe_str', 'nope-999', count(*)
FROM documents WHERE source || '-' || CAST(n_chars % 50 AS VARCHAR) = 'nope-999'
UNION ALL
SELECT 'lang', 'es', count(*) FROM documents WHERE lang = 'es'
UNION ALL
SELECT 'n_chars', '300', count(*) FROM documents WHERE n_chars = 300
"""


def compressed_topk_zonemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k by ``n_chars`` (doc_id tiebreak) answered with block
    decode gated by manifest zone maps
    (``plans.compressed.topk_below_decode``): a greedy zmax-descending
    cover supplies candidates, the observed k-th value proves every
    remaining block with ``zmax < v_k`` irrelevant, and only the
    survivors ever decode — late materialization, the compressed-domain
    dual of ``zonemap_prune_agg``'s scan pruning.  The oracle is the
    naive full-table ORDER BY ... LIMIT k, so equality shows the prune
    invents and loses nothing, ties included.

    Scale shape: pass 1 is an O(#blocks) manifest scan; decode cost is
    O(blocks overlapping the top), independent of table size."""
    import tempfile

    from pyrle_spark.plans.compressed import topk_below_decode
    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["doc_id", "n_chars"])
    out_dir = tempfile.mkdtemp(prefix="compressed_topk_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(columns=["doc_id", "n_chars"], order_col="_seq", block_rows=64),
    )
    return topk_below_decode(spark, out_dir, "n_chars", "doc_id", k=15)


_COMPRESSED_TOPK_SQL = """
SELECT doc_id, n_chars FROM documents
ORDER BY n_chars DESC, doc_id LIMIT 15
"""


def compressed_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete quantiles (p25/p50/p75) of a low-cardinality
    dict-encoded column computed from per-block CODE HISTOGRAMS — the
    value payload never re-materializes rows
    (``plans.compressed.count_by_value``; dict blocks scatter-add their
    code stream, rle blocks fold runs).  The quantile definition is the
    pure-integer form ``min v : 100·cum(v) >= pct·n`` in BOTH engines,
    so no float seam exists; the oracle computes the same histogram
    row-level.

    Scale shape: one mapInArrow manifest pass emits O(#blocks ×
    distinct) partials; everything after the histogram shuffle is
    O(distinct) = 16 rows.  The cumulative count is a broadcast
    triangular self-join over those 16 rows (O(distinct²) pairs), so no
    partitionless window exists anywhere in the plan."""
    import tempfile

    from pyrle_spark.plans.compressed import count_by_value
    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table

    docs = load(spark, sf_dir, "documents").withColumn(
        "nc16", F.col("n_chars") % 16
    )
    ordered = _fixture_ordered(docs, ["nc16"])
    out_dir = tempfile.mkdtemp(prefix="compressed_quantile_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(columns=["nc16"], order_col="_seq", block_rows=64),
    )
    hist = count_by_value(spark, out_dir, "nc16").select(
        F.col("value").cast("long").alias("v"), F.col("n_rows").alias("c")
    )
    total = hist.agg(F.sum("c").alias("n"))
    lower = hist.select(F.col("v").alias("v2"), F.col("c").alias("c2"))
    cum = (
        hist.join(F.broadcast(lower), F.col("v2") <= F.col("v"))
        .groupBy("v")
        .agg(F.sum("c2").alias("cum"))
        .crossJoin(F.broadcast(total))
    )
    pcts = spark.createDataFrame([(25,), (50,), (75,)], "pct int")
    return (
        F.broadcast(pcts)
        .join(cum, 100 * F.col("cum") >= F.col("pct") * F.col("n"))
        .groupBy("pct")
        .agg(F.min("v").alias("v"))
    )


_COMPRESSED_QUANTILE_SQL = """
WITH h AS (
  SELECT n_chars % 16 AS v, count(*) AS c FROM documents GROUP BY 1
), cum AS (
  SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n FROM h
), p AS (SELECT unnest([25, 50, 75]) AS pct)
SELECT pct, min(v) AS v
FROM p JOIN cum ON 100 * cum >= pct * n
GROUP BY pct
"""


# lang → script dim: 'es' deliberately absent (inner join must drop those
# fact rows), 'ru' deliberately factless (must contribute nothing)
_SCRIPT_DIM = [
    ("en", "latin"),
    ("de", "latin"),
    ("fr", "latin"),
    ("zh", "han"),
    ("ru", "cyrillic"),
]


def compressed_join_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema aggregate with the FACT side in the compressed domain
    (``plans.compressed.agg_join_dim``): encode documents (lang,
    n_chars); each block contributes per-value (count, sum) partials
    from its dictionary codes — the join operand is the O(distinct)
    histogram, not the rows — then a broadcast inner join to the
    lang→script dim and a re-group by script.  "Aggregate below the
    join" done at the storage layer; the row-level join+GROUP BY is the
    oracle."""
    import tempfile

    from pyrle_spark.plans.compressed import agg_join_dim
    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["lang", "n_chars"])
    out_dir = tempfile.mkdtemp(prefix="compressed_join_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(columns=["lang", "n_chars"], order_col="_seq", block_rows=64),
    )
    dim = spark.createDataFrame(_SCRIPT_DIM, "lang string, script string")
    return agg_join_dim(
        spark, out_dir, "lang", dim, "lang", "script", measure_col="n_chars"
    )


_COMPRESSED_JOIN_DIM_SQL = """
SELECT d.script, count(*) AS n_rows, CAST(sum(t.n_chars) AS DOUBLE) AS sum_value
FROM documents t
JOIN (VALUES ('en','latin'), ('de','latin'), ('fr','latin'),
             ('zh','han'), ('ru','cyrillic')) AS d(lang, script)
  ON t.lang = d.lang
GROUP BY d.script
"""


# ----------------------------------------------- §2 oracle widening (round 2)
# Each query below upgrades a SURVEY §2 cell from "pytest green" to
# driver-oracle-verified: apply_values (§2.2), slice + point lookup
# (§2.10), std quirk (§2.5), left shift (§2.6), natural sort (§2.7),
# add_pseudocounts (§2.2), make_strands_same_length (§2.10).


def apply_values_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``apply_values`` (rle.py:747-802) relationally: map every run
    value through f(v) = floor(sqrt(v)) — deliberately non-injective so
    the post-map defragment (the ``defragment=True`` default) actually
    merges newly-adjacent equal runs.  Windows stay partitioned by
    event_type; coverage values are >= 0 by construction."""
    cov = coverage_events(spark, sf_dir).select(
        "event_type",
        "start_pos",
        F.floor(F.sqrt(F.col("cov_value"))).cast("double").alias("v"),
        "run_len",
    )
    w = W.partitionBy("event_type").orderBy("start_pos")
    marked = cov.select(
        "event_type",
        "start_pos",
        "v",
        "run_len",
        F.when(
            F.lag("v").over(w).isNull() | (F.lag("v").over(w) != F.col("v")), 1
        )
        .otherwise(0)
        .alias("chg"),
    )
    grp = marked.withColumn("grp", F.sum("chg").over(w))
    return (
        grp.groupBy("event_type", "grp")
        .agg(
            F.min("start_pos").alias("start_pos"),
            F.min("v").alias("value"),
            F.sum("run_len").alias("run_len"),
        )
        .select("event_type", "start_pos", "value", "run_len")
    )


_APPLY_VALUES_RUNS_SQL = f"""
WITH cov AS ({_COVERAGE_EVENTS_SQL}),
mapped AS (
  SELECT event_type, start_pos,
         CAST(floor(sqrt(cov_value)) AS DOUBLE) AS v, run_len
  FROM cov
),
marked AS (
  SELECT event_type, start_pos, v, run_len,
         CASE WHEN lag(v) OVER (PARTITION BY event_type ORDER BY start_pos)
                   IS DISTINCT FROM v
              THEN 1 ELSE 0 END AS chg
  FROM mapped
),
grps AS (
  SELECT *, sum(chg) OVER (PARTITION BY event_type ORDER BY start_pos) AS grp
  FROM marked
)
SELECT event_type, min(start_pos) AS start_pos, min(v) AS value,
       CAST(sum(run_len) AS BIGINT) AS run_len
FROM grps GROUP BY event_type, grp
"""


_SLICE_LO, _SLICE_HI = 7, 29


def rle_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rle[i:j]`` (rle.py:282-286, getitem.pyx:11-83): clip the run
    table to logical positions [7, 29) per source and re-zero positions.
    Pure filter + projection — the overlap predicate is exactly what
    block zone-maps prune on at scale."""
    lo, hi = F.lit(_SLICE_LO), F.lit(_SLICE_HI)
    runs = rle_encode_lang(spark, sf_dir).withColumn(
        "end_pos", F.col("start_pos") + F.col("run_len")
    )
    return runs.filter((F.col("start_pos") < hi) & (F.col("end_pos") > lo)).select(
        "source",
        (F.greatest(F.col("start_pos"), lo) - lo).alias("start_pos"),
        "value",
        (
            F.least(F.col("end_pos"), hi) - F.greatest(F.col("start_pos"), lo)
        ).alias("run_len"),
    )


_RLE_SLICE_SQL = f"""
WITH runs AS (
  SELECT *, start_pos + run_len AS end_pos FROM ({_RLE_ENCODE_LANG_SQL})
)
SELECT source,
       greatest(start_pos, {_SLICE_LO}) - {_SLICE_LO} AS start_pos,
       value,
       least(end_pos, {_SLICE_HI}) - greatest(start_pos, {_SLICE_LO}) AS run_len
FROM runs WHERE start_pos < {_SLICE_HI} AND end_pos > {_SLICE_LO}
"""


def getlocs_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rle[array_of_locs]`` (rle.py:337-340, getitem.pyx:89-109):
    sorted point lookups 0,7,..,28 against every source's run table.
    The point set is tiny and broadcast; the run side stays put — the
    searchsorted of the reference becomes a broadcast range predicate."""
    runs = rle_encode_lang(spark, sf_dir).withColumn(
        "end_pos", F.col("start_pos") + F.col("run_len")
    )
    points = spark.range(5).select((F.col("id") * 7).alias("pos"))
    joined = runs.join(
        F.broadcast(points),
        (points.pos >= runs.start_pos) & (points.pos < runs.end_pos),
    )
    return joined.select("source", "pos", "value")


_GETLOCS_POINTS_SQL = f"""
WITH runs AS (
  SELECT *, start_pos + run_len AS end_pos FROM ({_RLE_ENCODE_LANG_SQL})
),
points AS (SELECT unnest(generate_series(0, 4)) * 7 AS pos)
SELECT r.source, p.pos, r.value
FROM runs r JOIN points p ON p.pos >= r.start_pos AND p.pos < r.end_pos
"""


def rle_std_quirk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ``std`` quirk (rle.py:1097-1113): the square is
    applied OUTSIDE the sum — sqrt((sum(values − mean))² / (length−1))
    with the unweighted mean quirk (rle.py:945-959).

    Float discipline: sum(values − mean) is computed algebraically as
    sum(values) − n·mean so both engines evaluate one exact integer sum
    followed by the same scalar IEEE expression — no order-dependent
    float accumulation; rounded to 6 decimals on both sides."""
    cov = coverage_events(spark, sf_dir)
    agg = cov.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.sum("run_len").alias("length"),
        F.sum("cov_value").alias("sv"),
    )
    mean = F.col("sv") / F.col("length")
    diff = F.col("sv") - F.col("n_runs") * mean
    return agg.select(
        "event_type",
        "n_runs",
        F.round(
            F.sqrt(diff * diff / (F.col("length") - 1)), 6
        ).alias("std_quirk"),
    )


_RLE_STD_QUIRK_SQL = f"""
WITH cov AS ({_COVERAGE_EVENTS_SQL}),
agg AS (
  SELECT event_type, count(*) AS n_runs,
         CAST(sum(run_len) AS BIGINT) AS length, sum(cov_value) AS sv
  FROM cov GROUP BY event_type
)
SELECT event_type, n_runs,
       round(sqrt((sv - n_runs * (sv / length)) * (sv - n_runs * (sv / length))
                  / (length - 1)), 6) AS std_quirk
FROM agg
"""


def shift_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left shift (negative dist, rle.py:1074-1093): runs are consumed
    from the front and the fill value appended at the end — in decoded
    form, lead with fill, per source ordered by doc_id."""
    docs = load(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("doc_id")
    return docs.select(
        "source",
        "doc_id",
        F.lead("lang", 1, "FILL").over(w).alias("next_lang"),
    )


_SHIFT_LEAD_SQL = """
SELECT source, doc_id,
       coalesce(lead(lang) OVER (PARTITION BY source ORDER BY doc_id), 'FILL') AS next_lang
FROM documents
"""


def natsort_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Natural-sort key ordering (rledict.py:153,336,...: natsorted):
    'src2' sorts before 'src10'.  The key is (alpha prefix, numeric
    value); the rank window runs over the DISTINCT key set only —
    inherently tiny after the distinct aggregation (pmod key keeps the
    intentional single partition out of the global-window warning)."""
    sources = load(spark, sf_dir, "documents").select("source").distinct()
    alpha = F.regexp_replace(F.col("source"), "[0-9]+", "")
    num = F.regexp_extract(F.col("source"), "([0-9]+)", 1).cast("long")
    one = F.pmod(F.length("source"), F.lit(1))
    w = W.partitionBy(one).orderBy(alpha, num)
    return sources.select(
        "source", F.row_number().over(w).alias("nat_rank")
    )


_NATSORT_KEYS_SQL = """
SELECT source,
       row_number() OVER (
         ORDER BY regexp_replace(source, '[0-9]+', '', 'g'),
                  CAST(regexp_extract(source, '([0-9]+)', 1) AS BIGINT)
       ) AS nat_rank
FROM (SELECT DISTINCT source FROM documents)
"""


def pseudocounts_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Working version of the reference's broken ``add_pseudocounts``
    (rledict.py:418-420 crashes on `.loc` of a numpy array; SURVEY
    §2.2): zero run values replaced by the pseudocount 0.01.  No
    defragment — 0.01 never equals an existing nonzero count."""
    cov = coverage_events(spark, sf_dir)
    return cov.select(
        "event_type",
        "start_pos",
        "run_len",
        F.when(F.col("cov_value") == 0, F.lit(0.01))
        .otherwise(F.col("cov_value"))
        .alias("pc_value"),
    )


_PSEUDOCOUNTS_STEP_SQL = f"""
WITH cov AS ({_COVERAGE_EVENTS_SQL})
SELECT event_type, start_pos, run_len,
       CASE WHEN cov_value = 0 THEN 0.01
            ELSE CAST(cov_value AS DOUBLE) END AS pc_value
FROM cov
"""


def strand_pad_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``make_strands_same_length`` (rledict.py:650-676): for the
    click/view pair, emit the zero-valued pad run that extends the
    shorter side to the longer side's length.  Two-row aggregate +
    broadcastable max — the padding decision is O(#keys), never O(data)."""
    cov = coverage_events(spark, sf_dir)
    lens = cov.groupBy("event_type").agg(
        (F.max(F.col("start_pos") + F.col("run_len"))).alias("length")
    )
    one = F.pmod(F.length("event_type"), F.lit(1))
    w = W.partitionBy(one)
    padded = lens.select(
        "event_type",
        "length",
        F.max("length").over(w).alias("max_len"),
    )
    return padded.filter(F.col("length") < F.col("max_len")).select(
        "event_type",
        F.col("length").alias("start_pos"),
        (F.col("max_len") - F.col("length")).alias("run_len"),
        F.lit(0.0).alias("pad_value"),
    )


_STRAND_PAD_RUN_SQL = f"""
WITH cov AS ({_COVERAGE_EVENTS_SQL}),
lens AS (
  SELECT event_type, max(start_pos + run_len) AS length
  FROM cov GROUP BY event_type
),
padded AS (
  SELECT event_type, length, max(length) OVER () AS max_len FROM lens
)
SELECT event_type, length AS start_pos,
       CAST(max_len - length AS BIGINT) AS run_len, 0.0 AS pad_value
FROM padded WHERE length < max_len
"""


def layout_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-driven sort-layout advisor: for each candidate sort column,
    the total RLE run count every encoded column would produce if the
    table were written in (candidate, doc_id) order — the decision a
    clustering/compaction job makes before paying the sort, generalizing
    the codec selector's content-driven choice (rle.py:740-743) from
    "which codec for this layout" to "which layout for these codecs".

    Scale shape: run counting is a lag-compare window per candidate
    order, which is inherently a total order — so the advisor measures a
    DETERMINISTIC SAMPLE (doc_id % 5 = 0, ~20%), never the full table;
    run counts scale linearly with sample rate for run-structured data,
    and the advisor only needs the ranking, not absolute counts.  The
    sample fits one partition by construction (the pmod key marks the
    single partition intentional)."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    targets = ["lang", "source", "n_chars"]
    outs = []
    for cand in targets:
        one = F.pmod(F.col("doc_id"), F.lit(1))
        w = W.partitionBy(one).orderBy(cand, "doc_id")
        flags = docs.select(
            *[
                F.when(
                    F.lag(t).over(w).isNull() | (F.lag(t).over(w) != F.col(t)), 1
                )
                .otherwise(0)
                .alias(f"chg_{t}")
                for t in targets
            ]
        )
        outs.append(
            flags.agg(
                *[F.sum(f"chg_{t}").alias(f"runs_{t}") for t in targets]
            ).select(F.lit(cand).alias("sort_col"), *[f"runs_{t}" for t in targets])
        )
    un = outs[0]
    for o in outs[1:]:
        un = un.unionAll(o)
    total = sum(F.col(f"runs_{t}") for t in targets)
    return un.select(
        "sort_col", *[f"runs_{t}" for t in targets], total.alias("total_runs")
    )


def _layout_advisor_sql() -> str:
    targets = ["lang", "source", "n_chars"]
    parts = []
    for cand in targets:
        flags = ",\n           ".join(
            f"CASE WHEN lag({t}) OVER (ORDER BY {cand}, doc_id) IS DISTINCT FROM {t} "
            f"THEN 1 ELSE 0 END AS chg_{t}"
            for t in targets
        )
        sums = ", ".join(
            f"CAST(sum(chg_{t}) AS BIGINT) AS runs_{t}" for t in targets
        )
        parts.append(
            f"SELECT '{cand}' AS sort_col, {sums}\n"
            f"  FROM (SELECT {flags}\n"
            f"        FROM documents WHERE doc_id % 5 = 0) f_{cand}"
        )
    union = "\nUNION ALL\n".join(parts)
    tot = " + ".join(f"runs_{t}" for t in targets)
    return (
        f"WITH per AS (\n{union}\n)\n"
        f"SELECT sort_col, runs_lang, runs_source, runs_n_chars, "
        f"CAST({tot} AS BIGINT) AS total_runs FROM per"
    )


def layout_rewrite_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The layout-advisor's promise, BANKED: encode documents in arrival
    order, ``rewrite_sorted`` by ``lang`` (the advisor's winning sort
    column), and report the per-column run totals the REWRITTEN table's
    block manifests carry.  The oracle recomputes those totals from
    first principles — row_number over (lang, doc_id), a lag-compare
    per column, plus one run start per 64-row block boundary — so a
    green hash proves (a) the two-pass distributed rank in
    ``assign_row_order`` produced exactly the (lang, original-order)
    permutation and (b) every block's ``n_runs`` stat (including the
    arrow adjacent-not-equal count on string columns) is exact.

    Scale shape: rank via bounded per-(key, sub-range) windows with
    driver-cumulated group counts (no global window in the rewrite
    path); encode/decode are the streaming mapInArrow passes.  The one
    fixture order column comes from ``_fixture_ordered`` (bounded rank,
    no global window)."""
    import tempfile

    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        dedup_blocks,
        encode_table,
        rewrite_sorted,
    )
    from pyrle_spark.sources.icetable import IceTable

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["lang", "source", "n_chars"])
    src_dir = tempfile.mkdtemp(prefix="layout_src_")
    out_dir = tempfile.mkdtemp(prefix="layout_sorted_")
    encode_table(
        spark,
        ordered,
        src_dir,
        EncodeConfig(
            columns=["lang", "source", "n_chars"], order_col="_seq", block_rows=64
        ),
    )
    rewrite_sorted(spark, src_dir, out_dir, ["lang"], block_rows=64)
    blocks = dedup_blocks(IceTable(out_dir).read_table(spark))
    return (
        blocks.groupBy(F.col("column").alias("col_name"))
        .agg(
            F.sum("n_runs").alias("n_runs"),
            F.sum("n_rows").alias("n_rows"),
        )
    )


_LAYOUT_REWRITE_RUNS_SQL = """
WITH ordered AS (
  SELECT lang, source, n_chars,
         row_number() OVER (ORDER BY lang, doc_id) - 1 AS rk
  FROM documents
), marked AS (
  SELECT rk,
    CASE WHEN rk % 64 = 0 OR lang    IS DISTINCT FROM lag(lang)    OVER (ORDER BY rk) THEN 1 ELSE 0 END AS c_lang,
    CASE WHEN rk % 64 = 0 OR source  IS DISTINCT FROM lag(source)  OVER (ORDER BY rk) THEN 1 ELSE 0 END AS c_source,
    CASE WHEN rk % 64 = 0 OR n_chars IS DISTINCT FROM lag(n_chars) OVER (ORDER BY rk) THEN 1 ELSE 0 END AS c_n_chars
  FROM ordered
)
SELECT col_name, n_runs, n_rows FROM (
  SELECT 'lang' AS col_name, CAST(sum(c_lang) AS BIGINT) AS n_runs,
         count(*) AS n_rows FROM marked
  UNION ALL
  SELECT 'source', CAST(sum(c_source) AS BIGINT), count(*) FROM marked
  UNION ALL
  SELECT 'n_chars', CAST(sum(c_n_chars) AS BIGINT), count(*) FROM marked
)
"""


def incremental_scan_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental processing end-to-end (the nightly "just the new
    crawl" read): encode the first half of documents as snapshot 1,
    append the rest (the resume anti-join re-encodes ONLY the missing
    blocks) as snapshot 2, then ``scan_incremental`` between the two
    snapshots and aggregate what it returns.  The oracle is the
    second-half row filter — equality proves the incremental scan reads
    exactly the appended rows, no more (no old block decodes), no less.

    Scale shape: the incremental planner diffs two manifests (metadata,
    driver-side, O(#files)) and scans only the added paths; the decode
    cost is O(new data).  The fixture order column comes from
    ``_fixture_ordered`` (bounded rank, no global window)."""
    import tempfile

    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        encode_table,
        scan_incremental,
    )

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["lang", "n_chars"]).cache()
    n = ordered.count()
    half = (n // 100) * 50 or n
    out_dir = tempfile.mkdtemp(prefix="inc_scan_")
    cfg = EncodeConfig(columns=["lang", "n_chars"], order_col="_seq", block_rows=50)
    first = encode_table(spark, ordered.filter(F.col("_seq") < half), out_dir, cfg)
    encode_table(spark, ordered, out_dir, cfg)
    ordered.unpersist()
    inc = scan_incremental(spark, out_dir, first["snapshot_id"])
    return inc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("_order").alias("first_pos"),
    )


_INCREMENTAL_SCAN_AGG_SQL = """
WITH ordered AS (
  SELECT lang, n_chars, row_number() OVER (ORDER BY doc_id) - 1 AS rk
  FROM documents
), half AS (
  SELECT CASE WHEN (count(*) // 100) * 50 = 0 THEN count(*)
              ELSE (count(*) // 100) * 50 END AS h
  FROM ordered
)
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(rk) AS first_pos
FROM ordered WHERE rk >= (SELECT h FROM half) GROUP BY lang
"""


def time_travel_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel × merge-on-read visibility, oracle-checked: snapshot 1
    holds the first half of documents, snapshot 2 appends the rest, then
    a position-delete (every 97th row) commits AGAINST snapshot 2.
    Reading AT snapshot 1 must see the old row set with NO deletes
    applied (the delete postdates it); reading latest must see all rows
    minus the delete vector.  Both reads aggregate per lang into one
    labeled union — the oracle rebuilds each from rank filters, so a
    green hash pins the snapshot isolation rules exactly.

    Scale shape: time travel is manifest selection (driver metadata);
    the delete applies as a broadcast anti-join of the tiny position
    set.  The fixture order column comes from ``_fixture_ordered``
    (bounded rank, no global window)."""
    import tempfile

    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        decode_table,
        delete_rows,
        encode_table,
    )

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["lang", "n_chars"]).cache()
    n = ordered.count()
    half = (n // 100) * 50 or n
    out_dir = tempfile.mkdtemp(prefix="time_travel_")
    cfg = EncodeConfig(columns=["lang", "n_chars"], order_col="_seq", block_rows=50)
    first = encode_table(spark, ordered.filter(F.col("_seq") < half), out_dir, cfg)
    encode_table(spark, ordered, out_dir, cfg)
    delete_rows(
        spark,
        out_dir,
        ordered.filter(F.col("_seq") % 97 == 0).select(F.col("_seq").alias("_order")),
    )
    ordered.unpersist()

    def _agg(df, label):
        return df.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        ).select(F.lit(label).alias("snap"), "lang", "n_docs", "total_chars")

    old = decode_table(spark, out_dir, snapshot_id=first["snapshot_id"])
    new = decode_table(spark, out_dir)
    return _agg(old, "old").unionAll(_agg(new, "new"))


_TIME_TRAVEL_AGG_SQL = """
WITH ordered AS (
  SELECT lang, n_chars, row_number() OVER (ORDER BY doc_id) - 1 AS rk
  FROM documents
), half AS (
  SELECT CASE WHEN (count(*) // 100) * 50 = 0 THEN count(*)
              ELSE (count(*) // 100) * 50 END AS h
  FROM ordered
)
SELECT 'old' AS snap, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM ordered WHERE rk < (SELECT h FROM half) GROUP BY lang
UNION ALL
SELECT 'new', lang, count(*), CAST(sum(n_chars) AS BIGINT)
FROM ordered WHERE rk % 97 <> 0 GROUP BY lang
"""


def schema_evolution_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Id-based schema evolution read through the table, oracle-checked:
    snapshot 1 writes even-doc_id rows under schema (doc_id, lang,
    chars, source); a metadata-only ``evolve_schema`` renames
    chars → n_chars, adds a ``score`` column, and drops ``source``;
    snapshot 2 appends odd-doc_id rows under the new schema.  The final
    read must resolve the OLD files by field id — rename visible on
    historical rows, dropped column gone, added column NULL exactly on
    the pre-evolution rows — which the per-lang aggregate pins: the
    oracle recomputes ``total_score``/``n_missing_score`` from doc_id
    parity, so a green hash proves null-placement row-for-row.

    Scale shape: evolution is one O(metadata) commit, no data I/O; the
    evolved read plans one parquet relation per schema version
    (O(#versions), not O(#files)) unioned by name."""
    import tempfile

    from pyrle_spark.sources.icetable import IceTable

    docs = load(spark, sf_dir, "documents")
    t = IceTable(tempfile.mkdtemp(prefix="schema_evo_"))
    v1 = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang", F.col("n_chars").alias("chars"), "source"
    )
    t.write_snapshot(v1)
    t.evolve_schema(
        renames={"chars": "n_chars"},
        adds=[("score", "long")],
        drops=["source"],
    )
    v2 = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "n_chars", (F.col("n_chars") % 7).alias("score")
    )
    t.write_snapshot(v2)
    return (
        t.read_table(spark)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("score").alias("total_score"),
            F.sum(F.when(F.col("score").isNull(), 1).otherwise(0)).alias(
                "n_missing_score"
            ),
        )
    )


_SCHEMA_EVOLUTION_AGG_SQL = """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars % 7 END) AS BIGINT)
         AS total_score,
       CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missing_score
FROM documents GROUP BY lang
"""


def compressed_distinct_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT answered from dictionary buffers alone
    (``plans.compressed.distinct_values``): a dict block's dictionary
    IS its distinct set, so the code streams never decode.  One
    position-delete forces a single block down the exact
    decode-and-mask fallback, proving both paths agree with the
    row-level oracle.

    Scale shape: per-block output is O(block-distinct) strings — the
    shuffle moves dictionaries, not rows.  The fixture order column
    comes from ``_fixture_ordered`` (bounded rank, no global window)."""
    import tempfile

    from pyrle_spark.plans.compressed import distinct_values
    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        delete_rows,
        encode_table,
    )

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["source"])
    out_dir = tempfile.mkdtemp(prefix="compressed_distinct_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(columns=["source"], order_col="_seq", block_rows=64),
    )
    delete_rows(spark, out_dir, [0])
    return distinct_values(spark, out_dir, "source").select(
        F.col("value").alias("source")
    )


_COMPRESSED_DISTINCT_SQL = """
SELECT DISTINCT source FROM documents
"""


def update_where_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MoR UPDATE end-to-end under oracle check: encode documents,
    ``update_where lang='fr' SET lang='und', n_chars=n_chars+1000``,
    decode and aggregate.  The oracle is the row-level CASE rewrite —
    equality proves the update touched exactly the matched rows
    (append-at-tail + position-delete, no untouched block rewritten)
    and the SET expressions evaluated over the original row images.

    Scale shape: cost is O(matched rows) — pruned resolve, one tail
    append, one delete commit.  The fixture order column comes from
    ``_fixture_ordered`` (bounded rank, no global window)."""
    import tempfile

    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        decode_table,
        encode_table,
        update_where,
    )

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["lang", "n_chars"])
    out_dir = tempfile.mkdtemp(prefix="update_where_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(columns=["lang", "n_chars"], order_col="_seq", block_rows=50),
    )
    update_where(
        spark, out_dir, "lang", ["fr"], {"lang": "'und'", "n_chars": "n_chars + 1000"}
    )
    return (
        decode_table(spark, out_dir)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_UPDATE_WHERE_AGG_SQL = """
WITH rewritten AS (
  SELECT CASE WHEN lang = 'fr' THEN 'und' ELSE lang END AS lang,
         CASE WHEN lang = 'fr' THEN n_chars + 1000 ELSE n_chars END AS n_chars
  FROM documents
)
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM rewritten GROUP BY lang
"""


def layout_prune_synergy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering × data skipping, quantified and oracle-checked: after
    ``rewrite_sorted`` by lang, the zone maps on the sort column become
    EXACT — the zone-range survivors for ``lang = 'fr'`` are precisely
    the blocks holding a fr row (sorted order makes values contiguous,
    so no straddling block can be a false positive).  The query returns
    the survivor-block count alongside the decoded aggregate, and the
    oracle recomputes that minimum (``count(distinct rk // 64)`` of fr
    rows in (lang, doc_id) order) from first principles — a green hash
    proves the scan touched the THEORETICAL MINIMUM of the table.

    Scale shape: at 100 TB this is the difference between decoding
    ~share-of-fr of the table and decoding all of it; pruning itself is
    a manifest-only filter.  The fixture order column comes from
    ``_fixture_ordered`` (bounded rank, no global window)."""
    import tempfile

    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        decode_table,
        encode_table,
        prune_blocks,
        rewrite_sorted,
    )
    from pyrle_spark.sources.icetable import IceTable

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["lang", "n_chars"])
    src_dir = tempfile.mkdtemp(prefix="synergy_src_")
    out_dir = tempfile.mkdtemp(prefix="synergy_sorted_")
    encode_table(
        spark,
        ordered,
        src_dir,
        EncodeConfig(columns=["lang", "n_chars"], order_col="_seq", block_rows=64),
    )
    rewrite_sorted(spark, src_dir, out_dir, ["lang"], block_rows=64)
    enc = IceTable(out_dir).read_table(spark)
    live = prune_blocks(enc, "lang", lo="fr", hi="fr")
    n_blocks = live.select("block_id").distinct().count()
    dec = decode_table(spark, out_dir, columns=["lang", "n_chars"], blocks=live)
    return dec.filter(F.col("lang") == "fr").agg(
        F.lit(n_blocks).cast("long").alias("n_blocks"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


_LAYOUT_PRUNE_SYNERGY_SQL = """
WITH ordered AS (
  SELECT lang, n_chars, row_number() OVER (ORDER BY lang, doc_id) - 1 AS rk
  FROM documents
)
SELECT CAST(count(DISTINCT rk // 64) AS BIGINT) AS n_blocks,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM ordered WHERE lang = 'fr'
"""


def point_lookup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional point reads through the encoded table: probe every
    83rd position, after deleting one of them (position 83) — the
    result must contain exactly the probed, surviving rows.  Block
    math (``pos // block_rows``) finds the containing blocks with no
    index; only those decode.

    Scale shape: a k-point probe decodes ≤ k blocks whatever the table
    size; the delete applies as the usual broadcast anti-join.  The
    fixture order column comes from ``_fixture_ordered`` (bounded rank,
    no global window)."""
    import tempfile

    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        delete_rows,
        encode_table,
        point_lookup,
    )

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["lang", "n_chars"]).cache()
    n = ordered.count()
    out_dir = tempfile.mkdtemp(prefix="point_lookup_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(columns=["lang", "n_chars"], order_col="_seq", block_rows=50),
    )
    ordered.unpersist()
    delete_rows(spark, out_dir, [83])
    probes = list(range(0, n, 83))
    got = point_lookup(spark, out_dir, probes)
    return got.select(
        F.col("_order").alias("pos"), "lang", "n_chars"
    )


def limit_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT-k pushdown through the encoded table: after deleting the
    first 100 positions, fetch the first 500 LIVE rows — the reader
    (``plans.encode_job.limit_scan``) solves the delete-shifted cutoff
    on the driver-resident position set and decodes ONLY the leading
    block prefix, O(k / block_rows) blocks whatever the table size.
    The oracle is the naive ORDER BY ... OFFSET/LIMIT over the raw rows,
    so equality proves both the cutoff fixed-point and the prefix decode
    are exact.  The fixture order column comes from ``_fixture_ordered``
    (bounded rank, no global window on the Spark side)."""
    import tempfile

    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        delete_rows,
        encode_table,
        limit_scan,
    )

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["lang", "n_chars"])
    out_dir = tempfile.mkdtemp(prefix="limit_scan_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(columns=["lang", "n_chars"], order_col="_seq", block_rows=50),
    )
    delete_rows(spark, out_dir, range(0, 100))
    got = limit_scan(spark, out_dir, 500)
    return got.select(F.col("_order").alias("pos"), "lang", "n_chars")


_LIMIT_PUSHDOWN_SQL = """
WITH ordered AS (
  SELECT lang, n_chars, row_number() OVER (ORDER BY doc_id) - 1 AS rk
  FROM documents
)
SELECT rk AS pos, lang, n_chars
FROM ordered WHERE rk >= 100 ORDER BY rk LIMIT 500
"""


_POINT_LOOKUP_ROWS_SQL = """
WITH ordered AS (
  SELECT lang, n_chars, row_number() OVER (ORDER BY doc_id) - 1 AS rk
  FROM documents
)
SELECT rk AS pos, lang, n_chars
FROM ordered WHERE rk % 83 = 0 AND rk <> 83
"""


# ---------------------------------------------------------- hidden partitioning


def partition_prune_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden partitioning end-to-end: write ``documents`` into a
    partitioned IceTable (``identity(lang)`` + ``truncate[100](doc_id)``
    — the user never sees either), read back with *source-column*
    predicates (``lang = 'en' AND doc_id >= 200``) that the spec
    projects into partition space to prune files before any data IO,
    then aggregate.  The oracle is the naive full scan — equality proves
    pruning drops and invents nothing (the same superset contract as the
    block-level zone maps; the two compose: files first, blocks second).

    Scale shape: pruning is O(#files) driver-side manifest work; the
    scan reads only surviving files; at 10^12 docs a ``lang`` predicate
    touches 1/#langs of the table without a partition column in any
    query (Iceberg hidden partitioning; reference has no tables — engine
    infrastructure per the north rule)."""
    import tempfile

    from pyrle_spark.sources.partitioned import (
        PartitionField,
        PartitionSpec,
        PartitionedIceTable,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    spec = PartitionSpec(
        PartitionField("lang"),
        PartitionField("doc_id", "truncate[100]", "doc_range"),
    )
    t = PartitionedIceTable(tempfile.mkdtemp(prefix="part_prune_"), spec)
    t.write_snapshot(docs)
    preds = [("lang", "=", "en"), ("doc_id", ">=", 200)]
    stats = t.prune(preds)
    assert stats["kept_files"] < stats["total_files"], "pruning must bite"
    return (
        t.read(spark, preds)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_PARTITION_PRUNE_AGG_SQL = """
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE lang = 'en' AND doc_id >= 200 GROUP BY source
"""


def partition_prune_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time + bucket transforms: ``events`` partitioned by ``days(ts)``
    and ``bucket[8](event_type)``; a timestamp range predicate prunes
    whole days (monotone transform projection), an equality predicate
    prunes by murmur3 bucket (the driver-side murmur3 is differential-
    tested against ``F.hash``).  Oracle = naive scan."""
    import datetime
    import tempfile

    from pyrle_spark.sources.partitioned import (
        PartitionField,
        PartitionSpec,
        PartitionedIceTable,
    )

    ev = load(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    spec = PartitionSpec(
        PartitionField("ts", "days", "ts_day"),
        PartitionField("event_type", "bucket[8]", "etype_bucket"),
    )
    t = PartitionedIceTable(tempfile.mkdtemp(prefix="part_days_"), spec)
    t.write_snapshot(ev)
    cutoff = datetime.datetime(2024, 1, 15, 12, 0, 0)
    preds = [("ts", ">=", cutoff), ("event_type", "=", "click")]
    stats = t.prune(preds)
    assert stats["kept_files"] < stats["total_files"], "pruning must bite"
    return (
        t.read(spark, preds)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
    )


_PARTITION_PRUNE_DAYS_SQL = """
SELECT event_type, count(*) AS n_events, round(sum(value), 3) AS sum_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-15 12:00:00' AND event_type = 'click'
GROUP BY event_type
"""


def merge_upsert_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``MERGE INTO`` end-to-end through the real encoded table: encode
    ``documents[doc_id < 400]``, merge a re-crawl source covering
    ``doc_id 300..499`` (new lang + shifted n_chars) → 100 updates + 100
    inserts, decode, aggregate.  Oracle = the merged state computed
    relationally over the raw table (CASE on the re-crawled range).

    Proves the full MoR upsert chain: key-column-only match resolution
    (bloom-candidate decode), cardinality check, tail-block carry,
    append-then-position-delete commit order, and that decode equals the
    relational merge semantics row-for-row."""
    import tempfile

    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        decode_table,
        encode_table,
        merge_into,
    )

    docs = load(spark, sf_dir, "documents")
    cols = ["doc_id", "lang", "source", "n_chars"]
    out_dir = tempfile.mkdtemp(prefix="merge_upsert_")
    encode_table(
        spark,
        docs.filter(F.col("doc_id") < 400).select("doc_id", *cols),
        out_dir,
        EncodeConfig(columns=cols, order_col="doc_id", block_rows=128,
                     shuffle_partitions=16),
    )
    # the source is BOUNDED (300..499) so updates/inserts are exactly
    # 100/100 at every scale factor — unbounded `doc_id >= 300` made the
    # in-query assert sf-dependent (caught by the sf0.1 gate run)
    src = docs.filter(
        (F.col("doc_id") >= 300) & (F.col("doc_id") < 500)
    ).select(
        "doc_id",
        F.lit("und").alias("lang"),
        "source",
        (F.col("n_chars") + 1000).alias("n_chars"),
    )
    info = merge_into(spark, out_dir, src, on="doc_id", shuffle_partitions=16)
    assert info["n_updated"] == 100 and info["n_inserted"] == 100
    return (
        decode_table(spark, out_dir)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_MERGE_UPSERT_AGG_SQL = """
WITH merged AS (
  SELECT CASE WHEN doc_id >= 300 THEN 'und' ELSE lang END AS lang,
         source,
         CASE WHEN doc_id >= 300 THEN n_chars + 1000 ELSE n_chars END AS n_chars
  FROM documents WHERE doc_id < 500
)
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM merged GROUP BY lang, source
"""


def text_search_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index keyword search end-to-end: encode ``documents``
    (with a marker word planted on ``doc_id % 100 < 5`` so block pruning
    measurably bites on the dense synthetic vocabulary), build the
    block-level index (posting lists compressed by the engine's own
    delta/bit-pack codecs), then search ``marker AND 'join'``.

    The index prunes to the marker's blocks; the decoded survivors are
    re-checked row-level, so the result is EXACT — the oracle is the
    naive tokenized scan.  Scale shape: search cost = O(#terms) pushed-
    down index lookups + decode of surviving blocks only
    (``plans/text_index.py``; same superset contract as zone maps)."""
    import tempfile

    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table
    from pyrle_spark.plans.text_index import (
        build_text_index,
        prune_blocks_text,
        search_text,
    )

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 100 < 5,
            F.concat(F.col("text"), F.lit(" zebraqux")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
        "lang",
    )
    out_dir = tempfile.mkdtemp(prefix="text_search_")
    encode_table(
        spark,
        docs,
        out_dir,
        EncodeConfig(columns=["text", "lang"], order_col="doc_id", block_rows=50,
                     shuffle_partitions=16),
    )
    build_text_index(spark, out_dir)
    cand, _ = prune_blocks_text(spark, out_dir, ["zebraqux", "join"])
    n_docs = docs.count()
    assert len(cand) < -(-n_docs // 50), "index pruning must bite"
    return search_text(
        spark, out_dir, ["zebraqux", "join"], extra_columns=["lang"]
    ).select("_order", "lang")


_TEXT_SEARCH_PRUNED_SQL = """
SELECT doc_id AS _order, lang FROM documents
WHERE doc_id % 100 < 5
  AND list_contains(string_split_regex(lower(text), '[^a-z0-9]+'), 'join')
"""


def zorder_prune_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering × multi-column data skipping: encode
    ``documents`` in doc_id order (both predicate columns random per
    block → zones prune nothing), rewrite with the Morton key of
    ``(lang, n_chars)`` (``plans/zorder.py``), then answer
    ``lang = 'fr' AND n_chars >= 300`` through the INTERSECTION of the
    bloom survivors (lang) and zone survivors (n_chars).  The in-query
    assert pins that the intersection is a strict subset of the blocks;
    the oracle (naive scan) proves the pruned decode is exact.

    Scale shape: one rewrite buys sharp skipping on BOTH dimensions —
    single-column sort only serves its own column; at 10^12 docs the
    two-predicate scan touches the z-curve rectangle, not the table."""
    import tempfile

    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        decode_table,
        dedup_blocks,
        encode_table,
        prune_blocks,
        prune_blocks_eq,
    )
    from pyrle_spark.plans.zorder import rewrite_zorder
    from pyrle_spark.sources.icetable import IceTable

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("_seq"), "lang", "source", "n_chars"
    )
    src_dir = tempfile.mkdtemp(prefix="zorder_src_")
    out_dir = tempfile.mkdtemp(prefix="zorder_out_")
    cols = ["lang", "source", "n_chars"]
    encode_table(
        spark,
        docs,
        src_dir,
        EncodeConfig(columns=cols, order_col="_seq", block_rows=64,
                     shuffle_partitions=16),
    )
    rewrite_zorder(spark, src_dir, out_dir, ["lang", "n_chars"], block_rows=64,
                   shuffle_partitions=16)
    enc = dedup_blocks(IceTable(out_dir).read_table(spark))
    total = enc.select("block_id").distinct().count()
    by_eq = prune_blocks_eq(enc, "lang", "fr")
    by_rng = prune_blocks(enc, "n_chars", lo=300)
    live = by_eq.join(by_rng, "block_id", "left_semi")
    n_live = live.select("block_id").distinct().count()
    assert n_live < total, "z-order pruning must bite"
    dec = decode_table(spark, out_dir, blocks=live)
    return (
        dec.filter((F.col("lang") == "fr") & (F.col("n_chars") >= 300))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_ZORDER_PRUNE_AGG_SQL = """
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE lang = 'fr' AND n_chars >= 300 GROUP BY source
"""


def hilbert_prune_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`zorder_prune_agg`'s twin on the HILBERT curve
    (``rewrite_zorder(curve="hilbert")``): same two-predicate question
    answered through bloom ∩ zone survivors on the Hilbert-clustered
    layout, same naive-scan oracle.  Proves the alternative
    space-filling curve keeps the exactness contract while clustering
    both dimensions (strict-subset assert in-query)."""
    import tempfile

    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        decode_table,
        dedup_blocks,
        encode_table,
        prune_blocks,
        prune_blocks_eq,
    )
    from pyrle_spark.plans.zorder import rewrite_zorder
    from pyrle_spark.sources.icetable import IceTable

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("_seq"), "lang", "source", "n_chars"
    )
    src_dir = tempfile.mkdtemp(prefix="hilbert_src_")
    out_dir = tempfile.mkdtemp(prefix="hilbert_out_")
    cols = ["lang", "source", "n_chars"]
    encode_table(
        spark,
        docs,
        src_dir,
        EncodeConfig(columns=cols, order_col="_seq", block_rows=64,
                     shuffle_partitions=16),
    )
    info = rewrite_zorder(
        spark, src_dir, out_dir, ["lang", "n_chars"], block_rows=64,
        shuffle_partitions=16, curve="hilbert",
    )
    assert info["n_runs_after"] < info["n_runs_before"], "clustering must bite"
    enc = dedup_blocks(IceTable(out_dir).read_table(spark))
    total = enc.select("block_id").distinct().count()
    live = prune_blocks_eq(enc, "lang", "fr").join(
        prune_blocks(enc, "n_chars", lo=300), "block_id", "left_semi"
    )
    assert live.select("block_id").distinct().count() < total
    dec = decode_table(spark, out_dir, blocks=live)
    return (
        dec.filter((F.col("lang") == "fr") & (F.col("n_chars") >= 300))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


_HILBERT_PRUNE_AGG_SQL = _ZORDER_PRUNE_AGG_SQL


def zorder_after_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE under live table churn (r02 verdict task #6): the Z-order
    rewrite runs on a table that carries merge-on-read position deletes
    AND a pending column rename, and the pruned read of the REWRITTEN
    table must still match the naive oracle.  This certifies the
    maintenance path's interplay: the rewrite's decode applies the
    delete vectors (so the new table compacts them — its delete set is
    empty), resolves the alias map (blocks re-encode under logical
    names), and the Morton clustering still prunes.

    Scale shape: deletes are a broadcast anti-join inside the rewrite's
    decode scan; the rename is metadata-only; everything else is the
    standard rank → encode pipeline (bounded windows)."""
    import tempfile

    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        decode_table,
        dedup_blocks,
        delete_rows,
        encode_table,
        prune_blocks,
        prune_blocks_eq,
        rename_column,
    )
    from pyrle_spark.plans.zorder import rewrite_zorder
    from pyrle_spark.sources.icetable import IceTable

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("_seq"), "doc_id", "lang", "source", "n_chars"
    )
    src_dir = tempfile.mkdtemp(prefix="zmor_src_")
    out_dir = tempfile.mkdtemp(prefix="zmor_out_")
    encode_table(
        spark,
        docs,
        src_dir,
        EncodeConfig(
            columns=["doc_id", "lang", "source", "n_chars"],
            order_col="_seq",
            block_rows=64,
            shuffle_partitions=16,
        ),
    )
    # takedown request lands (position deletes, no block rewrite)...
    doomed = docs.filter(F.col("doc_id") % 53 == 0).select(
        F.col("_seq").alias("_order")
    )
    delete_rows(spark, src_dir, doomed)
    # ...and a rename is pending (metadata-only, not yet materialized)
    rename_column(spark, src_dir, "n_chars", "chars")
    rewrite_zorder(
        spark, src_dir, out_dir, ["lang", "chars"], block_rows=64,
        shuffle_partitions=16,
    )
    # the rewritten table must carry no delete debt and no alias debt
    assert IceTable(out_dir).properties().get("column_aliases", {}) == {}
    enc = dedup_blocks(IceTable(out_dir).read_table(spark))
    total = enc.select("block_id").distinct().count()
    live = prune_blocks_eq(enc, "lang", "fr").join(
        prune_blocks(enc, "chars", lo=300), "block_id", "left_semi"
    )
    assert live.select("block_id").distinct().count() < total, "pruning must bite"
    dec = decode_table(spark, out_dir, blocks=live)
    return (
        dec.filter((F.col("lang") == "fr") & (F.col("chars") >= 300))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("chars").alias("total_chars"),
            F.sum(F.when(F.col("doc_id") % 53 == 0, 1).otherwise(0)).alias(
                "n_resurrected"
            ),
        )
    )


_ZORDER_AFTER_MOR_SQL = """
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(0 AS BIGINT) AS n_resurrected
FROM documents
WHERE lang = 'fr' AND n_chars >= 300 AND doc_id % 53 != 0
GROUP BY source
"""


def analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE, oracle-checked: encode ``documents``, compute
    per-column stats WITHOUT a row scan (manifest zone/size folds +
    dictionary-buffer NDV — ``plans/stats.py``), persist them as a
    metadata-only commit, and return the stats relation.  The oracle
    recomputes n_rows/NDV/min/max by brute force — a green hash proves
    the decode-free statistics are EXACT, not estimates.

    Scale shape: the manifest fold is O(#blocks); NDV reads dictionary
    buffers only (code streams never decode); at 10^12 docs this is the
    difference between ANALYZE as a metadata pass and a full scan."""
    import tempfile

    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table
    from pyrle_spark.plans.stats import analyze_table, table_stats_df

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("_seq"), "lang", "source", "n_chars"
    )
    out_dir = tempfile.mkdtemp(prefix="analyze_")
    encode_table(
        spark,
        docs,
        out_dir,
        EncodeConfig(
            columns=["lang", "source", "n_chars"],
            order_col="_seq",
            block_rows=64,
            shuffle_partitions=16,
        ),
    )
    analyze_table(spark, out_dir)
    return table_stats_df(spark, out_dir).select(
        "column", "n_rows", "ndv", "vmin", "vmax"
    )


_ANALYZE_STATS_SQL = """
SELECT 'lang' AS column, count(*) AS n_rows, count(DISTINCT lang) AS ndv,
       CAST(min(lang) AS VARCHAR) AS vmin, CAST(max(lang) AS VARCHAR) AS vmax
FROM documents
UNION ALL
SELECT 'n_chars', count(*), count(DISTINCT n_chars),
       CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
FROM documents
UNION ALL
SELECT 'source', count(*), count(DISTINCT source),
       CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
FROM documents
"""


def table_changes_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC changelog, oracle-checked: encode the first half of
    ``documents``, snapshot, append the rest, MoR-delete every 40th
    doc, then read ``table_changes`` from the first snapshot — inserts
    are the second half still visible, deletes carry pre-images of every
    removed row from BOTH halves.  The oracle reconstructs both streams
    relationally.

    Scale shape: the insert stream plans only the appended files
    (O(new data)); the delete stream decodes ≤ one block per deleted
    position.  Nothing rescans the unchanged majority of the table."""
    import tempfile

    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        delete_rows,
        encode_table,
        table_changes,
    )

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("_seq"), "lang", "n_chars"
    )
    n = docs.count()
    half = n // 2
    out_dir = tempfile.mkdtemp(prefix="changes_")
    cfg = EncodeConfig(
        columns=["lang", "n_chars"],
        order_col="_seq",
        block_rows=64,
        shuffle_partitions=16,
    )
    s1 = encode_table(spark, docs.filter(F.col("_seq") < half), out_dir, cfg)
    encode_table(spark, docs, out_dir, cfg)  # resume-append the rest
    delete_rows(spark, out_dir, range(0, n, 40))
    ch = table_changes(spark, out_dir, s1["snapshot_id"])
    return ch.groupBy("_change_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").alias("total_chars"),
    )


def _table_changes_sql() -> str:
    return """
WITH n AS (SELECT count(*) AS c FROM documents),
ins AS (
  SELECT 'insert' AS _change_type, n_chars FROM documents, n
  WHERE doc_id >= n.c // 2 AND doc_id % 40 <> 0
),
del AS (
  SELECT 'delete' AS _change_type, n_chars FROM documents WHERE doc_id % 40 = 0
),
allc AS (SELECT * FROM ins UNION ALL SELECT * FROM del)
SELECT _change_type, count(*) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM allc GROUP BY _change_type
"""


def incremental_view_maint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance from the CDC changelog
    — the engine feature that keeps a 100 TB rollup fresh without
    recomputing it.  Materialize a per-lang ``(count, sum)`` view at
    snapshot S0, mutate the table (a MoR ``UPDATE`` bumping every
    ``de`` row's ``n_chars``, then position deletes of every 37th
    ORIGINAL position), and refresh by FOLDING ``table_changes(S0 →
    latest)`` into the stored aggregate: inserts add ``(+1,
    +n_chars)``, deletes subtract their pre-images.  The oracle
    recomputes the view from the FINAL state directly, so any wrong
    fold — a missed pre-image, a double-counted update pair, a
    resurrection through the update's append+delete ordering —
    hash-mismatches.

    Window-anchoring subtlety this query pins: ``delete_rows`` commits
    no snapshot — it tags its delete file with the CURRENT snapshot id,
    and a delete tagged S0 is visible AT S0 (time travel to S0 sees
    it), hence outside the (S0, latest] CDC window.  The DML sequence
    therefore opens with the UPDATE, whose append commits a fresh
    snapshot that both delete vectors then tag — a delete-first
    sequence would silently vanish from the changelog.  Consequence of
    deleting ORIGINAL positions after the update: a ``de`` row on a
    %37 position was already position-deleted by the update, so the
    re-delete is a no-op and its updated tail copy SURVIVES — the
    oracle keeps every ``de`` row for exactly that reason, and the
    changelog's position-set semantics (each deleted position appears
    once in the pre-image stream) make the fold land on the same
    answer.

    Scale shape: the refresh reads O(changed rows) — the insert stream
    plans only appended files, the delete stream decodes ≤ one block per
    deleted position — joined full-outer against the O(distinct lang)
    stored view; nothing rescans the unchanged majority.  An UPDATE
    arrives as the standard delete(pre-image) + insert(post-image) pair,
    so the same two-rule fold maintains the view under all three DML
    verbs.  V0 is read through a PINNED snapshot id, so the lazy plan
    time-travels correctly even though the mutations commit before the
    aggregate executes."""
    import tempfile

    from pyrle_spark.plans.encode_job import (
        EncodeConfig,
        delete_rows,
        encode_table,
        scan_encoded,
        table_changes,
        update_where,
    )

    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("_seq"), "lang", "n_chars"
    )
    n = docs.count()
    out_dir = tempfile.mkdtemp(prefix="ivm_")
    cfg = EncodeConfig(
        columns=["lang", "n_chars"],
        order_col="_seq",
        block_rows=64,
        shuffle_partitions=16,
    )
    s0 = encode_table(spark, docs, out_dir, cfg)
    v0 = (
        scan_encoded(spark, out_dir, snapshot_id=s0["snapshot_id"])
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )
    # UPDATE first: its append snapshot anchors the CDC window so the
    # delete vectors (which tag the current snapshot, committing none
    # of their own) land strictly after S0 — see docstring
    update_where(spark, out_dir, "lang", ["de"], {"n_chars": "n_chars + 1000"})
    delete_rows(spark, out_dir, range(0, n, 37))
    ch = table_changes(spark, out_dir, s0["snapshot_id"])
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    delta = ch.groupBy("lang").agg(
        F.sum(sign).alias("d_docs"),
        F.sum(sign * F.col("n_chars")).alias("d_chars"),
    )
    return (
        v0.join(delta, "lang", "full_outer")
        .select(
            "lang",
            (
                F.coalesce("n_docs", F.lit(0)) + F.coalesce("d_docs", F.lit(0))
            ).alias("n_docs"),
            (
                F.coalesce("total_chars", F.lit(0))
                + F.coalesce("d_chars", F.lit(0))
            ).alias("total_chars"),
        )
        .filter(F.col("n_docs") > 0)
    )


_INCREMENTAL_VIEW_MAINT_SQL = """
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_chars + CASE WHEN lang = 'de' THEN 1000 ELSE 0 END)
            AS BIGINT) AS total_chars
FROM documents
WHERE lang = 'de' OR doc_id % 37 <> 0
GROUP BY lang
"""


def rle_neg_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 unary negate (``-rle``, rle.py:524-549): values negated,
    runs untouched (negation is injective, so no adjacent merge can
    arise), composed with defragment's ``-0 → 0`` canonicalization
    (rle.py:914) so zero-valued runs stay ``0.0`` rather than ``-0.0``
    — ``+ 0.0`` forces that under IEEE in both engines."""
    cov = coverage_events(spark, sf_dir)
    return cov.select(
        "event_type",
        "start_pos",
        "run_len",
        (-F.col("cov_value") + F.lit(0.0)).alias("neg_value"),
    )


_RLE_NEG_STEP_SQL = f"""
WITH cov AS ({_COVERAGE_EVENTS_SQL})
SELECT event_type, start_pos, run_len,
       -cov_value + 0.0 AS neg_value
FROM cov
"""


def ufunc_sqrt_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 numpy-ufunc passthrough (``np.sqrt(rle)``,
    ``__array_ufunc__`` rle.py:203-246): values mapped through the
    ufunc, runs copied, NO defragment — sqrt is injective on the
    non-negative coverage values, so the run structure provably cannot
    change and the quirk is observationally faithful.  Rounded to 6
    decimals on both engines (sqrt is correctly rounded IEEE, but the
    round keeps the value-hash comparison robust)."""
    cov = coverage_events(spark, sf_dir)
    return cov.select(
        "event_type",
        "start_pos",
        "run_len",
        F.round(F.sqrt(F.col("cov_value")), 6).alias("sqrt_value"),
    )


_UFUNC_SQRT_STEP_SQL = f"""
WITH cov AS ({_COVERAGE_EVENTS_SQL})
SELECT event_type, start_pos, run_len,
       round(sqrt(cov_value), 6) AS sqrt_value
FROM cov
"""


def dnf_prune_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DNF pushdown through the real encoded pipeline
    (``scan_encoded(any_of=…)``): ``lang = 'de' OR (lang = 'zh' AND
    n_chars >= 300)`` prunes as the UNION of each disjunct's conjunctive
    survivor blocks (zone + bloom), then the residual boolean filters
    the decoded rows.  The oracle is the naive row-level WHERE — the
    union/intersection algebra must lose and invent nothing.

    The fixture order column comes from ``_fixture_ordered`` (bounded
    rank, no global window)."""
    import tempfile

    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table, scan_encoded

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["lang", "n_chars"], key_cols=("lang",))
    out_dir = tempfile.mkdtemp(prefix="dnf_prune_")
    encode_table(
        spark,
        ordered,
        out_dir,
        EncodeConfig(columns=["lang", "n_chars"], order_col="_seq", block_rows=64),
    )
    dec = scan_encoded(
        spark,
        out_dir,
        columns=["lang", "n_chars"],
        any_of=[
            [("lang", "de", "de")],
            [("lang", "zh", "zh"), ("n_chars", 300, None)],
        ],
    )
    return dec.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


_DNF_PRUNE_AGG_SQL = """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE lang = 'de' OR (lang = 'zh' AND n_chars >= 300)
GROUP BY lang
"""


def zip_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional zip join of two encoded tables
    (``plans.zipjoin.zip_tables``): documents.lang and
    documents.(source, n_chars) encoded into SEPARATE tables over the
    same order domain, joined on position with the shuffle carrying
    compressed block buffers instead of decoded rows, then aggregated.
    The oracle is the row-level join collapsed to a plain GROUP BY —
    equality proves position alignment is exact.  Generalizes the
    reference's run-aligned zip merge (src/rle.pyx:41-72) to whole
    tables; the fixture order column comes from ``_fixture_ordered``
    (bounded rank, no global window)."""
    import tempfile

    from pyrle_spark.plans.encode_job import EncodeConfig, encode_table
    from pyrle_spark.plans.zipjoin import zip_tables

    docs = load(spark, sf_dir, "documents")
    ordered = _fixture_ordered(docs, ["lang", "source", "n_chars"]).cache()
    a_dir = tempfile.mkdtemp(prefix="zip_a_")
    b_dir = tempfile.mkdtemp(prefix="zip_b_")
    encode_table(
        spark,
        ordered.select("_seq", "lang"),
        a_dir,
        EncodeConfig(columns=["lang"], order_col="_seq", block_rows=64),
    )
    encode_table(
        spark,
        ordered.select("_seq", "source", "n_chars"),
        b_dir,
        EncodeConfig(columns=["source", "n_chars"], order_col="_seq", block_rows=64),
    )
    z = zip_tables(spark, a_dir, b_dir)
    return z.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


_ZIP_JOIN_AGG_SQL = """
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang, source
"""


QUERIES = {
    "rle_encode_lang": rle_encode_lang,
    "table_changes_agg": table_changes_agg,
    "incremental_view_maint": incremental_view_maint,
    "analyze_stats": analyze_stats,
    "zorder_prune_agg": zorder_prune_agg,
    "hilbert_prune_agg": hilbert_prune_agg,
    "zorder_after_mor": zorder_after_mor,
    "partition_prune_agg": partition_prune_agg,
    "partition_prune_days": partition_prune_days,
    "merge_upsert_agg": merge_upsert_agg,
    "text_search_pruned": text_search_pruned,
    "layout_rewrite_runs": layout_rewrite_runs,
    "incremental_scan_agg": incremental_scan_agg,
    "time_travel_agg": time_travel_agg,
    "schema_evolution_agg": schema_evolution_agg,
    "point_lookup_rows": point_lookup_rows,
    "limit_pushdown_scan": limit_pushdown_scan,
    "compressed_topk_zonemap": compressed_topk_zonemap,
    "compressed_quantile_hist": compressed_quantile_hist,
    "compressed_eq_probe": compressed_eq_probe,
    "compressed_groupby_pair": compressed_groupby_pair,
    "compressed_groupby_ndv": compressed_groupby_ndv,
    "rollup_lang_source": rollup_lang_source,
    "compressed_groupby_sum": compressed_groupby_sum,
    "compressed_prefix_count": compressed_prefix_count,
    "compressed_contains_count": compressed_contains_count,
    "compressed_groupby_minmax": compressed_groupby_minmax,
    "compressed_group_where": compressed_group_where,
    "compressed_distinct_source": compressed_distinct_source,
    "layout_prune_synergy": layout_prune_synergy,
    "update_where_agg": update_where_agg,
    "zonemap_prune_agg": zonemap_prune_agg,
    "bloom_prune_eq_agg": bloom_prune_eq_agg,
    "semijoin_prune_agg": semijoin_prune_agg,
    "binpack_agg": binpack_agg,
    "concat_tables_agg": concat_tables_agg,
    "clone_diverge_agg": clone_diverge_agg,
    "encoded_join_agg": encoded_join_agg,
    "delete_where_range_agg": delete_where_range_agg,
    "mass_delete_where_agg": mass_delete_where_agg,
    "delete_vector_compaction_agg": delete_vector_compaction_agg,
    "catalog_sql_agg": catalog_sql_agg,
    "metadata_count_rows": metadata_count_rows,
    "null_count_pruned": null_count_pruned,
    "dsv2_pushdown_agg": dsv2_pushdown_agg,
    "dsv2_roundtrip_count": dsv2_roundtrip_count,
    "compressed_count_by_lang": compressed_count_by_lang,
    "recompress_column_count": recompress_column_count,
    "optimize_codec_action": optimize_codec_action,
    "compressed_stats_n_chars": compressed_stats_n_chars,
    "compressed_sum_by_lang": compressed_sum_by_lang,
    "compressed_join_dim": compressed_join_dim,
    "numbers_only_events": numbers_only_events,
    "coverage_weighted": coverage_weighted,
    "lang_counts_salted": lang_counts_salted,
    "rle_roundtrip_lang": rle_roundtrip_lang,
    "coverage_events": coverage_events,
    "rle_add_step": rle_add_step,
    "rle_add_fused": rle_add_fused,
    "layout_advisor": layout_advisor,
    "mor_delete_agg": mor_delete_agg,
    "mor_compressed_count": mor_compressed_count,
    "rle_eq_step": rle_eq_step,
    "rle_cmp_step": rle_cmp_step,
    "rle_neg_step": rle_neg_step,
    "ufunc_sqrt_step": ufunc_sqrt_step,
    "dnf_prune_agg": dnf_prune_agg,
    "zip_join_agg": zip_join_agg,
    "apply_values_runs": apply_values_runs,
    "rle_slice": rle_slice,
    "getlocs_points": getlocs_points,
    "rle_std_quirk": rle_std_quirk,
    "shift_lead": shift_lead,
    "natsort_keys": natsort_keys,
    "pseudocounts_step": pseudocounts_step,
    "strand_pad_run": strand_pad_run,
    "defragment_runs": defragment_runs,
    "getitems_range": getitems_range,
    "shift_lag": shift_lag,
    "rle_stats_coverage": rle_stats_coverage,
    "length_invariant": length_invariant,
    "dict_encode_lang": dict_encode_lang,
    "for_encode_ts": for_encode_ts,
    "delta_encode_ts": delta_encode_ts,
    "alp_roundtrip_price": alp_roundtrip_price,
    "bss_roundtrip_embedding": bss_roundtrip_embedding,
    "html_text_extract": html_text_extract,
    "compressed_sum_where": compressed_sum_where,
    "bitpack_width_events": bitpack_width_events,
    "fsst_roundtrip_text": fsst_roundtrip_text,
    "codec_selector_stats": codec_selector_stats,
}

ORACLE_SQL = {
    "rle_encode_lang": _RLE_ENCODE_LANG_SQL,
    "partition_prune_agg": _PARTITION_PRUNE_AGG_SQL,
    "partition_prune_days": _PARTITION_PRUNE_DAYS_SQL,
    "merge_upsert_agg": _MERGE_UPSERT_AGG_SQL,
    "text_search_pruned": _TEXT_SEARCH_PRUNED_SQL,
    "zorder_prune_agg": _ZORDER_PRUNE_AGG_SQL,
    "hilbert_prune_agg": _HILBERT_PRUNE_AGG_SQL,
    "zorder_after_mor": _ZORDER_AFTER_MOR_SQL,
    "analyze_stats": _ANALYZE_STATS_SQL,
    "table_changes_agg": _table_changes_sql(),
    "incremental_view_maint": _INCREMENTAL_VIEW_MAINT_SQL,
    "zonemap_prune_agg": _ZONEMAP_PRUNE_AGG_SQL,
    "bloom_prune_eq_agg": _BLOOM_PRUNE_EQ_AGG_SQL,
    "semijoin_prune_agg": _SEMIJOIN_PRUNE_AGG_SQL,
    "binpack_agg": _BINPACK_AGG_SQL,
    "concat_tables_agg": _CONCAT_TABLES_AGG_SQL,
    "clone_diverge_agg": _CLONE_DIVERGE_AGG_SQL,
    "encoded_join_agg": _ENCODED_JOIN_AGG_SQL,
    "delete_where_range_agg": _DELETE_WHERE_RANGE_AGG_SQL,
    "mass_delete_where_agg": _MASS_DELETE_WHERE_AGG_SQL,
    "delete_vector_compaction_agg": _DELETE_VECTOR_COMPACTION_AGG_SQL,
    "catalog_sql_agg": _CATALOG_SQL_AGG_SQL,
    "metadata_count_rows": _METADATA_COUNT_ROWS_SQL,
    "null_count_pruned": _NULL_COUNT_PRUNED_SQL,
    "dsv2_pushdown_agg": _DSV2_PUSHDOWN_AGG_SQL,
    "dsv2_roundtrip_count": _DSV2_ROUNDTRIP_COUNT_SQL,
    "compressed_count_by_lang": _COMPRESSED_COUNT_SQL,
    "recompress_column_count": _RECOMPRESS_COUNT_SQL,
    "optimize_codec_action": _OPTIMIZE_CODEC_SQL,
    "compressed_stats_n_chars": _COMPRESSED_STATS_SQL,
    "compressed_sum_by_lang": _COMPRESSED_SUM_SQL,
    "compressed_join_dim": _COMPRESSED_JOIN_DIM_SQL,
    "rle_neg_step": _RLE_NEG_STEP_SQL,
    "ufunc_sqrt_step": _UFUNC_SQRT_STEP_SQL,
    "dnf_prune_agg": _DNF_PRUNE_AGG_SQL,
    "zip_join_agg": _ZIP_JOIN_AGG_SQL,
    "numbers_only_events": _NUMBERS_ONLY_SQL,
    "coverage_weighted": _COVERAGE_WEIGHTED_SQL,
    "lang_counts_salted": _LANG_COUNTS_SALTED_SQL,
    "rle_roundtrip_lang": _RLE_ROUNDTRIP_LANG_SQL,
    "coverage_events": _COVERAGE_EVENTS_SQL,
    "rle_add_step": _RLE_ADD_STEP_SQL,
    "rle_add_fused": _RLE_ADD_FUSED_SQL,
    "layout_advisor": _layout_advisor_sql(),
    "layout_rewrite_runs": _LAYOUT_REWRITE_RUNS_SQL,
    "incremental_scan_agg": _INCREMENTAL_SCAN_AGG_SQL,
    "time_travel_agg": _TIME_TRAVEL_AGG_SQL,
    "schema_evolution_agg": _SCHEMA_EVOLUTION_AGG_SQL,
    "compressed_topk_zonemap": _COMPRESSED_TOPK_SQL,
    "compressed_quantile_hist": _COMPRESSED_QUANTILE_SQL,
    "compressed_eq_probe": _COMPRESSED_EQ_PROBE_SQL,
    "compressed_groupby_pair": _COMPRESSED_GROUPBY_PAIR_SQL,
    "compressed_groupby_ndv": _COMPRESSED_GROUPBY_NDV_SQL,
    "rollup_lang_source": _ROLLUP_LANG_SOURCE_SQL,
    "compressed_groupby_sum": _COMPRESSED_GROUPBY_SUM_SQL,
    "compressed_prefix_count": _COMPRESSED_PREFIX_SQL,
    "compressed_contains_count": _COMPRESSED_CONTAINS_SQL,
    "compressed_groupby_minmax": _COMPRESSED_GROUPBY_MINMAX_SQL,
    "compressed_group_where": _COMPRESSED_GROUP_WHERE_SQL,
    "point_lookup_rows": _POINT_LOOKUP_ROWS_SQL,
    "limit_pushdown_scan": _LIMIT_PUSHDOWN_SQL,
    "compressed_distinct_source": _COMPRESSED_DISTINCT_SQL,
    "layout_prune_synergy": _LAYOUT_PRUNE_SYNERGY_SQL,
    "update_where_agg": _UPDATE_WHERE_AGG_SQL,
    "mor_delete_agg": _MOR_DELETE_AGG_SQL,
    "mor_compressed_count": _MOR_COMPRESSED_COUNT_SQL,
    "rle_eq_step": _RLE_EQ_STEP_SQL,
    "rle_cmp_step": _RLE_CMP_STEP_SQL,
    "apply_values_runs": _APPLY_VALUES_RUNS_SQL,
    "rle_slice": _RLE_SLICE_SQL,
    "getlocs_points": _GETLOCS_POINTS_SQL,
    "rle_std_quirk": _RLE_STD_QUIRK_SQL,
    "shift_lead": _SHIFT_LEAD_SQL,
    "natsort_keys": _NATSORT_KEYS_SQL,
    "pseudocounts_step": _PSEUDOCOUNTS_STEP_SQL,
    "strand_pad_run": _STRAND_PAD_RUN_SQL,
    "defragment_runs": _DEFRAGMENT_RUNS_SQL,
    "getitems_range": _GETITEMS_RANGE_SQL,
    "shift_lag": _SHIFT_LAG_SQL,
    "rle_stats_coverage": _RLE_STATS_COVERAGE_SQL,
    "length_invariant": _LENGTH_INVARIANT_SQL,
    "dict_encode_lang": _DICT_ENCODE_LANG_SQL,
    "for_encode_ts": _FOR_ENCODE_TS_SQL,
    "delta_encode_ts": _DELTA_ENCODE_TS_SQL,
    "alp_roundtrip_price": _ALP_ROUNDTRIP_PRICE_SQL,
    "bss_roundtrip_embedding": _BSS_ROUNDTRIP_SQL,
    "html_text_extract": _HTML_TEXT_EXTRACT_SQL,
    "compressed_sum_where": _COMPRESSED_SUM_WHERE_SQL,
    "bitpack_width_events": _BITPACK_WIDTH_EVENTS_SQL,
    "fsst_roundtrip_text": _FSST_ROUNDTRIP_TEXT_SQL,
    "codec_selector_stats": _CODEC_SELECTOR_STATS_SQL,
}
