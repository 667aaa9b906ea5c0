"""Tests for the training-data pipeline functions: oracle differentials
run at sf0.001 (the full matrix also runs in tools/check_oracle.py at
sf0.01); multimodal stub contract checks."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyrle_spark.functions import multimodal, registry

from tests.conftest import SF_SMALL
from tests.test_relational_oracle import _canon


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_function_matches_oracle(spark, ducks, name):
    got = _canon(registry.QUERIES[name](spark, SF_SMALL).toPandas())
    exp = _canon(ducks.sql(registry.ORACLE_SQL[name]).df())
    assert list(got.columns) == list(exp.columns)
    assert len(got) == len(exp), f"{name}: {len(got)} vs {len(exp)} rows"
    for c in got.columns:
        g, e = got[c], exp[c]
        if np.issubdtype(g.dtype, np.floating) or np.issubdtype(e.dtype, np.floating):
            assert np.allclose(
                g.astype(float), e.astype(float), rtol=1e-9, equal_nan=True
            ), f"{name}.{c}"
        else:
            pd.testing.assert_series_equal(g, e, check_dtype=False, obj=f"{name}.{c}")


def test_decode_image_is_explicit_stub():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG...")


def test_fake_features_deterministic():
    a = multimodal.fake_image_features(b"hello world")
    b = multimodal.fake_image_features(b"hello world")
    assert np.array_equal(a, b)
    assert a.sum() == len(b"hello world")
    assert len(a) == multimodal.N_BINS


def test_resize_images_plumbing(spark):
    """Resize plumbing: schema, determinism, payload is a pure function
    of (bytes, h, w), independent of partitioning."""
    import pyspark.sql.functions as F

    from pyrle_spark.functions.multimodal import fake_resize, resize_images

    df = spark.range(0, 50, 1, 4).select(
        F.col("id").alias("doc_id"),
        F.encode(F.concat(F.lit("payload-"), F.col("id").cast("string")), "utf-8").alias(
            "payload"
        ),
    )
    out = resize_images(df, h=4, w=4).orderBy("doc_id").collect()
    assert len(out) == 50
    assert out[0].height == 4 and out[0].width == 4
    assert all(len(r.resized) == 16 for r in out)
    assert bytes(out[7].resized) == fake_resize(b"payload-7", 4, 4)
    out2 = resize_images(df.repartition(7), h=4, w=4).orderBy("doc_id").collect()
    assert [bytes(r.resized) for r in out2] == [bytes(r.resized) for r in out]


def test_frame_sample_plumbing(spark):
    """Frame sampling: every_n-th frame_bytes slice per row, exploded to
    long format with frame indices."""
    import pyspark.sql.functions as F

    from pyrle_spark.functions.multimodal import frame_sample

    payload = bytes(range(256)) * 10  # 2560 bytes = 10 frames of 256
    df = spark.createDataFrame([(1, payload), (2, payload[:300])], "doc_id long, payload binary")
    out = frame_sample(df, frame_bytes=256, every_n=4).orderBy(
        "doc_id", "frame_idx"
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert [r.frame_idx for r in by_doc[1]] == [0, 4, 8]
    assert all(len(r.frame) == 256 for r in by_doc[1])
    assert bytes(by_doc[1][1].frame) == payload[4 * 256 : 5 * 256]
    assert [r.frame_idx for r in by_doc[2]] == [0]  # 300 bytes → 1 frame


def test_embedding_dups_finds_injected_pairs(spark):
    """The bucket-gated near-dup query is non-vacuous: every injected
    scaled duplicate (cosine exactly 1.0, same hyperplane signs → same
    bucket) is recovered as a (v, v+DUP_OFFSET) pair."""
    from pyrle_spark.functions.dedup import DUP_OFFSET, N_DUP, embedding_cosine_dups

    got = embedding_cosine_dups(spark, SF_SMALL).toPandas()
    assert len(got) >= N_DUP
    pairs = set(zip(got["v1"].astype(int), got["v2"].astype(int)))
    for v in range(N_DUP):
        assert (v, v + DUP_OFFSET) in pairs, f"missing injected dup pair for {v}"
    assert (got["cos_sim"] >= 0.99).all()


def test_ngram_jaccard_is_lsh_gated(spark):
    """Exact Jaccard only scores MinHash-LSH candidates (the scale-safe
    shape): every emitted pair must be an LSH candidate pair."""
    from pyrle_spark.functions.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    jac = ngram_jaccard_pairs(spark, SF_SMALL).toPandas()
    cand = minhash_lsh_pairs(spark, SF_SMALL).toPandas()
    cand_pairs = set(zip(cand["d1"].astype(int), cand["d2"].astype(int)))
    assert len(jac) > 0
    for d1, d2 in zip(jac["d1"].astype(int), jac["d2"].astype(int)):
        assert (d1, d2) in cand_pairs
    assert (jac["jaccard"] >= 0.5).all()


def test_dedup_components_transitive(spark):
    """Connected-components invariants on the LSH pair graph: both ends
    of every candidate edge share a keeper, the keeper is a member of
    its own component, and keeper = min(component)."""
    from pyrle_spark.functions.dedup import dedup_components, minhash_lsh_pairs

    comp = dedup_components(spark, SF_SMALL).toPandas()
    pairs = minhash_lsh_pairs(spark, SF_SMALL).toPandas()
    keep = dict(zip(comp["doc_id"].astype(int), comp["keep_doc_id"].astype(int)))
    for d1, d2 in zip(pairs["d1"].astype(int), pairs["d2"].astype(int)):
        assert keep[d1] == keep[d2], (d1, d2)
    for doc, k in keep.items():
        assert keep[k] == k  # keeper is its own keeper
        assert k <= doc  # min-label convention


def test_kmv_estimate_accuracy(spark):
    """The KMV estimate should be a real cardinality estimate, not just
    oracle-consistent: within ~2.5/sqrt(k) relative error of the true
    distinct count for groups with >= k distinct hashes (standard KMV
    error bound ~1/sqrt(k-2) -> ~13% at k=64; allow headroom)."""
    import pyspark.sql.functions as F

    from pyrle_spark.functions.sketch import KMV_K, distinct_kmv

    est = {
        r["source"]: r["distinct_est"]
        for r in distinct_kmv(spark, SF_SMALL).collect()
    }
    truth = {
        r["source"]: r["n"]
        for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .groupBy("source")
        .agg(F.countDistinct("text").alias("n"))
        .collect()
    }
    assert set(est) == set(truth)
    for src, t in truth.items():
        if t < KMV_K:
            assert est[src] == float(t), src  # exact below k
        else:
            assert abs(est[src] - t) / t < 2.5 / (KMV_K ** 0.5), (src, est[src], t)


def test_sample_hash_priority_stable(spark):
    """The sample is a pure function of data+salt: identical across
    reruns and across different input partitioning."""
    from pyrle_spark.functions.sketch import sample_hash_priority

    a = sorted(
        (r["source"], r["doc_id"], r["sample_rank"])
        for r in sample_hash_priority(spark, SF_SMALL).collect()
    )
    b = sorted(
        (r["source"], r["doc_id"], r["sample_rank"])
        for r in sample_hash_priority(spark, SF_SMALL).collect()
    )
    assert a == b and len(a) > 0


def test_star_cc_long_chain(spark):
    """The star algorithm's reason to exist: a 300-node PATH graph
    (diameter 299) resolves to one component in O(log n) rounds — label
    propagation would need 299. Also a mixed graph: two chains + a
    triangle + isolated pairs."""
    import pyspark.sql.functions as F

    from pyrle_spark.functions.graph import connected_components

    chain = spark.range(0, 299).select(
        F.col("id").alias("x"), (F.col("id") + 1).alias("y")
    )
    got = connected_components(chain, "x", "y").toPandas()
    assert len(got) == 300
    assert (got["component"] == 0).all()

    rows = (
        [(1000 + i, 1001 + i) for i in range(50)]  # chain 1000..1050
        + [(2000, 2001), (2001, 2002), (2002, 2000)]  # triangle
        + [(3000, 3001), (4000, 4001)]  # two isolated pairs
    )
    pairs = spark.createDataFrame(rows, "x long, y long")
    comp = {
        int(r["node"]): int(r["component"])
        for r in connected_components(pairs, "x", "y").collect()
    }
    assert all(comp[1000 + i] == 1000 for i in range(51))
    assert comp[2000] == comp[2001] == comp[2002] == 2000
    assert comp[3000] == comp[3001] == 3000
    assert comp[4000] == comp[4001] == 4000
    assert len(comp) == 51 + 3 + 4


def test_kmeans_fit_improves_cells(spark):
    """Lloyd's on the embeddings: cost (mean 1-cosine to the assigned
    centroid) is monotonically non-increasing across iterations and
    strictly better than the first-K-vectors init the oracle queries
    use; k centroids survive."""
    import pyspark.sql.functions as F

    from pyrle_spark.functions.similarity import _dvec, kmeans_fit

    emb = (
        spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .select("vec_id", _dvec("embedding").alias("v"))
    )
    cents, costs = kmeans_fit(emb, k=8, iters=4)
    assert cents.count() == 8
    assert len(costs) == 4
    for a, b in zip(costs, costs[1:]):
        assert b <= a + 1e-9, costs  # Lloyd's monotonicity
    assert costs[-1] < costs[0], costs  # actually moved off the init


def test_pii_redaction_scrubs_everything(spark):
    """The injected emails/phones are counted per row and fully removed:
    counts vary with doc_id parity, placeholders appear, clean is true
    on every row, and no raw pattern survives redaction."""
    import pyspark.sql.functions as F

    from pyrle_spark.functions.text import pii_redaction

    out = pii_redaction(spark, SF_SMALL).cache()
    n = out.count()
    assert n > 0
    assert out.filter(~F.col("clean")).count() == 0
    assert out.filter(F.col("n_emails") > 0).count() > 0
    assert out.filter(F.col("n_phones") > 0).count() > 0
    assert out.filter(F.col("n_emails") == 0).count() > 0  # doc_id % 3 == 0 rows
    with_email = out.filter(F.col("n_emails") > 0)
    assert with_email.filter(~F.col("redacted").contains("<EMAIL>")).count() == 0
    assert out.filter(F.col("redacted").rlike("@mail[.]example[.]com")).count() == 0
    out.unpersist()


def test_ngram_ops_survive_short_docs(spark, tmp_path):
    """Docs with fewer words than the n-gram width produce NO grams
    instead of crashing: Spark's sequence(1, 0) counts DOWN to [1, 0]
    (step defaults to -1) so the old greatest(size-n, 0) guard still fed
    index 0 into slice(), which throws.  Every shingle/span/bigram
    operator must match the DuckDB oracle's empty generate_series."""
    import pyspark.sql.functions as F

    d = str(tmp_path / "shortdocs")
    spark.createDataFrame(
        [
            (0, "one two", "en", "web", 7),
            (1, "", "en", "web", 0),
            (2, "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 wa", "de", "web", 30),
            (3, "single", "fr", "web", 6),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    from pyrle_spark.functions.dedup import (
        _shingles,
        contamination_overlap,
        ngram_jaccard_pairs,
    )
    from pyrle_spark.functions.text import (
        boilerplate_spans,
        doc_fingerprint,
        repetition_filter,
    )

    sh = _shingles(spark, d)
    assert {r["doc_id"] for r in sh.select("doc_id").distinct().collect()} == {2}
    # empty doc is OMITTED from the fingerprint (oracle's empty series)
    fp = {r["doc_id"] for r in doc_fingerprint(spark, d).collect()}
    assert fp == {0, 2, 3}
    assert boilerplate_spans(spark, d).count() == 0
    assert repetition_filter(spark, d).count() >= 1
    assert ngram_jaccard_pairs(spark, d).count() == 0
    assert contamination_overlap(spark, d).count() == 0


def test_duplicate_spans_detects_planted_duplicate(spark, tmp_path):
    """Two docs sharing a long exact substring (32 words — plenty of
    anchor 8-grams at the 1/4 content-defined rate) must surface as a
    duplicate_spans pair, regardless of the span's alignment inside
    each doc; unrelated docs must not pair.  span_dedup_frac must see
    the same duplicated anchors doc-wise."""
    from pyrle_spark.functions.dedup import duplicate_spans, span_dedup_frac

    dup = " ".join(f"tok{i}" for i in range(32))
    d = str(tmp_path / "dupdocs")
    spark.createDataFrame(
        [
            (0, "intro words here " + dup, "en", "web", 0),
            (1, dup + " completely different tail text", "en", "web", 0),
            (2, " ".join(f"other{i}" for i in range(40)), "en", "web", 0),
            (3, "tiny", "en", "web", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")

    pairs = {
        (r["d1"], r["d2"]): r["n_shared_anchors"]
        for r in duplicate_spans(spark, d).collect()
    }
    assert set(pairs) == {(0, 1)}
    assert pairs[(0, 1)] >= 2  # 25 grams in the span → ≈6 anchors

    frac = {r["doc_id"]: r for r in span_dedup_frac(spark, d).collect()}
    # doc 2 has anchors but none shared; docs 0/1 share the span's
    assert frac[0]["n_dup_anchors"] == frac[1]["n_dup_anchors"] >= 2
    assert frac[2]["n_dup_anchors"] == 0
    assert 3 not in frac  # shorter than ANCHOR_N words → no anchors


def test_quantiles_by_lang_matches_numpy(spark):
    """Exact grouped quantiles must equal the brute-force sorted-rank
    answer (rank = ceil(q·n), 1-indexed) for every lang and q."""
    import math

    from pyrle_spark.functions.sketch import QUANTILE_QS, quantiles_by_lang

    got = {
        (r["lang"], r["q"]): r["value"]
        for r in quantiles_by_lang(spark, SF_SMALL).collect()
    }
    pdf = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("lang", "n_chars")
        .toPandas()
    )
    for lang, grp in pdf.groupby("lang"):
        vals = np.sort(grp["n_chars"].to_numpy())
        for q in QUANTILE_QS:
            rank = max(math.ceil(q * len(vals)), 1)
            assert got[(lang, q)] == vals[rank - 1], (lang, q)


def test_bm25_rank_orders_by_relevance(spark, tmp_path):
    """BM25 sanity on a controlled corpus: more query-term occurrences
    at equal length ⇒ strictly higher score; longer doc with the same
    tf ⇒ lower score (length normalization); docs without any query
    term are absent."""
    from pyrle_spark.functions.text import bm25_rank

    d = str(tmp_path / "bmdocs")
    pad = lambda n: " ".join(["filler"] * n)  # noqa: E731
    spark.createDataFrame(
        [
            (0, "data data data " + pad(7), "en", "web", 0),
            (1, "data " + pad(9), "en", "web", 0),
            (2, "data " + pad(29), "en", "web", 0),
            (3, pad(10), "en", "web", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")
    got = {r["doc_id"]: r["bm25"] for r in bm25_rank(spark, d).collect()}
    assert set(got) == {0, 1, 2}
    assert got[0] > got[1] > got[2] > 0


def test_dataset_split_deterministic_and_proportional(spark):
    """Split assignment is a pure function of doc_id + salt (two runs
    identical) and globally close to the 80/10/10 boundaries."""
    from pyrle_spark.functions.sketch import dataset_split_stratified

    a = sorted(map(tuple, dataset_split_stratified(spark, SF_SMALL).collect()))
    b = sorted(map(tuple, dataset_split_stratified(spark, SF_SMALL).collect()))
    assert a == b
    totals = {}
    for _, split, n in a:
        totals[split] = totals.get(split, 0) + n
    n_all = sum(totals.values())
    assert 0.7 <= totals["train"] / n_all <= 0.9
    assert totals["train"] + totals.get("val", 0) + totals.get("test", 0) == n_all


def test_semdedup_drops_exactly_injected(spark):
    """The injected scaled duplicates (and only they) are dropped: the
    natural corpus has no within-cluster pair above SEM_TAU, and the
    keep-lowest rule keeps every original."""
    from pyrle_spark.functions.similarity import (
        N_SEM_DUP,
        SEM_DUP_OFFSET,
        semdedup_keep,
    )

    rows = semdedup_keep(spark, SF_SMALL).collect()
    dropped = {r["vec_id"] for r in rows if r["kept"] == 0}
    assert dropped == {SEM_DUP_OFFSET + i for i in range(N_SEM_DUP)}


def test_winnow_guarantee_floor(spark, tmp_path):
    """Winnowing's detection guarantee: ANY exact shared run of
    WINNOW_K + WINNOW_W - 1 = 6 words must yield a shared fingerprint
    — even a minimal one the content-defined anchor scheme can miss —
    and unrelated docs must not pair."""
    from pyrle_spark.functions.dedup import winnow_dup_pairs

    shared = "alpha beta gamma delta epsilon zeta"  # exactly 6 words
    d = str(tmp_path / "windocs")
    spark.createDataFrame(
        [
            (0, "unrelated head words " + shared, "en", "web", 0),
            (1, shared + " some different trailing words", "en", "web", 0),
            (2, " ".join(f"other{i}" for i in range(40)), "en", "web", 0),
            (3, "too tiny", "en", "web", 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(f"{d}/documents.parquet")

    pairs = {
        (r["d1"], r["d2"]): r["n_shared_fps"]
        for r in winnow_dup_pairs(spark, d).collect()
    }
    assert set(pairs) == {(0, 1)}
    assert pairs[(0, 1)] >= 1


def test_lsh_hot_bucket_guards(spark, tmp_path):
    """The web-scale skew guards of the LSH pair joins: ~1k planted
    byte-identical docs collapse to ONE representative before the
    band-bucket self-join (the join never goes quadratic), star-edge
    mode bounds the emitted pairs at O(m), clique mode reconstructs the
    full declared output, and the bucket cap + overflow flag drop/flag
    hot buckets."""
    import pyspark.sql.functions as F

    import pyrle_spark.functions.dedup as dd
    from pyrle_spark.functions.dedup import (
        minhash_lsh_overcap_buckets,
        minhash_lsh_pairs,
        simhash_hamming_pairs,
    )

    n_dup = 1000
    boiler = " ".join(f"boiler{i % 9} tok{i}" for i in range(12))
    rows = [(i, boiler, "en", "web", len(boiler)) for i in range(n_dup)]
    # a few distinct docs that share nothing with the cluster
    for j in range(5):
        rows.append(
            (
                n_dup + j,
                " ".join(f"uniq{j}w{k}" for k in range(15)),
                "en",
                "web",
                60,
            )
        )
    d = str(tmp_path / "hotdocs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{d}/documents.parquet")

    # star-edge mode: the 1000-doc cluster emits 999 rep→member edges,
    # not the 499,500-pair clique — bounded output, component-identical
    star = minhash_lsh_pairs(spark, d, expand_identical=False).toPandas()
    assert len(star) < n_dup + 50, len(star)
    intra = star[(star.d1 == 0) & (star.d2 < n_dup)]
    assert len(intra) == n_dup - 1  # rep 0 → members 1..999

    # clique mode (the oracle-pinned registry semantics) reconstructs
    # the full pair set OUTSIDE the band join
    clique_n = minhash_lsh_pairs(spark, d).count()
    assert clique_n >= n_dup * (n_dup - 1) // 2

    # no bucket holds > cap DISTINCT signatures here → no overflow
    assert minhash_lsh_overcap_buckets(spark, d).count() == 0

    # cap forced to 0: every bucket overflows → flagged, and the pair
    # output degrades to the intra-signature edges only (no cross pairs)
    saved = dd.LSH_BUCKET_CAP
    dd.LSH_BUCKET_CAP = 0
    try:
        assert minhash_lsh_overcap_buckets(spark, d).count() > 0
        capped = minhash_lsh_pairs(spark, d, expand_identical=False)
        assert capped.filter(F.col("d2") >= n_dup).count() == 0
    finally:
        dd.LSH_BUCKET_CAP = saved

    # simhash: the cluster collapses to one fingerprint before the band
    # join; hamming-0 pairs come from the membership expansion
    sh = simhash_hamming_pairs(spark, d)
    zero = sh.filter((F.col("hamming") == 0) & (F.col("d2") < n_dup))
    assert zero.count() == n_dup * (n_dup - 1) // 2
