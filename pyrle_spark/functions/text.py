"""Text analysis over the documents table: token counting, quality
scoring, language-ID heuristic, document fingerprinting.

All operators are pure built-in-function DataFrame plans (JVM-side,
whole-stage codegen; no Python in the hot path) with exact duckdb SQL
twins — every arithmetic step is chosen to be bit-reproducible across
both engines (integer arithmetic; single final division for ratios).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

STOPWORDS = ["the", "of", "and", "to", "a", "in", "is", "it", "that", "for"]
_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _words(col):
    return F.split(F.trim(col), r"\s+")


# ------------------------------------------------------------------ token stats


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (whitespace tokenizer)."""
    docs = _docs(spark, sf_dir)
    words = _words(F.col("text"))
    n_words = F.size(words)
    no_space = F.length(F.regexp_replace("text", r"\s+", ""))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        n_words.alias("n_words"),
        (no_space / n_words).alias("avg_word_len"),
    )


_TEXT_STATS_SQL = r"""
SELECT doc_id,
       length(text) AS n_chars_calc,
       len(string_split_regex(trim(text), '\s+')) AS n_words,
       length(regexp_replace(text, '\s+', '', 'g'))
         / len(string_split_regex(trim(text), '\s+')) AS avg_word_len
FROM documents
"""


def token_count_bpe_ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token estimate: each word costs max(1, ceil(len/4))
    subword tokens (≈4 chars per merged token)."""
    docs = _docs(spark, sf_dir)
    words = _words(F.col("text"))
    per_word = F.transform(
        words, lambda w: F.greatest(F.lit(1), F.ceil(F.length(w) / 4))
    )
    return docs.select(
        "doc_id",
        F.aggregate(per_word, F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "n_tokens_bpe"
        ),
    )


_TOKEN_COUNT_BPE_SQL = r"""
SELECT doc_id,
       CAST(list_sum(list_transform(string_split_regex(trim(text), '\s+'),
                               w -> greatest(1, CAST(ceil(length(w) / 4.0) AS BIGINT))))
            AS BIGINT) AS n_tokens_bpe
FROM documents
"""


# ------------------------------------------------------------------ quality


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality gate: length band + stopword density."""
    docs = _docs(spark, sf_dir)
    words = _words(F.col("text"))
    n_words = F.size(words)
    n_stop = F.size(F.filter(words, lambda w: w.isin(STOPWORDS)))
    stop_ratio = n_stop / n_words
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_stop.alias("n_stop"),
        stop_ratio.alias("stop_ratio"),
        F.when((n_words >= 30) & (n_words <= 500) & (stop_ratio >= 0.05), "good")
        .when(n_words >= 10, "ok")
        .otherwise("junk")
        .alias("quality"),
    )


_QUALITY_SCORE_SQL = rf"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
)
SELECT doc_id,
       len(ws) AS n_words,
       len(list_filter(ws, x -> x IN ({_STOP_SQL}))) AS n_stop,
       len(list_filter(ws, x -> x IN ({_STOP_SQL}))) * 1.0 / len(ws) AS stop_ratio,
       CASE WHEN len(ws) >= 30 AND len(ws) <= 500
                 AND len(list_filter(ws, x -> x IN ({_STOP_SQL}))) * 1.0 / len(ws) >= 0.05
            THEN 'good'
            WHEN len(ws) >= 10 THEN 'ok'
            ELSE 'junk' END AS quality
FROM w
"""


# ------------------------------------------------------------------ language ID


_LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "die", "und"],
    "fr": ["le", "la", "et"],
    "es": ["el", "los", "y"],
}


def lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (n-gram-heuristic family): the language
    with the most marker hits wins; ties and no-hits → 'und'."""
    docs = _docs(spark, sf_dir)
    words = _words(F.col("text"))

    def _counter(markers):
        # closure factory: a 2-arg lambda (w, _m=markers) would be treated
        # by pyspark as the (element, index) higher-order-function form
        return lambda w: w.isin(markers)

    hits = {
        lang: F.size(F.filter(words, _counter(m)))
        for lang, m in _LANG_MARKERS.items()
    }
    best = F.greatest(*hits.values())
    guess = F.when(best == 0, "und")
    for lang in _LANG_MARKERS:  # first-wins tie break in dict order
        guess = guess.when(hits[lang] == best, lang)
    return docs.select("doc_id", guess.otherwise("und").alias("lang_guess"))


def _marker_sql(m):
    return ", ".join(f"'{x}'" for x in m)


_LANG_ID_SQL = rf"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
),
h AS (
  SELECT doc_id,
         len(list_filter(ws, x -> x IN ({_marker_sql(_LANG_MARKERS['en'])}))) AS h_en,
         len(list_filter(ws, x -> x IN ({_marker_sql(_LANG_MARKERS['de'])}))) AS h_de,
         len(list_filter(ws, x -> x IN ({_marker_sql(_LANG_MARKERS['fr'])}))) AS h_fr,
         len(list_filter(ws, x -> x IN ({_marker_sql(_LANG_MARKERS['es'])}))) AS h_es
  FROM w
)
SELECT doc_id,
       CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
            WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
            WHEN h_de = greatest(h_en, h_de, h_fr, h_es) THEN 'de'
            WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
            WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
            ELSE 'und' END AS lang_guess
FROM h
"""


def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier audit: confusion matrix of the stored ``lang`` label
    vs the marker-word language-ID prediction, with per-true-language
    recall share.  The data pass is one doc_id equi-join + one grouped
    count; the recall window runs over the confusion MATRIX
    (≤ |langs|² rows), never the corpus."""
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    guess = lang_id_ngram(spark, sf_dir)
    cm = (
        docs.join(guess, "doc_id")
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("lang")
    return cm.select(
        "lang",
        "lang_guess",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 6).alias("recall_share"),
    )


_LANG_CONFUSION_SQL = f"""
WITH pred AS ({_LANG_ID_SQL}),
cm AS (
  SELECT d.lang, p.lang_guess, count(*) AS n
  FROM documents d JOIN pred p ON p.doc_id = d.doc_id
  GROUP BY d.lang, p.lang_guess
)
SELECT lang, lang_guess, n,
       round(n * 1.0 / sum(n) OVER (PARTITION BY lang), 6) AS recall_share
FROM cm
"""


# ------------------------------------------------------------------ fingerprint


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: position-weighted codepoint sum
    mod 2^31.  Weights are small (≤2^20) and texts short enough that the
    int64 accumulator is exact in both engines."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    # guard empty text: Spark's sequence(1, 0) descends to [1, 0] and
    # would emit a fingerprint-0 row the oracle (empty generate_series)
    # never produces — both engines must simply omit empty docs
    pos = docs.filter(F.length("text") >= 1).select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("text"))).alias("i"),
        F.col("text"),
    )
    term = F.ascii(F.substring(F.col("text"), F.col("i"), 1)).cast("long") * (
        (F.col("i") * F.lit(2654435761)) % F.lit(1048573)
    )
    return (
        pos.groupBy("doc_id")
        .agg((F.sum(term) % F.lit(2147483648)).alias("fingerprint"))
    )


_DOC_FINGERPRINT_SQL = """
WITH pos AS (
  SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
  FROM documents
)
SELECT doc_id,
       CAST(sum(ascii(substr(text, i, 1)) * ((i * 2654435761) % 1048573)) % 2147483648
            AS BIGINT) AS fingerprint
FROM pos GROUP BY doc_id
"""


# ------------------------------------------------------------------ boilerplate


def _word_spans(spark, sf_dir, n: int) -> DataFrame:
    """All word-``n``-gram spans per document (NOT distinct — occurrence
    counts need every instance)."""
    docs = _docs(spark, sf_dir)
    ws = _words(F.col("text"))
    from pyrle_spark.functions.dedup import _gram_idx

    return docs.select(
        "doc_id",
        F.explode(
            F.transform(
                _gram_idx(ws, n),
                lambda i: F.array_join(F.slice(ws, i, n), " "),
            )
        ).alias("span"),
    )


def boilerplate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection (the C4/RefinedWeb line-dedup step adapted
    to span granularity): word-3-gram spans appearing in ≥ 5 distinct
    documents, with document frequency and total occurrences.  A real
    pipeline subtracts these spans from every document before training.

    Scale shape: explode → two-phase hash aggregation on the span (the
    partial agg collapses each task's spans before the single shuffle);
    no join, no window.  The df ≥ 5 filter keeps the result to the hot
    tail, which is exactly the part a cleaner needs."""
    spans = _word_spans(spark, sf_dir, 3)
    return (
        spans.groupBy("span")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 5)
    )


_BOILERPLATE_SPANS_SQL = r"""
WITH spans AS (
  SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS span
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents),
       unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS t(i)
)
SELECT span, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= 5
"""


def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture statistics for training-data sampling: document
    count, whitespace-token count, and each source's share of the total
    token budget (the weight a mixture sampler feeds on).

    Scale shape: one narrow aggregation to O(#sources) rows, then the
    share is a window over that tiny aggregate — the global window runs
    on 20 rows, never on row data."""
    docs = _docs(spark, sf_dir)
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(_words(F.col("text")))).alias("n_tokens"),
    )
    total = F.sum("n_tokens").over(W.partitionBy())
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / total, 6).alias("token_share"),
    )


_SOURCE_MIXTURE_SQL = r"""
WITH agg AS (
  SELECT source, count(*) AS n_docs,
         sum(len(string_split_regex(trim(text), '\s+'))) AS n_tokens
  FROM documents GROUP BY source
)
SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(n_tokens / (sum(n_tokens) OVER ()), 6) AS token_share
FROM agg
"""


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pass a training pipeline actually runs, as
    ONE plan: exact-dedup keeper selection (md5 hash, min-doc_id keeper)
    → quality gate (n_words ≥ 10, the quality_score 'junk' rule) →
    per-source audit of what survived and why the rest dropped.

    Scale shape: one keyed window (partitioned by the content hash — no
    global window), then a single two-phase aggregation to O(#sources)
    rows; Catalyst fuses the dedup flag, quality flag, and token count
    into one pass over the scan."""
    docs = _docs(spark, sf_dir)
    n_words = F.size(_words(F.col("text")))
    keep_id = F.min("doc_id").over(
        W.partitionBy(F.md5(F.encode("text", "utf-8")))
    )
    flagged = docs.select(
        "source",
        n_words.alias("n_words"),
        (F.col("doc_id") != keep_id).cast("int").alias("is_dup"),
    ).select(
        "source",
        "n_words",
        "is_dup",
        ((F.col("is_dup") == 0) & (F.col("n_words") < 10)).cast("int").alias("is_junk"),
        ((F.col("is_dup") == 0) & (F.col("n_words") >= 10)).cast("int").alias("is_kept"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("is_dup").alias("n_dup_dropped"),
        F.sum("is_junk").alias("n_junk_dropped"),
        F.sum("is_kept").alias("n_kept"),
        F.sum(F.col("n_words") * F.col("is_kept")).alias("tokens_kept"),
    )


_CURATION_PIPELINE_SQL = r"""
WITH flagged AS (
  SELECT source,
         len(string_split_regex(trim(text), '\s+')) AS n_words,
         CASE WHEN doc_id != min(doc_id) OVER (PARTITION BY md5(text))
              THEN 1 ELSE 0 END AS is_dup
  FROM documents
),
marked AS (
  SELECT source, n_words, is_dup,
         CASE WHEN is_dup = 0 AND n_words < 10 THEN 1 ELSE 0 END AS is_junk,
         CASE WHEN is_dup = 0 AND n_words >= 10 THEN 1 ELSE 0 END AS is_kept
  FROM flagged
)
SELECT source,
       count(*) AS n_total,
       CAST(sum(is_dup) AS BIGINT) AS n_dup_dropped,
       CAST(sum(is_junk) AS BIGINT) AS n_junk_dropped,
       CAST(sum(is_kept) AS BIGINT) AS n_kept,
       CAST(sum(n_words * is_kept) AS BIGINT) AS tokens_kept
FROM marked GROUP BY source
"""


def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1: fraction
    of the document covered by the most common word / n-gram): per
    document, the top-word and top-bigram occurrence counts and their
    coverage fractions, plus the drop flag a cleaner would act on.

    Scale shape: two explode → two-phase hash aggregations keyed by
    (doc_id, gram) — partial aggs collapse repeats before the shuffle —
    then per-doc maxima and a doc_id-keyed join back.  No windows over
    row data, no self-joins; skew-safe because the agg key includes
    doc_id."""
    docs = _docs(spark, sf_dir)
    ws = _words(F.col("text"))
    base = docs.select("doc_id", ws.alias("ws"), F.size(ws).alias("n_words"))

    word_top = (
        base.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("doc_id", "w")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_word_n"))
    )
    from pyrle_spark.functions.dedup import _gram_idx

    bigrams = base.select(
        "doc_id",
        F.explode(
            F.transform(
                _gram_idx(F.col("ws"), 2),
                lambda i: F.array_join(F.slice("ws", i, 2), " "),
            )
        ).alias("g"),
    )
    gram_top = (
        bigrams.groupBy("doc_id", "g")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_bigram_n"))
    )
    out = (
        base.select("doc_id", "n_words")
        .join(word_top, "doc_id")
        .join(gram_top, "doc_id")
    )
    top_word_frac = F.round(F.col("top_word_n") / F.col("n_words"), 6)
    top_bigram_frac = F.round(
        F.lit(2) * F.col("top_bigram_n") / F.col("n_words"), 6
    )
    return out.select(
        "doc_id",
        "n_words",
        "top_word_n",
        "top_bigram_n",
        top_word_frac.alias("top_word_frac"),
        top_bigram_frac.alias("top_bigram_frac"),
        ((top_word_frac > 0.2) | (top_bigram_frac > 0.5)).alias("too_repetitive"),
    )


_REPETITION_FILTER_SQL = r"""
WITH base AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
  FROM documents
),
words AS (
  SELECT doc_id, unnest(ws) AS w FROM base
),
word_top AS (
  SELECT doc_id, max(n) AS top_word_n
  FROM (SELECT doc_id, w, count(*) AS n FROM words GROUP BY doc_id, w)
  GROUP BY doc_id
),
grams AS (
  SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS g
  FROM base, unnest(generate_series(1, greatest(len(ws) - 1, 0))) AS t(i)
),
gram_top AS (
  SELECT doc_id, max(n) AS top_bigram_n
  FROM (SELECT doc_id, g, count(*) AS n FROM grams GROUP BY doc_id, g)
  GROUP BY doc_id
)
SELECT b.doc_id, len(b.ws) AS n_words, w.top_word_n, gt.top_bigram_n,
       round(w.top_word_n * 1.0 / len(b.ws), 6) AS top_word_frac,
       round(2.0 * gt.top_bigram_n / len(b.ws), 6) AS top_bigram_frac,
       (round(w.top_word_n * 1.0 / len(b.ws), 6) > 0.2
        OR round(2.0 * gt.top_bigram_n / len(b.ws), 6) > 0.5) AS too_repetitive
FROM base b JOIN word_top w USING (doc_id) JOIN gram_top gt USING (doc_id)
"""


def vocab_topk_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary audit: the 25 most frequent words corpus-wide
    with rank, count, and cumulative share of ALL tokens — the curve a
    BPE/vocab builder reads to size its vocabulary.

    Scale shape: explode → two-phase hash aggregation to O(vocab) rows;
    the rank/cumsum window then runs over the aggregated vocabulary
    (thousands of rows), never over token data.  Ties broken by word so
    both engines rank identically.  The total-token count folds in as a
    scalar aggregate (broadcast), not a second pass over rows."""
    docs = _docs(spark, sf_dir)
    words = docs.select(F.explode(_words(F.col("text"))).alias("w"))
    hist = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    one = F.pmod(F.length("w"), F.lit(1))
    wr = W.partitionBy(one).orderBy(F.desc("n"), "w")
    wc = wr.rowsBetween(W.unboundedPreceding, 0)
    total = hist.agg(F.sum("n").alias("_t"))
    ranked = hist.select(
        "w",
        "n",
        F.row_number().over(wr).alias("rank"),
        F.sum("n").over(wc).alias("cum_n"),
    ).filter(F.col("rank") <= 25)
    return ranked.crossJoin(F.broadcast(total)).select(
        "rank",
        F.col("w").alias("word"),
        F.col("n").alias("n_occurrences"),
        F.round(F.col("cum_n") / F.col("_t"), 6).alias("cum_share"),
    )


_VOCAB_TOPK_SQL = r"""
WITH words AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM documents
),
hist AS (SELECT w, count(*) AS n FROM words GROUP BY w),
ranked AS (
  SELECT w, n,
         row_number() OVER (ORDER BY n DESC, w) AS rank,
         sum(n) OVER (ORDER BY n DESC, w
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
  FROM hist
)
SELECT rank, w AS word, n AS n_occurrences,
       round(cum_n * 1.0 / (SELECT sum(n) FROM hist), 6) AS cum_share
FROM ranked WHERE rank <= 25
"""


# ------------------------------------------------------------------ PII scrub

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+1-555-[0-9]{4}"


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (the redaction pass every web-text pipeline runs before
    training): count and replace email addresses and phone numbers with
    typed placeholders, and flag rows as clean when no residual match
    survives.

    The synthetic corpus carries no natural PII, so the query first
    INJECTS it deterministically (an email for ``doc_id % 3 != 0``, a
    phone for even ``doc_id`` — both derived from doc_id, so Spark and
    the oracle build byte-identical inputs) and then proves the scrub
    removes exactly those: counts vary per row, ``clean`` is true
    everywhere, and the redacted text hash-matches the oracle's.

    Scale shape: pure built-in regexp expressions per row — JVM-side,
    whole-stage codegen, no shuffle, no Python; the patterns use no
    lookaround so they run identically on Java regex and RE2."""
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    raw = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 != 0,
            F.concat(F.lit(" contact user"), did, F.lit("@mail.example.com")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((F.col("doc_id") * 7919 % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    salted = docs.select("doc_id", raw.alias("raw"))
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("raw"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return salted.select(
        "doc_id",
        F.regexp_count(F.col("raw"), F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("raw"), F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        redacted.alias("redacted"),
        (
            ~redacted.rlike(_EMAIL_RE) & ~redacted.rlike(_PHONE_RE)
        ).alias("clean"),
    )


_PII_REDACTION_SQL = f"""
WITH salted AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 <> 0
                 THEN ' contact user' || doc_id || '@mail.example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 2 = 0
                 THEN ' call +1-555-' ||
                      lpad(CAST((doc_id * 7919) % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS raw
  FROM documents
), red AS (
  SELECT doc_id, raw,
         regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                        '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
  FROM salted
)
SELECT doc_id,
       CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(raw, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
       redacted,
       (NOT regexp_matches(redacted, '{_EMAIL_RE}')
        AND NOT regexp_matches(redacted, '{_PHONE_RE}')) AS clean
FROM red
"""


# ------------------------------------------------------------------ BM25

BM25_TERMS = ("data", "table", "spark")
BM25_K1 = 1.2
BM25_B = 0.75
# precompute derived float constants in ONE place so both engines use
# the identical double (a SQL literal `1.2 + 1` need not be bit-equal
# to a Python `1.2 + 1` rounded independently)
_BM25_K1P1 = BM25_K1 + 1.0
_BM25_1MB = 1.0 - BM25_B


def bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document against a fixed query term set
    (Robertson/Okapi; idf = ln(1 + (N − df + ½)/(df + ½)), k1=1.2,
    b=0.75) — the standard lexical ranking for retrieval-style corpus
    queries.

    Scale shape: the query term list is tiny → the token explode is
    filtered on it immediately (corpus streams through one linear
    pass); df-per-term (≤ |terms| rows) and the global (N, avgdl)
    scalar broadcast back; one groupBy(doc) sum.  No corpus-wide
    inverted index is materialized — for repeated ad-hoc queries at
    100 TB build the text_index (plans/text_index.py) instead."""
    docs = _docs(spark, sf_dir)
    base = docs.select("doc_id", _words(F.col("text")).alias("ws"))
    base = base.select("doc_id", F.size("ws").alias("dl"), "ws")
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        base.select("doc_id", "dl", F.explode("ws").alias("tok"))
        .filter(F.col("tok").isin(list(BM25_TERMS)))
        .groupBy("doc_id", "dl", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df_t"))
    j = tf.join(F.broadcast(dfreq), "tok").join(F.broadcast(stats))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df_t") + F.lit(0.5))
        / (F.col("df_t") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(_BM25_1MB) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
    )
    contrib = idf * F.col("tf") * F.lit(_BM25_K1P1) / denom
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum(contrib), 6).alias("bm25"),
        )
    )


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)
_BM25_RANK_SQL = rf"""
WITH base AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
),
b2 AS (SELECT doc_id, len(ws) AS dl, ws FROM base),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM b2),
tf AS (
  SELECT doc_id, dl, tok, count(*) AS tf
  FROM b2, unnest(ws) AS t(tok)
  WHERE tok IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, dl, tok
),
dfreq AS (SELECT tok, count(*) AS df_t FROM tf GROUP BY tok)
SELECT tf.doc_id,
       count(*) AS n_terms,
       round(sum(
         ln(1.0 + (s.n_docs - d.df_t + 0.5) / (d.df_t + 0.5))
         * tf.tf * {_BM25_K1P1!r}
         / (tf.tf + {BM25_K1!r} * ({_BM25_1MB!r} + {BM25_B!r} * tf.dl / s.avgdl))
       ), 6) AS bm25
FROM tf
JOIN dfreq d ON d.tok = tf.tok
CROSS JOIN stats s
GROUP BY tf.doc_id
"""


# ------------------------------------------------------------- report card


def corpus_report_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation report card: the one table a pipeline owner
    reads before a training run — document counts, token budget,
    quality/repetition/duplication exposure — composed from the
    already-certified per-doc operators (quality_score,
    token_count_bpe_ish, repetition_filter, span_dedup_frac).

    All cross-row aggregates are integer counts/sums (associative →
    parallelism-independent); per-doc operators that drop short/empty
    docs re-enter through left joins with 0-defaults.  Scale shape:
    four doc_id-keyed equi-joins (one shuffle key throughout, AQE
    co-partitions) into one grouped rollup of O(#sources) rows."""
    from pyrle_spark.functions.dedup import span_dedup_frac

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    q = quality_score(spark, sf_dir).select("doc_id", "quality")
    t = token_count_bpe_ish(spark, sf_dir)
    r = repetition_filter(spark, sf_dir).select(
        "doc_id", F.col("too_repetitive").cast("long").alias("rep")
    )
    s = span_dedup_frac(spark, sf_dir).select("doc_id", "n_dup_anchors")
    j = (
        docs.join(q, "doc_id", "left")
        .join(t, "doc_id", "left")
        .join(r, "doc_id", "left")
        .join(s, "doc_id", "left")
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.coalesce(F.col("n_tokens_bpe"), F.lit(0))).alias(
            "n_tokens_bpe"
        ),
        F.sum((F.col("quality") == "good").cast("long")).alias("n_good"),
        F.sum((F.col("quality") == "junk").cast("long")).alias("n_junk"),
        F.sum(F.coalesce(F.col("rep"), F.lit(0))).alias("n_repetitive"),
        F.sum(
            (F.coalesce(F.col("n_dup_anchors"), F.lit(0)) >= 2).cast("long")
        ).alias("n_dupey"),
    )


def _report_card_sql() -> str:
    from pyrle_spark.functions.dedup import _SPAN_DEDUP_FRAC_SQL

    return f"""
WITH q AS ({_QUALITY_SCORE_SQL}),
t AS ({_TOKEN_COUNT_BPE_SQL}),
r AS ({_REPETITION_FILTER_SQL}),
s AS ({_SPAN_DEDUP_FRAC_SQL})
SELECT d.source,
       count(*) AS n_docs,
       CAST(sum(coalesce(t.n_tokens_bpe, 0)) AS BIGINT) AS n_tokens_bpe,
       CAST(sum(CASE WHEN q.quality = 'good' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_good,
       CAST(sum(CASE WHEN q.quality = 'junk' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_junk,
       CAST(sum(CASE WHEN r.too_repetitive THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repetitive,
       CAST(sum(CASE WHEN coalesce(s.n_dup_anchors, 0) >= 2 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dupey
FROM documents d
LEFT JOIN q ON q.doc_id = d.doc_id
LEFT JOIN t ON t.doc_id = d.doc_id
LEFT JOIN r ON r.doc_id = d.doc_id
LEFT JOIN s ON s.doc_id = d.doc_id
GROUP BY d.source
"""


QUERIES = {
    "text_stats": text_stats,
    "bm25_rank": bm25_rank,
    "corpus_report_card": corpus_report_card,
    "pii_redaction": pii_redaction,
    "token_count_bpe_ish": token_count_bpe_ish,
    "quality_score": quality_score,
    "lang_id_ngram": lang_id_ngram,
    "lang_confusion": lang_confusion,
    "doc_fingerprint": doc_fingerprint,
    "boilerplate_spans": boilerplate_spans,
    "source_mixture_weights": source_mixture_weights,
    "curation_pipeline": curation_pipeline,
    "repetition_filter": repetition_filter,
    "vocab_topk_coverage": vocab_topk_coverage,
}

ORACLE_SQL = {
    "text_stats": _TEXT_STATS_SQL,
    "bm25_rank": _BM25_RANK_SQL,
    "corpus_report_card": _report_card_sql(),
    "pii_redaction": _PII_REDACTION_SQL,
    "token_count_bpe_ish": _TOKEN_COUNT_BPE_SQL,
    "quality_score": _QUALITY_SCORE_SQL,
    "lang_id_ngram": _LANG_ID_SQL,
    "lang_confusion": _LANG_CONFUSION_SQL,
    "doc_fingerprint": _DOC_FINGERPRINT_SQL,
    "boilerplate_spans": _BOILERPLATE_SPANS_SQL,
    "source_mixture_weights": _SOURCE_MIXTURE_SQL,
    "curation_pipeline": _CURATION_PIPELINE_SQL,
    "repetition_filter": _REPETITION_FILTER_SQL,
    "vocab_topk_coverage": _VOCAB_TOPK_SQL,
}
