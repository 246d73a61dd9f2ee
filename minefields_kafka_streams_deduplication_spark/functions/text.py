"""Text-analysis operators (SURVEY.md §2.8 F1/V3 + driver-mandated
LLM-pipeline text ops: language-ID, quality scoring, token counting,
document fingerprinting). Everything is built-in-function only — no
Python UDFs — so the whole family stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, round4f
from ..registry import query


@query(
    "text_stats",
    oracle="""
SELECT lang,
       count(*) AS n_docs,
       floor(avg(n_chars) * 10000 + 0.5) / 10000 AS avg_chars,
       floor(avg(len(string_split(text, ' '))) * 10000 + 0.5) / 10000 AS avg_words,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars
FROM documents
GROUP BY lang
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: per-language corpus statistics."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        round4f(F.avg("n_chars")).alias("avg_chars"),
        round4f(F.avg(F.size(F.split("text", " ")))).alias("avg_words"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


TOKEN_FREQ_LIMIT = 100


@query(
    "token_frequency",
    oracle=f"""
SELECT token, count(*) AS freq
FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents) t
GROUP BY token
ORDER BY freq DESC, token
LIMIT {TOKEN_FREQ_LIMIT}
""",
)
def token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3: term frequency — explode → count → top-k. The explode happens
    JVM-side; the aggregate is map-side-combined, so shuffle volume is
    bounded by vocabulary size, not corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(TOKEN_FREQ_LIMIT)
    )


# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small and shared verbatim with the oracle SQL.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "es": ["el", "los", "las", "que", "por", "una"],
    "fr": ["le", "les", "des", "est", "dans", "pour"],
    "zh": ["的", "是", "了", "在", "我", "有"],
}
# Deterministic argmax priority (ties resolve in this order).
LANG_PRIORITY = ["en", "de", "es", "fr", "zh"]


def _stopword_hits(tokens: Column, words: list[str]) -> Column:
    lit_words = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(lit_words, t)))


def _lang_id_oracle() -> str:
    score_cols = []
    for lang in LANG_PRIORITY:
        words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        score_cols.append(
            f"len(list_filter(string_split(lower(text), ' '), t -> list_contains([{words}], t))) AS score_{lang}"
        )
    scores = ",\n       ".join(score_cols)
    best = "greatest(" + ", ".join(f"score_{lg}" for lg in LANG_PRIORITY) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'unknown' "
    for lang in LANG_PRIORITY:
        case += f"WHEN score_{lang} = {best} THEN '{lang}' "
    case += "END"
    return f"""
SELECT doc_id, lang, {", ".join(f"score_{lg}" for lg in LANG_PRIORITY)},
       {case} AS predicted_lang
FROM (
  SELECT doc_id, lang,
       {scores}
  FROM documents
) t
"""


@query("lang_id_stopwords", oracle=_lang_id_oracle())
def lang_id_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: stopword-hit argmax with a deterministic
    priority order ('unknown' when no list matches). The fixture corpus
    is synthetic analytics vocabulary, so scores are mostly zero here;
    the unit tests exercise real multilingual snippets.

    Plan: explode tokens once → broadcast-join the (stopword → lang)
    map → pivot counts per language → left-join back so hit-less docs
    keep zero scores. Token-EQUALITY semantics (regex \\b is dialect-y
    for CJK), fully JVM — measured 6× over the interpreted HOF filter.
    """
    docs = load_table(spark, sf_dir, "documents")
    vocab = [
        (w, lang) for lang in LANG_PRIORITY for w in LANG_STOPWORDS[lang]
    ]
    vocab_df = F.broadcast(
        spark.createDataFrame(vocab, "token STRING, sw_lang STRING")
    )
    tokens = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    )
    counts = (
        tokens.join(vocab_df, "token")
        .groupBy("doc_id")
        .pivot("sw_lang", LANG_PRIORITY)
        .count()
    )
    scored = docs.select("doc_id", "lang").join(counts, "doc_id", "left").select(
        "doc_id",
        "lang",
        *[
            F.coalesce(F.col(lg), F.lit(0)).cast("long").alias(f"score_{lg}")
            for lg in LANG_PRIORITY
        ],
    )
    best = F.greatest(*[F.col(f"score_{lg}") for lg in LANG_PRIORITY])
    pred = F.when(best == 0, "unknown")
    for lang in LANG_PRIORITY:
        pred = pred.when(F.col(f"score_{lang}") == best, lang)
    return scored.withColumn("predicted_lang", pred)


# Quality-score weights — shared constants between Spark and oracle SQL.
QUALITY_STOPWORDS = LANG_STOPWORDS["en"]
# Occurrence counting via word-boundary regex: ~6x faster than an
# interpreted HOF token filter (codegen'd JVM regex), and safe here
# because the list is pure ASCII, where Java and RE2 agree on \b.
# (lang_id keeps token-equality HOF — CJK \b semantics are dialect-y.)
QUALITY_STOPWORD_REGEX = "\\b(" + "|".join(QUALITY_STOPWORDS) + ")\\b"


@query(
    "doc_quality_score",
    oracle=f"""
SELECT doc_id, lang, n_words,
       floor(avg_word_len * 10000 + 0.5) / 10000 AS avg_word_len,
       floor(punct_ratio * 10000 + 0.5) / 10000 AS punct_ratio,
       floor(stop_ratio * 10000 + 0.5) / 10000 AS stop_ratio,
       floor((0.4 * least(n_words / 100.0, 1.0)
            + 0.3 * (1.0 - punct_ratio)
            + 0.3 * least(stop_ratio * 5.0, 1.0)) * 10000 + 0.5) / 10000 AS quality
FROM (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_words,
         CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS avg_word_len,
         CAST(len(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
           / greatest(n_chars, 1) AS punct_ratio,
         CAST(len(regexp_extract_all(lower(text), '{QUALITY_STOPWORD_REGEX}')) AS DOUBLE)
           / greatest(len(string_split(text, ' ')), 1) AS stop_ratio
  FROM documents
) t
""",
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring for LLM-data filtering: length, punctuation and
    stopword-density signals combined into a [0,1] score. All built-in
    expressions — at 100 TB this is a free ride on the scan."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = F.split("text", " ")
    n_words = F.size(tokens)
    punct = F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", ""))
    punct_ratio = punct.cast("double") / F.greatest(F.col("n_chars"), F.lit(1))
    stop_ratio = F.regexp_count(F.lower("text"), F.lit(QUALITY_STOPWORD_REGEX)).cast(
        "double"
    ) / F.greatest(n_words, F.lit(1))
    base = docs.select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        (F.col("n_chars").cast("double") / n_words).alias("avg_word_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stop_ratio"),
    )
    quality = (
        0.4 * F.least(F.col("n_words") / 100.0, F.lit(1.0))
        + 0.3 * (1.0 - F.col("punct_ratio"))
        + 0.3 * F.least(F.col("stop_ratio") * 5.0, F.lit(1.0))
    )
    return base.select(
        "doc_id",
        "lang",
        "n_words",
        round4f("avg_word_len").alias("avg_word_len"),
        round4f("punct_ratio").alias("punct_ratio"),
        round4f("stop_ratio").alias("stop_ratio"),
        round4f(quality).alias("quality"),
    )


# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation.
TOKEN_REGEX = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


@query(
    "token_counts",
    oracle=f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS bpe_ish_tokens
FROM documents
""",
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    pre-tokenization (letter runs / digit runs / punctuation singles) —
    the standard cheap token-budget estimator for LLM pipelines."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.regexp_count("text", F.lit(TOKEN_REGEX)).alias("bpe_ish_tokens"),
    )


@query(
    "doc_fingerprint",
    oracle="""
SELECT doc_id,
       md5(text) AS content_md5,
       n_chars,
       len(string_split(text, ' ')) AS n_words
FROM documents
""",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint (md5) + size metadata — the exact-dedup key
    you'd actually shuffle at 100 TB instead of full text bodies."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        "n_chars",
        F.size(F.split("text", " ")).alias("n_words"),
    )


# Deterministic per-language sampling rates (dataset mixing): the md5
# of the doc id is a uniform [0,1) coin that both engines compute
# identically, so sampling is reproducible, join-free, and
# oracle-checkable — unlike rand()/sampleBy whose RNG streams are
# engine-specific. First 4 hex chars ⇒ 16-bit resolution.
SAMPLE_RATES = {"en": 0.75, "de": 0.50, "es": 0.50, "fr": 0.25, "zh": 0.25}


def _sample_threshold(rate: float) -> str:
    return f"{int(rate * 0x10000):04x}"


@query(
    "sample_mix_by_lang",
    oracle=f"""
SELECT doc_id, lang, source
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      CASE lang {' '.join(f"WHEN '{lg}' THEN '{_sample_threshold(r)}'" for lg, r in SAMPLE_RATES.items())}
           ELSE '0000' END
""",
)
def sample_mix_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset mixing: stratified deterministic sampling with a
    per-language rate (upsample en, downsample zh/fr). Pure scan-side
    predicate — no shuffle, no RNG state, stable across retries and
    engines; exactly how training-mix recipes should be materialized at
    100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    coin = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    threshold = F.lit("0000")
    for lg, rate in SAMPLE_RATES.items():
        threshold = F.when(F.col("lang") == lg, F.lit(_sample_threshold(rate))).otherwise(
            threshold
        )
    return docs.filter(coin < threshold).select("doc_id", "lang", "source")


# ---------------------------------------------------------------------------
# Copy-weighted token collapse, shared by the LM and retrieval scorers
# (tfidf_top_terms, bm25_doc_search, bigram_pmi_top, importance_weight_dsir,
# doc_unigram_logprob, doc_bigram_logprob).
# ---------------------------------------------------------------------------


def copy_reps(docs: DataFrame, **extra_aggs: Column) -> tuple[DataFrame, DataFrame]:
    """Exact-copy collapse (the r7/r8 copy-flood discipline): identical
    lower-cased texts carry identical token multisets AND identical
    per-text scores, so the token work runs once per DISTINCT text.

    Returns ``(doc_map, reps)``. ``doc_map`` is ``(doc_id, th)`` with
    ``th = md5(lower(text))``; per-text results re-attach to every copy
    by joining it on ``th``. ``reps`` is ``(th, w, tk, *extra)``, one row
    per distinct ``lower(text)``: copy weight ``w = count``, tokens
    ``tk = split(lower(text), " ")``, plus each ``extra_aggs`` aggregate
    under its keyword. Corpus statistics weight each rep by its copies
    (sum of ``w`` per text containing a token is exactly
    ``countDistinct(doc_id)`` un-collapsed), so duplicates still shape
    the model: the collapse changes the execution, never the output.
    Measured: the 10× exact-copy probe of doc_bigram_logprob fell from
    61.7 s to distinct-text cost; DSIR on the 1000× copy flood from 33.5
    to 11.7 s, the residual being the per-copy doc_id join that a
    per-doc output needs anyway."""
    th = F.md5(F.lower("text")).alias("th")
    reps = docs.groupBy(th).agg(
        F.count(F.lit(1)).alias("w"),
        F.first(F.split(F.lower("text"), " ")).alias("tk"),
        *[agg.alias(name) for name, agg in extra_aggs.items()],
    )
    return docs.select("doc_id", th), reps


def rep_counts(rows: DataFrame, *keys: str) -> DataFrame:
    """``(th, *keys, <weights>)`` rows exploded from ``reps`` → one row per
    ``(th, *keys)`` with ``c`` = occurrences in that text and ``max`` of
    every other column (the per-text weights ``w``, ``wl``: constant per
    ``th``, so max only carries them through).

    Pinned (r8 broadcast-reexecution sweep): every caller reads the
    result twice, once through a corpus-level aggregate that rides
    as a broadcast and once in the per-text score join, and
    un-checkpointed the collapse + explode ran per reader
    (doc_unigram_logprob at 1000×: 186.2 → 13.4 s; doc_bigram_logprob
    ran its pair explode 3 times).

    r13 audit (measured and rejected): ``th`` is unique per rep, so this
    looks like a per-row map, a sorted run-length fold over ``tk``. But
    the aggregate's exchange is already elided (``reps`` is
    hash-partitioned by ``th``, which satisfies the ``(th, key)``
    clustering), so the fold removes no shuffle and only trades a
    code-generated hash aggregate for interpreted ``element_at`` lambdas:
    DSIR at sf0.1, subplan-isolated, 0.33/0.35/0.39 s aggregate vs
    0.41/0.59/0.64 s fold, 1.3–1.6× slower."""
    carried = [c for c in rows.columns if c not in ("th", *keys)]
    return (
        rows.groupBy("th", *keys)
        .agg(F.count(F.lit(1)).alias("c"), *[F.max(c).alias(c) for c in carried])
        .localCheckpoint(eager=False)
    )


def rep_bigrams(reps: DataFrame) -> DataFrame:
    """Adjacent token pairs of each rep, ``(th, w, w1, w2)``, one row per
    position; reps with fewer than 2 tokens yield none. slice +
    arrays_zip, NOT a transform() lambda: both are code-generated, while
    higher-order lambdas are interpreted per element (measured in
    ``bpe_pair_stats``)."""
    n = F.size("tk")
    zipped = F.arrays_zip(
        F.slice("tk", 1, n - 1),
        F.expr("slice(tk, 2, size(tk) - 1)"),
    )
    return (
        reps.where(n >= 2)
        .select("th", "w", F.explode(zipped).alias("p"))
        .select("th", "w", F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
    )


TFIDF_TOP_TERMS = 5


@query(
    "tfidf_top_terms",
    oracle=f"""
WITH tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents) t
  GROUP BY doc_id, token
),
df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token,
         tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS tfidf
  FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
)
SELECT doc_id, token, round(tfidf, 4) AS tfidf
FROM (
  SELECT doc_id, token, tfidf,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY round(tfidf, 9) DESC, token) AS rn
  FROM scored
) t
WHERE rn <= {TFIDF_TOP_TERMS}
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top terms per document — the classic keyword/quality
    signal for LLM-data curation. Three hash aggregates (tf, df, N) and
    one broadcast join of the document-frequency table; ranking cut at
    round(tfidf, 9) with token tiebreak so cross-engine log/multiply
    ulp differences cannot flip the top-k (same policy as cosine)."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    # Scored per distinct text (copy_reps); df counts every copy.
    doc_map, reps = copy_reps(docs)
    th_tf = rep_counts(reps.select("th", "w", F.explode("tk").alias("token")), "token")
    df_ = th_tf.groupBy("token").agg(F.sum("w").alias("df"))
    scored = th_tf.join(F.broadcast(df_), "token").select(
        "th",
        "token",
        (F.col("c") * F.log((n_docs + 1.0) / (F.col("df") + 1.0))).alias("tfidf"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("th").orderBy(
        F.round(F.col("tfidf"), 9).desc(), F.col("token").asc()
    )
    top = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= TFIDF_TOP_TERMS
    )
    return doc_map.join(top, "th").select(
        "doc_id", "token", F.round("tfidf", 4).alias("tfidf")
    )


WINNOW_K = 50  # number of fingerprint hashes kept per document


@query("doc_winnow_fingerprint")  # rows-only: engine-specific hash values
def doc_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing-style): hash every
    3-token shingle, keep the K smallest distinct hashes per document.
    Two documents sharing most fingerprints are near-duplicates. Hash
    values are engine-specific → rows-only check; semantics are unit-
    tested (identical docs ⇒ identical fingerprint sets).

    Plan (r12): the fingerprint is a pure per-ROW array expression over
    the per-doc shingle-hash array —
    `slice(array_sort(array_distinct(hs)), 1, K)` — so the old
    explode + two ObjectHashAggregate collect_set passes are gone
    entirely (their exchange was already elided by the fan-out
    repartition; what is saved is building a per-partition hash table
    of every doc's shingle-hash set — ~distinct-token volume — twice).
    The only remaining plan nodes are scan → filter → fan-out exchange
    → project; nothing else at any scale. `array_distinct` ==
    collect_set of the exploded hashes, `array_sort` ascending == the
    old sort — outputs row-identical at both SFs (A/B-verified; docs
    with <3 tokens are filtered the way the old explode dropped them).
    Measured min 0.225 → 0.195 s at sf0.1.

    Output contract: ``fingerprints`` is one STRING, the kept hashes in
    ascending order joined by single spaces (it was ``array<bigint>``
    until the driver's canonicalization — ``toPandas()`` then
    ``sort_values`` over every column — crashed on the array column).
    ``n_fp`` counts them.
    """
    from ..functions.neardup import _shingle_hash_array

    docs = load_table(spark, sf_dir, "documents")
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    # Token-count pre-filter instead of `where(size(hs) > 0)`: a filter
    # on the HOF-computed array gets pushed below the fan-out exchange
    # and re-evaluates the whole interpreted transform on the (single
    # local) scan partition — measured 4.4 s vs 0.24 s for the same
    # rows. size(split(...)) >= 3 is codegen, equivalent (hs is empty
    # iff the doc has <3 tokens), and pushes down harmlessly.
    docs_ok = docs.where(F.size(F.split(F.lower("text"), " ")) >= 3)
    fp = F.slice(F.array_sort(F.array_distinct("hs")), 1, WINNOW_K)
    return (
        _shingle_hash_array(docs_ok.repartition(n_part, "doc_id"))
        .select("doc_id", fp.alias("fp"))
        .select(
            "doc_id",
            F.array_join(F.col("fp").cast("array<string>"), " ").alias("fingerprints"),
            F.size("fp").alias("n_fp"),
        )
    )


# Portable (Java regex ∩ RE2) patterns — identical semantics in Spark
# and the DuckDB oracle.
EMAIL_REGEX = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
LONG_DIGIT_REGEX = "[0-9]{6,}"


@query(
    "pii_scrub",
    oracle=f"""
SELECT doc_id,
       md5(regexp_replace(regexp_replace(
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com id 1234567',
             '{EMAIL_REGEX}', '<EMAIL>', 'g'), '{LONG_DIGIT_REGEX}', '<NUM>', 'g')) AS scrub_sig,
       len(regexp_extract_all(
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com id 1234567',
             '{EMAIL_REGEX}')) AS n_emails
FROM documents
""",
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass an LLM data pipeline runs
    before training: replace email addresses and long digit runs with
    placeholder tokens. The fixture corpus carries no PII, so a
    deterministic synthetic tail (per-doc email + id number) is appended
    in BOTH engines before scrubbing — the oracle then proves the
    redaction itself byte-identical (md5 of scrubbed text).

    Pure codegen expressions (regexp_replace / regexp_extract_all) on
    the scan — zero shuffle, zero Python; the regexes are written in the
    Java-regex ∩ RE2 portable subset."""
    docs = load_table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com id 1234567"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(dirty, EMAIL_REGEX, "<EMAIL>"), LONG_DIGIT_REGEX, "<NUM>"
    )
    return docs.select(
        "doc_id",
        F.md5(scrubbed).alias("scrub_sig"),
        F.size(F.regexp_extract_all(dirty, F.lit(EMAIL_REGEX), 0)).alias("n_emails"),
    )


GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 100000
GOPHER_MIN_MEAN_WORD_LEN = 2.0
GOPHER_MAX_MEAN_WORD_LEN = 12.0
GOPHER_MAX_SYMBOL_RATIO = 0.1


@query(
    "gopher_quality_rules",
    oracle=f"""
SELECT doc_id, n_words,
       floor(mean_word_len * 10000 + 0.5) / 10000 AS mean_word_len,
       floor(symbol_ratio * 10000 + 0.5) / 10000 AS symbol_ratio,
       (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
        AND mean_word_len BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN}
        AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}) AS passes
FROM (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_words,
         CAST(list_sum(list_transform(string_split(text, ' '), w -> len(w))) AS DOUBLE)
           / len(string_split(text, ' ')) AS mean_word_len,
         CAST(len(regexp_extract_all(text, '[#@*<>{{}}]')) AS DOUBLE)
           / greatest(len(text), 1) AS symbol_ratio
  FROM documents
) t
""",
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule filter (Rae et al. 2021, public) — the
    rule-based document filter stage of an LLM pipeline: word-count
    bounds, mean-word-length bounds, symbol-character ratio. Emits the
    measured features plus the pass verdict so downstream sampling can
    stratify on WHY a document failed. All codegen expressions riding
    the scan; the aggregate-free plan shuffles nothing."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    # Materialized words column before the HOF (interpreted-lambda rule).
    base = docs.select(
        "doc_id",
        "text",
        n_words.alias("n_words"),
        F.aggregate(
            F.transform(words, lambda w: F.length(w).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("char_sum"),
    )
    mean_word_len = F.col("char_sum") / F.col("n_words")
    symbol_ratio = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[#@*<>{}]"), 0)).cast("double")
        / F.greatest(F.length("text"), F.lit(1))
    )
    passes = (
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mean_word_len.between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
        & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
    )
    return base.select(
        "doc_id",
        "n_words",
        round4f(mean_word_len).alias("mean_word_len"),
        round4f(symbol_ratio).alias("symbol_ratio"),
        passes.alias("passes"),
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval over the documents table.
# ---------------------------------------------------------------------------

BM25_TERMS = ["spark", "hash", "join"]
BM25_K1 = 1.2
BM25_B = 0.75


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok
  WHERE token IN ({terms}) GROUP BY doc_id, token
),
df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token)
SELECT tf.doc_id,
       CAST(sum(CAST(
         ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         * tf.tf * ({BM25_K1} + 1.0)
         / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / s.avgdl))
       AS DECIMAL(18,6))) AS DOUBLE) AS bm25
FROM tf
JOIN dl USING (doc_id)
JOIN df USING (token)
CROSS JOIN stats s
GROUP BY tf.doc_id
"""


@query("bm25_doc_search", oracle=_bm25_oracle())
def bm25_doc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson & Zaragoza 2009) for a fixed
    query-term set — the classic lexical-search scorer a corpus engine
    pairs with the vector family for hybrid retrieval.

    Scale shape (r12 rework, guide §2.3/§2.4): the query vocabulary is
    FIXED and tiny, so per-(doc, term) tf needs no token explode and no
    (th, token) exchange at all — each term's count is a
    `size(filter(tk, x -> x = term))` array expression on the collapsed
    doc row. Corpus stats AND per-term document frequencies fold into
    ONE scalar aggregate (broadcast back via crossJoin), leaving a
    single corpus exchange (the copy collapse) plus the per-doc attach
    join. The old shape paid the explode, a (th, token) exchange, a
    per-th groupBy exchange and two stats joins for the same values.
    No Python anywhere.
    """
    # NULL text would reach size(tk) as size(NULL) = -1 (legacy
    # default) and silently shift n/avgdl; the oracle's explode drops
    # such rows, so drop them before the collapse.
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # Scored per distinct text (copy_reps). Corpus stats weight by copy
    # count: n = Σw; avgdl = Σw·dl / Σw divides the same two exact longs
    # as avg(dl) un-collapsed; df = Σw per text containing the term.
    # base is pinned: the scalar-stats and score branches would each
    # re-run the collapse otherwise.
    doc_map, reps = copy_reps(docs)

    def tf_col(term: str) -> F.Column:
        # NOTE: the lambda must take exactly ONE parameter — pyspark
        # dispatches a two-parameter lambda to the (element, index)
        # filter form, silently binding the second arg to the index.
        return F.size(F.filter("tk", lambda x: x == F.lit(term)))

    base = reps.select(
        "th",
        "w",
        F.size("tk").alias("dl"),
        *[tf_col(t).alias(f"tf{i}") for i, t in enumerate(BM25_TERMS)],
    ).localCheckpoint(eager=False)
    stats = base.agg(
        F.sum("w").alias("n"),
        (F.sum(F.col("w") * F.col("dl")) / F.sum("w")).alias("avgdl"),
        *[
            F.sum(
                F.when(F.col(f"tf{i}") > 0, F.col("w")).otherwise(F.lit(0))
            ).alias(f"df{i}")
            for i in range(len(BM25_TERMS))
        ],
    )

    def term_score(i: int) -> F.Column:
        # Identical arithmetic to the old per-(th, token) row form —
        # idf/denom expressions copied verbatim with the term's own
        # tf/df columns; a term absent from the doc contributes an
        # exact DECIMAL zero, so the decimal sum over the fixed term
        # set equals the old sum over present-term rows only.
        idf = F.log(
            (F.col("n") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5) + 1.0
        )
        denom = F.col(f"tf{i}") + BM25_K1 * (
            1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
        )
        # Per-term scores snap to DECIMAL(18,6) before the per-doc
        # sum (ln is 1-ulp engine-divergent and sum order is not):
        # same hardening as DSIR / the unigram scorer.
        return F.when(
            F.col(f"tf{i}") > 0,
            (idf * F.col(f"tf{i}") * (BM25_K1 + 1.0) / denom).cast("decimal(18,6)"),
        ).otherwise(F.lit(0).cast("decimal(18,6)"))

    total = term_score(0)
    for i in range(1, len(BM25_TERMS)):
        total = total + term_score(i)
    per_th = (
        base.crossJoin(F.broadcast(stats))
        .where(sum(F.col(f"tf{i}") for i in range(len(BM25_TERMS))) > 0)
        .select("th", total.cast("double").alias("bm25"))
    )
    return doc_map.join(per_th, "th").select("doc_id", "bm25")


@query(
    "doc_repetition_metrics",
    oracle="""
WITH g AS (
  SELECT doc_id, t[i + 1] || ' ' || t[i + 2] AS gram
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents) s
  CROSS JOIN unnest(range(len(t) - 1)) AS u(i)
),
c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
SELECT doc_id,
       floor(CAST(max(c) AS DOUBLE) / sum(c) * 10000 + 0.5) / 10000 AS top2_frac,
       floor(CAST(coalesce(sum(c) FILTER (WHERE c > 1), 0) AS DOUBLE) / sum(c) * 10000 + 0.5) / 10000 AS dup2_frac
FROM c GROUP BY doc_id
""",
)
def doc_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition features (the Gopher repetition-rule
    family, Rae et al. 2021 §A1.1): fraction of 2-gram occurrences taken
    by the single most frequent 2-gram, and fraction covered by any
    repeated 2-gram. High values flag boilerplate/spam for the quality
    filter (`gopher_quality_rules` handles the length/symbol rules).

    Scale shape (r12 rework, guide §2.3/§2.4): per-doc metrics need NO
    cross-doc state, so the whole computation is one narrow JVM map —
    sort each doc's bigram-HASH array and fold run lengths (max run =
    the top bigram's count, Σ runs>1 = the duplicated-occurrence mass).
    The previous explode + groupBy(doc_id, gram_h) + groupBy(doc_id)
    shape shuffled ~one row per TOKEN of the corpus (bigrams are
    mostly distinct within a doc, so map-side combine barely reduced
    it) and paid two exchanges; this form shuffles NOTHING at any
    scale. Same values: grouping by the sorted hash array's equal runs
    == grouping by gram hash (identical xxhash64(concat(...)) grammar),
    and the final ratios reuse the same round4f arithmetic the oracle
    mirrors. Docs with <2 tokens have no bigrams and drop out in both
    engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Fan out before the (CPU-heavy) per-row fold — the `_shingles`
    # pattern, restored in r13: the r12 zero-exchange form ran the
    # whole query as ONE task on the single-row-group fixture files
    # (ranged splits cannot divide one parquet row group, measured: 54
    # forced splits, 53 empty, time unchanged), serializing ~3 s of
    # interpreted aggregate() lambdas at 10×. One narrow (doc_id, text)
    # shuffle buys full-core parallelism: A/B min-of-4 interleaved,
    # sf0.1 0.40 → 0.31 s, 10× 2.8 → 0.9 s. At real scale the scan has
    # natural row-group parallelism and this is a cheap narrow shuffle
    # (same trade `_shingles` documents).
    n_part = spark.sparkContext.defaultParallelism
    # Materialize the token array BEFORE the lambda: an expression
    # inside a higher-order function re-evaluates per element, so
    # split() referenced in the transform body is O(tokens²) per doc
    # (measured 7× slower at 10× before this). sequence(0, stop)
    # DESCENDS for stop < 0: single-token docs must yield no bigrams,
    # not phantom ones — hence the size(t) >= 2 row filter.
    toks = (
        docs.repartition(n_part, "doc_id")
        .select("doc_id", F.split(F.lower("text"), " ").alias("t"))
        .where(F.expr("size(t) >= 2"))
    )
    bh = toks.select(
        "doc_id",
        F.expr(
            "array_sort(transform(sequence(0, size(t) - 2),"
            " i -> xxhash64(concat(t[i], ' ', t[i + 1]))))"
        ).alias("s"),
    )
    # Run-length fold over the sorted hashes: state = (prev hash, run
    # length, max run, Σ of runs > 1); each run finalizes when the next
    # value differs, the finish lambda closes the last run. All longs,
    # all codegen — max(c), Σ(c>1 c) and Σc == size(s) of the old
    # grouped form, per doc, with zero exchanges.
    folded = bh.select(
        "doc_id",
        F.size("s").alias("n"),
        F.expr(
            """
            aggregate(
              s,
              struct(CAST(NULL AS BIGINT) AS prev, 0L AS run,
                     0L AS maxrun, 0L AS dup),
              (acc, x) -> IF(acc.prev IS NOT NULL AND x = acc.prev,
                             struct(x AS prev, acc.run + 1 AS run,
                                    acc.maxrun AS maxrun, acc.dup AS dup),
                             struct(x AS prev, 1L AS run,
                                    greatest(acc.maxrun, acc.run) AS maxrun,
                                    acc.dup + IF(acc.run > 1, acc.run, 0L) AS dup)),
              acc -> struct(greatest(acc.maxrun, acc.run) AS maxrun,
                            acc.dup + IF(acc.run > 1, acc.run, 0L) AS dup))
            """
        ).alias("r"),
    )
    return folded.select(
        "doc_id",
        round4f(F.col("r.maxrun").cast("double") / F.col("n")).alias("top2_frac"),
        round4f(F.col("r.dup").cast("double") / F.col("n")).alias("dup2_frac"),
    )


# ---------------------------------------------------------------------------
# Character-distribution entropy — gibberish / low-diversity detector.
# ---------------------------------------------------------------------------


@query(
    "doc_char_entropy",
    oracle="""
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
),
cc AS (
  SELECT doc_id, c, count(*) AS cnt FROM ch WHERE c <> '' GROUP BY doc_id, c
),
t AS (
  SELECT doc_id, cnt, sum(cnt) OVER (PARTITION BY doc_id) AS n FROM cc
),
terms AS (
  SELECT doc_id, n,
         CAST((CAST(cnt AS DOUBLE) / n) * log2(CAST(cnt AS DOUBLE) / n)
              AS DECIMAL(18,6)) AS term
  FROM t
)
SELECT doc_id,
       CAST(max(n) AS BIGINT) AS n_chars_counted,
       count(*) AS n_distinct_chars,
       CAST(round(-sum(term), 4) AS DOUBLE) AS entropy_bits
FROM terms GROUP BY doc_id
""",
)
def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the character distribution (bits
    per char) — the classic cheap gibberish/boilerplate signal: natural
    prose sits ~4-4.5 bits, single-char spam near 0, random base64
    near 6. Emitted with the char counts so a filter stage can threshold
    on both (e.g. entropy < 2.0 AND n_chars > 100 => machine junk).

    Cross-engine exactness: each p*log2(p) term is snapped to
    DECIMAL(18,6) BEFORE summing (JVM/DuckDB log2 can differ by 1 ulp,
    and float summation order is engine-specific — same hardening as
    doc_unigram_logprob); the decimal sum is exact and associative, and
    round() is applied to the DECIMAL, not the double.

    100 TB shape: the char explode is collapsed by a map-side partial
    aggregate before anything shuffles, so the (doc_id, char) shuffle
    carries ~distinct-chars-per-doc rows (~30-100/doc), not one row per
    character; the per-doc total rides a window over the second
    (doc_id-partitioned) exchange — 2 shuffles of counter rows, bodies
    never shuffle. (r12 note: the doc_repetition_metrics sorted-array
    run-length fold was A/B'd here and REJECTED — per-CHAR interpreted
    HOF lambdas with a decimal struct state measured ~2× slower than
    this codegen explode + partial-agg shape at sf0.1, outputs
    identical. The fold wins only when it replaces a token-volume
    exchange; here the exchange was already distinct-chars-bounded.)
    """
    docs = load_table(spark, sf_dir, "documents")
    cc = (
        docs.select("doc_id", F.explode(F.split("text", "")).alias("c"))
        .filter(F.col("c") != "")
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    t = cc.withColumn("n", F.sum("cnt").over(Window.partitionBy("doc_id")))
    p = F.col("cnt").cast("double") / F.col("n")
    return (
        t.select("doc_id", "n", (p * F.log2(p)).cast("decimal(18,6)").alias("term"))
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_chars_counted"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
            F.round(-F.sum("term"), 4).cast("double").alias("entropy_bits"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge-pair statistics (tokenizer-training signal).
# ---------------------------------------------------------------------------

BPE_PAIR_TOPK = 50


@query(
    "bpe_pair_stats",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tokens FROM documents
),
pairs AS (
  SELECT unnest(list_transform(range(1, greatest(len(tokens), 1)),
                               i -> tokens[i] || ' ' || tokens[i+1])) AS pair
  FROM toks
  WHERE len(tokens) >= 2
)
SELECT pair, CAST(count(*) AS BIGINT) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair
LIMIT {BPE_PAIR_TOPK}
""",
)
def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top adjacent-token-pair frequencies — the statistic a BPE/
    WordPiece trainer computes every merge round (most frequent pair →
    next merge rule). Deterministic tie-break: (count DESC, pair ASC).

    Plan shape: tokens materialized as a real column BEFORE the pair
    lambda (interpreted-HOF lesson, SCALING.md), pairs built in-place
    with codegen slice+zip — NO self-join, NO per-doc window, NO
    interpreted lambda; one
    explode, one map-side-combined count, TakeOrderedAndProject for the
    top-K. At tokenizer-training scale this is the textbook
    word-count-shaped job: linear scan, pair-vocabulary-bounded state.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.lower("text"), " ").alias("tokens")).where(
        F.size("tokens") >= 2
    )
    # Pairs via slice+arrays_zip, NOT a transform() lambda: slice/zip/
    # concat_ws are all codegen'd while higher-order lambdas are
    # interpreted per element — measured 22.4s vs 6.4s at 100x (500K
    # docs, 27M pairs) for the identical output.
    n = F.size("tokens")
    zipped = F.arrays_zip(
        F.slice("tokens", 1, n - 1),
        F.expr("slice(tokens, 2, size(tokens) - 1)"),
    )
    return (
        toks.select(F.explode(zipped).alias("p"))
        .select(F.concat_ws(" ", F.col("p.0"), F.col("p.1")).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(BPE_PAIR_TOPK)
    )


BPE_TRAIN_MERGES = 8


def _apply_bpe_merge(left: str, right: str):
    """mapInPandas kernel: greedy left-to-right non-overlapping merge of
    the adjacent pair (left, right) into one token per BPE semantics
    ('a a a' under merge(a,a) -> 'aa a', not 'a aa'). The Python loop
    runs over MATCH POSITIONS only (np.flatnonzero finds them
    vectorized); docs without the pair pass through via a vectorized
    mask. Sequential dependence is intrinsic to greedy BPE — this is
    the one place a fold is the algorithm, so it lives in an
    Arrow-batched kernel, not an interpreted JVM HOF."""
    import numpy as np
    import pandas as pd

    merged = f"{left}{right}"

    def fn(batches):
        for pdf in batches:
            out_tokens = []
            for toks in pdf["tokens"]:
                arr = np.asarray(toks, dtype=object)
                if len(arr) < 2:
                    out_tokens.append(toks)
                    continue
                hits = np.flatnonzero(
                    (arr[:-1] == left) & (arr[1:] == right)
                )
                if len(hits) == 0:
                    out_tokens.append(toks)
                    continue
                chosen = []
                last = -2
                for p in hits:  # loop over matches, not tokens
                    if p > last + 1:
                        chosen.append(p)
                        last = p
                arr[chosen] = merged
                out_tokens.append(np.delete(arr, [c + 1 for c in chosen]).tolist())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "tokens": out_tokens})

    return fn


def bpe_train_merges(
    docs: DataFrame, n_merges: int = BPE_TRAIN_MERGES
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merge rules over the corpus: each round
    counts adjacent pairs (the bpe_pair_stats shape: codegen slice+zip,
    map-side-combined count), takes the single most frequent pair
    (count DESC, pair ASC tie-break — one TakeOrdered row to the
    driver, bounded by definition), applies the merge corpus-wide with
    the greedy kernel, and repeats on the merged tokens.

    Returns [(rank, left, right, count)]. Iterative-algorithm
    plumbing: the token table is persisted between rounds (each round
    re-reads the PREVIOUS round's tokens, not the raw corpus re-split
    n times) and localCheckpoint()ed every round to truncate the plan
    lineage — without it round k's plan nests k kernels deep.

    100 TB note: production tokenizer training samples the corpus
    (hundreds of MB of text suffice for a stable vocabulary); the loop
    here IS that job with the sample as input. Per round: one
    vocabulary-bounded aggregate + one narrow map — no shuffle of
    document bodies at any point.
    """
    spark = docs.sparkSession
    # Fan out before the loop: a one-file corpus reads as ONE partition
    # and the checkpoint pins that width for every round's kernel — the
    # whole 8-round loop would run on a single core (measured 28.9 s →
    # 18.8 s at the 10× probe; remaining cost is the per-round fixed
    # job overhead, amortized at real corpus sizes). Narrow-ish shuffle of (id, tokens) once.
    n_part = spark.sparkContext.defaultParallelism
    toks = (
        docs.repartition(n_part, "doc_id")
        .select("doc_id", F.split(F.lower("text"), " ").alias("tokens"))
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        n = F.size("tokens")
        zipped = F.arrays_zip(
            F.slice("tokens", 1, n - 1),
            F.expr("slice(tokens, 2, size(tokens) - 1)"),
        )
        top = (
            toks.where(n >= 2)
            .select(F.explode(zipped).alias("p"))
            .select(F.col("p.0").alias("l"), F.col("p.1").alias("r"))
            .groupBy("l", "r")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top or top[0].n < 2:
            break  # no pair worth merging — vocabulary converged
        left, right, cnt = top[0].l, top[0].r, top[0].n
        merges.append((rank, left, right, cnt))
        toks = toks.mapInPandas(
            _apply_bpe_merge(left, right), "doc_id LONG, tokens ARRAY<STRING>"
        ).localCheckpoint()
    return merges


@query("bpe_learn_merges")  # rows-only: iterative greedy training is not
                            # single-statement-SQL-expressible (driver loop)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full BPE training loop over the documents corpus: the first
    BPE_TRAIN_MERGES learned merge rules with their counts. Semantics
    pinned against a pure-Python reference trainer (greedy, same
    tie-break) in tests/test_text.py + a Hypothesis random-corpus
    property; bpe_pair_stats (oracle-backed) certifies round 1's
    statistic independently."""
    merges = bpe_train_merges(load_table(spark, sf_dir, "documents"))
    return spark.createDataFrame(
        merges, "merge_rank INT, left STRING, right STRING, n LONG"
    )


def bpe_encode(docs: DataFrame, merges: list[tuple[int, str, str, int]]) -> DataFrame:
    """Apply a learned merge table to the corpus — the ENCODE half of
    the tokenizer (train = bpe_train_merges). Merges apply in rank
    order, each greedy left-to-right, exactly as they were learned;
    per-doc independence means ALL ranks run in ONE Arrow-batched
    kernel pass (no per-round jobs at encode time, unlike training
    where round k's statistic depends on round k-1's corpus).

    Returns (doc_id, tokens, n_tokens). 100 TB: narrow map over the
    scan — encode is embarrassingly parallel; the merge table (a few
    thousand rules in practice) ships in the closure like any
    broadcast dictionary."""
    import numpy as np
    import pandas as pd

    rules = [(l, r, f"{l}{r}") for _rank, l, r, _n in merges]

    def fn(batches):
        for pdf in batches:
            out_tokens = []
            for toks in pdf["tokens"]:
                arr = list(toks)
                for left, right, merged in rules:
                    if len(arr) < 2:
                        break
                    a = np.asarray(arr, dtype=object)
                    hits = np.flatnonzero((a[:-1] == left) & (a[1:] == right))
                    if len(hits) == 0:
                        continue
                    chosen, last = [], -2
                    for p in hits:
                        if p > last + 1:
                            chosen.append(p)
                            last = p
                    a[chosen] = merged
                    arr = np.delete(a, [c + 1 for c in chosen]).tolist()
                out_tokens.append(arr)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "tokens": out_tokens,
                    "n_tokens": [len(t) for t in out_tokens],
                }
            )

    n_part = docs.sparkSession.sparkContext.defaultParallelism
    toks = docs.repartition(n_part, "doc_id").select(
        "doc_id", F.split(F.lower("text"), " ").alias("tokens")
    )
    return toks.mapInPandas(fn, "doc_id LONG, tokens ARRAY<STRING>, n_tokens INT")


@query("bpe_encode_compression")  # rows-only: depends on the learned
                                  # merge table (iterative training)
def bpe_encode_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train BPE_TRAIN_MERGES merges, encode the corpus with them, and
    report the corpus-level compression the vocabulary bought — the
    metric a tokenizer-training pipeline tracks per merge budget.
    Deterministic given the corpus (training tie-breaks are total)."""
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train_merges(docs)
    enc = bpe_encode(docs, merges)
    before = F.size(F.split(F.lower("text"), " "))
    orig = docs.select(F.sum(before).alias("tokens_before"))
    return (
        enc.agg(F.sum("n_tokens").alias("tokens_after"))
        .crossJoin(F.broadcast(orig))
        .select(
            F.col("tokens_before").cast("long").alias("tokens_before"),
            F.col("tokens_after").cast("long").alias("tokens_after"),
            F.lit(len(merges)).cast("int").alias("n_merges"),
        )
    )


# ---------------------------------------------------------------------------
# TextRank keyword extraction (distributed power iteration).
# ---------------------------------------------------------------------------

TEXTRANK_DAMPING = 0.85
TEXTRANK_ITERS = 12
TEXTRANK_TOPK = 50


def pagerank_edges(edges: DataFrame, damping: float = TEXTRANK_DAMPING,
                   iters: int = TEXTRANK_ITERS) -> DataFrame:
    """Distributed PageRank over a weighted directed edge list
    (src, dst, w): the classic power iteration, each round ONE
    hash-join of the rank vector onto the out-normalized edges plus
    ONE map-side-combined aggregate — the 100 TB graph shape (no
    adjacency matrix, no driver-side state beyond the node count).
    Lineage is truncated with localCheckpoint every round (the
    iterative-loop lesson from dedup_clusters_cc / bpe_learn_merges).

    The node set is src ∪ dst (ADVICE r5): on a genuinely directed
    edge list a pure-sink node (appears only as dst) still holds rank
    and receives inflow — building nodes from src alone silently
    dropped it and discarded its mass. Dangling mass: a sink has no
    out-edges, so its rank leaks each round (the standard
    simplification; on the symmetric co-occurrence graphs TextRank
    builds, every node has out-edges and nothing leaks). Returns
    (node, rank).
    """
    out_w = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    norm = (
        edges.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("ow")).alias("p"))
        .localCheckpoint()
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()  # bounded scalar: the only driver-side state
    base = (1.0 - damping) / n_nodes
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for _ in range(iters):
        contribs = (
            norm.join(ranks, norm.src == ranks.node)
            .select(F.col("dst").alias("node"), (F.col("rank") * F.col("p")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (F.lit(base) + damping * F.coalesce("inflow", F.lit(0.0))).alias(
                    "rank"
                ),
            )
            .localCheckpoint()
        )
    return ranks


@query("textrank_keywords")  # rows-only: iterative float fixpoint
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the corpus's token co-occurrence graph — nodes are tokens,
    undirected edges weighted by adjacent-bigram frequency (the same
    statistic bpe_pair_stats / doc_bigram_logprob compute), top-K
    tokens by stationary rank are the corpus keywords. The classic
    graph-centrality quality signal next to the frequency (tf-idf) and
    LM (bigram NLL) families.

    Scale shape: the graph is vocabulary-bounded (nodes = distinct
    tokens, edges = distinct bigrams — Heaps-law sublinear in corpus
    size); each power-iteration round is one edge-sized join + one
    aggregate. Pinned in tests/test_text.py against a pure-Python
    power iteration on the identical graph (1e-9 tolerance: only
    float summation order differs) and a hand-solvable chain graph."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.lower("text"), " ").alias("tk")).where(
        F.size("tk") >= 2
    )
    n = F.size("tk")
    zipped = F.arrays_zip(
        F.slice("tk", 1, n - 1),
        F.expr("slice(tk, 2, size(tk) - 1)"),
    )
    bg = (
        toks.select(F.explode(zipped).alias("p"))
        .select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # undirected: each bigram contributes both directions
    edges = (
        bg.select(F.col("w1").alias("src"), F.col("w2").alias("dst"), "w")
        .unionByName(
            bg.select(F.col("w2").alias("src"), F.col("w1").alias("dst"), "w")
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    ranks = pagerank_edges(edges)
    return (
        ranks.orderBy(F.desc("rank"), "node")
        .limit(TEXTRANK_TOPK)
        .select(F.col("node").alias("token"), F.round("rank", 8).alias("rank"))
    )


PMI_MIN_COUNT = 10  # support floor: pairs below it are noise, pruned early
PMI_TOP_K = 50


@query(
    "bigram_pmi_top",
    oracle=f"""
WITH toks AS (SELECT string_split(lower(text), ' ') AS tk FROM documents),
bg AS (
  SELECT unnest(list_transform(range(1, len(tk)),
                i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS b
  FROM toks WHERE len(tk) >= 2
),
cbg AS (SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS c FROM bg GROUP BY 1, 2),
uni AS (
  SELECT t, count(*) AS cu
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents)
  GROUP BY 1
),
tb AS (SELECT sum(c) AS nb FROM cbg),
tu AS (SELECT sum(cu) AS nu FROM uni)
SELECT g.w1, g.w2, CAST(g.c AS BIGINT) AS n_pair,
       CAST(CAST(ln( (CAST(g.c AS DOUBLE) / b.nb)
             / ((CAST(u1.cu AS DOUBLE) / t.nu)
                * (CAST(u2.cu AS DOUBLE) / t.nu)) )
           AS DECIMAL(18,6)) AS DOUBLE) AS pmi
FROM cbg g
JOIN uni u1 ON g.w1 = u1.t
JOIN uni u2 ON g.w2 = u2.t
CROSS JOIN tb b CROSS JOIN tu t
WHERE g.c >= {PMI_MIN_COUNT}
ORDER BY pmi DESC, g.w1, g.w2
LIMIT {PMI_TOP_K}
""",
)
def bigram_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top adjacent token pairs by pointwise mutual
    information, PMI = ln(p(w1,w2) / (p(w1)·p(w2))), with a support
    floor — the statistic behind multi-word-expression vocab entries
    (Mikolov et al. 2013 §4 use exactly this score to merge phrases
    before word2vec training).

    Determinism: the probability ratio is built in the SAME IEEE op
    order on both engines (each count cast to double, divide, multiply,
    divide), the ln() snaps to DECIMAL(18,6) before ordering (the
    doc_unigram_logprob discipline — a last-ulp libm divergence cannot
    flip a 6-dp value off a tie), and rank ties break on (w1, w2).

    Scale shape: exact-copy collapse first (``copy_reps``: explode the
    DISTINCT-text table, weight counts by copy count); bigram and
    unigram counts are map-side-combined and vocabulary-bounded; the
    support floor prunes BEFORE the vocab joins; totals are 1-row
    broadcasts; the top-k plans TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    _, reps = copy_reps(docs)
    cbg = rep_bigrams(reps).groupBy("w1", "w2").agg(F.sum("w").alias("c"))
    uni = (
        reps.select(F.explode("tk").alias("t"), "w")
        .groupBy("t")
        .agg(F.sum("w").alias("cu"))
    )
    nb = cbg.agg(F.sum("c").alias("nb"))
    nu = uni.agg(F.sum("cu").alias("nu"))
    u1 = uni.select(F.col("t").alias("w1"), F.col("cu").alias("cu1"))
    u2 = uni.select(F.col("t").alias("w2"), F.col("cu").alias("cu2"))
    ratio = (F.col("c").cast("double") / F.col("nb")) / (
        (F.col("cu1").cast("double") / F.col("nu"))
        * (F.col("cu2").cast("double") / F.col("nu"))
    )
    return (
        cbg.where(F.col("c") >= PMI_MIN_COUNT)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nu))
        .select(
            "w1",
            "w2",
            F.col("c").cast("long").alias("n_pair"),
            F.log(ratio).cast("decimal(18,6)").cast("double").alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(PMI_TOP_K)
    )


@query(
    "doc_length_token_corr",
    oracle="""
WITH xy AS (
  SELECT lang, n_chars AS x,
         len(string_split(lower(text), ' ')) AS y
  FROM documents
),
s AS (
  SELECT lang, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
  FROM xy GROUP BY 1
)
SELECT lang, CAST(n AS BIGINT) AS n_docs,
       CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                 * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
            THEN floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                       * 10000 + 0.5) / 10000
            ELSE 0.0 END AS chars_tokens_corr
FROM s ORDER BY lang
""",
)
def doc_length_token_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Pearson correlation between character length and
    token count — the sanity check behind "chars ÷ 4 ≈ tokens" budget
    heuristics (a language whose correlation drops is tokenizing
    badly). Computed from the six sufficient statistics (n, Σx, Σy,
    Σx², Σy², Σxy), NOT a built-in corr() — float corr aggregates are
    summation-order-dependent across engines, while integer sums are
    exact, so both engines divide identical doubles.

    Scale shape: exact-copy collapse first (identical texts have
    identical (chars, tokens) pairs — the r7 copy-flood discipline:
    tokenize the DISTINCT-(lang, text) table once, weight every
    sufficient statistic by the copy count; the r8 1000× probe
    measured 111 s naive vs the distinct-text cost collapsed), then
    ONE language-keyed hash aggregate of the six weighted integer
    sums (map-side combined); the correlation arithmetic runs on the
    5-row rollup. The x·y products stay far inside int64 at any
    realistic doc length; the final quotient is floor-form rounded
    with a zero-variance guard."""
    # NULL text → size(split(NULL)) = -1 under the legacy default
    # would poison the y sums; drop such rows like the SQL oracle does.
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    # n_chars joins the collapse KEY (not first()-projected): it is
    # derived from text on real data, but the collapse must not ASSUME
    # the functional dependency — a row with an anomalous n_chars
    # keeps its own group and its own sufficient-statistic weight.
    reps = docs.groupBy(
        "lang", F.md5(F.lower("text")).alias("th"), F.col("n_chars").alias("x")
    ).agg(
        F.count(F.lit(1)).alias("w"),
        F.first("text").alias("text"),
    )
    xy = reps.select(
        "lang",
        "w",
        "x",
        F.size(F.split(F.lower("text"), " ")).cast("long").alias("y"),
    )
    s = xy.groupBy("lang").agg(
        F.sum("w").alias("n"),
        F.sum(F.col("w") * F.col("x")).alias("sx"),
        F.sum(F.col("w") * F.col("y")).alias("sy"),
        F.sum(F.col("w") * F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("w") * F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("w") * F.col("x") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    varx = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    vary = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    return s.select(
        "lang",
        F.col("n").cast("long").alias("n_docs"),
        F.when(varx * vary > 0, round4f(num / F.sqrt(varx * vary)))
        .otherwise(F.lit(0.0))
        .alias("chars_tokens_corr"),
    ).orderBy("lang")


@query(
    "tokens_mad_by_lang",
    oracle="""
WITH tok AS (SELECT lang, len(string_split(lower(text), ' ')) AS v FROM documents),
r1 AS (
  SELECT lang, v, row_number() OVER (PARTITION BY lang ORDER BY v) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM tok
),
med AS (
  SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
         CAST(max(CASE WHEN rn = (n + 1) // 2 THEN v END) AS BIGINT)
           AS median_tokens
  FROM r1 GROUP BY lang
),
d AS (
  SELECT t.lang, abs(t.v - m.median_tokens) AS av
  FROM tok t JOIN med m ON t.lang = m.lang
),
r2 AS (
  SELECT lang, av, row_number() OVER (PARTITION BY lang ORDER BY av) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM d
)
SELECT m.lang, m.n_docs, m.median_tokens,
       CAST(max(CASE WHEN r2.rn = (r2.n + 1) // 2 THEN r2.av END) AS BIGINT)
         AS mad_tokens
FROM r2 JOIN med m ON r2.lang = m.lang
GROUP BY 1, 2, 3 ORDER BY 1
""",
)
def tokens_mad_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation of tokens-per-doc per language — the
    robust spread statistic next to tokens_per_doc_percentiles' point
    quantiles (MAD survives the Zipf tail that wrecks a stddev). Both
    medians are the discrete lower median ((n+1) DIV 2), so nothing
    interpolates across engines.

    100 TB shape: documents are scanned ONCE — the per-doc token count
    is computed MAP-SIDE (size(split), no explode, no text ever enters
    a shuffle: an earlier md5-collapse draft moved whole distinct texts
    through first(text) and the r8 1000× probe read 115 s vs 13.5 s for
    this form) and VALUE-COLLAPSES to (lang, count, weight) in the same
    aggregate. localCheckpoint pins that tiny frame, and BOTH median
    passes run on it: `_grouped_value_cdf` #1 gives the per-lang
    median; the deviation frame |v − med| RE-COLLAPSES the same value
    table (never the docs), and CDF #2 gives the MAD. The value tables
    are Zipf-bounded and no per-lang rank window exists at any
    scale."""
    from ..operators.analytic import _grouped_value_cdf

    # NULL text → size(split(NULL)) = -1 under the legacy default
    # would enter the value CDF as a phantom count; drop such rows.
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    collapsed = (
        docs.groupBy(
            "lang",
            F.size(F.split(F.lower("text"), " ")).cast("long").alias("value"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    cdf1 = _grouped_value_cdf(collapsed, "lang", "value")
    tot = cdf1.groupBy("lang").agg(F.max("cum").alias("n"))
    med = (
        cdf1.join(F.broadcast(tot), "lang")
        .where(F.col("cum") >= F.expr("(n + 1) div 2"))
        .groupBy("lang")
        .agg(F.min("value").alias("median_tokens"))
        .join(tot, "lang")
    )
    dev = (
        collapsed.join(F.broadcast(med), "lang")
        .groupBy(
            "lang",
            F.abs(F.col("value") - F.col("median_tokens")).alias("value"),
        )
        .agg(F.sum("c").alias("c"))
    )
    cdf2 = _grouped_value_cdf(dev, "lang", "value")
    mad = (
        cdf2.join(F.broadcast(tot), "lang")
        .where(F.col("cum") >= F.expr("(n + 1) div 2"))
        .groupBy("lang")
        .agg(F.min("value").alias("mad_tokens"))
    )
    return (
        med.join(mad, "lang")
        .select(
            "lang",
            F.col("n").cast("long").alias("n_docs"),
            F.col("median_tokens").cast("long").alias("median_tokens"),
            F.col("mad_tokens").cast("long").alias("mad_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "token_length_histogram",
    oracle="""
SELECT lang, CAST(length(token) AS INTEGER) AS token_len,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS token
      FROM documents WHERE text IS NOT NULL) t
WHERE token <> ''
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length distribution per language — the tokenizer-budget
    fingerprint (a language whose mass shifts long signals
    agglutination or bad segmentation; the BPE trainer reads this
    before picking merges). Canonical whitespace tokenization
    (lower + split on ' ', empties dropped — token_frequency's
    contract).

    Scale shape: the explode is per-row JVM codegen; the aggregate
    collapses map-side to the (lang, length) grid (length is
    word-length-bounded), so the exchange carries grid cells, never
    tokens. Exact-copy collapse is deliberately NOT used here: the
    grid aggregate is already cheaper than a distinct-text pass."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return (
        docs.select(
            "lang", F.explode(F.split(F.lower("text"), " ")).alias("token")
        )
        .where(F.col("token") != "")
        .groupBy("lang", F.length("token").cast("int").alias("token_len"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"))
        .orderBy("lang", "token_len")
    )


def _stopword_density_oracle() -> str:
    words = ", ".join(f"'{w}'" for w in QUALITY_STOPWORDS)
    return f"""
WITH tk AS (
  SELECT doc_id, lang,
         string_split(lower(text), ' ') AS toks
  FROM documents WHERE text IS NOT NULL
),
d AS (
  SELECT lang,
         len(list_filter(toks, t -> t IN ({words}))) AS stop_n,
         len(toks) AS tok_n
  FROM tk
)
SELECT lang,
       CAST((10 * stop_n) // tok_n AS INTEGER) AS density_decile,
       CAST(count(*) AS BIGINT) AS n_docs
FROM d WHERE tok_n > 0
GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("stopword_density_histogram", oracle=_stopword_density_oracle())
def stopword_density_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents bucketed by English-stopword density decile per
    language — the Gopher-style quality prior as a distribution (the
    rules engine thresholds it; this shows WHERE the corpus mass sits
    before picking the threshold). The decile is INTEGER-EXACT:
    (10·stopwords) div tokens — no ratio is ever materialized, so no
    float can decide a bucket boundary.

    Scale shape: counts are computed map-side per row (size of a
    filtered token array — text never enters an exchange); one hash
    aggregate to the (lang, decile) grid."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    toks = F.split(F.lower("text"), " ")
    d = docs.select(
        "lang",
        _stopword_hits(toks, QUALITY_STOPWORDS).cast("long").alias("stop_n"),
        F.size(toks).cast("long").alias("tok_n"),
    ).where(F.col("tok_n") > 0)
    return (
        d.groupBy(
            "lang",
            F.expr("CAST((10 * stop_n) div tok_n AS INT)").alias(
                "density_decile"
            ),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("lang", "density_decile")
    )


@query(
    "char_class_profile_by_lang",
    oracle="""
WITH d AS (
  SELECT lang,
         length(text) AS chars,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
           AS digits,
         length(text) - length(regexp_replace(text, ' ', '', 'g')) AS spaces,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
           AS puncts
  FROM documents WHERE text IS NOT NULL
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(chars) AS BIGINT) AS total_chars,
       floor(CAST(sum(digits) AS DOUBLE) / sum(chars) * 10000 + 0.5) / 10000
         AS digit_ratio,
       floor(CAST(sum(spaces) AS DOUBLE) / sum(chars) * 10000 + 0.5) / 10000
         AS space_ratio,
       floor(CAST(sum(puncts) AS DOUBLE) / sum(chars) * 10000 + 0.5) / 10000
         AS punct_ratio
FROM d GROUP BY 1 ORDER BY 1
""",
)
def char_class_profile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per language (digit / space /
    punctuation mass) — the OCR-noise and boilerplate detector beside
    doc_quality_score's per-doc rules. Class counts are exact integer
    length differences summed per language; each ratio divides two
    exact longs ONCE (floor-form 4dp), so no summation-order hazard
    exists.

    Scale shape: all counts are map-side per-row expressions (text
    never enters an exchange); one hash aggregate to the 5-language
    rollup."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    chars = F.length("text")
    digits = chars - F.length(F.regexp_replace("text", "[0-9]", ""))
    spaces = chars - F.length(F.regexp_replace("text", " ", ""))
    puncts = chars - F.length(F.regexp_replace("text", "[.,!?;:]", ""))
    d = docs.select(
        "lang",
        chars.cast("long").alias("chars"),
        digits.cast("long").alias("digits"),
        spaces.cast("long").alias("spaces"),
        puncts.cast("long").alias("puncts"),
    )
    s = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("chars").alias("tc"),
        F.sum("digits").alias("td"),
        F.sum("spaces").alias("tsp"),
        F.sum("puncts").alias("tp"),
    )
    def ratio(num):
        # a language whose every text is empty has tc == 0: DuckDB's
        # 0/0 path yields NULL while ANSI Spark throws — try_divide
        # matches the oracle's NULL (latent on the fixture, which
        # always has text; pinned by the all-empty model test)
        return round4f(F.try_divide(F.col(num).cast("double"), F.col("tc")))

    return s.select(
        "lang",
        "n_docs",
        F.col("tc").cast("long").alias("total_chars"),
        ratio("td").alias("digit_ratio"),
        ratio("tsp").alias("space_ratio"),
        ratio("tp").alias("punct_ratio"),
    ).orderBy("lang")


@query(
    "lang_confusion_matrix",
    oracle=f"""
SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM ({_lang_id_oracle()}) t
GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labeled-vs-predicted language confusion matrix — the quality
    scorecard OF the language-ID heuristic itself (a curation pipeline
    reads this before trusting lang_id to route documents). Composes
    the registered scorer unchanged, so the matrix can never drift
    from what lang_id_stopwords actually predicts.

    Scale shape: the scorer's broadcast-vocab explode/pivot plus ONE
    hash aggregate to the |langs|² grid."""
    scored = lang_id_stopwords(spark, sf_dir)
    return (
        scored.groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("lang", "predicted_lang")
    )


@query(
    "token_first_seen_by_source",
    oracle="""
WITH toks AS (
  SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS token
  FROM documents
),
firsts AS (
  SELECT token, arg_min(source, doc_id) AS fsource FROM toks GROUP BY 1
),
persrc AS (
  SELECT source, CAST(count(DISTINCT token) AS BIGINT) AS n_distinct_tokens
  FROM toks GROUP BY 1
),
f AS (
  SELECT fsource AS source, CAST(count(*) AS BIGINT) AS n_first_seen
  FROM firsts GROUP BY 1
)
SELECT p.source, p.n_distinct_tokens,
       CAST(coalesce(f.n_first_seen, 0) AS BIGINT) AS n_first_seen,
       floor(CAST(coalesce(f.n_first_seen, 0) AS DOUBLE)
             / p.n_distinct_tokens * 10000 + 0.5) / 10000 AS novelty_share
FROM persrc p LEFT JOIN f USING (source)
ORDER BY p.source
""",
)
def token_first_seen_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-novelty attribution: per source, how many of the
    corpus's distinct tokens FIRST appear there (first = minimum
    doc_id, the repo-wide keep-first ingestion-order convention) next
    to how many distinct tokens it uses at all — the mixing-weights
    signal for 'which source actually grows the vocabulary' vs 'which
    re-uses it' (doc_novelty_ngrams answers this per document; this
    rolls provenance up to the source level where sampling weights are
    set).

    Scale shape: ONE corpus-token exchange — per token, a single
    VOCAB-bounded aggregate (Heaps' law bounds distinct tokens far
    under corpus size) carries both the min-(doc_id, source) struct
    AND the collect_set of sources (≤ source-count elements); the
    per-source distinct-token counts then come from exploding the
    per-token source sets (vocab × sources rows, map-side combined).
    An earlier two-exchange form (separate min-struct and distinct
    (source, token) aggregations) scanned/exploded the corpus twice;
    the controlled A/B reads ~12% (29.7/32.8 → 25.8/29.1 s at the
    1000× probe, tuned session) — modest because map-side partial
    aggregation already collapsed both shuffles to vocab scale; the
    dominant cost in either form is the one explode+scan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source",
        F.explode(F.split(F.lower("text"), " ")).alias("token"),
    )
    per_token = toks.groupBy("token").agg(
        F.min(F.struct("doc_id", "source")).alias("f"),
        F.collect_set("source").alias("srcs"),
    )
    f = per_token.groupBy(F.col("f.source").alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_first_seen")
    )
    persrc = (
        per_token.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_distinct_tokens"))
    )
    n_first = F.coalesce(F.col("n_first_seen"), F.lit(0)).cast("long")
    return (
        persrc.join(f, "source", "left")
        .select(
            "source",
            "n_distinct_tokens",
            n_first.alias("n_first_seen"),
            round4f(
                n_first.cast("double") / F.col("n_distinct_tokens")
            ).alias("novelty_share"),
        )
        .orderBy("source")
    )


COOC_TOP_TOKENS = 30


@query(
    "token_cooccurrence_topk",
    oracle=f"""
WITH raw AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
  FROM documents
),
td AS (SELECT DISTINCT doc_id, token FROM raw),
top AS (
  SELECT token FROM td GROUP BY token
  ORDER BY count(*) DESC, token LIMIT {COOC_TOP_TOKENS}
),
ft AS (SELECT doc_id, token FROM td WHERE token IN (SELECT token FROM top))
SELECT a.token AS token_a, b.token AS token_b,
       CAST(count(*) AS BIGINT) AS n_docs
FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.token < b.token
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def token_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document co-occurrence counts over the top COOC_TOP_TOKENS (30)
    tokens by document frequency (deterministic cut: df DESC, token
    ASC): for each head-token pair, how many documents contain both —
    the corpus-level association table behind topic drift checks and
    stopword-list curation (a pair co-occurring in ~every doc is
    boilerplate; a head pair that never co-occurs signals disjoint
    sub-corpora worth separate mixing weights).

    Scale shape: TWO exchanges total, both bounded. Per-doc presence
    dedups DOC-LOCALLY (`array_distinct` on the token array — never a
    corpus-wide (doc, token) distinct exchange); the document-frequency
    aggregate map-side-combines to vocab scale and its top cut is a
    TakeOrderedAndProject; the ≤30 head tokens collect
    to the driver (bounded by construction, the ANN-sidecar pattern)
    and re-enter as an `array_intersect` LITERAL, so per-doc head sets
    and the double-explode pair fan-out (≤ C(30,2) per
    doc) are fully NARROW — pairs flow straight into the grid-bounded
    final aggregate, combined map-side before the only other exchange.
    The first cut of this query self-joined a corpus-wide distinct on
    doc_id: 145.7 s at the 1000× probe vs 25.4 s for this form."""
    docs = load_table(spark, sf_dir, "documents")
    td = docs.select(
        F.array_distinct(F.split(F.lower("text"), " ")).alias("toks")
    )
    head = [
        r.token
        for r in td.select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(COOC_TOP_TOKENS)
        .collect()
    ]
    if not head:  # empty corpus: zero-arg F.array() won't analyze
        return spark.createDataFrame(
            [], "token_a STRING, token_b STRING, n_docs LONG"
        )
    heads = F.array_sort(
        F.array_intersect("toks", F.array(*[F.lit(t) for t in head]))
    )
    # value-collapse on the head SET before the pair fan: exact copies
    # and boilerplate share head sets, so the C(30,2) explode runs once
    # per DISTINCT set weighted by its multiplicity (39.9 → 25.4 s at
    # the dup-heavy 1000× probe; the residue is the two corpus scans —
    # df aggregate + head-set projection — the same scan-bound envelope
    # as the token_frequency family); the collapse exchange carries ≤30
    # short strings per row, distinct-set-bounded.
    hc = (
        td.select(heads.alias("h"))
        .where(F.size("h") >= 2)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        hc.select("h", "c", F.explode("h").alias("token_a"))
        .select("c", "token_a", F.explode("h").alias("token_b"))
        .where(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b")
        .agg(F.sum("c").cast("long").alias("n_docs"))
        .orderBy("token_a", "token_b")
    )
