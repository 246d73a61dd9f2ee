"""Training-data pipeline operators beyond the reference's surface
(BASELINE.json:6 mandates the LLM-data-pipeline family as first-class):
corpus profiling, deterministic train/val splits, global deterministic
shuffle, per-group top-k, and token-budget sequence packing.

The reference has no analog for any of these ([R] Kafka Streams stops at
the DSL operator surface); they are what a 100 TB pre-training corpus
pipeline runs AFTER dedup/quality filtering, so they belong in the same
engine. Everything except packing is pure codegen expressions with a
DuckDB oracle; packing is an Arrow-batched per-partition kernel with
invariant tests (tests/test_pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, round4f
from ..operators.analytic import _global_row_number
from ..registry import query
from .text import copy_reps, rep_bigrams, rep_counts

# ---------------------------------------------------------------------------
# Corpus / table profiling — the "describe" pass a pipeline runs first.
# ---------------------------------------------------------------------------


@query(
    "profile_lineitem",
    oracle="""
SELECT 'l_quantity' AS col, count(*) AS n, count(l_quantity) AS n_nonnull,
       count(DISTINCT l_quantity) AS n_distinct,
       round(min(l_quantity), 4) AS min_v, round(max(l_quantity), 4) AS max_v,
       floor(avg(l_quantity) * 10000 + 0.5) / 10000 AS avg_v,
       round(stddev_samp(l_quantity), 4) AS std_v
FROM lineitem
UNION ALL
SELECT 'l_extendedprice', count(*), count(l_extendedprice),
       count(DISTINCT l_extendedprice),
       round(min(l_extendedprice), 4), round(max(l_extendedprice), 4),
       floor(avg(l_extendedprice) * 10000 + 0.5) / 10000,
       round(stddev_samp(l_extendedprice), 4)
FROM lineitem
UNION ALL
SELECT 'l_discount', count(*), count(l_discount), count(DISTINCT l_discount),
       round(min(l_discount), 4), round(max(l_discount), 4),
       floor(avg(l_discount) * 10000 + 0.5) / 10000,
       round(stddev_samp(l_discount), 4)
FROM lineitem
UNION ALL
SELECT 'l_tax', count(*), count(l_tax), count(DISTINCT l_tax),
       round(min(l_tax), 4), round(max(l_tax), 4),
       floor(avg(l_tax) * 10000 + 0.5) / 10000,
       round(stddev_samp(l_tax), 4)
FROM lineitem
""",
)
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass numeric column profiling (count / nulls / distinct /
    min / max / mean / stddev per column) — the data-quality summary a
    pipeline materializes before and after every filter stage.

    Scale shape: ONE scan computes all per-column measures as parallel
    aggregates (map-side partial agg; the only shuffle is the final
    single-row combine), then the wide row is unpivoted with ``stack``
    — output cardinality = number of profiled columns, independent of
    data size. Spark's own ``df.summary()`` collects to the driver and
    is not oracle-comparable; this stays a DataFrame end-to-end.

    ``count(DISTINCT x)`` for several columns in one agg is planned by
    Catalyst as an expand+two-phase agg (one extra shuffle of the
    projected columns only, never the full rows); at 100 TB you would
    swap the exact distincts for ``approx_count_distinct`` and drop
    that shuffle — the exact form is kept here because the oracle
    contract demands engine-identical integers.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.count(c).alias(f"{c}__n_nonnull"),
            F.countDistinct(c).alias(f"{c}__n_distinct"),
            F.round(F.min(c), 4).alias(f"{c}__min_v"),
            F.round(F.max(c), 4).alias(f"{c}__max_v"),
            round4f(F.avg(c)).alias(f"{c}__avg_v"),
            F.round(F.stddev_samp(c), 4).alias(f"{c}__std_v"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        "'{c}', {c}__n, {c}__n_nonnull, {c}__n_distinct, {c}__min_v, {c}__max_v, "
        "{c}__avg_v, {c}__std_v".format(c=c)
        for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(col, n, n_nonnull, n_distinct, min_v, max_v, avg_v, std_v)"
    )


# ---------------------------------------------------------------------------
# Deterministic train/validation split.
# ---------------------------------------------------------------------------

VAL_BUCKETS = 20  # 1/20 = 5% validation
SPLIT_SALT = "split-v1"
_VAL_THRESHOLD = format(0x10000 // VAL_BUCKETS, "04x")


@query(
    "train_val_split",
    oracle=f"""
SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT CASE WHEN substr(md5('{SPLIT_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 4)
                   < '{_VAL_THRESHOLD}'
              THEN 'val' ELSE 'train' END AS split,
         n_chars
  FROM documents
) t
GROUP BY split
""",
)
def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, salt-versioned train/validation split — assignment
    is a pure function of (salt, doc_id), so it is stable across runs,
    retries, engines, and corpus growth (a doc never migrates between
    splits when new data arrives — the property RNG-based splits lose).

    Threshold '0ccd' = floor(2^16 / {VAL_BUCKETS}) in hex on the first 4
    md5 nibbles ≈ a 5% validation fraction. Pure scan-side expressions;
    the only shuffle is the 2-group count aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    coin = F.substring(
        F.md5(F.concat(F.lit(f"{SPLIT_SALT}:"), F.col("doc_id").cast("string"))), 1, 4
    )
    return (
        docs.select(
            F.when(coin < _VAL_THRESHOLD, "val").otherwise("train").alias("split"),
            "n_chars",
        )
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


STRAT_SALT = "strat-split-v1"


@query(
    "train_val_split_stratified",
    oracle=f"""
SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT source,
         CASE WHEN substr(md5('{STRAT_SALT}:' || source || ':'
                              || CAST(doc_id AS VARCHAR)), 1, 4)
                   < '{_VAL_THRESHOLD}'
              THEN 'val' ELSE 'train' END AS split,
         n_chars
  FROM documents
) t
GROUP BY source, split
ORDER BY source, split
""",
)
def train_val_split_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE stratified train/validation split — the multi-corpus
    form of `train_val_split`: the salted coin includes the source, so
    each stratum draws its ~5% validation slice independently (a small
    source cannot be starved of validation docs by a global coin, the
    failure mode of unstratified splits on skewed mixtures). Same
    salt-versioned stability contract: assignment is a pure function of
    (salt, source, doc_id).

    Scale: pure scan-side expressions; one (source, split)-bounded
    aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    coin = F.substring(
        F.md5(
            F.concat(
                F.lit(f"{STRAT_SALT}:"),
                F.col("source"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ),
        1,
        4,
    )
    return (
        docs.select(
            "source",
            F.when(coin < _VAL_THRESHOLD, "val").otherwise("train").alias("split"),
            "n_chars",
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("source", "split")
    )


# ---------------------------------------------------------------------------
# Global deterministic shuffle (training-order materialization).
# ---------------------------------------------------------------------------

SHUFFLE_SALT = "shuffle-epoch-0"


@query(
    "shuffle_deterministic",
    oracle=f"""
SELECT doc_id,
       row_number() OVER (ORDER BY md5('{SHUFFLE_SALT}:' || CAST(doc_id AS VARCHAR)),
                          doc_id) AS shuffle_pos
FROM documents
""",
)
def shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle: every document gets a stable
    pseudo-random position (md5 of salt:doc_id as the sort key) — how a
    training run materializes a reproducible epoch order at 100 TB.
    Changing the salt re-shuffles; re-running never does.

    The position is assigned with the two-phase global row_number
    (``_global_row_number``: range-partition on the hash key, local
    row_number, cumulative-count offsets) — fully parallel, no
    single-partition WindowExec [VERDICT r1 pattern].
    """
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(F.concat(F.lit(f"{SHUFFLE_SALT}:"), F.col("doc_id").cast("string"))).alias(
            "_hkey"
        ),
    )
    ranked = _global_row_number(keyed, [F.asc("_hkey"), F.asc("doc_id")])
    return ranked.select("doc_id", F.col("_rn").alias("shuffle_pos"))


# ---------------------------------------------------------------------------
# Per-group top-k without a global sort.
# ---------------------------------------------------------------------------

TOPK_TERMS_PER_LANG = 5


@query(
    "topk_terms_per_lang",
    oracle=f"""
SELECT lang, token, freq
FROM (
  SELECT lang, token, freq,
         row_number() OVER (PARTITION BY lang ORDER BY freq DESC, token) AS rn
  FROM (
    SELECT lang, token, count(*) AS freq
    FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS token
          FROM documents) x
    GROUP BY lang, token
  ) tf
) t
WHERE rn <= {TOPK_TERMS_PER_LANG}
""",
)
def topk_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via aggregate-of-sorted-structs instead of a
    window sort: after the (lang, token) count, each language folds its
    tokens into ONE row with ``slice(sort_array(collect_list(struct)))``,
    then explodes the k winners.

    Why not ``row_number() OVER (PARTITION BY lang ...)``: a window sorts
    every group's full token list; the aggregate form's map-side combine
    ships only per-partition candidates and the final state per group is
    O(vocabulary per lang) once — at a 100 TB corpus with bounded
    vocabulary this is shuffle-light and has no per-group sort spill.
    (With an unbounded group payload you would cap the partial lists with
    a TreeAggregate-style kernel; vocabulary is bounded, so the plain
    aggregate is the right call here.)
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("lang", F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # sort_array on struct(-freq, token) gives (freq DESC, token ASC).
    packed = tf.groupBy("lang").agg(
        F.slice(
            F.sort_array(
                F.collect_list(F.struct((-F.col("freq")).alias("nf"), "token", "freq"))
            ),
            1,
            TOPK_TERMS_PER_LANG,
        ).alias("top")
    )
    return packed.select("lang", F.explode("top").alias("t")).select(
        "lang", F.col("t.token").alias("token"), F.col("t.freq").alias("freq")
    )


# ---------------------------------------------------------------------------
# Token-budget sequence packing (Arrow kernel; invariants unit-tested).
# ---------------------------------------------------------------------------

PACK_BUDGET_TOKENS = 256


@query("pack_sequences")  # rows-only: greedy bin assignment is engine-specific
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: group documents into training
    "bins" of at most PACK_BUDGET_TOKENS whitespace tokens (docs longer
    than the budget get a singleton bin) — the batch-construction step
    between a tokenized corpus and a trainer.

    Spark shape: token counts are codegen expressions; packing itself is
    an Arrow-batched ``applyInPandas`` per hash-partition group. Each
    partition packs ITS docs greedily in deterministic (doc_id) order,
    so bins never span partitions — exactly the independence a
    1000-executor packing job needs (global bin numbering comes from
    (partition_key, local_bin) pairs, no coordination). Invariants —
    every doc in exactly one bin, no bin over budget unless singleton,
    determinism across runs — are pinned by tests/test_pipeline.py.
    """
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    n_groups = max(2, spark.sparkContext.defaultParallelism)
    sized = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_groups)).alias("pack_group"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id", kind="mergesort").reset_index(drop=True)
        bins, fills = [], []
        cur_bin, cur_fill = 0, 0
        for nt in pdf["n_tokens"]:
            nt = int(nt)
            if cur_fill > 0 and cur_fill + nt > PACK_BUDGET_TOKENS:
                cur_bin += 1
                cur_fill = 0
            cur_fill += nt
            bins.append(cur_bin)
            fills.append(cur_fill)
        out = pdf[["doc_id", "n_tokens", "pack_group"]].copy()
        out["bin_local"] = bins
        return out

    packed = sized.groupBy("pack_group").applyInPandas(
        pack, "doc_id LONG, n_tokens INT, pack_group INT, bin_local LONG"
    )
    return packed.select(
        "doc_id",
        "n_tokens",
        F.concat_ws("-", F.col("pack_group"), F.col("bin_local")).alias("bin_id"),
    )


# ---------------------------------------------------------------------------
# Data-selection importance weighting (DSIR-style, Xie et al. 2023).
# ---------------------------------------------------------------------------

DSIR_TARGET_LANG = "en"


@query(
    "importance_weight_dsir",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS token
  FROM documents
),
raw_c AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
tgt_c AS (
  SELECT token, count(*) AS c FROM tok WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY token
),
tot AS (
  SELECT (SELECT count(*) FROM tok) AS t_raw,
         (SELECT count(*) FROM tok WHERE lang = '{DSIR_TARGET_LANG}') AS t_tgt,
         (SELECT count(*) FROM raw_c) AS v
),
w AS (
  SELECT r.token,
         CAST(ln((coalesce(g.c, 0) + 1.0) / (t.t_tgt + t.v))
                - ln((r.c + 1.0) / (t.t_raw + t.v)) AS DECIMAL(18,6)) AS w
  FROM raw_c r LEFT JOIN tgt_c g USING (token) CROSS JOIN tot t
)
SELECT tok.doc_id, CAST(sum(w.w) AS DOUBLE) AS dsir_weight
FROM tok JOIN w USING (token)
GROUP BY tok.doc_id
""",
)
def importance_weight_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance weight for data selection (DSIR, Xie et al. 2023): each
    document scores the log-likelihood ratio of its tokens under a
    target-domain unigram LM (here: the lang='en' slice) vs the raw
    corpus LM, with add-one smoothing. High weight = looks like the
    target domain; downstream selection samples proportional to it.

    Scale shape: token explode is JVM codegen; both LMs are bounded by
    VOCABULARY (not corpus) size, so the per-token weight table
    broadcasts; the doc score is one map-side-combinable sum per doc.
    The paper hashes n-grams into a fixed number of buckets to bound the
    vocab — with a bounded fixture vocab we keep exact unigrams so the
    DuckDB oracle can replicate the math bit-for-bit; swapping the
    token column for `pmod(xxhash64(token), B)` is the 100 TB knob and
    changes no other line of the plan.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Scored per distinct text (copy_reps). The LM counts weight by copy
    # count per language: the collapse carries target-lang copies `wl`
    # next to `w` (r12: one corpus aggregate, where a separate
    # lang-filtered aggregate cost a second scan + exchange and a third
    # shuffle to join it back; absent groups sum to 0).
    doc_map, reps = copy_reps(
        docs,
        wl=F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.lit(1)).otherwise(F.lit(0))
        ),
    )
    th_tf = rep_counts(
        reps.select("th", "w", "wl", F.explode("tk").alias("token")), "token"
    )
    counts = (
        th_tf.groupBy("token")
        .agg(
            F.sum(F.col("c") * F.col("w")).alias("raw_c"),
            F.sum(F.col("c") * F.col("wl")).alias("tgt_c"),
        )
        .localCheckpoint(eager=False)
    )
    tot = counts.agg(
        F.sum("raw_c").alias("t_raw"),
        F.count("*").alias("v"),
        F.sum("tgt_c").alias("t_tgt"),
    )
    weights = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "token",
            # Snap each per-token LLR to DECIMAL(18,6) before the per-doc
            # sum: JVM and DuckDB ln differ by 1 ulp on ~1% of inputs and
            # float summation order is engine-specific — the decimal sum
            # is exact and associative (same hardening as the window
            # family / doc_unigram_logprob).
            (
                F.log((F.col("tgt_c") + 1.0) / (F.col("t_tgt") + F.col("v")))
                - F.log((F.col("raw_c") + 1.0) / (F.col("t_raw") + F.col("v")))
            ).cast("decimal(18,6)").alias("lw"),
        )
    )
    per_rep = (
        th_tf.join(F.broadcast(weights), "token")
        .groupBy("th")
        .agg(F.sum(F.col("c") * F.col("lw")).cast("double").alias("dsir_weight"))
    )
    return doc_map.join(per_rep, "th").select("doc_id", "dsir_weight")


# ---------------------------------------------------------------------------
# End-to-end corpus dedup pipeline (the composed production run).
# ---------------------------------------------------------------------------


@query("corpus_dedup_pipeline_report")  # rows-only: composes hash-based stages
def corpus_dedup_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pre-training dedup run — what a user actually
    executes over a crawl, as ONE query: stage 1 exact dedup (md5
    winner-set), stage 2 MinHash-LSH near-dup removal over the exact
    survivors, stage 3 cross-doc repeated-span scrub over the remaining
    docs, reported as (stage, docs_in, docs_out, removed_docs,
    tokens_removed). Every stage is the engine's own registered
    operator (operators/dedup.py, functions/neardup.py) — this query
    adds composition, not new semantics; invariants (monotone doc
    counts, stage-1 parity with dedup_text_exact) are pinned in
    tests/test_pipeline.py.

    Scale shape is each stage's documented shape; stages communicate by
    doc_id (anti-join on loser ids), so no stage re-shuffles bodies the
    previous one already collapsed.
    """
    from ..operators.dedup import dedup_text_exact
    from .neardup import dedup_text_minhash, scrub_repeated_spans_df

    docs = load_table(spark, sf_dir, "documents")
    n0 = docs.count()

    # Each survivor frame feeds BOTH a count and a downstream join —
    # persist them or the exact/minhash stages re-execute per action
    # (the snapshot-commit persist lesson). At the 10× probe the scrub
    # stage dominates and the saving sits inside run variance (38-68 s
    # both forms, r8); the persist is kept for the plan shape — LSH
    # banding runs once, not three times, which is what matters when
    # the corpus (not the scrub span table) is the big side.
    exact_survivors = dedup_text_exact(spark, sf_dir).select("doc_id").persist()
    near_survivors = (
        dedup_text_minhash(spark, sf_dir)
        .select("doc_id")
        .join(exact_survivors, "doc_id", "left_semi")
    ).persist()
    try:
        n1 = exact_survivors.count()
        n2 = near_survivors.count()

        remaining = docs.join(near_survivors, "doc_id", "left_semi")
        scrubbed = scrub_repeated_spans_df(remaining)
        tokens_removed = scrubbed.agg(
            F.coalesce(F.sum("n_removed_tokens"), F.lit(0)).alias("t")
        ).collect()[0].t
    finally:
        near_survivors.unpersist()
        exact_survivors.unpersist()

    report = [
        ("1_exact_dedup", n0, n1, n0 - n1, 0),
        ("2_minhash_near_dedup", n1, n2, n1 - n2, 0),
        ("3_span_scrub", n2, n2, 0, int(tokens_removed)),
    ]
    return spark.createDataFrame(
        report,
        "stage STRING, docs_in LONG, docs_out LONG, removed_docs LONG, tokens_removed LONG",
    )


# ---------------------------------------------------------------------------
# Unigram-LM quality scoring (perplexity-style filter).
# ---------------------------------------------------------------------------


@query(
    "doc_unigram_logprob",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents
),
doc_tf AS (
  SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t
),
vocab AS (
  SELECT t, CAST(ln(sum(c)) AS DECIMAL(18,6)) AS lp, sum(c) AS cnt
  FROM doc_tf GROUP BY t
),
tot AS (
  SELECT CAST(ln(sum(cnt)) AS DECIMAL(18,6)) AS lt FROM vocab
),
per_doc AS (
  SELECT d.doc_id, sum(d.c) AS n_tokens, sum(d.c * v.lp) AS s
  FROM doc_tf d JOIN vocab v USING (t)
  GROUP BY d.doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round((CAST(n_tokens * lt AS DOUBLE) - CAST(s AS DOUBLE))
             / n_tokens, 4) AS avg_nll
FROM per_doc, tot
""",
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality score: per-document average negative
    log-likelihood under the corpus's own unigram LM (the computational
    shape of the CCNet/LLaMA "perplexity filter"; a production pipeline
    swaps the self-fit LM for a reference-corpus LM — same plan, the
    vocab frame just comes from the other table).

    avg_nll = (1/n) * sum_t -ln(cnt_t / total) = ln(total) - mean(ln cnt_t).

    Cross-engine exactness: JVM and DuckDB `ln` disagree by 1 ulp on
    ~1% of inputs (measured), and float summation order is engine-
    specific — so each per-token term is snapped to DECIMAL(18,6)
    BEFORE the sum. Decimal addition is exact and associative; the only
    remaining risk is a vocab value landing within 1 ulp of a 6-decimal
    edge (P ~ 1e-7 per distinct count value).

    100 TB shape: tokens are pre-aggregated to (doc_id, token, c)
    before the vocab join, so join input is distinct-tokens-per-doc
    (~10x smaller than occurrences) and Zipf-head skew is bounded by
    doc count, not token count; the vocab aggregate is map-side
    combined and vocabulary-bounded. Two shuffles + one scalar
    broadcast. (At an extreme corpus, broadcast the Zipf head of the
    vocab and shuffle-join only the tail.)
    """
    docs = load_table(spark, sf_dir, "documents")
    doc_map, reps = copy_reps(docs)
    doc_tf = rep_counts(reps.select("th", "w", F.explode("tk").alias("t")), "t")
    vocab = doc_tf.groupBy("t").agg(
        F.sum(F.col("c") * F.col("w")).alias("cnt")
    ).select(
        "t", F.log("cnt").cast("decimal(18,6)").alias("lp"), "cnt"
    )
    total = vocab.agg(F.log(F.sum("cnt")).cast("decimal(18,6)").alias("lt"))
    per_rep = (
        doc_tf.join(vocab.select("t", "lp"), "t")
        .groupBy("th")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.col("lp")).alias("s"),
        )
    )
    per_doc = doc_map.join(per_rep, "th")
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(
            ((F.col("n_tokens") * F.col("lt")).cast("double") - F.col("s").cast("double"))
            / F.col("n_tokens"),
            4,
        ).alias("avg_nll"),
    )


BIGRAM_LAMBDA = 0.75  # interpolation weight: bigram vs unigram backoff


@query(
    "doc_bigram_logprob",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tk)),
                               i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS b
  FROM toks WHERE len(tk) >= 2
),
doc_bg AS (
  SELECT doc_id, b.w1 AS w1, b.w2 AS w2, count(*) AS c FROM bg
  GROUP BY doc_id, b.w1, b.w2
),
corpus_bg AS (SELECT w1, w2, sum(c) AS cbg FROM doc_bg GROUP BY w1, w2),
lefts AS (SELECT w1, sum(cbg) AS cl FROM corpus_bg GROUP BY w1),
uni AS (
  SELECT t, count(*) AS cu
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents)
  GROUP BY t
),
tot AS (SELECT sum(cu) AS tu FROM uni),
terms AS (
  SELECT d.doc_id, d.c,
         CAST(ln({BIGRAM_LAMBDA} * (CAST(g.cbg AS DOUBLE) / l.cl)
                 + {1 - BIGRAM_LAMBDA} * (CAST(u.cu AS DOUBLE) / t.tu))
              AS DECIMAL(18,6)) AS lp
  FROM doc_bg d
  JOIN corpus_bg g ON d.w1 = g.w1 AND d.w2 = g.w2
  JOIN lefts l ON d.w1 = l.w1
  JOIN uni u ON d.w2 = u.t
  CROSS JOIN tot t
)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
       floor(-CAST(sum(c * lp) AS DOUBLE) / sum(c) * 10000 + 0.5) / 10000
         AS avg_nll
FROM terms GROUP BY doc_id
""",
)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram LM quality score — the next rung above
    `doc_unigram_logprob` on the KenLM-style perplexity-filter ladder:
    per-doc average negative log-likelihood of each adjacent token pair
    under p(w2|w1) = lambda*c(w1,w2)/c(w1,*) + (1-lambda)*c(w2)/total,
    the classic Jelinek-Mercer interpolation (every transition backs
    off to the unigram, so unseen-pair smoothing is never needed for a
    self-fit LM — every scored pair exists in the corpus counts).

    Cross-engine exactness (the doc_unigram_logprob discipline): the
    interpolated probability is pure IEEE arithmetic in the SAME
    operation order on both engines (divide, multiply, add), each
    per-pair ln() term snaps to DECIMAL(18,6) BEFORE the exact decimal
    sum, and the final quotient rounds via the floor form.

    100 TB shape: positions collapse to (doc_id, w1, w2, c) BEFORE any
    join, so join input is distinct-bigrams-per-doc; corpus bigram /
    left-context / unigram frames are all map-side-combined and
    vocabulary-bounded; the total is a 1-row broadcast. Zipf-head skew
    is bounded by doc count (same argument as the unigram filter —
    broadcast the head, shuffle the tail at extreme scale)."""
    docs = load_table(spark, sf_dir, "documents")
    doc_map, reps = copy_reps(docs)
    doc_bg = rep_counts(rep_bigrams(reps), "w1", "w2")
    corpus_bg = doc_bg.groupBy("w1", "w2").agg(
        F.sum(F.col("c") * F.col("w")).alias("cbg")
    )
    lefts = corpus_bg.groupBy("w1").agg(F.sum("cbg").alias("cl"))
    # Pinned like doc_bg: uni feeds the tot broadcast AND the terms join
    # (2 executions of the token explode otherwise).
    uni = (
        reps.select(F.explode("tk").alias("t"), "w")
        .groupBy("t")
        .agg(F.sum("w").alias("cu"))
        .localCheckpoint(eager=False)
    )
    tot = uni.agg(F.sum("cu").alias("tu"))
    p_interp = F.lit(BIGRAM_LAMBDA) * (
        F.col("cbg").cast("double") / F.col("cl")
    ) + F.lit(1 - BIGRAM_LAMBDA) * (F.col("cu").cast("double") / F.col("tu"))
    terms = (
        doc_bg.join(corpus_bg, ["w1", "w2"])
        .join(lefts, "w1")
        .join(uni, F.col("w2") == F.col("t"))
        .crossJoin(F.broadcast(tot))
        .select("th", "c", F.log(p_interp).cast("decimal(18,6)").alias("lp"))
    )
    per_rep = terms.groupBy("th").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        round4f(
            -F.sum(F.col("c") * F.col("lp")).cast("double") / F.sum("c")
        ).alias("avg_nll"),
    )
    return doc_map.join(per_rep, "th").select("doc_id", "n_bigrams", "avg_nll")


# ---------------------------------------------------------------------------
# Deterministic per-group K-sample with threshold pruning.
# ---------------------------------------------------------------------------

SAMPLE_K = 50
SAMPLE_SALT = "sample-v1"
# Prune keeps ~8x the needed rows; P(top-K member above the cutoff) ≈
# P(Binomial(n, 8K/n) < K) ≤ exp(-153) — not a realistic failure mode.
SAMPLE_PRUNE_FACTOR = 8


@query(
    "sample_topk_per_group",
    oracle=f"""
SELECT lang, doc_id, hash FROM (
  SELECT lang, doc_id, hash,
         row_number() OVER (PARTITION BY lang ORDER BY hash, doc_id) AS rn
  FROM (SELECT lang, doc_id,
               md5('{SAMPLE_SALT}:' || CAST(doc_id AS VARCHAR)) AS hash
        FROM documents) h
) t
WHERE rn <= {SAMPLE_K}
""",
)
def sample_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group K-sample (eval/holdout set construction):
    the K documents with the smallest salted md5 per language — stable
    under corpus growth for surviving docs, reshuffled only by a salt
    bump (same contract as train_val_split).

    100 TB shape — the naive form is `row_number() OVER (PARTITION BY
    lang ...)`, which shuffles EVERY row to one partition per language
    (langs are few → giant skewed partitions, full sort each). Instead:
    a per-group count (KB-sized, broadcast) sets a hash cutoff at
    ~PRUNE_FACTOR*K/n of the uniform hash space, a codegen filter
    discards ~99.99%% of rows with zero shuffle, and only the ~8K
    survivors per group enter the window sort. Exactness: survivors
    provably contain the true top-K (cutoff probability bound above);
    groups with n <= 8K skip pruning entirely.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Group on a null-safe key: a plain equi-join on `lang` would DROP
    # NULL-lang docs while the oracle's PARTITION BY lang keeps them as
    # their own group. chr(0) cannot appear in a real lang code.
    lg = F.coalesce(F.col("lang"), F.lit("\x00null"))
    hashed = docs.select(
        "lang",
        lg.alias("_lg"),
        "doc_id",
        F.md5(
            F.concat(F.lit(f"{SAMPLE_SALT}:"), F.col("doc_id").cast("string"))
        ).alias("hash"),
    )
    counts = hashed.groupBy("_lg").agg(F.count(F.lit(1)).alias("_n"))
    # Cutoff on the first 8 hex digits (16^8 buckets of uniform space).
    keep_frac = F.least(
        F.lit(1.0), F.lit(float(SAMPLE_PRUNE_FACTOR * SAMPLE_K)) / F.col("_n")
    )
    cutoff = F.ceil(keep_frac * F.lit(float(16**8))).cast("long")
    pruned = (
        hashed.join(F.broadcast(counts.select("_lg", cutoff.alias("_cut"))), "_lg")
        .filter(F.conv(F.substring("hash", 1, 8), 16, 10).cast("long") < F.col("_cut"))
    )
    w = Window.partitionBy("_lg").orderBy("hash", "doc_id")
    return (
        pruned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= SAMPLE_K)
        .select("lang", "doc_id", "hash")
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary statistics (the Zipf/TTR health check).
# ---------------------------------------------------------------------------


@query(
    "corpus_vocab_stats",
    oracle="""
WITH tok AS (
  SELECT lang, unnest(string_split(lower(text), ' ')) AS t FROM documents
),
tf AS (
  SELECT lang, t, count(*) AS c FROM tok GROUP BY lang, t
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS vocab_size,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(max(c) AS BIGINT) AS top_token_freq,
       round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS type_token_ratio
FROM tf
GROUP BY lang
""",
)
def corpus_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary health check: vocabulary size, token
    count, hapax-legomena count (freq-1 types — a tokenizer-noise /
    OCR-junk signal), top token frequency and type-token ratio. The
    standard pre-tokenizer corpus diagnostic.

    100 TB shape: exact-copy texts collapse to one weighted
    representative per (lang, text) BEFORE the token explode (the
    copy-flood discipline — the per-copy explode ran 61 s at the 10×
    exact-duplicate probe, the weighted form seconds; counts are
    identical since each copy contributes its representative's token
    multiset); both aggregates are map-side combined and the second is
    vocabulary-bounded. Integer outputs except the final exact-division
    ratio (deterministic IEEE divide of two exact ints both engines).
    """
    docs = load_table(spark, sf_dir, "documents")
    reps = docs.groupBy("lang", F.lower("text").alias("txt")).agg(
        F.count(F.lit(1)).alias("w")
    )
    tf = (
        reps.select("lang", F.explode(F.split("txt", " ")).alias("t"), "w")
        .groupBy("lang", "t")
        .agg(F.sum("w").alias("c"))
    )
    return tf.groupBy("lang").agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("c").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("n_hapax"),
        F.max("c").alias("top_token_freq"),
        F.round(
            F.count(F.lit(1)) / F.sum("c").cast("double"), 6
        ).alias("type_token_ratio"),
    )


# ---------------------------------------------------------------------------
# Compression-ratio quality signal (zlib, stdlib — no external deps).
# ---------------------------------------------------------------------------

COMPRESSION_LEVEL = 6  # zlib default; fixed so the signal is stable


def compression_ratio_batches(it):
    """mapInPandas kernel: deflate each document (stdlib zlib, fixed
    level) and report bytes-in/bytes-out. Arrow-batched, one pass."""
    import zlib

    import pandas as pd

    for pdf in it:
        raw = [t.encode("utf-8") if isinstance(t, str) else b"" for t in pdf["text"]]
        comp = [len(zlib.compress(b, COMPRESSION_LEVEL)) for b in raw]
        n = [len(b) for b in raw]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": n,
                "n_compressed": comp,
                "ratio": [
                    round(c / b, 6) if b else 1.0 for c, b in zip(comp, n)
                ],
            }
        )


@query("doc_compression_ratio")  # rows-only: zlib output is library-specific
def doc_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (the Dolma/FineWeb-family
    heuristic): highly repetitive or templated documents deflate far
    below normal prose, and near-random noise doesn't deflate at all —
    both tails are what a pre-training filter drops. Ratio =
    compressed/raw bytes at a fixed zlib level.

    Rows-only by design: the exact deflate byte count is zlib-build-
    specific, so semantics are pinned by tests (monotonicity on
    constructed repetitive vs high-entropy docs) rather than a DuckDB
    oracle. 100 TB shape: one Arrow-batched pass, zero shuffle.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        compression_ratio_batches,
        "doc_id LONG, n_bytes INT, n_compressed INT, ratio DOUBLE",
    )


# ---------------------------------------------------------------------------
# Key-skew diagnostic (the pre-salting / join-strategy check).
# ---------------------------------------------------------------------------

SKEW_TOP_KEYS = 20


@query(
    "diagnose_key_skew",
    oracle=f"""
WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
t AS (SELECT sum(n) AS tot, count(*) AS n_keys FROM c)
SELECT c.user_id, CAST(c.n AS BIGINT) AS n,
       floor(CAST(c.n AS DOUBLE) / t.tot * 10000 + 0.5) / 10000 AS share,
       floor(CAST(c.n AS DOUBLE) * t.n_keys / t.tot * 10000 + 0.5) / 10000
         AS skew_ratio
FROM c, t
ORDER BY c.n DESC, c.user_id
LIMIT {SKEW_TOP_KEYS}
""",
)
def diagnose_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic: the heaviest keys with their share of all
    rows and their skew ratio (count / mean-count-per-key). This is the
    report a 100 TB pipeline materializes BEFORE picking a join/agg
    strategy — skew_ratio >> 1 on a join key means salting or AQE skew
    handling; share near 1 means broadcast the other side.

    Scale shape: one map-side-combined count per key, a 1-row scalar
    broadcast, and a TakeOrderedAndProject cut — heavy keys surface
    without any global sort. floor-based rounding keeps the ratio
    columns engine-exact (round4f rationale in catalog.py).
    """
    ev = load_table(spark, sf_dir, "events")
    # pinned: the totals broadcast re-executed the scan + count agg
    counts = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    totals = counts.agg(
        F.sum("n").alias("tot"), F.count(F.lit(1)).alias("n_keys")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "user_id",
            F.col("n").cast("long").alias("n"),
            round4f(F.col("n").cast("double") / F.col("tot")).alias("share"),
            round4f(
                F.col("n").cast("double") * F.col("n_keys") / F.col("tot")
            ).alias("skew_ratio"),
        )
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(SKEW_TOP_KEYS)
    )


# ---------------------------------------------------------------------------
# Per-source curation report (the domain-slice triage view).
# ---------------------------------------------------------------------------

SHORT_DOC_TOKENS = 20  # under this, a doc is "short" for curation triage


@query(
    "source_quality_report",
    oracle=f"""
WITH per_doc AS (
  SELECT source,
         md5(lower(trim(text))) AS norm_hash,
         n_chars,
         len(string_split(lower(text), ' ')) AS n_tokens
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT norm_hash) AS BIGINT) AS n_distinct_texts,
       round((count(*) - count(DISTINCT norm_hash))
             / CAST(count(*) AS DOUBLE), 6) AS dup_rate,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(sum(n_tokens) / CAST(count(*) AS DOUBLE), 6) AS mean_tokens,
       round(sum(CASE WHEN n_tokens < {SHORT_DOC_TOKENS} THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS short_doc_rate
FROM per_doc
GROUP BY source
ORDER BY source
""",
)
def source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source (domain) curation triage: volume, exact-dup rate,
    token mass, mean length, short-doc rate. The slice a pipeline
    operator reads before deciding to keep, down-sample, or drop a
    source — domain-level curation is standard practice for web-scale
    training corpora, and per-SOURCE dup rate is the classic signal of
    a crawler trap or mirror.

    100 TB shape: one hash aggregate keyed by source (map-side
    combined; source cardinality is tiny next to docs). distinct-text
    counting rides the same shuffle via count(DISTINCT) over the
    normalized-text hash. All outputs are integers or exact-int
    quotients (the corpus_vocab_stats determinism argument).
    """
    # Distinct-text counting rides an md5 of the normalized text, not
    # the text itself: the distinct shuffle then carries 32-byte digests
    # instead of document bodies (measured 6.4s -> 2.6s at 10x; at
    # 100 TB the difference is shuffling hashes vs shuffling the corpus).
    # Both engines compute the same md5, so the oracle mirrors exactly.
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        F.md5(F.lower(F.trim("text"))).alias("norm_hash"),
        "n_chars",
        F.size(F.split(F.lower("text"), " ")).alias("n_tokens"),
    )
    n = F.count(F.lit(1))
    nd = F.countDistinct("norm_hash")
    return (
        docs.groupBy("source")
        .agg(
            n.alias("n_docs"),
            nd.alias("n_distinct_texts"),
            F.round((n - nd) / n.cast("double"), 6).alias("dup_rate"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(
                F.sum("n_tokens") / n.cast("double"), 6
            ).alias("mean_tokens"),
            F.round(
                F.sum(
                    F.when(F.col("n_tokens") < SHORT_DOC_TOKENS, 1).otherwise(0)
                )
                / n.cast("double"),
                6,
            ).alias("short_doc_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Contiguous global ids without a single-partition sort.
# ---------------------------------------------------------------------------


@query(
    "assign_contiguous_ids",
    oracle="""
SELECT CAST(row_number() OVER (ORDER BY lang, doc_id) - 1 AS BIGINT) AS new_id,
       doc_id, lang
FROM documents
""",
)
def assign_contiguous_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign dense ids 0..n-1 in (lang, doc_id) order — the standard
    "stable contiguous row ids for a training shard" need — WITHOUT the
    naive `row_number() OVER (ORDER BY ...)` plan, whose empty
    PARTITION BY collapses the whole table into ONE partition (the
    classic driver-sized bottleneck at 100 TB).

    Delegates to the engine's shared two-phase rank
    (`analytic._global_row_number`: range-repartition, partition-local
    row_number, offsets via a tiny broadcast self-join — fully
    distributed, no driver collect). Output is independent of the
    sampled range boundaries because ids depend only on the global
    order. The plan-shape test pins the absence of a SinglePartition
    exchange.
    """
    from ..operators.analytic import _global_row_number

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    ranked = _global_row_number(docs, [F.asc("lang"), F.asc("doc_id")], with_total=False)
    return ranked.select(
        (F.col("_rn") - 1).cast("long").alias("new_id"), "doc_id", "lang"
    )


# ---------------------------------------------------------------------------
# Token-balanced output sharding.
# ---------------------------------------------------------------------------

N_OUTPUT_SHARDS = 8


@query(
    "shard_balanced_tokens",
    oracle=f"""
WITH sized AS (
  SELECT doc_id,
         len(string_split(lower(text), ' ')) AS n_tokens,
         row_number() OVER (ORDER BY len(string_split(lower(text), ' ')) DESC,
                            doc_id) AS rn
  FROM documents
)
SELECT CAST((rn - 1) % {N_OUTPUT_SHARDS} AS BIGINT) AS shard_id,
       doc_id, CAST(n_tokens AS BIGINT) AS n_tokens
FROM sized
""",
)
def shard_balanced_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign docs to N output shards with near-equal TOKEN mass (not
    row counts) — the write layout a training pipeline wants so every
    data-loader worker streams the same work. Deterministic greedy:
    docs ranked by size descending, dealt round-robin — within
    max(n_tokens) of perfectly balanced, no bin-packing solver.

    The global rank is the engine's shared two-phase form
    (`analytic._global_row_number`) — partial TakeOrdered is wrong here
    because every row needs a rank.
    """
    from ..operators.analytic import _global_row_number

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.lower("text"), " ")).alias("n_tokens")
    )
    ranked = _global_row_number(docs, [F.desc("n_tokens"), F.asc("doc_id")], with_total=False)
    return ranked.select(
        F.pmod(F.col("_rn") - 1, F.lit(N_OUTPUT_SHARDS)).cast("long").alias("shard_id"),
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


# Temperature exponent for source re-weighting (the mT5/XLM-R value;
# alpha < 1 upweights low-resource sources relative to natural share).
MIX_TEMPERATURE_ALPHA = 0.3
MIX_SAMPLE_BUDGET = 100_000


@query(
    "mix_temperature_weights",
    oracle=f"""
WITH per_source AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens
  FROM documents
  GROUP BY source
),
tot AS (
  SELECT sum(n_tokens) AS total_tokens,
         sum(pow(CAST(n_tokens AS DOUBLE) / (SELECT sum(n_tokens) FROM per_source),
                 {MIX_TEMPERATURE_ALPHA})) AS z
  FROM per_source
)
SELECT source, n_docs, n_tokens,
       floor(p * 10000 + 0.5) / 10000 AS natural_share,
       floor(q * 10000 + 0.5) / 10000 AS mix_weight,
       CAST(floor(q * {MIX_SAMPLE_BUDGET} + 0.5) AS BIGINT) AS budget_docs
FROM (
  SELECT source, n_docs, n_tokens,
         CAST(n_tokens AS DOUBLE) / total_tokens AS p,
         pow(CAST(n_tokens AS DOUBLE) / total_tokens, {MIX_TEMPERATURE_ALPHA}) / z AS q
  FROM per_source, tot
) t
ORDER BY source
""",
)
def mix_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source re-weighting for corpus mixing (the
    mT5/XLM-R scheme, public): each source's natural token share p_s is
    flattened to q_s ∝ p_s^α (α = 0.3), upweighting low-resource
    sources; ``budget_docs`` allocates a fixed sampling budget by the
    flattened weights. The table every multilingual/multi-domain
    pretraining mix starts from.

    Plan: one map-side-combined per-source aggregate (output bounded by
    source cardinality), totals via a broadcast one-row frame — the
    same one-shuffle shape as source_quality_report. Determinism: both
    engines compute pow/div in IEEE doubles; published values round
    through the repo's floor(x·1e4+0.5) discipline."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " ")).cast("long")).cast("long").alias("n_tokens"),
    )
    p = F.col("n_tokens").cast("double") / F.col("total_tokens")
    tot = per_source.agg(
        F.sum("n_tokens").alias("total_tokens"),
    )
    with_p = per_source.crossJoin(F.broadcast(tot)).withColumn(
        "p", p
    ).withColumn("pw", F.pow("p", F.lit(MIX_TEMPERATURE_ALPHA)))
    z = with_p.agg(F.sum("pw").alias("z"))
    q = F.col("pw") / F.col("z")
    return (
        with_p.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            round4f("p").alias("natural_share"),
            round4f(q).alias("mix_weight"),
            F.floor(q * MIX_SAMPLE_BUDGET + F.lit(0.5)).cast("long").alias("budget_docs"),
        )
        .orderBy("source")
    )


CHUNK_TOKENS = 128   # window width (tokens)
CHUNK_STRIDE = 96    # stride; 32-token overlap between neighbors


@query(
    "chunk_documents",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t, len(string_split(text, ' ')) AS n
  FROM documents
),
spans AS (
  SELECT doc_id, n, unnest(range(0,
           CASE WHEN n <= {CHUNK_TOKENS} THEN 1
                ELSE (n - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1) // {CHUNK_STRIDE} + 1
           END)) AS chunk_idx
  FROM toks
)
SELECT s.doc_id,
       CAST(s.chunk_idx AS INT) AS chunk_idx,
       array_to_string(
         list_slice(t.t, s.chunk_idx * {CHUNK_STRIDE} + 1,
                    least(s.chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}, s.n)),
         ' ') AS chunk_text,
       CAST(least({CHUNK_TOKENS}, s.n - s.chunk_idx * {CHUNK_STRIDE}) AS INT)
         AS n_tokens
FROM spans s JOIN toks t ON s.doc_id = t.doc_id
ORDER BY s.doc_id, chunk_idx
""",
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the RAG-indexing / long-doc
    training-window splitter: each document becomes ceil((n - W)/S) + 1
    overlapping chunks of up to W = {CHUNK_TOKENS} tokens at stride
    S = {CHUNK_STRIDE} (last chunk truncated, every token covered,
    neighbors overlap by W - S tokens).

    Plan: tokens materialized once, chunk spans explode from a
    sequence (codegen), each chunk a slice+concat_ws projection — one
    narrow explode, NO shuffle until the presentation sort; at 100 TB
    this rides the scan like every other per-doc op."""
    docs = load_table(spark, sf_dir, "documents")
    W, S = CHUNK_TOKENS, CHUNK_STRIDE
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).withColumn(
        "n", F.size("t")
    )
    n_chunks = F.expr(
        f"IF(n <= {W}, 1, (n - {W} + {S} - 1) div {S} + 1)"
    )
    spans = toks.select(
        "doc_id", "t", "n",
        F.explode(F.sequence(F.lit(0), n_chunks.cast("int") - 1)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * S
    return spans.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.concat_ws(" ", F.expr(f"slice(t, chunk_idx * {S} + 1, {W})")).alias(
            "chunk_text"
        ),
        F.least(F.lit(W), F.col("n") - start).cast("int").alias("n_tokens"),
    ).orderBy("doc_id", "chunk_idx")


DRIFT_BUCKETS = 10  # equal-width histogram cells for the PSI


@query(
    "drift_report_value_psi",
    oracle=f"""
WITH b AS (
  SELECT min(value) AS vmin, max(value) AS vmax,
         min(epoch_us(ts)) AS tmin, max(epoch_us(ts)) AS tmax
  FROM events
),
tagged AS (
  SELECT CASE WHEN epoch_us(e.ts) <= b.tmin + (b.tmax - b.tmin) // 2
              THEN 0 ELSE 1 END AS half,
         least({DRIFT_BUCKETS - 1}, greatest(0,
           CAST(floor((e.value - b.vmin) / (b.vmax - b.vmin)
                      * {DRIFT_BUCKETS}) AS INT))) AS bucket
  FROM events e, b
),
counts AS (
  SELECT bucket,
         sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n_base,
         sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n_curr
  FROM tagged GROUP BY bucket
),
tot AS (SELECT sum(n_base) AS tb, sum(n_curr) AS tc FROM counts),
probs AS (
  SELECT bucket, n_base, n_curr,
         (CAST(n_base AS DOUBLE) + 0.5)
           / (CAST(tb AS DOUBLE) + {DRIFT_BUCKETS / 2.0}) AS pb,
         (CAST(n_curr AS DOUBLE) + 0.5)
           / (CAST(tc AS DOUBLE) + {DRIFT_BUCKETS / 2.0}) AS pc
  FROM counts, tot
)
SELECT bucket,
       CAST(n_base AS BIGINT) AS n_base,
       CAST(n_curr AS BIGINT) AS n_curr,
       floor(pb * 10000 + 0.5) / 10000 AS p_base,
       floor(pc * 10000 + 0.5) / 10000 AS p_curr,
       floor((pc - pb) * CAST(ln(pc / pb) AS DECIMAL(18,6)) * 10000 + 0.5)
         / 10000 AS psi_term
FROM probs
""",
)
def drift_report_value_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift report — the data-quality gate a recurring
    ingestion pipeline runs before accepting a new crawl/batch: split
    events at the midpoint of their time range into a baseline and a
    current half, histogram `value` into equal-width cells over the
    GLOBAL range, and emit each cell's population share in both halves
    plus its Population-Stability-Index term
    (p_curr - p_base) * ln(p_curr / p_base). Σ psi_term < 0.1 is the
    classic "no action" threshold; 0.1-0.25 "monitor"; > 0.25 "drifted".
    Counts are Laplace-smoothed (+0.5 per cell) so empty cells stay
    finite — the standard PSI practice.

    Cross-engine exactness: the split point is INTEGER microsecond
    arithmetic (floor-div, no float); cell assignment, smoothing, and
    shares are IEEE doubles in the same operation order on both
    engines; the ln() divergence (1 ulp on ~1% of inputs) snaps to
    DECIMAL(18,6) before the multiply, and every published ratio
    rounds via the floor form.

    100 TB shape: one map-side-combined aggregate over (bucket, half)
    — cell-cardinality-bounded state — plus two 1-row broadcast
    frames (bounds, totals). Nothing data-sized shuffles except the
    10-cell count rows."""
    ev = load_table(spark, sf_dir, "events")
    k = DRIFT_BUCKETS
    b = F.broadcast(
        ev.agg(
            F.min("value").alias("vmin"), F.max("value").alias("vmax"),
            F.min(F.unix_micros("ts")).alias("tmin"),
            F.max(F.unix_micros("ts")).alias("tmax"),
        )
    )
    tagged = ev.crossJoin(b).select(
        F.when(
            F.unix_micros("ts")
            <= F.col("tmin") + F.expr("(tmax - tmin) div 2"),
            0,
        ).otherwise(1).alias("half"),
        F.least(
            F.lit(k - 1),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("value") - F.col("vmin"))
                    / (F.col("vmax") - F.col("vmin"))
                    * k
                ).cast("int"),
            ),
        ).alias("bucket"),
    )
    counts = tagged.groupBy("bucket").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n_base"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n_curr"),
    )
    tot = F.broadcast(
        counts.agg(F.sum("n_base").alias("tb"), F.sum("n_curr").alias("tc"))
    )
    pb = (F.col("n_base").cast("double") + 0.5) / (
        F.col("tb").cast("double") + k / 2.0
    )
    pc = (F.col("n_curr").cast("double") + 0.5) / (
        F.col("tc").cast("double") + k / 2.0
    )
    return counts.crossJoin(tot).select(
        "bucket",
        F.col("n_base").cast("long").alias("n_base"),
        F.col("n_curr").cast("long").alias("n_curr"),
        round4f(pb).alias("p_base"),
        round4f(pc).alias("p_curr"),
        round4f(
            (pc - pb) * F.log(pc / pb).cast("decimal(18,6)")
        ).alias("psi_term"),
    )


@query(
    "validate_expectations",
    oracle="""
SELECT 'lineitem.quantity_in_1_50' AS rule,
       CAST(count(*) AS BIGINT) AS n_checked,
       CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
FROM lineitem
UNION ALL
SELECT 'lineitem.discount_in_0_0.1',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem.extendedprice_positive',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l_extendedprice IS NULL OR l_extendedprice <= 0
                     THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem.shipdate_not_null',
       CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'lineitem.orderkey_refs_orders',
       CAST(count(*) AS BIGINT),
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
            AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'orders.custkey_refs_customer',
       CAST(count(*) AS BIGINT),
       CAST((SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
            AS BIGINT)
FROM orders
ORDER BY rule
""",
)
def validate_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-validation suite (the Great-Expectations /
    dbt-test shape): per rule, rows checked and rows violating — range
    checks, non-null checks, and referential integrity, evaluated in
    ONE pass per table plus one anti-join per FK rule. The gate a
    production load runs before promoting a batch.

    Plan shape: the four lineitem range/null rules fold into a single
    map-side-combined aggregate over one scan (not four); each FK rule
    is a left-anti count against the (typically broadcast) parent key
    set. Output is rule-cardinality-bounded."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    def viol(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    one_pass = li.agg(
        F.count(F.lit(1)).alias("n"),
        viol((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias("qty"),
        viol((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).alias("disc"),
        viol(
            F.col("l_extendedprice").isNull() | (F.col("l_extendedprice") <= 0)
        ).alias("price"),
        viol(F.col("l_shipdate").isNull()).alias("ship"),
    )
    rules = one_pass.selectExpr(
        "stack(4, "
        "'lineitem.quantity_in_1_50', n, qty, "
        "'lineitem.discount_in_0_0.1', n, disc, "
        "'lineitem.extendedprice_positive', n, price, "
        "'lineitem.shipdate_not_null', n, ship) "
        "AS (rule, n_checked, n_violations)"
    )
    li_orphans = li.join(
        orders.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey",
        "left_anti",
    ).count()
    o_orphans = orders.join(
        customer.select(F.col("c_custkey").alias("o_custkey")), "o_custkey",
        "left_anti",
    ).count()
    li_n = li.count()
    o_n = orders.count()
    fk = spark.createDataFrame(
        [
            ("lineitem.orderkey_refs_orders", li_n, li_orphans),
            ("orders.custkey_refs_customer", o_n, o_orphans),
        ],
        "rule STRING, n_checked LONG, n_violations LONG",
    )
    return rules.unionByName(fk).orderBy("rule")


WSAMPLE_K = 100
WSAMPLE_SALT = "wsample-v1"
_WSAMPLE_SPACE = float(2**52) + 1.0  # 13 hex chars = 52 uniform bits


def weighted_sample(docs: DataFrame, k: int, salt: str) -> DataFrame:
    """Deterministic weighted K-sample without replacement (Efraimidis-
    Spirakis exponential race): each row draws u ~ Uniform(0,1) from a
    salted md5 and races with key = -ln(u) / weight; the K smallest
    keys win, giving inclusion probability proportional to weight —
    the mixture-construction primitive (sample docs ∝ token count,
    sources ∝ temperature weight) with the same salt-versioned
    stability contract as train_val_split.

    Determinism: u is integer md5 arithmetic; the race key snaps to
    DECIMAL(28,12) (the ln 1-ulp discipline) with doc_id tiebreak.
    Scale: orderBy+limit plans as TakeOrderedAndProject — per-partition
    top-K then a K-row driver merge, no global sort, no window."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col("doc_id").cast("string"))),
            1, 13,
        ),
        16, 10,
    ).cast("long")
    u = (h + F.lit(1.0)) / F.lit(_WSAMPLE_SPACE)
    key = (-F.log(u) / F.greatest(F.col("n_chars"), F.lit(1))).cast(
        "decimal(28,12)"
    )
    return (
        docs.select("doc_id", "n_chars", key.alias("race_key"))
        .orderBy("race_key", "doc_id")
        .limit(k)
        .select("doc_id", "n_chars", F.col("race_key").cast("double").alias("race_key"))
    )


@query(
    "sample_weighted_docs",
    oracle=f"""
WITH keyed AS (
  SELECT doc_id, n_chars,
         CAST(-ln((('0x' || substr(md5('{WSAMPLE_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
                   + 1.0) / {_WSAMPLE_SPACE!r})
              / greatest(n_chars, 1) AS DECIMAL(28,12)) AS race_key
  FROM documents
)
SELECT doc_id, n_chars, CAST(race_key AS DOUBLE) AS race_key
FROM keyed
ORDER BY race_key, doc_id
LIMIT {WSAMPLE_K}
""",
)
def sample_weighted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-weighted document sample: K docs with inclusion probability
    proportional to n_chars (long docs carry more of the token budget,
    so a char-weighted sample estimates corpus statistics with lower
    variance than a uniform one). See `weighted_sample` for the
    exponential-race mechanics and determinism contract; the weight-
    proportional inclusion property is pinned statistically in
    tests/test_pipeline.py across independent salts."""
    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(docs, WSAMPLE_K, WSAMPLE_SALT)


@query(
    "drift_report_value_ks",
    oracle="""
WITH b AS (
  SELECT min(epoch_us(ts)) AS tmin, max(epoch_us(ts)) AS tmax FROM events
),
tagged AS (
  SELECT e.value,
         CASE WHEN epoch_us(e.ts) <= b.tmin + (b.tmax - b.tmin) // 2
              THEN 0 ELSE 1 END AS half
  FROM events e, b
),
per_value AS (
  SELECT value,
         sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c0,
         sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c1
  FROM tagged GROUP BY value
),
tot AS (SELECT sum(c0) AS n0, sum(c1) AS n1 FROM per_value),
cdf AS (
  SELECT sum(c0) OVER (ORDER BY value) AS a0,
         sum(c1) OVER (ORDER BY value) AS a1,
         n0, n1
  FROM per_value, tot
)
SELECT CAST(max(n0) AS BIGINT) AS n_base,
       CAST(max(n1) AS BIGINT) AS n_curr,
       floor(max(abs(CAST(a0 AS DOUBLE) / n0 - CAST(a1 AS DOUBLE) / n1))
             * 10000 + 0.5) / 10000 AS ks_stat
FROM cdf
""",
)
def drift_report_value_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov drift statistic — the nonparametric sibling of
    `drift_report_value_psi`: max over all values of the distance
    between the baseline and current halves' empirical CDFs. Binning-
    free (PSI's equal-width cells can hide within-cell shifts), exact,
    and the standard two-sample test statistic a monitoring gate feeds
    into the KS significance bound sqrt(-ln(alpha/2) * (n0+n1)/(2*n0*n1)).

    Determinism: CDF arithmetic is exact integers until the final
    divisions (same op order both engines), midpoint split is integer
    microseconds, result through the floor form.

    100 TB shape: rows collapse to (value, c0, c1) first (distinct-
    value-bounded), then the global CDF cumsum runs in the TWO-PHASE
    form (`_global_row_number`'s pattern: range partitions + local
    window + per-partition offset self-join) — no single-partition
    WindowExec at any scale; the final max is map-side-combinable.
    The range-partitioned frame is localCheckpoint-ed so both phases
    read one materialized RDD (consistent _pid by construction, not by
    ReuseExchange luck — see the inline note and the plan pin in
    tests/test_plans.py)."""
    ev = load_table(spark, sf_dir, "events")
    b = F.broadcast(
        ev.agg(
            F.min(F.unix_micros("ts")).alias("tmin"),
            F.max(F.unix_micros("ts")).alias("tmax"),
        )
    )
    tagged = ev.crossJoin(b).select(
        "value",
        F.when(
            F.unix_micros("ts") <= F.col("tmin") + F.expr("(tmax - tmin) div 2"), 0
        ).otherwise(1).alias("half"),
    )
    per_value = tagged.groupBy("value").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"),
    )
    tot = F.broadcast(per_value.agg(F.sum("c0").alias("n0"), F.sum("c1").alias("n1")))
    # localCheckpoint pins the range-partitioned frame: the window
    # branch and the counts/offsets branch both read the SAME
    # materialized RDD, so their _pid assignments cannot diverge. The
    # declarative form fed both branches from one `repartitionByRange`
    # subtree and relied on ReuseExchange to dedup it — but Catalyst
    # only deduped PARTIALLY here (two materialized range exchanges in
    # the final AQE plan, each sampling its own RangePartitioner
    # boundaries), exactly the silent mis-pairing hazard ADVICE r5
    # flagged. The checkpointed frame is per-distinct-value (already
    # collapsed), so the materialization is value-bounded, not
    # data-sized. eager=False keeps the query lazy.
    part = (
        per_value.repartitionByRange("value")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = part.withColumn("_l0", F.sum("c0").over(w)).withColumn(
        "_l1", F.sum("c1").over(w)
    )
    # Partition totals from the WINDOWED frame (max of a nonnegative
    # running sum = the partition's last row = its total), NOT from
    # `part` directly: deriving both branches from `local` makes every
    # consumer share one canonical subtree, so ReuseExchange dedups the
    # range exchange COMPLETELY (1 materialized + N reused — same shape
    # as analytic._global_row_number, pinned in test_plans). With
    # counts built from `part` the window and counts branches planned
    # two separate range exchanges, each sampling its own partition
    # boundaries — the _pid mis-pairing hazard ADVICE r5 flagged.
    counts = local.groupBy("_pid").agg(
        F.max("_l0").alias("_t0"), F.max("_l1").alias("_t1")
    )
    c2 = counts.select(
        F.col("_pid").alias("_pid2"),
        F.col("_t0").alias("_t0b"),
        F.col("_t1").alias("_t1b"),
    )
    offsets = (
        counts.join(c2, F.col("_pid2") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(
            F.coalesce(F.sum("_t0b"), F.lit(0)).alias("_o0"),
            F.coalesce(F.sum("_t1b"), F.lit(0)).alias("_o1"),
        )
    )
    cdf = (
        local.join(F.broadcast(offsets), "_pid")
        .select(
            (F.col("_l0") + F.col("_o0")).alias("a0"),
            (F.col("_l1") + F.col("_o1")).alias("a1"),
        )
        .crossJoin(tot)
    )
    return cdf.agg(
        F.max("n0").cast("long").alias("n_base"),
        F.max("n1").cast("long").alias("n_curr"),
        round4f(
            F.max(
                F.abs(
                    F.col("a0").cast("double") / F.col("n0")
                    - F.col("a1").cast("double") / F.col("n1")
                )
            )
        ).alias("ks_stat"),
    )


@query(
    "drift_report_ks_by_type",
    oracle="""
WITH b AS (
  SELECT min(epoch_us(ts)) AS tmin, max(epoch_us(ts)) AS tmax FROM events
),
tagged AS (
  SELECT e.event_type, e.value,
         CASE WHEN epoch_us(e.ts) <= b.tmin + (b.tmax - b.tmin) // 2
              THEN 0 ELSE 1 END AS half
  FROM events e, b
),
per_value AS (
  SELECT event_type, value,
         sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c0,
         sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c1
  FROM tagged GROUP BY event_type, value
),
tot AS (
  SELECT event_type, sum(c0) AS n0, sum(c1) AS n1
  FROM per_value GROUP BY event_type
),
cdf AS (
  SELECT p.event_type,
         sum(c0) OVER (PARTITION BY p.event_type ORDER BY value) AS a0,
         sum(c1) OVER (PARTITION BY p.event_type ORDER BY value) AS a1,
         t.n0, t.n1
  FROM per_value p JOIN tot t USING (event_type)
)
SELECT event_type,
       CAST(max(n0) AS BIGINT) AS n_base,
       CAST(max(n1) AS BIGINT) AS n_curr,
       floor(max(abs(CAST(a0 AS DOUBLE) / n0 - CAST(a1 AS DOUBLE) / n1))
             * 10000 + 0.5) / 10000 AS ks_stat
FROM cdf
GROUP BY event_type
ORDER BY event_type
""",
)
def drift_report_ks_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP Kolmogorov-Smirnov drift — `drift_report_value_ks`
    stratified by event_type: a global KS can miss a drift confined to
    one event class (opposing shifts cancel in the pooled CDF), so the
    monitoring gate a real pipeline runs is per-stratum. Same midpoint
    split, same exact-integer CDF arithmetic, same floor-form rounding.

    Scale shape: the grouped twin of the checkpointed two-phase CDF
    (events_winsorized_stats uses the identical skeleton) — rows
    collapse to (event_type, value, c0, c1) first, the range-
    partitioned frame is localCheckpoint-ed (both cumsum branches read
    ONE materialized RDD; consistent _pid by construction), offsets
    join within (event_type, _pid) — group-×-partition-bounded — and
    the final max is map-side-combinable per type."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    b = F.broadcast(
        ev.agg(
            F.min(F.unix_micros("ts")).alias("tmin"),
            F.max(F.unix_micros("ts")).alias("tmax"),
        )
    )
    tagged = ev.crossJoin(b).select(
        "event_type",
        "value",
        F.when(
            F.unix_micros("ts") <= F.col("tmin") + F.expr("(tmax - tmin) div 2"), 0
        ).otherwise(1).alias("half"),
    )
    per_value = tagged.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"),
    )
    part = (
        per_value.repartitionByRange("event_type", "value")
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    w = (
        Window.partitionBy("event_type", "_pid")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = part.withColumn("_l0", F.sum("c0").over(w)).withColumn(
        "_l1", F.sum("c1").over(w)
    )
    counts = local.groupBy("event_type", "_pid").agg(
        F.max("_l0").alias("_t0"), F.max("_l1").alias("_t1")
    )
    c2 = counts.select(
        F.col("event_type").alias("_et2"),
        F.col("_pid").alias("_pid2"),
        F.col("_t0").alias("_t0b"),
        F.col("_t1").alias("_t1b"),
    )
    offsets = (
        counts.join(
            c2,
            (F.col("_et2") == F.col("event_type"))
            & (F.col("_pid2") < F.col("_pid")),
            "left",
        )
        .groupBy("event_type", "_pid")
        .agg(
            F.coalesce(F.sum("_t0b"), F.lit(0)).alias("_o0"),
            F.coalesce(F.sum("_t1b"), F.lit(0)).alias("_o1"),
        )
    )
    totals = counts.groupBy("event_type").agg(
        F.sum("_t0").alias("n0"), F.sum("_t1").alias("n1")
    )
    cdf = (
        local.join(F.broadcast(offsets), ["event_type", "_pid"])
        .select(
            "event_type",
            (F.col("_l0") + F.col("_o0")).alias("a0"),
            (F.col("_l1") + F.col("_o1")).alias("a1"),
        )
        .join(F.broadcast(totals), "event_type")
    )
    return (
        cdf.groupBy("event_type")
        .agg(
            F.max("n0").cast("long").alias("n_base"),
            F.max("n1").cast("long").alias("n_curr"),
            round4f(
                F.max(
                    F.abs(
                        F.col("a0").cast("double") / F.col("n0")
                        - F.col("a1").cast("double") / F.col("n1")
                    )
                )
            ).alias("ks_stat"),
        )
        .orderBy("event_type")
    )


@query(
    "corpus_dup_inflation",
    oracle="""
WITH t AS (
  SELECT source,
         len(string_split(lower(text), ' ')) AS ntok,
         row_number() OVER (PARTITION BY md5(lower(trim(text)))
                            ORDER BY doc_id) AS rn
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ntok) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
       CAST(sum(CASE WHEN rn > 1 THEN ntok ELSE 0 END) AS BIGINT) AS dup_tokens,
       floor(CAST(sum(CASE WHEN rn > 1 THEN ntok ELSE 0 END) AS DOUBLE)
             / sum(ntok) * 10000 + 0.5) / 10000 AS dup_token_frac
FROM t
GROUP BY source
ORDER BY source
""",
)
def corpus_dup_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-inflation accounting per source — the number a curation
    budget runs on: how many documents and TOKENS are exact-duplicate
    copies (beyond the keep-first canonical), i.e. what fraction of the
    training-token spend a dedup pass recovers, broken out by source so
    the crawl with the worst copy inflation is visible. (Near-dup and
    span-level recovery stack on top — this row is the exact-copy
    floor.)

    Scale shape: one min-over-text-hash window (the shared collapse
    exchange) + one source-bounded aggregate; the shuffle carries
    (hash, source, ntok), never document bodies twice."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    flagged = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.lower("text"), " ")).alias("ntok"),
        F.min("doc_id")
        .over(Window.partitionBy(F.md5(F.lower(F.trim("text")))))
        .alias("rep_id"),
    )
    is_dup = F.col("doc_id") != F.col("rep_id")
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ntok").cast("long").alias("n_tokens"),
            F.sum(F.when(is_dup, 1).otherwise(0)).cast("long").alias("dup_docs"),
            F.sum(F.when(is_dup, F.col("ntok")).otherwise(0))
            .cast("long")
            .alias("dup_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "dup_docs",
            "dup_tokens",
            round4f(
                F.col("dup_tokens").cast("double") / F.col("n_tokens")
            ).alias("dup_token_frac"),
        )
        .orderBy("source")
    )


@query(
    "dup_rate_by_source",
    oracle="""
WITH g AS (
  SELECT source, doc_id, lower(text) AS t FROM documents
),
tf AS (
  SELECT t, count(*) AS gsz, min(doc_id) AS keep_id FROM g GROUP BY t
)
SELECT g.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN tf.gsz > 1 AND g.doc_id <> tf.keep_id
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_redundant,
       floor(CAST(sum(CASE WHEN tf.gsz > 1 AND g.doc_id <> tf.keep_id
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 10000 + 0.5) / 10000 AS dup_rate
FROM g JOIN tf ON g.t = tf.t
GROUP BY g.source
ORDER BY g.source
""",
)
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate burden — the curation report a
    dedup pass starts from: how many of each source's documents are
    REDUNDANT copies (their lowercased text appears elsewhere and they
    are not the keep-first representative). Complements
    corpus_dup_inflation (corpus-level factor) with the
    per-source blame assignment.

    Scale shape: one groupBy on the text HASH (md5 — the exact-dedup
    family's key, so the shuffle moves 32-byte digests, never document
    bodies; the full-text key form moved every text twice and ran 2.6×
    slower at the 100× copy-flood probe), joined back on the same key;
    per-source rollup is source-bounded."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.md5(F.lower("text")).alias("t")
    )
    tf = docs.groupBy("t").agg(
        F.count(F.lit(1)).alias("gsz"), F.min("doc_id").alias("keep_id")
    )
    redundant = (
        (F.col("gsz") > 1) & (F.col("doc_id") != F.col("keep_id"))
    ).cast("int")
    return (
        docs.join(tf, "t")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(redundant).cast("long").alias("n_redundant"),
            round4f(
                F.sum(redundant).cast("double") / F.count(F.lit(1))
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


@query(
    "vocab_zipf_top100",
    oracle="""
SELECT t AS word, CAST(count(*) AS BIGINT) AS freq
FROM (SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents)
GROUP BY t
ORDER BY freq DESC, word
LIMIT 100
""",
)
def vocab_zipf_top100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The head of the corpus rank-frequency (Zipf) curve: the 100 most
    frequent whitespace tokens with exact counts (ties broken
    alphabetically, so the cut is deterministic). corpus_vocab_stats
    gives the aggregate health numbers; this is the eyeball list a
    tokenizer/stopword audit reads.

    Scale shape: exact-copy texts collapse to one weighted
    representative BEFORE the explode (the copy-flood discipline every
    dedup op here uses — a duplicate-heavy corpus otherwise pays the
    token explode once per copy: 30 s -> seconds at the 10×
    exact-copy probe), then map-side-combined weighted token counts
    (vocabulary-bounded, Heaps' law) and orderBy+limit — Spark plans
    TakeOrderedAndProject (per-partition top-100, one 100-row merge),
    never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    reps = docs.groupBy(F.lower("text").alias("t")).agg(
        F.count(F.lit(1)).alias("w")
    )
    return (
        reps.select(F.explode(F.split("t", " ")).alias("word"), "w")
        .groupBy("word")
        .agg(F.sum("w").cast("long").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(100)
    )


@query(
    "tokens_per_doc_percentiles",
    oracle="""
WITH n AS (
  SELECT lang, doc_id, len(string_split(lower(text), ' ')) AS n_tokens
  FROM documents
),
r AS (
  SELECT lang, n_tokens,
         row_number() OVER (PARTITION BY lang ORDER BY n_tokens) AS rn,
         count(*) OVER (PARTITION BY lang) AS cnt
  FROM n
)
SELECT lang,
       CAST(max(cnt) AS BIGINT) AS n_docs,
       CAST(max(CASE WHEN rn = (cnt + 1) // 2 THEN n_tokens END) AS BIGINT)
         AS p50_tokens,
       CAST(max(CASE WHEN rn = (cnt * 9 + 9) // 10 THEN n_tokens END) AS BIGINT)
         AS p90_tokens,
       CAST(max(n_tokens) AS BIGINT) AS max_tokens
FROM r
GROUP BY lang
ORDER BY lang
""",
)
def tokens_per_doc_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length distribution cut points (discrete
    p50/p90 — the value at rank (n+1) DIV 2 / ceil(0.9n), so there is
    no interpolation arithmetic to diverge between engines) plus max —
    the length-filter calibration table a curation pass reads before
    setting Gopher-style min/max token bounds.

    Scale shape: token counts are per-row expressions (no explode —
    size(split()) never materializes the token array); lengths collapse
    to (lang, n_tokens, c) and the cut points come from the
    value-collapsed grouped CDF (`_grouped_value_cdf`) — parallelism
    follows the length-value range split, never the (tiny) language
    cardinality, and length values are Zipf-bounded so the collapsed
    frame is effectively value-bounded at any corpus size."""
    from ..operators.analytic import _grouped_value_cdf

    docs = load_table(spark, sf_dir, "documents")
    n = docs.select(
        "lang", F.size(F.split(F.lower("text"), " ")).cast("long").alias("n_tokens")
    )
    collapsed = n.groupBy("lang", "n_tokens").agg(F.count(F.lit(1)).alias("c"))
    # Totals derive from the CHECKPOINTED cdf frame (max(cum) within a
    # lang IS the total count), not from `collapsed` — reading the
    # pre-checkpoint frame would execute the scan+tokenize+collapse
    # pipeline a second time per action (r8, advisor-directed; same
    # discipline as inter_event_gap_stats).
    cdf0 = _grouped_value_cdf(collapsed, "lang", "n_tokens")
    totals = cdf0.groupBy("lang").agg(
        F.max("cum").alias("n_docs"), F.max("n_tokens").alias("max_tokens")
    )
    cdf = cdf0.join(F.broadcast(totals.select("lang", "n_docs")), "lang")
    p50 = (
        cdf.where(F.col("cum") >= F.expr("(n_docs + 1) div 2"))
        .groupBy("lang")
        .agg(F.min("n_tokens").alias("p50_tokens"))
    )
    p90 = (
        cdf.where(F.col("cum") >= F.expr("(n_docs * 9 + 9) div 10"))
        .groupBy("lang")
        .agg(F.min("n_tokens").alias("p90_tokens"))
    )
    return (
        totals.join(p50, "lang")
        .join(p90, "lang")
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("p50_tokens").cast("long").alias("p50_tokens"),
            F.col("p90_tokens").cast("long").alias("p90_tokens"),
            F.col("max_tokens").cast("long").alias("max_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "lang_source_chi2_cells",
    oracle="""
WITH o AS (SELECT lang, source, count(*) AS observed FROM documents GROUP BY 1, 2),
r AS (SELECT lang, sum(observed) AS rt FROM o GROUP BY lang),
c AS (SELECT source, sum(observed) AS ct FROM o GROUP BY source),
n AS (SELECT sum(observed) AS n FROM o)
SELECT o.lang, o.source,
       CAST(o.observed AS BIGINT) AS observed,
       FLOOR(CAST(r.rt * c.ct AS DOUBLE) / n.n * 10000 + 0.5) / 10000
         AS expected,
       FLOOR(
         (o.observed - CAST(r.rt * c.ct AS DOUBLE) / n.n)
         * (o.observed - CAST(r.rt * c.ct AS DOUBLE) / n.n)
         / (CAST(r.rt * c.ct AS DOUBLE) / n.n) * 10000 + 0.5
       ) / 10000 AS chi2_contrib
FROM o, r, c, n
WHERE o.lang = r.lang AND o.source = c.source
ORDER BY o.lang, o.source
""",
)
def lang_source_chi2_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence grid for (lang × source) — is the
    language mix the same across sources? The statistical companion to
    PSI/KS drift (those compare value DISTRIBUTIONS over time; this
    tests independence of two categorical axes of the corpus). Emitted
    PER CELL (observed, expected, (O−E)²/E) rather than as one summed
    statistic: each cell's floats derive from ONE division of exact
    integer counts, so every row is engine-deterministic under
    round4f — a 15-double cross-engine summation-order hazard never
    exists. Clients sum chi2_contrib for the statistic (dof =
    (L−1)(S−1) is implied by the grid shape).

    Scale shape: one (lang, source) hash aggregate over the corpus;
    row/column/grand totals are grid-bounded re-aggregations of the
    ≤|L|·|S| cell frame; the three joins are broadcast-trivial."""
    docs = load_table(spark, sf_dir, "documents")
    o = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("observed"))
    r = o.groupBy("lang").agg(F.sum("observed").alias("rt"))
    c = o.groupBy("source").agg(F.sum("observed").alias("ct"))
    n = o.agg(F.sum("observed").alias("n"))
    e = (F.col("rt") * F.col("ct")).cast("double") / F.col("n")
    return (
        o.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "source",
            F.col("observed").cast("long").alias("observed"),
            round4f(e).alias("expected"),
            round4f(
                (F.col("observed") - e) * (F.col("observed") - e) / e
            ).alias("chi2_contrib"),
        )
        .orderBy("lang", "source")
    )


@query(
    "corpus_token_budget_by_source",
    oracle="""
WITH d AS (
  SELECT source,
         len(string_split(lower(text), ' ')) AS n_tokens
  FROM documents WHERE text IS NOT NULL
),
s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens
  FROM d GROUP BY 1
)
SELECT source, n_docs, total_tokens,
       floor(CAST(total_tokens AS DOUBLE) / sum(total_tokens) OVER ()
             * 10000 + 0.5) / 10000 AS token_share
FROM s ORDER BY source
""",
)
def corpus_token_budget_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budget — THE input to mixture weighting
    (mix_temperature_weights consumes shares like these): whitespace
    tokens per source, exact, with each source's share of the corpus
    budget. NULL text is dropped like the oracle's len(NULL) row.

    Scale shape: token counts are map-side size(split) (text never
    shuffles); one hash aggregate to the source vocabulary; the share
    divides by a broadcast 1-row total of the PINNED rollup
    (caller-pins-its-frame — the broadcast child must not re-run the
    corpus scan)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    s = (
        docs.select(
            "source",
            F.size(F.split(F.lower("text"), " ")).cast("long").alias("n_tokens"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .localCheckpoint(eager=False)
    )
    tot = s.agg(F.sum("total_tokens").alias("tot"))
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "total_tokens",
            round4f(
                F.col("total_tokens").cast("double") / F.col("tot")
            ).alias("token_share"),
        )
        .orderBy("source")
    )


@query(
    "dedup_savings_by_source",
    oracle="""
WITH g AS (
  SELECT source, md5(lower(text)) AS th, n_chars,
         CAST(count(*) AS BIGINT) AS w
  FROM documents WHERE text IS NOT NULL
  GROUP BY 1, 2, 3
)
SELECT source,
       CAST(sum(w) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(sum(w) - count(*) AS BIGINT) AS dup_docs,
       CAST(sum((w - 1) * n_chars) AS BIGINT) AS chars_saved
FROM g GROUP BY 1 ORDER BY 1
""",
)
def dedup_savings_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What exact dedup would save, per source: duplicate doc count
    and the bytes the non-representative copies occupy — the
    cost-benefit table a curation run reads BEFORE paying the dedup
    (dup_rate_by_source's rate, monetized into storage). All exact
    integer sums over the digest collapse.

    Scale shape: ONE (source, md5, n_chars) hash aggregate — only
    32-byte digests enter the exchange, never text (the r7 copy-flood
    discipline); n_chars rides in the KEY so an anomalous copy keeps
    its own group (the doc_length_token_corr rule); the per-source
    rollup runs on the collapsed frame."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    g = docs.groupBy(
        "source", F.md5(F.lower("text")).alias("th"), "n_chars"
    ).agg(F.count(F.lit(1)).alias("w"))
    return (
        g.groupBy("source")
        .agg(
            F.sum("w").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            (F.sum("w") - F.count(F.lit(1))).cast("long").alias("dup_docs"),
            F.sum((F.col("w") - 1) * F.col("n_chars")).cast("long").alias(
                "chars_saved"
            ),
        )
        .orderBy("source")
    )
