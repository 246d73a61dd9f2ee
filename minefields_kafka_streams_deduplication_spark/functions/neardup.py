"""Near-duplicate text detection (SURVEY.md §2.3 D6 / §2.8 V2; the
LLM-pipeline dedup family mandated by BASELINE.json:6).

Three detectors over word-3-gram shingles of `documents.text`:

* n-gram Jaccard  — exact pairwise set similarity (oracle-checked).
* MinHash + LSH   — 128 hash mins, banded into buckets; candidate pairs
                    verified with true Jaccard (rows-only: hash values
                    are engine-specific).
* SimHash         — 64-bit sign-aggregated fingerprint, near-dup =
                    small Hamming distance (rows-only).

Scale notes (100 TB): the Jaccard self-join on raw shingles is bounded
by shingle-frequency skew — hot shingles (boilerplate) must be dropped
(a standard document-frequency cap) before the join; MinHash/LSH is the
real scale path because its shuffle key is the fixed-width band
signature, never the text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query

JACCARD_THRESHOLD = 0.8
MINHASH_PERMS = 64
MINHASH_BANDS = 16  # 16 bands × 4 rows: P(detect | jaccard=0.8) ≈ 99.98%
MINHASH_VERIFY_THRESHOLD = 0.7
SIMHASH_BITS = 64
SIMHASH_MAX_HAMMING = 3


def _shingles(df: DataFrame, id_col: str = "doc_id", distinct: bool = True) -> DataFrame:
    """Word-3-gram shingles per document (lowercased). ``distinct=True``
    gives set semantics (required for Jaccard); min-hash consumers pass
    ``distinct=False`` — duplicates cannot change a min.

    ``distinct=True`` dedupes PER ROW as of r12 (guide §1.2 — fix the
    per-task work once the shape is right): a (doc_id, shingle) global
    distinct can only ever dedupe WITHIN a document (doc_id is part of
    the key), so `array_distinct` over the zipped triple array before
    the explode produces the same row multiset. The old `.distinct()`
    compiled to TWO token-volume HashAggregate passes (its exchange was
    already elided — the fan-out repartition by id satisfies the
    clustering requirement — but each pass still built a hash table
    over every (doc_id, shingle) row per partition, a spill risk at
    corpus scale; per-row array_distinct peaks at one doc's triples).
    Distinct token TRIPLES map 1:1 to distinct shingle strings (tokens
    are split on ' ', so they cannot contain the join character), and
    array_distinct is codegen, unlike a per-shingle HOF lambda. Output
    row multisets are identical (A/B-verified at both SFs across all
    six distinct consumers; ordering differs, all consumers aggregate);
    measured mins: ngram_jaccard 0.99→0.86 s, source_overlap
    1.36→1.19 s, others a wash, none worse.

    `tokens` is materialized as a projection BEFORE the higher-order
    transform: HOF lambdas are interpreted, so any expression inlined
    into the lambda body (like split()) would re-execute per element —
    a measured ~10× slowdown on the shingle scan.
    """
    # The fixture table is one small parquet file ⇒ one input partition;
    # fan out before the (CPU-heavy) shingle explode so all cores work.
    # At real scale the scan has natural parallelism and this repartition
    # is a cheap narrow-ish shuffle of (id, text) pairs.
    n_part = df.sparkSession.sparkContext.defaultParallelism
    with_tokens = df.repartition(n_part, id_col).select(
        id_col, F.split(F.lower("text"), " ").alias("tokens")
    )
    # slice + arrays_zip + concat_ws, NOT a transform() lambda: every
    # higher-order lambda is interpreted per element, while these are
    # codegen — measured 2x on the 10x corpus (3.7s -> 1.8s), and this
    # scan is the hot path of EVERY near-dup pipeline. Output verified
    # multiset-identical to the lambda form before the swap.
    n = F.size("tokens")
    zipped = F.arrays_zip(
        F.slice("tokens", 1, n - 2),
        F.expr("slice(tokens, 2, size(tokens) - 2)"),
        F.expr("slice(tokens, 3, size(tokens) - 2)"),
    )
    if distinct:
        zipped = F.array_distinct(zipped)
    return (
        with_tokens.where(n >= 3)
        .select(id_col, F.explode(zipped).alias("__p"))
        .select(
            id_col,
            F.concat_ws(
                " ", F.col("__p.0"), F.col("__p.1"), F.col("__p.2")
            ).alias("shingle"),
        )
    )


_SHINGLE_SQL = """
SELECT DISTINCT doc_id,
       unnest(list_transform(range(1, greatest(len(tokens) - 1, 1)),
                             i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2])) AS shingle
FROM (SELECT doc_id, string_split(lower(text), ' ') AS tokens FROM documents) src
"""


def _collapsed_rep_jaccard(docs: DataFrame):
    """THE one implementation of the exact-copy collapse + inverted-
    index Jaccard core (review r4 rule: one implementation so a change
    to the shingle grammar or the Jaccard arithmetic cannot silently
    fork the pipelines — extended in r11 to the rep-collapsed family).
    Returns ``(members, counts, rep_pairs)``:

    - ``members`` (doc_id, rep_id): every doc mapped to its distinct-
      text representative (min doc_id over the md5(text) group) —
      CACHED, both consumers expand through it;
    - ``counts`` (doc_id, n): distinct-shingle count per rep — a rep
      absent here has <3 tokens and joins nothing in the inverted
      index (the reference-formulation corner both consumers honor);
    - ``rep_pairs`` (rep_1 < rep_2, n_common, jac DOUBLE, un-rounded,
      un-thresholded): every rep pair sharing ≥1 shingle.

    The window-form collapse (r6): ONE exchange on the text hash
    serves member map and rep filter through ReuseExchange. It stays
    here rather than `_winner_collapse` + `_member_map`: every caller
    needs the full member map, and that form, row-identical, was
    slower for jaccard (min of 5, interleaved, 4 cores): 2.14 → 2.28 s
    at sf0.1 and 1.92 → 2.08 s with every document copied 10 times;
    cc was unchanged (6.12 vs 6.20 s, 6.65 vs 6.63 s)."""
    from pyspark.sql import Window

    flagged = docs.select("doc_id", "text").withColumn(
        "rep_id", F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    )
    members = flagged.select("doc_id", "rep_id").cache()
    reps = flagged.filter(F.col("doc_id") == F.col("rep_id")).select(
        "doc_id", "text"
    )
    sh = _shingles(reps).cache()
    counts = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("rep_1"), "shingle")
    b = sh.select(F.col("doc_id").alias("rep_2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("rep_1") < F.col("rep_2"))
        .groupBy("rep_1", "rep_2")
        .agg(F.count("*").alias("n_common"))
    )
    c1 = counts.select(F.col("doc_id").alias("rep_1"), F.col("n").alias("n1"))
    c2 = counts.select(F.col("doc_id").alias("rep_2"), F.col("n").alias("n2"))
    jac = F.col("n_common").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("n_common")
    )
    rep_pairs = (
        inter.join(c1, "rep_1")
        .join(c2, "rep_2")
        .select("rep_1", "rep_2", "n_common", jac.alias("jac"))
    )
    return members, counts, rep_pairs


def expand_pairs(
    rep_pairs: DataFrame,
    members: DataFrame,
    value: str,
    self_value,
    gate: DataFrame | None = None,
) -> DataFrame:
    """``(rep_1, rep_2, <value>)`` rep pairs → ``(doc_id_1 < doc_id_2,
    <value>)`` doc pairs via the ``(doc_id, rep_id)`` member map: member ×
    member cross pairs at the reps' value, plus within-group pairs at
    ``self_value`` for groups whose rep is in ``gate`` (a ``doc_id``
    frame; ``None`` = every group)."""
    m1 = members.select(F.col("rep_id").alias("rep_1"), F.col("doc_id").alias("d1"))
    m2 = members.select(F.col("rep_id").alias("rep_2"), F.col("doc_id").alias("d2"))
    cross = rep_pairs.join(m1, "rep_1").join(m2, "rep_2").select(
        F.least("d1", "d2").alias("doc_id_1"),
        F.greatest("d1", "d2").alias("doc_id_2"),
        value,
    )
    g1 = members
    if gate is not None:
        g1 = members.join(gate.select(F.col("doc_id").alias("rep_id")), "rep_id")
    g1 = g1.select("rep_id", F.col("doc_id").alias("d1"))
    g2 = members.select("rep_id", F.col("doc_id").alias("d2"))
    within = (
        g1.join(g2, "rep_id")
        .filter(F.col("d1") < F.col("d2"))
        .select(
            F.col("d1").alias("doc_id_1"),
            F.col("d2").alias("doc_id_2"),
            F.lit(self_value).alias(value),
        )
    )
    return cross.unionByName(within)


@query(
    "dedup_text_ngram_jaccard",
    oracle=f"""
WITH shingles AS ({_SHINGLE_SQL}),
counts AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id_1, doc_id_2,
       round(CAST(n_common AS DOUBLE) / (c1.n + c2.n - n_common), 4) AS jaccard
FROM inter
JOIN counts c1 ON doc_id_1 = c1.doc_id
JOIN counts c2 ON doc_id_2 = c2.doc_id
WHERE CAST(n_common AS DOUBLE) / (c1.n + c2.n - n_common) >= {JACCARD_THRESHOLD}
""",
)
def dedup_text_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (doc_id_1 < doc_id_2,
    jaccard >= 0.8). Pair generation via the inverted shingle index
    (join on shingle), never a document cross product.

    Exact-duplicate collapse, semantics-preserving: docs with identical
    text have identical shingle sets, so (a) every within-group pair is
    a jaccard-1.0 output row, and (b) every cross-group pair has
    exactly its representatives' jaccard. We therefore run the
    inverted-index join on one REPRESENTATIVE per distinct text and
    expand group members back afterwards — identical output, but the
    hot-shingle quadratic blowup from exact copies is gone (measured
    66 s → ~8 s on a corpus where every doc has 10 copies).
    """
    docs = load_table(spark, sf_dir, "documents")
    members, counts, raw_pairs = _collapsed_rep_jaccard(docs)
    rep_pairs = raw_pairs.filter(F.col("jac") >= JACCARD_THRESHOLD).select(
        "rep_1", "rep_2", F.round(F.col("jac"), 4).alias("jaccard")
    )
    return expand_pairs(rep_pairs, members, "jaccard", 1.0, gate=counts)


import functools


@functools.lru_cache(maxsize=4)
def _minhash_params(perms: int = MINHASH_PERMS) -> tuple[list[int], list[int]]:
    """Deterministic universal-hash coefficients (a_j, b_j) derived from
    md5 — reproducible across runs/workers with no RNG state. Memoized:
    params are pure functions of `perms`, so repeat query calls (driver
    correctness loop, bench min-of-2) skip the md5 rebuild."""
    import hashlib

    # 31-bit coefficients so a*h31 + b < 2^63 — Spark 4 runs ANSI mode
    # (overflow throws), so the permutation arithmetic must stay exact.
    a, b = [], []
    mask = (1 << 31) - 1
    for j in range(perms):
        da = hashlib.md5(f"minhash-a:{j}".encode()).digest()
        db = hashlib.md5(f"minhash-b:{j}".encode()).digest()
        a.append((int.from_bytes(da[:8], "little") & mask) | 1)
        b.append(int.from_bytes(db[:8], "little") & mask)
    return a, b


def _banded_sigs(hashed: DataFrame, n_bands: int, rows_per_band: int) -> DataFrame:
    """(doc_id, band, bhash) banded MinHash signatures from a
    (doc_id, h) shingle-hash stream. PRECONDITION: ``hashed`` is
    hash-partitioned by doc_id (``_shingles`` repartitions before the
    explode), so each doc lives in exactly one partition and the
    per-partition numpy mins are final, not partial.

    Whole-partition numpy kernel: (shingles × perms) permutation mins
    per doc, folded into per-band hashes (xor of mixed row-mins).

    As of r11 this is the STREAMING family's form only (candidates +
    the batch star reference the parity pin compares against — both
    must share one signature family, and a groupBy aggregate upstream
    of applyInPandasWithState is an unsupported second stateful
    operator); batch pipelines use the :func:`_banded_sigs_agg`
    aggregate (through :func:`_banded_from_hs`)."""
    import hashlib

    import numpy as np
    import pandas as pd

    a_co, b_co = _minhash_params(n_bands * rows_per_band)
    A = np.array(a_co, dtype=np.uint64)
    B = np.array(b_co, dtype=np.uint64)
    MIX = np.array(
        [
            int.from_bytes(hashlib.md5(f"mix:{r}".encode()).digest()[:8], "little") | 1
            for r in range(rows_per_band)
        ],
        dtype=np.uint64,
    )

    def partition_band_sigs(it):
        chunks = [pdf for pdf in it if not pdf.empty]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        h = pdf["h"].to_numpy(dtype=np.int64).astype(np.uint64)
        with np.errstate(over="ignore"):
            perms = h[:, None] * A[None, :] + B[None, :]  # wraps mod 2^64
        sig_df = pd.DataFrame(perms).groupby(pdf["doc_id"].to_numpy()).min()
        mins = sig_df.to_numpy(dtype=np.uint64).reshape(-1, n_bands, rows_per_band)
        with np.errstate(over="ignore"):
            bhash = np.bitwise_xor.reduce(mins * MIX[None, None, :], axis=2)
        doc_ids = np.repeat(sig_df.index.to_numpy(), n_bands)
        yield pd.DataFrame(
            {
                "doc_id": doc_ids,
                "band": np.tile(np.arange(n_bands, dtype=np.int32), len(sig_df)),
                "bhash": bhash.reshape(-1).astype(np.int64),
            }
        )

    return hashed.mapInPandas(partition_band_sigs, "doc_id LONG, band INT, bhash LONG")


def _banded_sigs_agg(
    hashed: DataFrame, n_bands: int, rows_per_band: int
) -> DataFrame:
    """(doc_id, band, bhash) banded MinHash signatures as ONE JVM hash
    aggregate over a (doc_id, h) shingle-hash stream — the batch
    signature kernel every batch pipeline runs (through
    `_banded_from_hs`). The j-th permutation of
    a shingle hash is ``xxhash64(h, j)`` (the k-independent-hash
    MinHash formulation; the numpy kernel's 2-universal linear perms
    produce different signature VALUES but identical collision
    statistics), per-doc mins fold as 64 map-side-combined min buffers,
    and each band's row-mins fold through one more xxhash64.

    Why this exists next to `_banded_sigs`: the aggregate form removes
    BOTH the doc-partitioned-input precondition (the _shingles
    repartition stays only as explode parallelism fan-out) and the
    Python/Arrow worker path — the signature exchange carries
    docs × perms longs (≤512 B/doc), never shingles and never text.
    The STREAMING family keeps the numpy kernel: a groupBy aggregate
    upstream of applyInPandasWithState is an unsupported second
    stateful operator there, and the star-policy parity pin requires
    the stream and its batch reference to share one signature family.
    Outputs of every batch pipeline are unchanged by the family swap —
    LSH only proposes candidates; the exact-Jaccard verify decides
    (strict re-check EXACT at both SFs on the two oracle consumers)."""
    perms = n_bands * rows_per_band
    mins = hashed.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64("h", F.lit(j))).alias(f"m{j}")
            for j in range(perms)
        ]
    )
    bands = F.array(
        *[
            F.xxhash64(
                *[
                    F.col(f"m{b * rows_per_band + r}")
                    for r in range(rows_per_band)
                ]
            )
            for b in range(n_bands)
        ]
    )
    return mins.select(
        "doc_id", F.posexplode(bands).alias("band", "bhash")
    ).select("doc_id", F.col("band").cast("int").alias("band"), "bhash")


def _shingle_hash_array(
    docs: DataFrame, id_col: str = "doc_id", keep: tuple[str, ...] = ()
) -> DataFrame:
    """Per-document shingle-HASH ARRAY ``hs`` — the narrow (zero-exchange)
    twin of ``_shingles(...).select(xxhash64(shingle))``: one row per doc,
    ``hs[i] = xxhash64(concat_ws(' ', t[i], t[i+1], t[i+2]))`` over the
    lowercased token array. Same shingle grammar and the same hash values
    as the exploded form by construction (pinned by
    test_dedup.test_hs_array_form_matches_exploded_kernels), so
    Jaccard over ``array_distinct(hs)`` equals Jaccard over the exploded
    distinct shingle hashes.

    Why it exists next to `_shingles` (r12, guide §2.4): every consumer
    of the exploded form immediately re-aggregated per doc (min buffers
    for signatures, collect_set for verify) — explode + groupBy is two
    stages and an exchange to compute what is a per-ROW map. The array
    form keeps the verify-set preparation narrow and lets one cached
    frame feed signatures, verify and the final projection; only
    consumers that genuinely need cross-doc shingle rows (the inverted
    Jaccard index) keep `_shingles`. Docs with <3 tokens (or NULL text)
    get an EMPTY array — same rows the exploded form dropped. ``keep``
    columns ride along the (narrow) projection."""
    return docs.select(
        id_col, *keep, F.split(F.lower("text"), " ").alias("t")
    ).select(
        id_col,
        *keep,
        F.expr(
            "IF(size(t) >= 3,"
            " transform(sequence(0, size(t) - 3),"
            "   i -> xxhash64(concat_ws(' ', element_at(t, i + 1),"
            " element_at(t, i + 2), element_at(t, i + 3)))),"
            " cast(array() as array<bigint>))"
        ).alias("hs"),
    )


def _shingle_string_array(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-document shingle STRING array ``sh`` — same grammar as
    `_shingles` / `_shingle_hash_array` (word-3-grams of the lowercased
    token array; equality pinned by
    test_dedup.test_hs_array_form_matches_exploded_kernels), kept as
    strings for consumers whose verify stage must stay on exact shingle
    text (the oracle-checked witness — its DuckDB oracle intersects
    shingle STRINGS, so hashing before verify would make a 2⁻⁶⁴
    collision an oracle DIFF instead of noise). Narrow: one row per
    doc, no explode, no exchange; `transform(sh, s -> xxhash64(s))`
    reproduces `_shingle_hash_array` exactly."""
    return docs.select(
        id_col, F.split(F.lower("text"), " ").alias("t")
    ).select(
        id_col,
        F.expr(
            "IF(size(t) >= 3,"
            " transform(sequence(0, size(t) - 3),"
            "   i -> concat_ws(' ', element_at(t, i + 1),"
            " element_at(t, i + 2), element_at(t, i + 3))),"
            " cast(array() as array<string>))"
        ).alias("sh"),
    )


def _banded_from_hs(
    with_hs: DataFrame, n_bands: int, rows_per_band: int
) -> DataFrame:
    """(doc_id, band, bhash) banded MinHash signatures from a
    (doc_id, hs) shingle-hash-array frame: explode ``hs`` and fold it
    through `_banded_sigs_agg`, the one batch signature kernel.

    Why explode + aggregate rather than a per-row array expression: the
    per-row form computed each permutation min as
    ``array_min(transform(hs, h -> xxhash64(h, j)))``, and
    ``ArrayTransform`` is ``CodegenFallback`` in Spark 4.1 — every
    shingle hash of every doc was walked ``perms`` times by the
    expression interpreter, about half of dedup_text_minhash's job. The
    aggregate's ``min(xxhash64(h, j))`` buffers run in generated code.
    The cost is one exchange carrying at most one ``perms``-long min
    row per doc per map task (partial aggregation combines a doc's
    shingles map-side first); its volume is docs × perms longs,
    independent of text length, and it is cheaper than the
    interpreted loop it replaces. Rows whose ``hs`` is empty or NULL
    yield no band rows (explode drops them)."""
    return _banded_sigs_agg(
        with_hs.select("doc_id", F.explode("hs").alias("h")), n_bands, rows_per_band
    )


def exact_jaccard_for_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    c1: str = "doc_id_1",
    c2: str = "doc_id_2",
    shingles: DataFrame | None = None,
    sets: DataFrame | None = None,
) -> DataFrame:
    """THE shared verify stage of every near-dup pipeline (batch LSH,
    oracle witness, incremental ingest, streaming anchors): annotate
    candidate ``pairs`` (columns ``c1``, ``c2`` holding doc ids) with
    their exact shingle-set ``jaccard``. Shingles are recomputed for
    the candidate doc set ONLY (semi-join pruned), never the corpus;
    pairs whose docs share no shingle get jaccard 0.0. One
    implementation so a change to the shingle grammar or the Jaccard
    arithmetic cannot silently fork the pipelines (review r4).

    ``shingles``: optional precomputed (doc_id, shingle) frame for the
    SAME doc set (non-distinct is fine — the set agg dedups). Callers
    whose signature stage already shingled the corpus pass their CACHED
    shingle frame so verify prunes it by semi-join instead of re-reading
    text and re-exploding (r12: the minhash pipelines paid the full
    shingle scan twice — measured ~1.4× on the sf0.1 headline). Same
    grammar by construction: the frame is `_shingles` output either way.

    ``sets``: optional precomputed (doc_id, __sh) frame holding each
    doc's DISTINCT shingle(-hash) array — `array_distinct` over
    `_shingle_hash_array` output (r12). Callers on the array-form
    signature path pass it so verify skips BOTH the explode and the
    collect_set exchange entirely; the Jaccard arithmetic below is
    shared unchanged (array_distinct(hs) == collect_set of the exploded
    hashes as a set — order differs, array_intersect/size don't care).
    """
    # Shingle-SET form (r11): one collect_set per candidate doc, then
    # each pair carries its two docs' sets and computes
    # |A∩B| / (|A|+|B|-|A∩B|) via array_intersect — JVM built-ins, and
    # THREE shuffles total (set agg + two pair joins) where the
    # inverted-index form (shingle equi-join → semi-join → pair groupBy
    # → two count joins) paid seven; measured 3.0 → ~1.3 s warm on the
    # sf0.1 LSH verify, same values bit-for-bit (collect_set == the
    # distinct-shingle counts the old form aggregated). Shuffle volume
    # is candidate-bounded: each pair ships two shingle sets (doc-length
    # bounded); a doc in P pairs replicates its set P times, the same
    # candidate-quadratic envelope the old form's shingle join had —
    # LSH banding, not this stage, is what bounds P.
    # No explicit broadcast hint on the pair/set sides: a hint overrides
    # autoBroadcastJoinThreshold unconditionally, and a pathological LSH
    # flood (hot boilerplate bucket) could force-broadcast an unbounded
    # frame. AQE still converts to broadcast at runtime whenever the
    # measured size is under threshold.
    if sets is None:
        ids = (
            pairs.select(F.col(c1).alias("doc_id"))
            .union(pairs.select(F.col(c2).alias("doc_id")))
            .distinct()
        )
        sh = (
            shingles.join(ids, "doc_id", "left_semi")
            if shingles is not None
            else _shingles(docs.join(ids, "doc_id", "left_semi"), distinct=False)
        )
        sets = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("__sh"))
    s1 = sets.select(F.col("doc_id").alias(c1), F.col("__sh").alias("__sh1"))
    s2 = sets.select(F.col("doc_id").alias(c2), F.col("__sh").alias("__sh2"))
    inter = F.size(F.array_intersect("__sh1", "__sh2"))
    jac = inter.cast("double") / (
        F.size("__sh1") + F.size("__sh2") - inter
    )
    return (
        pairs.join(s1, c1, "left")
        .join(s2, c2, "left")
        .withColumn("jaccard", F.coalesce(jac, F.lit(0.0)))
        .drop("__sh1", "__sh2")
    )


def _winner_collapse(docs: DataFrame, payload: tuple[str, ...], norm=None):
    """THE single-aggregate exact-copy collapse (r12 dedup_text_minhash
    form, factored out in r13 so the ORACLE-backed witness runs the
    same code path — VERDICT r12 #5): one ``groupBy(md5(norm))``
    aggregate produces the winner row per distinct text
    (``min(doc_id)`` + ``min_by(payload, doc_id)``), partial-aggregated
    map-side so the exchange carries at most one winner candidate per
    distinct text per map task — the old winner-id groupBy + left_semi
    re-scan paid a hash exchange AND a second corpus pass; the window
    form ships EVERY copy's text through the exchange.

    Returns ``(nh_docs, winners)``: ``nh_docs`` is ``docs`` plus the
    ``nh`` text-hash column (callers needing a member→rep map join its
    narrow (doc_id, nh) projection back to ``winners`` on nh — the
    winners side is already hash-partitioned by nh coming out of the
    aggregate, so only the narrow side shuffles); ``winners`` is one row
    per distinct text with ``doc_id`` = min doc id of the copy group and
    the ``payload`` columns from that winner row (min_by over the unique
    doc_id key is deterministic)."""
    nh_docs = docs.withColumn("nh", F.md5(norm if norm is not None else F.col("text")))
    winners = nh_docs.groupBy("nh").agg(
        F.min("doc_id").alias("doc_id"),
        *[F.min_by(c, "doc_id").alias(c) for c in payload],
    )
    return nh_docs, winners


def _member_map(nh_docs: DataFrame, winners: DataFrame) -> DataFrame:
    """``(doc_id, rep_id)`` for every doc of a `_winner_collapse`."""
    return (
        nh_docs.select("doc_id", "nh")
        .join(winners.select("nh", F.col("doc_id").alias("rep_id")), "nh")
        .select("doc_id", "rep_id")
    )


@query("dedup_text_minhash")  # rows-only: xxhash64 values are engine-specific
def dedup_text_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup dedup: MINHASH_PERMS minhashes per doc
    (j-th permutation = xxhash64(shingle-hash, j), folded by
    `_banded_from_hs` from the shingle-hash array), banded into
    MINHASH_BANDS×4; docs sharing any band bucket are candidates;
    candidates are verified with true Jaccard and the higher doc_id of
    each verified pair is dropped (keep-first). Returns surviving
    documents.

    Scale shape: ONE corpus exchange total. The exact-copy collapse and
    the winner row fold into a single groupBy(md5) aggregate (min
    doc_id + min_by payload columns — partial-aggregated map-side, so
    the exchange carries ≤ one winner row per distinct text per map
    task). Verify sets are a per-ROW `array_distinct(hs)`, no
    exchange. Signatures explode `hs` into a code-generated min
    aggregate whose one small exchange carries ≤ one 64-long min row
    per doc per map task — cheaper than the per-row
    `array_min(transform(...))` form, which Spark runs in the
    expression interpreter (`ArrayTransform` is `CodegenFallback`).
    Then the candidate equi-join on the 16-byte (band, bhash) key
    (shuffle volume O(docs × bands), independent of text size) and the
    candidate-bounded verify joins.
    """
    all_docs = load_table(spark, sf_dir, "documents")
    # Stage 0 — exact-duplicate collapse (md5 winner row). Web-scale
    # corpora are dominated by EXACT copies; feeding them to LSH makes
    # every shingle a hot key and the verify join quadratic in copy
    # count (measured 79s on a 10x-replicated corpus vs 7s after this
    # prefilter). Near-dup detection then runs on distinct texts only;
    # exact copies are definitionally near-dups of their keeper, so the
    # final survivor set is unchanged. min_by(col, doc_id) reproduces
    # exactly the winner ROW the old semi-join form kept (doc_id is
    # unique, so min_by is deterministic).
    _, winners = _winner_collapse(
        all_docs,
        payload=("lang", "source", "text"),
        norm=F.lower(F.trim(F.col("text"))),
    )
    # (doc_id, lang, source, hs) — the ONE cached frame: signature,
    # verify-set and final-projection consumers all read it (uncached,
    # each would re-run the collapse aggregate). Shingle-hash LONGS,
    # never strings: Jaccard over hashed shingles equals Jaccard over
    # shingles up to xxhash64 collisions (~n²/2⁶⁵ — noise far below the
    # 0.7 threshold's discrimination); this pipeline is rows-only
    # precisely because its hash family is engine-specific, while the
    # ORACLE-checked witness (neardup_minhash_verified) keeps verify on
    # the exact shingle strings. Distinct-text bounded; at cluster
    # scale the cache spills to executor disk, still cheaper than a
    # second corpus scan.
    base = _shingle_hash_array(winners, keep=("lang", "source")).cache()
    banded = _banded_from_hs(base, MINHASH_BANDS, MINHASH_PERMS // MINHASH_BANDS).cache()
    # cand is consumed exactly ONCE (the verify join) — no cache: the
    # r12 `.cache()` here was a leftover multi-consumer artifact, and
    # an InMemoryRelation on a once-read frame is a pure pipeline
    # barrier + materialization pass (r13 interleaved A/B at sf0.1,
    # min-of-4: cached 1.01 s vs uncached 0.83 s; `banded`'s cache is
    # what prevents signature recompute across the self-join aliases).
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bhash"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_id_1"), F.col("y.doc_id").alias("doc_id_2"))
        .distinct()
    )
    verified = exact_jaccard_for_pairs(
        base,
        cand,
        sets=base.select("doc_id", F.array_distinct("hs").alias("__sh")),
    ).filter(F.col("jaccard") >= MINHASH_VERIFY_THRESHOLD)
    dupes = verified.select(F.col("doc_id_2").alias("doc_id")).distinct()
    return base.select("doc_id", "lang", "source").join(dupes, "doc_id", "left_anti")


# Witness band shape: the SAME 64 permutations re-banded 32×2 for recall.
# P(candidate | J) = 1-(1-J^2)^32 ⇒ P(miss | J=0.7) = 0.51^32 ≈ 4e-10,
# so on any real corpus the LSH stage finds EVERY pair above the verify
# threshold and the exact-Jaccard verify makes precision exact — which is
# what lets an engine-independent SQL oracle (all true pairs ≥ 0.7 via the
# inverted shingle index) check the pipeline end-to-end. The production
# 16×4 shape trades that near-total recall for 4× fewer candidates.
MINHASH_WITNESS_BANDS = 32


@query(
    "neardup_minhash_verified",
    oracle=f"""
WITH shingles AS ({_SHINGLE_SQL}),
counts AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id_1, doc_id_2,
       round(CAST(n_common AS DOUBLE) / (c1.n + c2.n - n_common), 4) AS jaccard
FROM inter
JOIN counts c1 ON doc_id_1 = c1.doc_id
JOIN counts c2 ON doc_id_2 = c2.doc_id
WHERE CAST(n_common AS DOUBLE) / (c1.n + c2.n - n_common) >= {MINHASH_VERIFY_THRESHOLD}
""",
)
def neardup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible witness for the MinHash-LSH pipeline (VERDICT r3
    #5): LSH candidate generation → exact shingle-Jaccard verification,
    checked against an engine-independent oracle (ALL true pairs with
    Jaccard ≥ {MINHASH_VERIFY_THRESHOLD} via the inverted shingle
    index). The minhash signatures themselves are xxhash-based and
    engine-specific — what both engines CAN agree on is the verified
    output, and the 32×2 witness banding makes LSH recall
    deterministic-complete in practice (miss probability ~4e-10 per
    true pair; the strict gate checks it end-to-end at two SFs).

    Same exact-copy collapse as :func:`dedup_text_minhash` (THE shared
    `_winner_collapse` single-aggregate form, r13) with group
    re-expansion: LSH runs on one representative per distinct text
    (hot-band quadratic blowup from copies is gone), member pairs are
    expanded back afterwards — identical output.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Exact-copy collapse via THE shared single-aggregate winner form
    # (`_winner_collapse` — r13, VERDICT r12 #5): the witness now runs
    # the SAME collapse code path as the rows-only dedup_text_minhash,
    # so this query's oracle row pins the full kernel family
    # (single-aggregate collapse + signature kernel + sets= verify).
    # The aggregate partial-aggregates map-side (≤ one winner-candidate
    # text per distinct text per map task crosses the exchange), where
    # the previous window form shipped EVERY copy's text; the member→rep
    # map costs one extra narrow (doc_id, nh) exchange.
    nh_docs, winners = _winner_collapse(docs.select("doc_id", "text"), payload=("text",))
    reps = winners.select("doc_id", "text")
    members = _member_map(nh_docs, winners).cache()

    # Per-rep shingle STRING array: signatures hash it with
    # `transform(sh, xxhash64)` and fold through `_banded_from_hs` (one
    # small exchange: ≤ one 64-long min row per rep per map task); the
    # verify sets are `array_distinct(sh)`, so verify's explode and
    # collect_set exchange are gone. Strings are KEPT so verify still
    # intersects exact shingle text (what the DuckDB oracle checks).
    # Cached: candidate generation and verify both read it.
    sarr = _shingle_string_array(reps).cache()
    banded = _banded_from_hs(
        sarr.select("doc_id", F.expr("transform(sh, s -> xxhash64(s))").alias("hs")),
        MINHASH_WITNESS_BANDS,
        MINHASH_PERMS // MINHASH_WITNESS_BANDS,
    ).cache()
    # No cache on cand: single consumer (the verify join) — same
    # once-read-frame argument as dedup_text_minhash (r13 A/B).
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bhash"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("rep_1"), F.col("y.doc_id").alias("rep_2")
        )
        .distinct()
    )

    # Exact verify: the shared pair verifier, over candidate reps only.
    rep_pairs = (
        exact_jaccard_for_pairs(
            reps,
            cand,
            "rep_1",
            "rep_2",
            sets=sarr.select("doc_id", F.array_distinct("sh").alias("__sh")),
        )
        .filter(F.col("jaccard") >= MINHASH_VERIFY_THRESHOLD)
        .select("rep_1", "rep_2", F.round("jaccard", 4).alias("jaccard"))
    )

    # Within-group pairs (Jaccard 1.0) need no LSH collision; the gate
    # reads shingle presence off the cached shingle-array frame.
    return expand_pairs(
        rep_pairs, members, "jaccard", 1.0, gate=sarr.where(F.size("sh") > 0)
    )


CC_MAX_ITERS = 20


@query("dedup_clusters_cc")  # rows-only: iterative fixpoint, not SQL-expressible
def dedup_clusters_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: connected components over the
    verified Jaccard pair graph (A~B, B~C ⇒ {A,B,C} one cluster —
    pairwise dedup alone under-collapses chains).

    Spark-first iterative algorithm: min-label propagation to fixpoint.
    Each iteration is one join + one aggregate on the edge list; the
    edge list is tiny relative to the corpus (only near-dup pairs), and
    iteration count is bounded by the cluster diameter (log-ish with
    doubled edges). At 100 TB the same loop runs on the pair output of
    MinHash-LSH; localCheckpoint() truncates the growing lineage.

    Propagation runs on the REP graph, not the expanded doc graph
    (r13 — found by the 1000× sweep, where the expanded form DIED at
    437 s on a shuffle-stage failure: on a copy-heavy corpus the
    expanded pair list is quadratic in copy count — 5 M docs in
    1000-copy groups is ~2.5 BILLION doc pairs — while the rep graph
    stays near-dup-pair sized). Equivalence: a copy group is a clique
    through its within-pairs and every member pairs exactly like its
    rep, so components over docs = components over reps expanded by
    membership; min doc of a component = min rep label (each rep IS
    the min of its copy group); a multi-member shingled group with no
    cross-group edge is its own clique-cluster (handled as an isolated
    labeled rep). Row-identity vs the expanded form verified at sf0.01
    and sf0.1.

    Output: (doc_id, cluster_id, cluster_size) for every doc in a
    near-dup cluster; cluster_id = min doc_id of the component.
    """
    docs = load_table(spark, sf_dir, "documents")
    members, counts, raw_pairs = _collapsed_rep_jaccard(docs)
    rep_pairs = raw_pairs.filter(F.col("jac") >= JACCARD_THRESHOLD).select(
        "rep_1", "rep_2"
    )
    edges = (
        rep_pairs.select(F.col("rep_1").alias("src"), F.col("rep_2").alias("dst"))
        .union(rep_pairs.select(F.col("rep_2").alias("src"), F.col("rep_1").alias("dst")))
        .distinct()
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .cache()
    )
    for _ in range(CC_MAX_ITERS):
        # Every node adopts the min label among itself and its neighbors.
        neighbor_labels = (
            edges.join(labels, edges.dst == labels.node)
            .select(F.col("src").alias("node"), "label")
        )
        new_labels = (
            labels.select("node", "label")
            .union(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # Cap exhausted without convergence: labels would be silently
        # wrong for any component whose diameter exceeds CC_MAX_ITERS.
        # Fail loudly — the fix is raising the cap or switching to
        # pointer-doubling (log-diameter rounds).
        raise RuntimeError(
            f"dedup_clusters_cc did not converge in {CC_MAX_ITERS} "
            "min-label propagation iterations; component diameter "
            "exceeds the cap"
        )
    # Isolated clique clusters: a multi-member group whose rep has
    # shingles forms within-pairs (jaccard 1.0) even with no cross-group
    # edge — in the expanded doc graph those members were nodes. A rep
    # with <3 tokens has no shingles, joins nothing, and its copies
    # produced no pair in the expanded form either (`expand_pairs`'
    # gate), so it stays excluded.
    gsz = members.groupBy("rep_id").agg(F.count(F.lit(1)).alias("gsz"))
    iso = (
        gsz.filter(F.col("gsz") >= 2)
        .join(counts.select(F.col("doc_id").alias("rep_id")), "rep_id", "left_semi")
        .join(labels.select(F.col("node").alias("rep_id")), "rep_id", "left_anti")
        .select(F.col("rep_id").alias("node"), F.col("rep_id").alias("label"))
    )
    rep_labels = labels.select("node", "label").unionByName(iso)
    doc_labels = members.join(
        rep_labels.select(F.col("node").alias("rep_id"), "label"), "rep_id"
    ).select("doc_id", F.col("label").alias("cluster_id"))
    sizes = doc_labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return doc_labels.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size"
    )


@query(
    "dedup_text_simhash",
    oracle=f"""
WITH shingles AS ({_SHINGLE_SQL}),
bitpm AS (
  SELECT s.doc_id, j.j,
         CASE WHEN ((strpos('0123456789abcdef',
                            substr(md5(s.shingle), 1 + j.j // 4, 1)) - 1)
                    >> (3 - (j.j % 4))) & 1 = 1
              THEN 1 ELSE -1 END AS pm
  FROM shingles s, (SELECT unnest(range(63)) AS j) j
),
sums AS (SELECT doc_id, j, sum(pm) AS s FROM bitpm GROUP BY 1, 2),
fp AS (
  SELECT doc_id,
         list(CASE WHEN s > 0 THEN 1 ELSE 0 END ORDER BY j) AS fpv
  FROM sums GROUP BY doc_id
),
cand AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         a.fpv AS f1, b.fpv AS f2
  FROM fp a JOIN fp b
    ON a.doc_id < b.doc_id
   AND (a.fpv[1:16] = b.fpv[1:16] OR a.fpv[17:32] = b.fpv[17:32]
        OR a.fpv[33:48] = b.fpv[33:48] OR a.fpv[49:63] = b.fpv[49:63])
),
scored AS (
  SELECT doc_id_1, doc_id_2,
         CAST(list_sum(list_transform(range(63),
              i -> CASE WHEN f1[i+1] != f2[i+1] THEN 1 ELSE 0 END))
              AS INTEGER) AS hamming
  FROM cand
)
SELECT doc_id_1, doc_id_2, hamming FROM scored
WHERE hamming <= {SIMHASH_MAX_HAMMING}
""",
)
def dedup_text_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 63-bit fingerprint (sign of per-bit ±1
    sums over the distinct shingle set), near-dup = Hamming ≤ 3.

    ORACLE-BACKED as of r12 (VERDICT r11 #4): the per-shingle bits come
    from md5 — which BOTH engines compute identically as lowercase hex —
    instead of the engine-specific xxhash64. Bit j (0..62) of a shingle
    is bit (3 − j%4) of hex digit j//4, an integer-exact rule both
    sides implement verbatim (Spark: two 32-bit `conv` halves + shifts;
    DuckDB: strpos on the hex char), so fingerprints, and therefore the
    pair set and Hamming distances, agree bit-for-bit. The ±1 sums are
    integer-exact; ties (sum = 0) map to bit 0 under the same `> 0`
    rule in both engines. Recall is DETERMINISTIC-complete, not
    probabilistic: 4×16-bit pigeonhole banding guarantees any pair at
    distance ≤ 3 shares a chunk (the oracle mirrors the same
    complete-pair-generation guarantee with its own slice partition).

    Spark shape (r12, also de-Pythoned): the per-doc sign-sums fold as
    63 JVM sum aggregates (map-side combined, the _banded_sigs_agg
    style — no Arrow workers, no per-group pandas), the fingerprint is
    a 63-term weighted sum of sign bits, and the pair scan equi-joins
    on the 4 chunk keys — shuffle O(docs × 4), never pairwise over the
    corpus.

    The distinct shingle SET comes from `_shingles(reps)`, whose
    distinct form dedupes per row as of r12 (array_distinct on the
    zipped triples — see `_shingles`), dropping the two token-volume
    HashAggregate passes the old `.distinct()` ran; the groupBy(doc_id)
    sign-sum aggregate is exchange-free (the fan-out repartition by id
    already clusters it) and partial-aggregates to docs × 63 longs.

    Exact-copy collapse + group re-expansion (r13 — the LAST near-dup
    pair pipeline still running uncollapsed; found by the 1000× sweep
    where it ran 433 s vs the collapsed witness's 98 s on the same
    output): identical texts have identical shingle sets, hence
    identical fingerprints, so every within-group pair is a hamming-0
    output row and every cross-group pair carries exactly its reps'
    hamming. Fingerprints and the chunk join run on one rep per
    distinct text (no more K copies flooding every 16-bit chunk bucket
    K-fold and a K²-multiplied pair distinct); members expand back
    afterwards — identical output (strict oracle EXACT at both SFs
    post-change; the oracle computes all pairs uncollapsed).
    """
    import functools
    import operator

    docs = load_table(spark, sf_dir, "documents")
    nh_docs, winners = _winner_collapse(docs.select("doc_id", "text"), payload=("text",))
    reps = winners.select("doc_id", "text")
    members = _member_map(nh_docs, winners).cache()
    sh = _shingles(reps)
    hashed = sh.select(
        "doc_id",
        F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10)
        .cast("long")
        .alias("h1"),
        F.conv(F.substring(F.md5("shingle"), 9, 8), 16, 10)
        .cast("long")
        .alias("h2"),
    )

    def pm(j: int):
        src = F.col("h1") if j < 32 else F.col("h2")
        shift = (31 - j) if j < 32 else (31 - (j - 32))
        bit = F.shiftright(src, shift).bitwiseAND(F.lit(1))
        return F.sum(bit * 2 - 1).alias(f"s{j}")

    sums = hashed.groupBy("doc_id").agg(*[pm(j) for j in range(SIMHASH_BITS - 1)])
    fp_col = functools.reduce(
        operator.add,
        [
            F.when(F.col(f"s{j}") > 0, F.lit(1 << (62 - j)).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for j in range(SIMHASH_BITS - 1)
        ],
    )
    fps = sums.select("doc_id", fp_col.alias("simhash"))
    # Copies share their rep's fingerprint, so a member pair's hamming IS
    # its reps' hamming; copies of a rep with no fingerprint (<3 tokens)
    # pair with nothing.
    rep_pairs = banded_hamming_pairs(fps, "simhash", SIMHASH_MAX_HAMMING)
    return expand_pairs(rep_pairs, members, "hamming", 0, gate=fps)


def banded_hamming_pairs(sigs: DataFrame, sig: str, max_hamming: int) -> DataFrame:
    """``(doc_id, <sig>)`` 64-bit signatures → ``(rep_1 < rep_2, hamming ≤
    max_hamming)`` by a 4×16-bit chunk equi-join, Hamming-verified on
    candidates only. Complete up to distance 3 (pigeonhole: a shared
    chunk); wider pairs are found only if a chunk collides."""
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col(sig), c * 16).bitwiseAND(F.lit(0xFFFF)).alias("cval"),
            )
            for c in range(4)
        ]
    )
    chunked = sigs.select("doc_id", sig, F.explode(chunks).alias("cc")).select(
        "doc_id", sig, F.col("cc.chunk").alias("chunk"), F.col("cc.cval").alias("cval")
    )
    x = chunked.select("chunk", "cval", F.col("doc_id").alias("rep_1"), F.col(sig).alias("s1"))
    y = chunked.select("chunk", "cval", F.col("doc_id").alias("rep_2"), F.col(sig).alias("s2"))
    return (
        x.join(y, ["chunk", "cval"])
        .filter(F.col("rep_1") < F.col("rep_2"))
        .select("rep_1", "rep_2", "s1", "s2")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("rep_1", "rep_2", "hamming")
    )


BENCHMARK_DOC_CUTOFF = 20  # doc_id < 20 stands in for the held-out eval set


def _contamination_hits(docs: DataFrame):
    """The copy-collapsed core of the contamination family (r8 — the
    1000× copy-flood probe caught decontaminate_report paying the
    3-gram explode once per COPY, 592.8 s): shingle work runs once per
    DISTINCT text (md5 digest), and the per-doc frames move digests
    only. Returns (keyed (doc_id, lang, h), hits (h, n_hits)) where
    n_hits counts the distinct eval shingles each distinct corpus text
    shares with the benchmark set — identical per copy, so joining it
    back by digest reproduces the per-doc counts exactly (pinned by
    the unchanged oracles). Bench membership is any-copy-below-cutoff;
    corpus texts keep their hits even when the same text also appears
    in the bench slice, exactly as the per-doc form behaved."""
    h = F.md5("text").alias("h")
    keyed = docs.select("doc_id", "lang", h)
    reps = (
        docs.select(h, "text").groupBy("h").agg(F.min("text").alias("text"))
    )
    bench_h = (
        keyed.filter(F.col("doc_id") < BENCHMARK_DOC_CUTOFF)
        .select("h")
        .distinct()
    )
    corpus_h = (
        keyed.filter(F.col("doc_id") >= BENCHMARK_DOC_CUTOFF)
        .select("h")
        .distinct()
    )
    bench = (
        _shingles(reps.join(bench_h, "h"), id_col="h")
        .select("shingle")
        .distinct()
    )
    corpus_sh = _shingles(reps.join(corpus_h, "h"), id_col="h")
    hits = (
        corpus_sh.join(F.broadcast(bench), "shingle")
        .groupBy("h")
        .agg(F.count("*").alias("n_hits"))
    )
    return keyed, hits




@query(
    "contamination_ngram_check",
    oracle=f"""
WITH sh AS ({_SHINGLE_SQL}),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < {BENCHMARK_DOC_CUTOFF}),
corpus AS (SELECT * FROM sh WHERE doc_id >= {BENCHMARK_DOC_CUTOFF})
SELECT c.doc_id, count(*) AS n_hits
FROM corpus c JOIN bench b ON c.shingle = b.shingle
GROUP BY 1
""",
)
def contamination_ngram_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data contamination check — the eval-set n-gram overlap
    scan every LLM data pipeline runs before training: count, per corpus
    document, the distinct word-3-gram shingles it shares with a
    benchmark/eval document set (here: doc_id < cutoff stands in for
    the held-out set).

    Scale shape: the benchmark shingle set is small and bounded (eval
    sets are ~1e4 docs), so it BROADCASTS; the corpus side shingles
    each DISTINCT text once (`_contamination_hits` — r8 copy-collapse)
    and streams through the broadcast-semi-join-with-count; the per-doc
    answer is one digest join. At 100 TB no full text and no per-copy
    explode crosses any exchange."""
    docs = load_table(spark, sf_dir, "documents")
    keyed, hits = _contamination_hits(docs)
    return (
        keyed.filter(F.col("doc_id") >= BENCHMARK_DOC_CUTOFF)
        .join(hits, "h")
        .select("doc_id", "n_hits")
    )


CONTAM_DROP_HITS = 5  # docs sharing >= this many eval shingles are dropped


@query(
    "decontaminate_report",
    oracle=f"""
WITH sh AS ({_SHINGLE_SQL}),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < {BENCHMARK_DOC_CUTOFF}),
corpus AS (SELECT * FROM sh WHERE doc_id >= {BENCHMARK_DOC_CUTOFF}),
hits AS (
  SELECT c.doc_id, count(*) AS n_hits
  FROM corpus c JOIN bench b ON c.shingle = b.shingle
  GROUP BY 1
)
SELECT d.lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN coalesce(h.n_hits, 0) >= {CONTAM_DROP_HITS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       floor(CAST(sum(CASE WHEN coalesce(h.n_hits, 0) >= {CONTAM_DROP_HITS}
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 10000 + 0.5) / 10000 AS drop_rate
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id >= {BENCHMARK_DOC_CUTOFF}
GROUP BY d.lang
ORDER BY d.lang
""",
)
def decontaminate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DECISION layer over contamination_ngram_check: apply the
    pipeline's drop rule (>= CONTAM_DROP_HITS shared eval shingles =
    contaminated) and report per-language corpus size, dropped count
    and drop rate — the before/after accounting a decontamination pass
    publishes next to the training manifest (cf. the GPT-3 appendix's
    13-gram overlap removal; 3-gram here to suit the tiny fixture
    texts).

    Scale shape: the hit counting is contamination_ngram_check's
    copy-collapsed broadcast-semi-join-with-count
    (`_contamination_hits` — r8: the 1000× exact-duplicate-heavy probe
    measured the per-copy shingle explode at 592.8 s; per-distinct-text
    shingling with a digest join back runs it at the distinct-text
    budget); the rule + rollup add one digest-keyed left join and a
    lang-bounded aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    keyed, hits = _contamination_hits(docs)
    from ..catalog import round4f

    dropped = (
        F.coalesce(F.col("n_hits"), F.lit(0)) >= CONTAM_DROP_HITS
    ).cast("int")
    return (
        keyed.filter(F.col("doc_id") >= BENCHMARK_DOC_CUTOFF)
        .join(hits, "h", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(dropped).cast("long").alias("n_dropped"),
            round4f(
                F.sum(dropped).cast("double") / F.count(F.lit(1))
            ).alias("drop_rate"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Cross-document repeated-span scrubbing (exact-substring dedup family).
# ---------------------------------------------------------------------------

SCRUB_SPAN_TOKENS = 8

# Shared oracle CTE prefix for the two scrub modes (r13 promotion,
# VERDICT r12 #8): the scrub semantics are fully deterministic — the
# only engine-specific piece was the xxhash64 span-hash FOLD, and span
# equality under the fold equals equality of the raw N-token span
# STRING (tokens cannot contain the join space), so the oracle keys
# spans on `array_to_string(t[i:i+N-1], ' ')` and reproduces the whole
# pipeline in SQL: md5 exact-copy collapse (window form), span
# positions, repeated table (min != max OR dup-group rep), the
# consecutive-pair run merge as a lag/cumsum island, and gap-slice
# reconstruction as a per-token NOT EXISTS against removed runs. The
# 2⁻⁶⁴ hash-collision caveat that justified rows-only now surfaces as
# an oracle DIFF instead of silence — acceptable: P ≈ (corpus spans)²/2⁶⁵.
# Verified EXACT at sf0.001/0.01/0.1 AND the 32× near-dup flood fixture
# before promotion (both modes).
_SCRUB_ORACLE_PREFIX = f"""
WITH base AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t, md5(lower(text)) AS th
  FROM documents
),
grp AS (
  SELECT doc_id, t, th,
         min(doc_id) OVER (PARTITION BY th) AS rep_id,
         count(*) OVER (PARTITION BY th) AS gsz
  FROM base
),
reps AS (SELECT doc_id, t, gsz FROM grp WHERE doc_id = rep_id),
spans AS (
  SELECT doc_id, gsz > 1 AS sd, i - 1 AS pos,
         array_to_string(t[i:i + {SCRUB_SPAN_TOKENS} - 1], ' ') AS h
  FROM reps, unnest(range(1, len(t) - {SCRUB_SPAN_TOKENS} + 2)) AS u(i)
  WHERE len(t) >= {SCRUB_SPAN_TOKENS}
)"""


@query(
    "scrub_repeated_spans",
    oracle=_SCRUB_ORACLE_PREFIX
    + f""",
repeated AS (
  SELECT h, min(doc_id) AS keep_doc
  FROM spans GROUP BY h
  HAVING min(doc_id) != max(doc_id) OR bool_or(sd)
),
occ AS (
  SELECT DISTINCT s.doc_id, s.pos, r.keep_doc
  FROM spans s JOIN repeated r USING (h)
),
runs AS (
  SELECT doc_id, pos,
         sum(CASE WHEN prev IS NULL OR pos > prev + {SCRUB_SPAN_TOKENS}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
  FROM (
    SELECT doc_id, pos,
           lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM occ
  )
),
run_bounds AS (
  SELECT doc_id, run_id, min(pos) AS s, max(pos) + {SCRUB_SPAN_TOKENS} AS e
  FROM runs GROUP BY doc_id, run_id
),
keepers AS (SELECT DISTINCT doc_id, pos FROM occ WHERE doc_id = keep_doc),
removed AS (
  SELECT rb.doc_id, rb.s, rb.e
  FROM run_bounds rb
  WHERE NOT EXISTS (
    SELECT 1 FROM keepers k
    WHERE k.doc_id = rb.doc_id
      AND k.pos >= rb.s AND k.pos <= rb.e - {SCRUB_SPAN_TOKENS}
  )
),
kept AS (
  SELECT r.doc_id, u.j, r.t[u.j + 1] AS tok
  FROM reps r, unnest(range(len(r.t))) AS u(j)
  WHERE NOT EXISTS (
    SELECT 1 FROM removed rr
    WHERE rr.doc_id = r.doc_id AND u.j >= rr.s AND u.j < rr.e
  )
),
rep_out AS (
  SELECT r.doc_id,
         coalesce(k.txt, '') AS scrubbed_text,
         CAST(len(r.t) - coalesce(k.cnt, 0) AS INT) AS n_removed_tokens
  FROM reps r
  LEFT JOIN (
    SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS txt, count(*) AS cnt
    FROM kept GROUP BY doc_id
  ) k USING (doc_id)
),
copies_out AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {SCRUB_SPAN_TOKENS} THEN ''
              ELSE array_to_string(t, ' ') END AS scrubbed_text,
         CAST(CASE WHEN len(t) >= {SCRUB_SPAN_TOKENS} THEN len(t) ELSE 0 END
              AS INT) AS n_removed_tokens
  FROM grp WHERE doc_id != rep_id
)
SELECT * FROM rep_out UNION ALL SELECT * FROM copies_out
""",
)
def scrub_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See :func:`scrub_repeated_spans_df` — registered over the
    documents fixture."""
    return scrub_repeated_spans_df(load_table(spark, sf_dir, "documents"))


@query(
    "scrub_repeated_spans_all",
    oracle=_SCRUB_ORACLE_PREFIX
    + f""",
repeated AS (
  SELECT h FROM spans GROUP BY h
  HAVING min(doc_id) != max(doc_id) OR bool_or(sd)
),
occ AS (
  SELECT DISTINCT s.doc_id, s.pos
  FROM spans s JOIN repeated r USING (h)
),
runs AS (
  SELECT doc_id, pos,
         sum(CASE WHEN prev IS NULL OR pos > prev + {SCRUB_SPAN_TOKENS}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos) AS run_id
  FROM (
    SELECT doc_id, pos,
           lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM occ
  )
),
removed AS (
  SELECT doc_id, min(pos) AS s, max(pos) + {SCRUB_SPAN_TOKENS} AS e
  FROM runs GROUP BY doc_id, run_id
),
kept AS (
  SELECT r.doc_id, u.j, r.t[u.j + 1] AS tok
  FROM reps r, unnest(range(len(r.t))) AS u(j)
  WHERE NOT EXISTS (
    SELECT 1 FROM removed rr
    WHERE rr.doc_id = r.doc_id AND u.j >= rr.s AND u.j < rr.e
  )
),
rep_out AS (
  SELECT r.doc_id,
         CASE WHEN r.gsz > 1 AND len(r.t) >= {SCRUB_SPAN_TOKENS} THEN ''
              ELSE coalesce(k.txt, '') END AS scrubbed_text,
         CAST(CASE WHEN r.gsz > 1 AND len(r.t) >= {SCRUB_SPAN_TOKENS}
              THEN len(r.t)
              ELSE len(r.t) - coalesce(k.cnt, 0) END AS INT)
           AS n_removed_tokens
  FROM reps r
  LEFT JOIN (
    SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS txt, count(*) AS cnt
    FROM kept GROUP BY doc_id
  ) k USING (doc_id)
),
copies_out AS (
  SELECT g.doc_id, ro.scrubbed_text, ro.n_removed_tokens
  FROM grp g JOIN rep_out ro ON ro.doc_id = g.rep_id
  WHERE g.doc_id != g.rep_id
)
SELECT * FROM rep_out UNION ALL SELECT * FROM copies_out
""",
)
def scrub_repeated_spans_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remove-ALL-occurrences mode (``keep_first=False``) over the
    documents fixture — Lee et al.'s released ExactSubstr semantics."""
    return scrub_repeated_spans_df(
        load_table(spark, sf_dir, "documents"), keep_first=False
    )


def scrub_repeated_spans_df(docs: DataFrame, keep_first: bool = True) -> DataFrame:
    """Cross-document exact-substring scrub (the span-level counterpart
    of doc-level dedup; cf. Lee et al. 2021 "Deduplicating Training
    Data Makes Language Models Better" and C4's repeated-line rule):
    any SCRUB_SPAN_TOKENS-token span occurring in more than one
    document is removed. Two modes (r6, closing VERDICT r5 #4):

    - ``keep_first=True`` (default, the ``scrub_repeated_spans``
      query): a maximal repeated RUN survives in a document iff that
      document is the lowest-doc_id holder of at least one of the
      run's windows, and then it survives INTACT; everywhere else the
      whole run is removed. Attribution is per merged run, not per
      window (r7, closing VERDICT r6 #5): the old per-window rule let
      OVERLAPPING repeats with different keep docs fragment the
      canonical copy — a 15-token repeat could survive nowhere intact.
      Now every repeated window survives unbroken in its keeper's run
      (the keeper's own mark anchors the run it sits in). The dual
      trade, documented: at run granularity a contested window can
      survive in MORE than one doc (its keeper's run and a larger
      overlapping run canonical to another doc) — "at least one intact
      copy" replaces "at most one fragmented copy".
    - ``keep_first=False`` (the ``scrub_repeated_spans_all`` query):
      EVERY occurrence of every cross-document repeat is removed —
      the semantics of Lee et al.'s released ExactSubstr dedup
      (google-research/deduplicate-text-datasets removes each
      duplicated byte range from all documents). No attribution, so
      no fragmentation: any repeat ≥ n tokens scrubs FULLY from every
      document regardless of window alignment or overlapping repeats
      (all its sub-windows are repeated, so the merged run covers it
      by construction — edge token comparison is unnecessary).

    Returns (doc_id, scrubbed_text, n_removed_tokens).

    Scale shape — everything is equi-keyed, no Python: span hashes
    explode JVM-side (one row per token, 8-token window via
    transform/sequence); the repeated-span table aggregates on the
    hash (map-side combinable, output bounded by DISTINCT repeated
    spans, a tiny fraction of the corpus); marks join back on the hash;
    per-doc covered-position sets ride a collect_list; reconstruction
    is a higher-order filter over the token array. Span REMOVAL is a
    per-doc operation, so unlike a suffix array no global order is
    needed — the price is fixed span granularity instead of maximal
    repeats.

    Exact-copy collapse prefilter (same minefield the minhash probe
    caught in round 1): a duplicate-heavy corpus marks ~every span in
    ~every copy, blowing up the marks join (measured 250 s at the
    100×-replicated probe). Identical texts collapse to their min-id
    representative first; the span pipeline runs over representatives
    only. The collapsed copies' answers are FULLY DETERMINED: every
    span of a copy also lives in its lower-id representative, so every
    position of a ≥n-token copy is covered (scrubs to empty) and a
    <n-token copy has no windows (passes through) — proven by the
    keep_doc ≤ rep < copy ordering. 100× probe: 250 s → linear.
    Keep-first caveat closed in round 10: the collapse also hides the
    copies' MULTIPLICITY, so a window repeated only via exact-duplicate
    docs wasn't marked as repeated in its rep — if such a window's run
    merged into a neighbouring run whose keeper was another doc, the
    window could survive NOWHERE intact (falsified by the keep-first
    Hypothesis property on a periodic corpus). A duplicated rep's
    windows now count as cross-doc repeated with the rep as keeper,
    restoring the at-least-one-intact-copy guarantee; the copies'
    determined answers are unchanged (their runs' keepers are ≤ rep).
    """
    from pyspark.sql import Window

    n = SCRUB_SPAN_TOKENS
    all_toks = docs.select(
        "doc_id", F.split(F.lower("text"), " ").alias("t"), F.md5(F.lower("text")).alias("th")
    )
    # Representative flag via a min-over-text-hash window rather than
    # groupBy + semi/anti joins: one exchange on th, shared by BOTH
    # branches through ReuseExchange (the join form re-scanned and
    # re-split the corpus three times — measured 2.05 → 1.31 s at
    # sf0.1). No broadcast anywhere: the rep set is proportional to
    # DISTINCT docs (huge at scale).
    grp = Window.partitionBy("th")
    # Both modes need the dup-group size: remove-all to scrub a
    # duplicated rep fully, keep-first to count a duplicated rep's
    # windows as CROSS-DOC REPEATED with the rep as their keeper (the
    # collapse hides the copies from the span table; without this a
    # window repeated only via exact-duplicate docs merged into a
    # foreign-keeper run and survived NOWHERE — found by the
    # keep-first Hypothesis property, round 10). The extra aggregate
    # shares grp's exchange/sort with rep_id.
    flagged = all_toks.withColumn("rep_id", F.min("doc_id").over(grp)).withColumn(
        "gsz", F.count(F.lit(1)).over(grp)
    )
    toks = flagged.filter(F.col("doc_id") == F.col("rep_id")).select(
        "doc_id", "t", "gsz"
    )
    if keep_first:
        copies = flagged.filter(F.col("doc_id") != F.col("rep_id")).select(
            "doc_id",
            F.when(F.size("t") >= n, F.lit("")).otherwise(
                F.concat_ws(" ", "t")
            ).alias("scrubbed_text"),
            F.when(F.size("t") >= n, F.size("t")).otherwise(F.lit(0)).alias(
                "n_removed_tokens"
            ),
        )
    else:
        # remove-all: a copy's text is its rep's text, so its scrub
        # result is the rep's — resolved by a join after reconstruction.
        copies_map = flagged.filter(F.col("doc_id") != F.col("rep_id")).select(
            "doc_id", "rep_id"
        )
    # Span hash via a token-hash pre-pass (r12): each token is hashed
    # ONCE (transform over t), and a window's hash folds its n token
    # hashes through one more xxhash64 — replacing the per-position
    # slice + concat_ws string rebuild, which re-materialized ~n× the
    # corpus bytes just to feed the hash (measured 2.4 → 1.7 s at
    # sf0.1, same output: both grammars key on the n-token sequence,
    # so hash equality ↔ span equality up to xxhash collisions either
    # way). posexplode's 0-based index IS the span position — same pos
    # semantics as the old struct form. sequence(0, stop) DESCENDS when
    # stop < 0, so docs shorter than the span width are gated to an
    # empty array (no phantom negative positions).
    span_args = ", ".join(f"element_at(ht, i + {j + 1})" for j in range(n))
    spans = (
        toks.withColumn("ht", F.expr("transform(t, x -> xxhash64(x))"))
        .select(
            "doc_id",
            (F.col("gsz") > 1).alias("sd"),  # rep of an exact-dup group
            F.posexplode(
                F.expr(
                    f"IF(size(t) >= {n},"
                    f" transform(sequence(0, size(t) - {n}),"
                    f" i -> xxhash64({span_args})),"
                    f" array())"
                )
            ).alias("pos", "h"),
        )
    )
    # A window is cross-doc repeated if ≥2 REPS hold it, OR if any
    # holding rep has exact copies (the collapse removed those from the
    # span table — their multiplicity must still count). keep_doc =
    # min holding rep == min ORIGINAL holder (a rep is the min of its
    # identity group).
    # "≥2 distinct holders" as min ≠ max, NOT countDistinct (r13, guide
    # §2.3 — shuffle fewer bytes): countDistinct(doc_id) compiled to a
    # two-level aggregate whose FIRST exchange was keyed (h, doc_id) —
    # the full token-volume span table crossed the network un-combined
    # (executed plan at the 32× near-dup flood fixture:
    # `Exchange hashpartitioning(h, doc_id)` feeding
    # partial_count(distinct doc_id)). min/max partial-aggregate
    # map-side, so the single remaining exchange carries ~3 longs per
    # DISTINCT span hash per map task. Equivalent by integer ordering:
    # a span hash has ≥2 distinct holders iff its min and max holder
    # differ; keep_doc is min(doc_id) either way.
    repeated = (
        spans.groupBy("h")
        .agg(
            F.min("doc_id").alias("keep_doc"),
            F.max("doc_id").alias("mxd"),
            F.max("sd").alias("sd"),
        )
        .filter((F.col("keep_doc") != F.col("mxd")) | F.col("sd"))
        .select("h", "keep_doc")
    )
    occ = spans.join(repeated, "h")
    if keep_first:
        # ALL repeated windows are marked (runs must merge across
        # attribution boundaries); the doc's own keeper windows ride
        # along as the run-level keep anchors.
        marks = occ.groupBy("doc_id").agg(
            F.collect_set("pos").alias("marks"),
            F.sort_array(
                F.collect_set(
                    F.when(F.col("doc_id") == F.col("keep_doc"), F.col("pos"))
                )
            ).alias("keeps"),
        )
    else:
        marks = occ.groupBy("doc_id").agg(F.collect_set("pos").alias("marks"))
    # Fold the marked window positions into MAXIMAL covered runs, then
    # reconstruct by slicing the UNcovered gaps — replacing the r3 form's
    # per-token `exists(marks, ...)` membership test. Equal window
    # widths make the merge a consecutive-pair test on the sorted marks
    # (p starts a run iff p > prev + n; p ends one iff next > p + n), so
    # every step is LINEAR in |marks| + |runs| + kept tokens, and the
    # fixed-point cost of one long cross-doc repeat is ONE run, not
    # |tokens| interval probes per token (the aggregate-fold variant
    # rebuilt the acc array per mark — measured +0.5 s at sf0.1; this
    # form A/Bs at parity with r3 while emitting maximal runs).
    # The runs ARE the maximal repeated regions at window granularity:
    # a cross-doc repeat of length L >= n has all L - n + 1 pure
    # sub-windows marked, so it merges into one run covering the whole
    # repeat — a 15-token repeat scrubs completely, not in 8-token
    # bites (tests/test_dedup.py::test_scrub_runs_cover_long_repeats).
    # Keep-first attribution happens HERE, per run (r7): a run whose
    # window set contains one of this doc's keeper positions survives
    # whole (filtered out of the removal set); runs the doc holds no
    # claim to are removed whole. The exists() probe scans the (usually
    # tiny, often empty) keeps array per run — runs and keeps are both
    # bounded by marks/1, so the worst case is quadratic only within a
    # single pathological doc, never across rows.
    run_exprs = {
        "sm": "array_sort(marks)",
        # element_at is 1-based: element_at(sm, i) with a 0-based lambda
        # index i is the PREVIOUS element; i + 2 is the next.
        "starts": (
            f"filter(transform(sm, (p, i) -> IF(i = 0 OR p > element_at(sm, i) + {n},"
            f" p, cast(null as int))), x -> x IS NOT NULL)"
        ),
        "ends": (
            f"filter(transform(sm, (p, i) -> IF(i = size(sm) - 1"
            f" OR element_at(sm, i + 2) > p + {n}, p + {n},"
            f" cast(null as int))), x -> x IS NOT NULL)"
        ),
    }
    if keep_first:
        run_exprs["removed"] = (
            f"filter(zip_with(starts, ends, (s, e) -> named_struct('s', s, 'e', e)),"
            f" r -> NOT exists(keeps, k -> k >= r.s AND k <= r.e - {n}))"
        )
        run_exprs["gap_s"] = "concat(array(0), transform(removed, r -> r.e))"
        run_exprs["gap_e"] = "concat(transform(removed, r -> r.s), array(size(t)))"
    else:
        # uncovered gaps: [0, starts[0]), [ends[0], starts[1]), ...,
        # [ends[-1], size(t)) — kept text is their concatenated slices.
        run_exprs["gap_s"] = "concat(array(0), ends)"
        run_exprs["gap_e"] = "concat(starts, array(size(t)))"
    out = toks.join(marks, "doc_id", "left").withColumn(
        "marks", F.expr("coalesce(marks, array())")
    )
    if keep_first:
        out = out.withColumn("keeps", F.expr("coalesce(keeps, array())"))
    for c, e in run_exprs.items():
        out = out.withColumn(c, F.expr(e))
    # In remove-all mode a rep whose text-hash group has >1 member is
    # itself cross-doc duplicated END TO END (its collapsed copies hold
    # every window), so a ≥n-token dup-group rep scrubs fully — the
    # collapse prefilter hid those within-group repetitions from the
    # span table. Statically false in keep-first mode (folded away).
    scrub_full = (
        F.lit(False)
        if keep_first
        else (F.col("gsz") > 1) & (F.size("t") >= F.lit(n))
    )
    out = (
        out.withColumn(
            "kept",
            F.expr("flatten(zip_with(gap_s, gap_e, (a, b) -> slice(t, a + 1, greatest(b - a, 0))))"),
        )
        .select(
            "doc_id",
            F.when(scrub_full, F.lit(""))
            .otherwise(F.concat_ws(" ", F.col("kept")))
            .alias("scrubbed_text"),
            F.when(scrub_full, F.size("t"))
            .otherwise(F.size("t") - F.size("kept"))
            .alias("n_removed_tokens"),
        )
    )
    if keep_first:
        return out.unionByName(copies)
    rep_out = out.select(
        F.col("doc_id").alias("rep_id"), "scrubbed_text", "n_removed_tokens"
    )
    copies_out = copies_map.join(rep_out, "rep_id").select(
        "doc_id", "scrubbed_text", "n_removed_tokens"
    )
    return out.unionByName(copies_out)


EDITDIST_LEN_BUCKET = 25
EDITDIST_REL_MAX = 0.3


@query(
    "dedup_text_editdistance",
    oracle=f"""
WITH reps AS (
  SELECT doc_id, lang, text, n_chars
  FROM (
    SELECT doc_id, lang, text, n_chars,
           row_number() OVER (PARTITION BY lower(trim(text)) ORDER BY doc_id) AS rn
    FROM documents
  ) t WHERE rn = 1
),
d AS (
  SELECT doc_id, lang, text,
         CAST(floor(n_chars / {EDITDIST_LEN_BUCKET}) AS BIGINT) AS lb
  FROM reps
),
cand AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         levenshtein(a.text, b.text) AS edit_dist,
         greatest(len(a.text), len(b.text)) AS longer
  FROM d a JOIN d b
    ON a.lang = b.lang AND a.lb = b.lb AND a.doc_id < b.doc_id
)
SELECT doc_id_1, doc_id_2, edit_dist,
       floor(CAST(edit_dist AS DOUBLE) / longer * 10000 + 0.5) / 10000 AS rel_dist
FROM cand
WHERE edit_dist <= {EDITDIST_REL_MAX} * longer
""",
)
def dedup_text_editdistance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup pairs by RELATIVE EDIT DISTANCE with declared
    blocking — the character-level complement to MinHash (token
    shingles miss single-char typo storms; levenshtein catches them).
    Semantics are exactly what the oracle states: pairs within the same
    (lang, 25-char length bucket) whose edit distance is <= 30% of the
    longer text. The blocking is PART of the contract (true dups differ
    in length by < the bucket width with high probability) — same
    candidate-pruning honesty as the MinHash bands.

    EXACT-COPY COLLAPSE comes first (one representative per normalized
    text, min doc_id — the same prefilter that killed the MinHash and
    span-scrub hot-key quadratics): on a duplicate-heavy corpus the
    within-block pair count is quadratic in the copy count, and the
    100x replica probe measured the naive form heading for 1.6 B pairs
    while the collapsed form stays at the distinct-text pair count.
    Exact duplicates are dedup_text_exact's job; this operator reports
    NEAR pairs among distinct texts.

    Scale shape: the O(n^2) explosion is confined within blocks by the
    equi-join on (lang, length bucket) over representatives;
    levenshtein (O(len^2) per pair, JVM codegen) runs on candidates
    only, never the cross product. At 100 TB you tighten blocks (add a
    cheap signature like first-token hash) before paying the quadratic
    kernel — the plan shape is unchanged, only the block key widens.
    """
    docs = load_table(spark, sf_dir, "documents")
    winners = (
        docs.select(F.md5(F.lower(F.trim(F.col("text")))).alias("nh"), "doc_id")
        .groupBy("nh")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    d = docs.join(winners, "doc_id", "left_semi").select(
        "doc_id",
        "lang",
        "text",
        F.floor(F.col("n_chars") / EDITDIST_LEN_BUCKET).alias("lb"),
    )
    # The documents fixture arrives as one or two parquet splits, so
    # without an explicit spread every per-pair levenshtein would run
    # on one core (measured: 121 s single-threaded vs 6 s spread at
    # sf0.1). The build side is broadcast, so ANY partitioning of the
    # probe side is join-correct: round-robin gives an even spread with
    # no residual block-key skew.
    a = d.repartition(d.sparkSession.sparkContext.defaultParallelism).alias("a")
    b = d.alias("b")
    # Materialize the distance ONCE per candidate pair (it is the whole
    # cost of the query), then filter/derive from the column. The
    # `+ rand(42)*0` no-op marks the projection nondeterministic so
    # Catalyst CANNOT push the threshold filter into the join residual —
    # measured 251 s at sf0.1 with the pushed-down form (levenshtein
    # evaluated inside the join condition, before the cheap doc_id
    # prune and again in the projection) vs seconds with the barrier.
    # BOUNDED levenshtein (r12, guide §1.2 per-task work): the query
    # only keeps pairs with dist <= REL_MAX * longer, so the 3-arg
    # early-exit form with per-pair threshold floor(REL_MAX * longer)
    # computes the same answer in O(threshold * len) instead of
    # O(len^2): dist is an integer, so dist <= REL_MAX*longer iff
    # dist <= floor(REL_MAX*longer) iff bounded != -1, and for kept
    # pairs bounded == the exact distance (the oracle's plain
    # levenshtein agrees on every surviving row — strict EXACT at both
    # SFs post-swap). Rejected pairs cost a band, not a full matrix.
    # Boundary note (ADVICE r12): the SQL literal 0.3 below parses as
    # exact DECIMAL, while the pre-r12 Python-side filter compared
    # against IEEE double 0.3 — when longer is a multiple of 10 and
    # dist == 0.3*longer EXACTLY, the old form dropped the pair (double
    # 0.3*10 = 2.999...96) but this form keeps it. That is a FIX, not a
    # regression: the DuckDB oracle's 0.3 is also decimal, so the old
    # double arithmetic had a latent boundary divergence from the
    # oracle that the bounded swap closed (pinned by
    # test_editdistance_bounded_threshold_boundary).
    thr = (
        "cast(floor({} * greatest(length(a.text), length(b.text))) as int)"
    ).format(EDITDIST_REL_MAX)
    cand = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.lb") == F.col("b.lb"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
            (
                F.expr(f"levenshtein(a.text, b.text, {thr})")
                + (F.rand(42) * 0).cast("int")
            ).alias("edit_dist"),
            F.greatest(F.length("a.text"), F.length("b.text")).alias("longer"),
        )
    )
    return cand.filter(F.col("edit_dist") >= 0).select(
        "doc_id_1",
        "doc_id_2",
        "edit_dist",
        (
            F.floor(F.col("edit_dist").cast("double") / F.col("longer") * 10000 + F.lit(0.5))
            / 10000.0
        ).alias("rel_dist"),
    )


# ---------------------------------------------------------------------------
# Incremental near-dup: probe an existing corpus index with new docs.
# ---------------------------------------------------------------------------


@query(
    "neardup_incremental",
    oracle=f"""
WITH cut AS (SELECT max(doc_id) // 2 AS c FROM documents),
shingles AS ({_SHINGLE_SQL}),
counts AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
pairs AS (
  SELECT b.doc_id AS inc_id, count(*) AS n_common, any_value(c1.n) AS n_hist, any_value(c2.n) AS n_inc
  FROM shingles a
  JOIN shingles b ON a.shingle = b.shingle
  JOIN counts c1 ON a.doc_id = c1.doc_id
  JOIN counts c2 ON b.doc_id = c2.doc_id
  WHERE a.doc_id < (SELECT c FROM cut) AND b.doc_id >= (SELECT c FROM cut)
  GROUP BY a.doc_id, b.doc_id
),
dropped AS (
  SELECT DISTINCT inc_id FROM pairs
  WHERE CAST(n_common AS DOUBLE) / (n_hist + n_inc - n_common) >= {MINHASH_VERIFY_THRESHOLD}
)
SELECT doc_id, lang, source
FROM documents
WHERE doc_id >= (SELECT c FROM cut)
  AND doc_id NOT IN (SELECT inc_id FROM dropped)
""",
)
def neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup ingestion: an INCOMING batch (upper half of
    doc_id — the new crawl) is probed against the HISTORY corpus (lower
    half — the already-ingested index); an incoming doc is dropped iff
    it is a verified near-dup (exact shingle-Jaccard ≥
    {MINHASH_VERIFY_THRESHOLD}) of ANY history doc. This is the
    recurring-crawl shape: the history side's banded signatures are the
    persisted index — built once, appended per ingest — and each new
    batch costs signatures for the BATCH plus a bucketed probe join,
    never a rescan of history text.

    Oracle-backed end to end (same argument as neardup_minhash_verified:
    32×2 witness banding makes per-true-pair LSH miss ~4e-10, exact
    verification makes precision exact, so both engines agree on the
    survivor set). Exact-copy collapse runs per side; cross-side copies
    surface as certain candidates (identical signatures) and verify at
    Jaccard 1.

    Scale: candidate join is bucketed (band, bhash) — incoming×history
    collisions only, never all-pairs; shuffle O(docs × bands);
    verification touches candidate docs only.
    """
    docs = load_table(spark, sf_dir, "documents")
    cut = docs.agg(F.max("doc_id")).first()[0] // 2
    return neardup_incremental_df(docs, cut)


def neardup_incremental_df(docs: DataFrame, cut: int) -> DataFrame:
    """Core of :func:`neardup_incremental` on any (doc_id, text, lang,
    source) DataFrame — also driven by the reference-model test on
    crafted corpora (tests/test_text.py).

    Shape (r12, guide §2.4 — the dedup_text_minhash array rework applied
    to the incremental probe): exact-copy collapse is ONE window over
    (side, md5(text)) — the side flag partitions exactly like the old
    per-side windows, so rep groups and rep_ids are identical, but the
    corpus shuffles once, not twice. Signatures for BOTH sides come
    from one `_banded_from_hs` over `transform(sh, xxhash64)` of the
    shingle STRING array — one small signature exchange (≤ one 64-long
    min row per rep per map task) — and verify consumes `array_distinct(sh)` from the SAME cached frame,
    so verify's corpus re-scan + collect_set exchange are gone. Strings
    are kept through verify (the DuckDB oracle intersects shingle TEXT).
    A rep's side is recoverable from doc_id alone (side == doc_id ≥
    cut), so the banded frame is computed once and split by predicate —
    no side flag has to ride through the signature kernels.
    """
    from pyspark.sql import Window

    inc = docs.where(F.col("doc_id") >= cut)

    flagged = docs.select("doc_id", "text").withColumn(
        "rep_id",
        F.min("doc_id").over(
            Window.partitionBy(F.col("doc_id") >= cut, F.md5("text"))
        ),
    )
    i_members = flagged.where(F.col("doc_id") >= cut).select("doc_id", "rep_id")
    reps = flagged.filter(F.col("doc_id") == F.col("rep_id")).select(
        "doc_id", "text"
    )

    # One cached (doc_id, sh) frame serves both sides' signatures AND
    # the verify sets. In a deployment the history half of `banded` is
    # the PERSISTED index (parquet keyed on (band, bhash)); here it is
    # recomputed from the fixture. Cache lifetime (ADVICE r12): this is
    # a query-CONSTRUCTION function — no action runs here, so nothing
    # can unpersist deterministically; callers own the executed plan's
    # lifetime and are expected to clearCache() between invocations
    # (the bench harness and the oracle checkers both do). Repeated
    # same-session invocations otherwise accumulate cached frames.
    sarr = _shingle_string_array(reps).cache()
    banded = _banded_from_hs(
        sarr.select("doc_id", F.expr("transform(sh, s -> xxhash64(s))").alias("hs")),
        MINHASH_WITNESS_BANDS,
        MINHASH_PERMS // MINHASH_WITNESS_BANDS,
    ).cache()
    # No cache on cand: single consumer (the verify join) — same
    # once-read-frame argument as dedup_text_minhash (r13 A/B). Also
    # one fewer frame left pinned per invocation (ADVICE r12).
    cand = (
        banded.where(F.col("doc_id") >= cut)
        .alias("i")
        .join(banded.where(F.col("doc_id") < cut).alias("h"), ["band", "bhash"])
        .select(
            F.col("i.doc_id").alias("inc_rep"), F.col("h.doc_id").alias("hist_rep")
        )
        .distinct()
    )
    dropped_reps = (
        exact_jaccard_for_pairs(
            docs,
            cand,
            "inc_rep",
            "hist_rep",
            sets=sarr.select("doc_id", F.array_distinct("sh").alias("__sh")),
        )
        .filter(F.col("jaccard") >= MINHASH_VERIFY_THRESHOLD)
        .select(F.col("inc_rep").alias("rep_id"))
        .distinct()
    )
    dropped = i_members.join(dropped_reps, "rep_id", "left_semi").select("doc_id")
    return inc.select("doc_id", "lang", "source").join(dropped, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# Cross-source overlap + document novelty (shingle-level corpus forensics).
# ---------------------------------------------------------------------------


@query(
    "source_overlap_ngrams",
    oracle=f"""
WITH shingles AS ({_SHINGLE_SQL}),
ss AS (
  SELECT DISTINCT d.source, s.shingle
  FROM shingles s JOIN documents d USING (doc_id)
),
sizes AS (SELECT source, count(*) AS n FROM ss GROUP BY 1),
inter AS (
  SELECT a.source AS source_1, b.source AS source_2, count(*) AS n_shared
  FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_1, source_2, CAST(n_shared AS BIGINT) AS n_shared,
       floor(CAST(n_shared AS DOUBLE) / (s1.n + s2.n - n_shared) * 10000 + 0.5)
         / 10000 AS overlap_jaccard
FROM inter
JOIN sizes s1 ON source_1 = s1.source
JOIN sizes s2 ON source_2 = s2.source
ORDER BY source_1, source_2
""",
)
def source_overlap_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source n-gram overlap matrix — the corpus-forensics
    statistic behind contamination checks and source dedup priority:
    for every source pair, the count of distinct 3-token shingles both
    sources contain and the Jaccard of their shingle sets. A high cell
    says two crawls/feeds overlap enough that cross-source dedup (not
    just within-source) will pay.

    Scale shape: (source, shingle) distinct is shingle-bounded; the
    pair join is an equi-join on shingle (never all-pairs over docs);
    output is source-pair-bounded (P(P-1)/2 rows). A hot shingle
    appearing in all S sources contributes S(S-1)/2 pair rows — still
    source-bounded, independent of how many DOCUMENTS carry it, because
    the per-source distinct collapses first.

    Exact-copy collapse (r13 — found by the 1000× copy-heavy sweep,
    139.9 s → shingling one rep per DISTINCT (source, lowercased text)
    group): the (source, shingle) set only depends on which text
    classes a source contains, so identical texts within a source need
    shingling once. The pre-collapse is one narrow corpus aggregate
    (min_by text, partial-aggregated); rep doc_ids stay unique across
    groups (a doc has one source and one text). Strict oracle EXACT at
    both SFs post-change."""
    docs = load_table(spark, sf_dir, "documents")
    st_reps = docs.groupBy(
        "source", F.md5(F.lower("text")).alias("th")
    ).agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("text", "doc_id").alias("text"),
    )
    sh = _shingles(st_reps.select("doc_id", "text"))  # distinct (doc_id, shingle)
    ss = (
        sh.join(st_reps.select("doc_id", "source"), "doc_id")
        .select("source", "shingle")
        .distinct()
        .cache()
    )
    sizes = ss.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = ss.select(F.col("source").alias("source_1"), "shingle")
    b = ss.select(F.col("source").alias("source_2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("source_1") < F.col("source_2"))
        .groupBy("source_1", "source_2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    s1 = sizes.select(F.col("source").alias("source_1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("source").alias("source_2"), F.col("n").alias("n2"))
    jac = F.col("n_shared").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("n_shared")
    )
    from ..catalog import round4f

    return (
        inter.join(s1, "source_1")
        .join(s2, "source_2")
        .select(
            "source_1",
            "source_2",
            F.col("n_shared").cast("long").alias("n_shared"),
            round4f(jac).alias("overlap_jaccard"),
        )
        .orderBy("source_1", "source_2")
    )


@query(
    "doc_novelty_ngrams",
    oracle=f"""
WITH shingles AS ({_SHINGLE_SQL}),
firsts AS (SELECT shingle, min(doc_id) AS first_doc FROM shingles GROUP BY 1)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       floor(CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) * 10000 + 0.5) / 10000 AS novelty
FROM shingles s JOIN firsts f USING (shingle)
GROUP BY s.doc_id
ORDER BY s.doc_id
""",
)
def doc_novelty_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty — what fraction of a doc's distinct
    3-token shingles FIRST appear in it (min doc_id over the corpus,
    i.e. ingestion order as the repo-wide keep-first convention). The
    dedup-adjacent quality signal: near-zero novelty marks boilerplate
    and late copies; a training-data curator samples high-novelty docs
    first (the "fading novelty" curriculum statistic).

    Scale shape: first-occurrence is a shingle-bounded min aggregate;
    the join back is an equi-join on shingle; output is one row per
    shingled doc. Docs with <3 tokens have no shingles and are absent
    (both engines agree by construction).

    Exact-copy collapse (r13, the 1000× sweep's 116 s row): a copy's
    answer is fully determined — its rep (lower doc_id, same lowered
    text, hence same shingle set) holds every one of its shingles, so
    first_doc < copy for all of them: n_novel = 0, novelty = 0.0,
    n_shingles = the rep's. And first_doc over reps equals first_doc
    over all docs (any holder's rep is a smaller holder), so rep rows
    are unchanged by collapsing. Shingling runs once per distinct
    lowered text; copies join their rep's n_shingles back by text
    hash. Strict oracle EXACT at both SFs post-change."""
    from ..catalog import round4f

    docs = load_table(spark, sf_dir, "documents")
    nh_docs, winners = _winner_collapse(
        docs.select("doc_id", "text"), payload=("text",), norm=F.lower(F.col("text"))
    )
    members = _member_map(nh_docs, winners)
    sh = _shingles(winners.select("doc_id", "text")).cache()
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("long")
    rep_out = (
        sh.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            novel.alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            round4f(
                F.col("n_novel").cast("double") / F.col("n_shingles")
            ).alias("novelty"),
        )
    )
    copies_out = (
        members.filter(F.col("doc_id") != F.col("rep_id"))
        .join(
            rep_out.select(
                F.col("doc_id").alias("rep_id"), "n_shingles"
            ),
            "rep_id",
        )
        .select(
            "doc_id",
            "n_shingles",
            F.lit(0).cast("long").alias("n_novel"),
            F.lit(0.0).alias("novelty"),
        )
    )
    return rep_out.unionByName(copies_out).orderBy("doc_id")


def jaccard_pairs_with_df_cap(docs: DataFrame, df_cap: int) -> DataFrame:
    """The document-frequency-capped inverted-index join — the
    module-docstring's stated answer to hot-shingle skew, made
    concrete (r6): shingles appearing in more than ``df_cap`` distinct
    documents are dropped from the PAIR-GENERATION index (a
    boilerplate header in a million docs would otherwise contribute
    ~10¹² join rows on its own), while the Jaccard VERIFICATION still
    runs on the full shingle sets — so capping can only lose candidate
    PAIRS whose every shared shingle is boilerplate, never distort a
    surviving pair's score. Returns (doc_id_1, doc_id_2, jaccard) at
    the standard {JACCARD_THRESHOLD} threshold.

    Pinned in tests: with ``df_cap`` above the corpus's max DF the
    output is IDENTICAL to the uncapped form; on a crafted
    boilerplate-flooded corpus the capped index's candidate volume
    collapses from O(n²) to the true-pair count while every true
    near-dup (sharing at least one sub-cap shingle) is still found."""
    sh = _shingles(docs).cache()
    # count(1), not countDistinct(doc_id): `_shingles(distinct=True)`
    # already dedups per doc, so (doc_id, shingle) rows are unique and
    # the two are equal — countDistinct would plan a second aggregate
    # level with a shingle-volume (shingle, doc_id) exchange (r13, the
    # scrub_repeated_spans finding).
    df_counts = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("_df")
    )
    idx = sh.join(
        df_counts.where(F.col("_df") <= df_cap).select("shingle"),
        "shingle",
        "left_semi",
    )
    a = idx.select(F.col("doc_id").alias("doc_id_1"), "shingle")
    b = idx.select(F.col("doc_id").alias("doc_id_2"), "shingle")
    cand = (
        a.join(b, "shingle")
        .where(F.col("doc_id_1") < F.col("doc_id_2"))
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )
    verified = exact_jaccard_for_pairs(docs, cand, "doc_id_1", "doc_id_2")
    return verified.where(F.col("jaccard") >= JACCARD_THRESHOLD).select(
        "doc_id_1", "doc_id_2", F.round("jaccard", 4).alias("jaccard")
    )


JACCARD_HIST_FLOOR = 0.6


@query(
    "neardup_jaccard_histogram",
    oracle=f"""
WITH shingles AS ({_SHINGLE_SQL}),
counts AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT CAST(floor(CAST(n_common AS DOUBLE) / (c1.n + c2.n - n_common) * 20)
            AS BIGINT) AS jaccard_bucket,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM inter
JOIN counts c1 ON doc_id_1 = c1.doc_id
JOIN counts c2 ON doc_id_2 = c2.doc_id
WHERE CAST(n_common AS DOUBLE) / (c1.n + c2.n - n_common)
      >= {JACCARD_HIST_FLOOR}
GROUP BY 1 ORDER BY 1
""",
)
def neardup_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-similarity histogram above the exploratory floor (0.6), in
    0.05-wide Jaccard buckets — the THRESHOLD-CALIBRATION readout the
    dedup threshold is chosen FROM (the near-dup twin of
    `session_gap_sensitivity`): a corpus whose pair mass piles up just
    under the production threshold will flip dedup decisions under
    tiny drift; a bimodal histogram means the threshold sits in the
    safe valley. Exact inverted-index pairs (no LSH — at the 0.6 floor
    witness banding's miss probability is no longer negligible, and a
    calibration readout must not sample), same exchange discipline as
    `dedup_text_ngram_jaccard`.

    Determinism: jaccard = n_common/(n1+n2−n_common) is one double
    division of exact integers (identical op both engines); the
    bucket is floor(jac × 20) — exact for every representable
    quotient. Scale shape: the family's exact-copy collapse (the
    inverted join runs on one REPRESENTATIVE per distinct text — the
    uncollapsed form timed out past 10 min at the dup-heavy 1000×
    probe), with pair MULTIPLICITY restored arithmetically: a
    cross-group rep pair stands for g1 × g2 original pairs at the
    same jaccard, and each ≥2-copy group with shingles contributes
    C(g, 2) jaccard-1.0 pairs (bucket 20). Weighted grid aggregate,
    ≤20 rows out."""
    docs = load_table(spark, sf_dir, "documents")
    members, counts, raw_pairs = _collapsed_rep_jaccard(docs)
    gsz = members.groupBy("rep_id").agg(F.count(F.lit(1)).alias("g"))
    g1 = gsz.select(F.col("rep_id").alias("rep_1"), F.col("g").alias("g1"))
    g2 = gsz.select(F.col("rep_id").alias("rep_2"), F.col("g").alias("g2"))
    cross = (
        raw_pairs.where(F.col("jac") >= JACCARD_HIST_FLOOR)
        .join(g1, "rep_1")
        .join(g2, "rep_2")
        .select(
            F.floor(F.col("jac") * 20).cast("long").alias("jaccard_bucket"),
            (F.col("g1") * F.col("g2")).cast("long").alias("w"),
        )
    )
    # exact-copy pairs: jaccard 1.0 by construction, but only for
    # groups whose representative HAS shingles (a <3-token doc joins
    # nothing in the inverted index, so the reference formulation
    # emits no pair for its copies either)
    within = (
        gsz.join(
            counts.select(F.col("doc_id").alias("rep_id")), "rep_id"
        )
        .where(F.col("g") > 1)
        .select(
            F.lit(20).cast("long").alias("jaccard_bucket"),
            (F.col("g") * (F.col("g") - 1) / 2).cast("long").alias("w"),
        )
    )
    return (
        cross.unionByName(within)
        .groupBy("jaccard_bucket")
        .agg(F.sum("w").cast("long").alias("n_pairs"))
        .orderBy("jaccard_bucket")
    )
