"""Deduplication family — the reference's core capability
(SURVEY.md §2.3; BASELINE.json:6-7).

The reference [R — canonical Confluent recipe, o.a.k.streams.kstream.
KStream#processValues + Stores.persistentWindowStore]: for each record,
look up the event id in a window store; if seen within the retention
window → drop, else forward and record. Its "minefield" corner cases
(unbounded state without TTL, dupes readmitted after expiry,
out-of-order arrivals near the window edge) map to Spark watermarks.

Batch-checkable forms live here (D1/D2/D3/D6-exact); the streaming forms
(D4 `dropDuplicatesWithinWatermark`, D5 custom-TTL arbitrary state) are
in `streaming/dedup_stream.py`. Near-dup text (MinHash/SimHash/Jaccard)
is in `functions/neardup.py`.

Scale notes: every batch form below is one hash shuffle on the dedup
key. At 100 TB: keys should be salted only if a single dedup key is
pathologically hot (rare for IDs); AQE skew handling covers moderate
skew. `dropDuplicates` does partial (map-side) dedup before the
shuffle, so the shuffle volume is bounded by distinct keys per task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query

EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]

BUSINESS_KEY = ["user_id", "event_type", "value"]


@query(
    "dedup_exact",
    oracle="SELECT DISTINCT event_id, ts, user_id, event_type, value, props FROM events",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: exact full-row dedup (hash-groupBy on every column).

    `dropDuplicates()` with no subset == SELECT DISTINCT * — safe for the
    oracle because the whole row is the key (no arbitrary-row-kept
    hazard, SURVEY.md §5.3).
    """
    return load_table(spark, sf_dir, "events").select(*EVENT_COLS).dropDuplicates()


def dedup_first_by(df: DataFrame, key: list[str], order: list) -> DataFrame:
    """Generic deterministic 'keep first per key' operator (D2 core).

    Unlike `dropDuplicates(subset)` (keeps an *arbitrary* row), this is
    deterministic and therefore oracle-checkable.
    """
    w = Window.partitionBy(*key).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


@query(
    "dedup_keep_first",
    oracle="""
SELECT event_id, ts, user_id, event_type, value, props
FROM (
  SELECT event_id, ts, user_id, event_type, value, props,
         row_number() OVER (PARTITION BY user_id, event_type, value
                            ORDER BY ts, event_id) AS rn
  FROM events
) t
WHERE rn = 1
""",
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: dedup on the business key (user_id, event_type, value), keep
    the earliest record by (ts, event_id) — the batch analog of the
    reference's forward-first-drop-later-duplicates semantics.

    r12 audit note: a min_by(struct) aggregate form was A/B'd against
    this window form and REJECTED — Spark 3.5+ compiles the rn=1 window
    into WindowGroupLimit, which already prunes each map partition to
    one row per key BEFORE the exchange (the exact map-side-combine
    property the aggregate swap was meant to buy), while min_by over a
    struct plans as a SortAggregate that re-sorts both sides of the
    same exchange. Measured parity-to-slightly-worse at sf0.1
    (0.56/0.79 min/med window vs 0.60/0.81 aggregate), identical rows.
    """
    ev = load_table(spark, sf_dir, "events").select(*EVENT_COLS)
    return dedup_first_by(ev, BUSINESS_KEY, [F.col("ts").asc(), F.col("event_id").asc()])


DEDUP_WINDOW_MINUTES = 30


@query(
    "dedup_windowed",
    oracle=f"""
SELECT event_id, ts, user_id, event_type, value
FROM (
  SELECT event_id, ts, user_id, event_type, value,
         lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev_ts
  FROM events
) t
WHERE prev_ts IS NULL OR ts - prev_ts > INTERVAL {DEDUP_WINDOW_MINUTES} MINUTE
""",
)
def dedup_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: windowed (TTL) dedup, gap-based batch form.

    Semantics: drop a record if the SAME key appeared within the last W
    (here: the gap to the immediately preceding record of that key is
    <= W). This is the LAG formulation from SURVEY.md §2.3 — it models a
    window store whose entry is refreshed on every arrival (sliding
    TTL). The reference's put-only-on-forward variant (fixed TTL from
    the last *kept* record) is inherently iterative; D5
    (`streaming.dedup_stream`) runs it, as a stream and as a batch twin.

    Strict µs comparison on both sides: `unix_micros` diff here,
    `INTERVAL` arithmetic in DuckDB — identical because both readers
    truncate the ns fixture to µs.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    return (
        ev.withColumn("gap_us", gap_us)
        .filter(F.col("gap_us").isNull() | (F.col("gap_us") > DEDUP_WINDOW_MINUTES * 60 * 1_000_000))
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


INCREMENTAL_CUTOFF = "2024-01-20 00:00:00"


@query(
    "dedup_incremental_new_events",
    oracle=f"""
SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value
FROM events e
WHERE e.ts >= TIMESTAMP '{INCREMENTAL_CUTOFF}'
  AND NOT EXISTS (
    SELECT 1 FROM events h
    WHERE h.ts < TIMESTAMP '{INCREMENTAL_CUTOFF}'
      AND h.user_id = e.user_id
      AND h.event_type = e.event_type
      AND h.value = e.value
  )
""",
)
def dedup_incremental_new_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-batch) dedup — the daily-pipeline shape at
    100 TB: today's partition anti-joined against the accumulated
    seen-keys table, so only never-seen keys flow downstream. Here the
    fixture's own history (ts < cutoff) stands in for the state table.

    Scale shape: the history side is reduced to DISTINCT keys before
    the anti-join (in production: a compact bucketed keys table, not
    the raw history), so the join input is keys, not events.
    """
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(INCREMENTAL_CUTOFF).cast("timestamp")
    history_keys = (
        ev.filter(F.col("ts") < cutoff).select(*BUSINESS_KEY).distinct()
    )
    new_events = ev.filter(F.col("ts") >= cutoff)
    return new_events.join(history_keys, BUSINESS_KEY, "left_anti").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


# Bloom parameters: k=5 hash probes, m >= BLOOM_BITS_PER_KEY bits per
# distinct history key (10 bits/key + k=5 => ~1% false positives),
# rounded up to whole 32768-bit bitmap_construct_agg buckets with a
# 32-bucket (128 KiB) floor. m adapts to the measured key count — a
# fixed m saturates once keys ~ m/10 and the prefilter silently turns
# into a no-op (caught by the 100x probe, SCALING.md).
BLOOM_K = 5
BLOOM_BITS_PER_KEY = 10
BLOOM_MIN_BUCKETS = 32


def bloom_prefilter(
    history_keys: DataFrame, batch: DataFrame, cols: list[str]
) -> DataFrame:
    """Append boolean ``maybe_seen`` to ``batch``: False means the key
    is DEFINITELY absent from ``history_keys`` (Bloom filters have no
    false negatives); True means it might be present (~1% false
    positives at design load) and needs exact verification.

    The bitmap is built distributed with ``bitmap_construct_agg`` (one
    4096-byte bucket per 32768 bits; verified layout: bit p sets byte
    ``p/8 + 1`` at LSB-first position ``p%8``), then the m/8 bytes are
    collected ONCE and embedded as a BINARY plan literal — two bounded
    driver actions (a count to size m, ~10 bits/key of bitmap), the
    same KB-to-MB budget as the sketch family. Each batch row then
    tests its k positions with pure codegen byte arithmetic
    (``conv(hex(substring(<lit>, byte, 1)), 16, 10) & (1 << bit)``) —
    no join, no shuffle, no per-row copy of the filter.

    (A 1-row broadcast cross join carrying the bitmap column was the
    first implementation; BroadcastNestedLoopJoin splices the blob into
    EVERY output row, which the 100x probe measured at 128 s for a 10M
    row batch. The literal form is 4.3 s. SCALING.md records both.)
    """
    # Two bounded build jobs over the RAW key stream — no distinct
    # anywhere in the build: duplicate keys set the same bits, and the
    # sizing only needs an approximate cardinality (HLL partial agg, no
    # shuffle). The bitmap aggregate itself partial-merges map-side, so
    # its shuffle carries <= n_buckets bitmaps per task, not positions.
    n_keys = history_keys.agg(
        F.approx_count_distinct(F.struct(*cols)).alias("n")
    ).collect()[0].n
    n_buckets = max(BLOOM_MIN_BUCKETS, -(-n_keys * BLOOM_BITS_PER_KEY // 32768))
    m_bits = n_buckets * 32768

    def _positions() -> F.Column:
        return F.array(
            *[
                F.pmod(F.xxhash64(*cols, F.lit(i)), F.lit(m_bits))
                for i in range(BLOOM_K)
            ]
        )

    bucket_rows = (
        history_keys.select(F.explode(_positions()).alias("p"))
        .groupBy(F.floor(F.col("p") / 32768).cast("int").alias("bucket"))
        .agg(F.expr("bitmap_construct_agg(cast(p % 32768 as int))").alias("bm"))
        .collect()
    )
    bloom = bytearray(n_buckets * 4096)
    for r in bucket_rows:
        bloom[r.bucket * 4096 : (r.bucket + 1) * 4096] = r.bm
    bloom_lit = F.lit(bytes(bloom))

    def _probe_hit(i: int) -> F.Column:
        pos = F.pmod(F.xxhash64(*cols, F.lit(i)), F.lit(m_bits))
        # Byte decode via Latin-1 (byte-preserving) + ascii: measured
        # ~15% faster than the conv(hex(...)) base conversion.
        byte = F.ascii(
            F.decode(
                F.substring(bloom_lit, F.floor(pos / 8).cast("int") + 1, F.lit(1)),
                "ISO-8859-1",
            )
        )
        mask = F.element_at(
            F.array(*[F.lit(1 << j) for j in range(8)]),
            F.pmod(pos, F.lit(8)).cast("int") + 1,
        )
        return byte.bitwiseAND(mask) != 0

    maybe_seen = F.lit(True)
    for i in range(BLOOM_K):
        maybe_seen = maybe_seen & _probe_hit(i)
    return batch.withColumn("maybe_seen", maybe_seen)


# ---------------------------------------------------------------------------
# Bloom-vs-anti-join decision rule (codified; SCALING.md "Bloom decision
# rule"). Measured: at local[32] the plain anti-join beats the literal
# bloom 4.7 s vs 20.8 s at 100x because the shuffle runs at memory speed
# — the bloom only pays off when the shuffle is network-bound AND the
# history is too big to move. The literal form then has a hard ceiling:
# at 10 bits/key, 1e9 keys is a ~1.25 GB driver collect embedded as a
# plan literal, and ~1.7e9 keys exceeds the JVM 2 GB byte-array limit.
# Above that the bitmap must STAY distributed (bloom_prefilter_partitioned).
# ---------------------------------------------------------------------------

# Below this, the distinct-key table shuffles in seconds even over the
# network — the exact anti-join is both simpler and faster.
ANTI_JOIN_MAX_KEYS = 50_000_000
# Above this, the driver-assembled literal bitmap (10 bits/key) crosses
# ~0.6 GB and plan-literal shipping + driver heap become the bottleneck
# well before the 2 GB hard wall.
BLOOM_LITERAL_MAX_KEYS = 500_000_000


def choose_dedup_strategy(n_history_keys: int) -> str:
    """Pick the incremental-dedup physical strategy from the (approx)
    distinct history-key count: ``anti_join`` below
    ``ANTI_JOIN_MAX_KEYS``, ``bloom_literal`` up to
    ``BLOOM_LITERAL_MAX_KEYS``, ``bloom_partitioned`` beyond (the
    driver-assembled bitmap is the literal form's ceiling)."""
    if n_history_keys < ANTI_JOIN_MAX_KEYS:
        return "anti_join"
    if n_history_keys <= BLOOM_LITERAL_MAX_KEYS:
        return "bloom_literal"
    return "bloom_partitioned"


def bloom_prefilter_partitioned(
    history_keys: DataFrame, batch: DataFrame, cols: list[str]
) -> DataFrame:
    """``bloom_prefilter`` for histories past the literal ceiling: the
    bitmap NEVER reaches the driver. Same hashes, same m sizing, same
    no-false-negative guarantee — bit-for-bit identical ``maybe_seen``
    to the literal form (parity-pinned in tests/test_dedup.py).

    Shape: history positions aggregate into (bucket, 4 KiB bitmap) rows
    that stay distributed (bitmap_construct_agg partial-merges
    map-side); the batch explodes to k=5 position rows (~40 bytes each)
    that shuffle-join on bucket, then regroup per physical row to AND the
    probes. Cost is two skinny shuffles of k x |batch| position rows —
    at 1e10 history keys that is still orders of magnitude less traffic
    than anti-joining the batch against the key table, and no single
    machine ever holds the ~12 GB of bitmap."""
    n_keys = history_keys.agg(
        F.approx_count_distinct(F.struct(*cols)).alias("n")
    ).collect()[0].n
    n_buckets = max(BLOOM_MIN_BUCKETS, -(-n_keys * BLOOM_BITS_PER_KEY // 32768))
    m_bits = n_buckets * 32768
    pos_arr = F.array(
        *[F.pmod(F.xxhash64(*cols, F.lit(i)), F.lit(m_bits)) for i in range(BLOOM_K)]
    )
    bitmap = (
        history_keys.select(F.explode(pos_arr).alias("p"))
        .groupBy(F.floor(F.col("p") / 32768).cast("int").alias("bucket"))
        .agg(F.expr("bitmap_construct_agg(cast(p % 32768 as int))").alias("bm"))
    )
    # Probe PER PHYSICAL ROW, never per caller-supplied id: grouping the
    # AND of probe bits by a non-unique (or NULL) id pools different
    # rows' probes — a genuine Bloom FALSE NEGATIVE for the seen row,
    # and NULL ids vanish through the equi-join entirely (review r4).
    # monotonically_increasing_id is only stable if both the probe
    # branch and the join-back read the SAME materialized rows, hence
    # the localCheckpoint pin.
    pinned = batch.withColumn(
        "__bloom_row", F.monotonically_increasing_id()
    ).localCheckpoint(eager=True)
    probes = pinned.select(F.col("__bloom_row"), F.explode(pos_arr).alias("p")).select(
        "__bloom_row",
        F.floor(F.col("p") / 32768).cast("int").alias("bucket"),
        F.pmod(F.col("p"), F.lit(32768)).cast("int").alias("off"),
    )
    byte = F.ascii(
        F.decode(
            F.col("bm").substr(
                F.floor(F.col("off") / 8).cast("int") + F.lit(1), F.lit(1)
            ),
            "ISO-8859-1",
        )
    )
    mask = F.element_at(
        F.array(*[F.lit(1 << j) for j in range(8)]),
        F.pmod(F.col("off"), F.lit(8)).cast("int") + 1,
    )
    hit = (F.col("bm").isNotNull() & (byte.bitwiseAND(mask) != 0)).cast("int")
    per_row = (
        probes.join(bitmap, "bucket", "left")
        .groupBy("__bloom_row")
        .agg((F.min(hit) == 1).alias("maybe_seen"))
    )
    return pinned.join(per_row, "__bloom_row", "inner").drop("__bloom_row")


@query(
    "dedup_incremental_bloom",
    oracle=f"""
SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value
FROM events e
WHERE e.ts >= TIMESTAMP '{INCREMENTAL_CUTOFF}'
  AND NOT EXISTS (
    SELECT 1 FROM events h
    WHERE h.ts < TIMESTAMP '{INCREMENTAL_CUTOFF}'
      AND h.user_id = e.user_id
      AND h.event_type = e.event_type
      AND h.value = e.value
  )
""",
)
def dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup with a Bloom-filter prefilter — identical
    semantics (and oracle) to :func:`dedup_incremental_new_events`, but
    the batch side never shuffles into the anti-join unless the Bloom
    filter says the key MIGHT be seen.

    This is the shape that matters at 100 TB: the seen-keys table is
    reduced to an m-bit Bloom bitmap sized at 10 bits per distinct key
    (~1% false positives with k=5 — ~125 MB per 1e8 keys, vs TBs for
    the key table itself). The LITERAL form below has a ceiling: the
    bitmap is a driver collect embedded in the plan, so ~5e8 keys
    (~0.6 GB) is the practical limit and ~1.7e9 keys the hard JVM
    2 GB byte-array wall — beyond it use
    :func:`bloom_prefilter_partitioned` (distributed bitmap, bucket
    join), per :func:`choose_dedup_strategy`'s codified rule, and below
    ~5e7 keys skip the bloom entirely (the plain anti-join measured
    4.4x faster at local[32]; SCALING.md). Each new row tests its k=5 bit positions
    against the bitmap in whole-stage codegen; rows failing ANY probe
    are DEFINITELY new (Bloom filters have no false negatives) and
    bypass the shuffle entirely. Only the candidate residue — true
    dupes plus ~1% false positives — pays the exact anti-join, so the
    expensive shuffle processes ~1% of the batch instead of 100%.

    Built from public Spark bitmap built-ins (see
    :func:`bloom_prefilter` for the mechanism and the measured
    cross-join-vs-literal design note). Correctness does not depend on
    Bloom parameters (any fp rate only shrinks the bypass set); the
    oracle is the exact anti-join, and tests/test_dedup.py pins both
    the parity with the plain anti-join and that the prefilter actually
    bypasses rows.
    """
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(INCREMENTAL_CUTOFF).cast("timestamp")
    # The prefilter build reads the RAW projected history (duplicate
    # keys set the same bits — no distinct needed anywhere).
    hist_raw = ev.filter(F.col("ts") < cutoff).select(*BUSINESS_KEY)

    new_events = ev.filter(F.col("ts") >= cutoff).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # ONE probe pass produces the candidate keys (~fp-rate of the
    # batch); history is then REDUCED to the keys that collide with a
    # candidate (semi join against the small side — AQE broadcasts it),
    # and the final anti-join tests the batch against only that tiny
    # verified-seen set. No full-size shuffle on either input at any
    # step: the batch never shuffles, the history only scans.
    candidate_keys = (
        bloom_prefilter(hist_raw, new_events, BUSINESS_KEY)
        .filter(F.col("maybe_seen"))
        .select(*BUSINESS_KEY)
    )
    seen_keys = hist_raw.join(candidate_keys, BUSINESS_KEY, "left_semi").distinct()
    return new_events.join(seen_keys, BUSINESS_KEY, "left_anti").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@query(
    "dedup_text_exact",
    oracle="""
SELECT doc_id, text, lang, source, n_chars
FROM (
  SELECT doc_id, text, lang, source, n_chars,
         row_number() OVER (PARTITION BY lower(trim(text)) ORDER BY doc_id) AS rn
  FROM documents
) t
WHERE rn = 1
""",
)
def dedup_text_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 (exact half): collapse documents with identical normalized
    text, keeping the lowest doc_id.

    Scale-shaped plan: the shuffle carries (md5(norm_text), doc_id) —
    ~40 bytes/row — NOT the document bodies; the winner set (one
    doc_id per distinct text) semi-joins back against the full table.
    A window over the raw text (the naive form) would shuffle every
    document byte twice; measured ~3× slower even at sf0.1. md5's
    128 bits make a winner-set collision effectively impossible, so
    semantics match the oracle's text-equality exactly.

    No broadcast HINT on the winner set: it is documents-proportional
    (one row per distinct text), so a forced broadcast would OOM
    executors at 100 TB. AQE chooses broadcast at runtime whenever the
    frame is actually small (it is, at every fixture scale).
    """
    docs = load_table(spark, sf_dir, "documents")
    norm_hash = F.md5(F.lower(F.trim(F.col("text"))))
    winners = (
        docs.select(norm_hash.alias("nh"), "doc_id")
        .groupBy("nh")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return docs.join(winners, "doc_id", "left_semi").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


@query(
    "dedup_keep_by_source_priority",
    oracle="""
SELECT doc_id, source, lang
FROM (
  SELECT doc_id, source, lang,
         row_number() OVER (
           PARTITION BY lower(text)
           ORDER BY CAST(substr(source, 4) AS INT), doc_id
         ) AS rn
  FROM documents
) t
WHERE rn = 1
ORDER BY doc_id
""",
)
def dedup_keep_by_source_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a SOURCE-priority keep rule — the curation
    variant of keep-first: when the same text exists in several
    sources, keep the copy from the most-trusted one (here: the
    source's numeric rank ascending, e.g. curated dumps before common
    crawl), tiebreak on doc_id. Plain keep-first (D2) optimizes for
    stability; this optimizes for provenance — the rule real pipeline
    mixes apply when sources overlap.

    Scale shape: identical to dedup_text_exact — ONE hash aggregate on
    the text digest with a min_by(struct) winner (map-side combinable,
    no window, no join); the priority is a per-row expression."""
    docs = load_table(spark, sf_dir, "documents")
    prio = F.substring("source", 4, 10).cast("int")
    winner = F.min_by(
        F.struct("doc_id", "source", "lang"), F.struct(prio, F.col("doc_id"))
    ).alias("w")
    return (
        docs.groupBy(F.md5(F.lower("text")).alias("h"))
        .agg(winner)
        .select("w.doc_id", "w.source", "w.lang")
        # no trailing global sort: the driver hash is order-insensitive
        # and a doc-level orderBy is a data-sized range exchange
        # (measured 10.4 s vs dedup_text_exact's 1.8 s at the 10x probe)
    )


@query(
    "dup_cluster_size_histogram",
    oracle="""
WITH c AS (SELECT md5(text) AS h, count(*) AS sz FROM documents GROUP BY h)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sz * count(*) AS BIGINT) AS n_docs
FROM c GROUP BY sz ORDER BY sz
""",
)
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size distribution of exact-duplicate clusters — the curation
    dashboard's 'how duplicated is this corpus, and in what shape'
    readout (many pairs vs a few megaclusters demand different scrub
    strategies; dup_rate_by_source gives the per-source rate, this
    gives the global structure).

    Scale shape: both exchanges move an md5 DIGEST, never document
    text (the dedup_text_exact / dup_rate_by_source copy-flood
    discipline); the histogram itself is bounded by the distinct
    cluster-size count (≈ log-many values). All exact integers."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = docs.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("sz")
    )
    return (
        clusters.groupBy("sz")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            F.col("sz").cast("long").alias("cluster_size"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            (F.col("sz") * F.col("n_clusters")).cast("long").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


@query(
    "dedup_cross_source_matrix",
    oracle="""
WITH d AS (SELECT DISTINCT md5(text) AS h, source FROM documents)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_shared_digests
FROM d a JOIN d b USING (h)
WHERE a.source < b.source
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, how many
    distinct exact-duplicate digests they SHARE — the provenance view
    of the dedup problem (dup_rate_by_source says how duplicated each
    source is; this says WHICH sources copy each other, the input to a
    keep-priority policy and to licensing/contamination review).

    Scale shape: the exchange carries DISTINCT (md5 digest, source)
    pairs — never text, and never more than one row per (digest,
    source); the self-join is digest-keyed with per-digest group sizes
    bounded by the source count (≤ tens), so no pair blowup; the
    output is the source-pair grid. [R the cross-topic dedup
    accounting a KS dedup pipeline reports per upstream topic]."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(F.md5("text").alias("h"), "source").distinct()
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(b, "h")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_digests"))
        .orderBy("source_a", "source_b")
    )


PREFIX_DIGEST_CHARS = 64


@query(
    "dedup_prefix_digest",
    oracle=f"""
SELECT md5(substr(text, 1, {PREFIX_DIGEST_CHARS})) AS prefix_h,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS keep_doc_id,
       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
FROM documents
GROUP BY 1 HAVING count(*) > 1
ORDER BY 1
""",
)
def dedup_prefix_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-digest near-identity groups: documents sharing their
    first PREFIX_DIGEST_CHARS (64) characters (md5 of the raw prefix),
    with the
    keep-first winner and how many sources the group spans — the cheap
    boilerplate/mirror blocker a pretraining pipeline runs BEFORE the
    shingle pipelines (templated pages and syndicated articles share
    prefixes long before they share full texts; a prefix group is a
    candidate block for the expensive verify, at digest cost).

    Scale shape: ONE exchange carrying (16-byte digest, doc_id,
    source) — never text past the digest prefix (substring is
    computed scan-side, so the shuffle payload is fixed-width); the
    aggregate is count/min/count-distinct, all map-side combinable.
    [R the exact-dedup topic keyed by a value prefix — the KS dedup
    processor's cheap-key variant]."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            F.md5(F.substring("text", 1, PREFIX_DIGEST_CHARS)).alias(
                "prefix_h"
            ),
            "doc_id",
            "source",
        )
        .groupBy("prefix_h")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
            F.countDistinct("source").cast("long").alias("n_sources"),
        )
        .where(F.col("n_docs") > 1)
        .orderBy("prefix_h")
    )
