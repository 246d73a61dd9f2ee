"""Dedup corner cases — the reference's TopologyTestDriver concern set
(FIXTURES.md 'Hand-written unit fixtures'; SURVEY.md §5.2.2): duplicate
within window dropped, duplicate after gap readmitted, out-of-order
arrival, null keys, all-duplicates, empty input, idempotence.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from minefields_kafka_streams_deduplication_spark.operators.dedup import (
    DEDUP_WINDOW_MINUTES,
    dedup_first_by,
)

SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def mk(spark, rows):
    return spark.createDataFrame(
        [(i, T0 + dt.timedelta(minutes=m), u, et, v) for (i, m, u, et, v) in rows],
        SCHEMA,
    )


def windowed_dedup(df, window_minutes=DEDUP_WINDOW_MINUTES):
    """Same LAG-gap formulation as the registered dedup_windowed query."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    return df.withColumn("gap", gap).filter(
        F.col("gap").isNull() | (F.col("gap") > window_minutes * 60 * 1_000_000)
    ).drop("gap")


def ids(df):
    return sorted(r.event_id for r in df.collect())


def test_dup_within_window_dropped(spark):
    df = mk(spark, [(1, 0, 7, "click", 1.0), (2, 10, 7, "click", 1.0)])
    assert ids(windowed_dedup(df)) == [1]


def test_dup_after_gap_readmitted(spark):
    df = mk(spark, [(1, 0, 7, "click", 1.0), (2, 45, 7, "click", 1.0)])
    assert ids(windowed_dedup(df)) == [1, 2]


def test_out_of_order_duplicate(spark):
    # Event 2 arrives with an EARLIER timestamp than kept event 1:
    # event-time ordering decides — 2 is kept (first in event time),
    # 1 becomes the in-window duplicate.
    df = mk(spark, [(1, 20, 7, "click", 1.0), (2, 0, 7, "click", 1.0)])
    assert ids(windowed_dedup(df)) == [2]


def test_null_key_rows_form_their_own_group(spark):
    rows = [
        (1, T0, None, "click", 1.0),
        (2, T0 + dt.timedelta(minutes=5), None, "click", 1.0),
        (3, T0, 8, "click", 1.0),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    kept = ids(windowed_dedup(df))
    assert kept == [1, 3]  # nulls group together (SQL window semantics)


def test_all_duplicates_collapse_to_one(spark):
    df = mk(spark, [(i, i, 7, "click", 1.0) for i in range(5)])  # 1-min apart
    assert ids(windowed_dedup(df)) == [0]


def test_empty_input(spark):
    df = spark.createDataFrame([], SCHEMA)
    assert windowed_dedup(df).count() == 0


def test_keep_first_deterministic(spark):
    df = mk(
        spark,
        [(5, 0, 7, "click", 1.0), (3, 0, 7, "click", 1.0), (9, 1, 7, "click", 1.0)],
    )
    out = dedup_first_by(
        df, ["user_id", "event_type", "value"], [F.col("ts").asc(), F.col("event_id").asc()]
    )
    assert ids(out) == [3]  # same ts → lowest event_id wins


def test_dedup_idempotent(spark):
    df = mk(spark, [(i, i * 7 % 60, i % 3, "click", float(i % 2)) for i in range(30)])
    once = dedup_first_by(df, ["user_id", "value"], [F.col("ts").asc(), F.col("event_id").asc()])
    twice = dedup_first_by(once, ["user_id", "value"], [F.col("ts").asc(), F.col("event_id").asc()])
    assert ids(once) == ids(twice)


def test_permutation_invariance(spark):
    rows = [(i, i * 7 % 60, i % 3, "click", float(i % 2)) for i in range(30)]
    a = dedup_first_by(
        mk(spark, rows), ["user_id", "value"], [F.col("ts").asc(), F.col("event_id").asc()]
    )
    b = dedup_first_by(
        mk(spark, rows[::-1]), ["user_id", "value"], [F.col("ts").asc(), F.col("event_id").asc()]
    )
    assert ids(a) == ids(b)


def test_scrub_repeated_spans_keeps_one_canonical_copy(spark, monkeypatch):
    """An 8-token span shared by two docs survives only in the lower
    doc_id; unique text is untouched."""
    from minefields_kafka_streams_deduplication_spark.functions import neardup

    boiler = "a b c d e f g h"
    rows = [
        (0, boiler + " unique tail zero", "en", "s", 1),
        (1, "other head one " + boiler, "en", "s", 1),
        (2, "totally different words here nothing shared at all", "en", "s", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    monkeypatch.setattr(neardup, "load_table", lambda s, d, n: df)
    out = {r.doc_id: r for r in neardup.scrub_repeated_spans(spark, "ignored").collect()}
    assert out[0].scrubbed_text == rows[0][1]  # canonical copy untouched
    assert out[0].n_removed_tokens == 0
    assert "a b c d e f g h" not in out[1].scrubbed_text
    assert out[1].scrubbed_text.startswith("other head one")
    assert out[1].n_removed_tokens == 8
    assert out[2].scrubbed_text == rows[2][1]


def test_scrub_within_doc_repeat_not_marked(spark, monkeypatch):
    """A span repeated twice WITHIN one doc (and nowhere else) is not
    cross-doc repeated and must survive. Pins the r13 min!=max swap for
    countDistinct(doc_id) > 1: the span occurs at two positions of the
    same doc_id, so a count-of-occurrences test would wrongly mark it —
    only a distinct-holder test (min(doc_id) != max(doc_id)) keeps it.
    """
    from minefields_kafka_streams_deduplication_spark.functions import neardup

    span = "a b c d e f g h"
    rows = [
        # span twice within doc 0 (separated so the two windows do not
        # merge into one run even if marked), unique elsewhere
        (0, span + " xx yy zz ww qq rr ss tt " + span, "en", "s", 1),
        (1, "completely unrelated words that share nothing at all okay", "en", "s", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    monkeypatch.setattr(neardup, "load_table", lambda s, d, n: df)
    out = {r.doc_id: r for r in neardup.scrub_repeated_spans(spark, "ignored").collect()}
    assert out[0].scrubbed_text == rows[0][1]
    assert out[0].n_removed_tokens == 0
    out_all = {
        r.doc_id: r
        for r in neardup.scrub_repeated_spans_all(spark, "ignored").collect()
    }
    assert out_all[0].scrubbed_text == rows[0][1]
    assert out_all[0].n_removed_tokens == 0


def test_scrub_repeated_spans_short_docs_untouched(spark, monkeypatch):
    """Docs shorter than the span width generate no windows — identical
    short docs must pass through unmodified (no phantom spans)."""
    from minefields_kafka_streams_deduplication_spark.functions import neardup

    rows = [(0, "tiny doc", "en", "s", 1), (1, "tiny doc", "en", "s", 1)]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    monkeypatch.setattr(neardup, "load_table", lambda s, d, n: df)
    out = {r.doc_id: r for r in neardup.scrub_repeated_spans(spark, "ignored").collect()}
    assert out[0].scrubbed_text == "tiny doc" and out[1].scrubbed_text == "tiny doc"
    assert out[0].n_removed_tokens == 0 and out[1].n_removed_tokens == 0


def test_cc_isolated_copy_group_is_its_own_cluster(spark, monkeypatch):
    """Pins the r13 rep-graph CC restructure: a multi-member exact-copy
    group with NO cross-group near-dup edge is a cluster by itself
    (its within-pairs are jaccard-1.0 edges in the expanded graph),
    while copies of a <3-token text produce no pairs and are excluded
    (no shingles — the within-gate)."""
    from minefields_kafka_streams_deduplication_spark.functions import neardup

    long_text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (10, long_text, "en", "s", 1),
        (11, long_text, "en", "s", 1),
        (12, long_text, "en", "s", 1),
        (20, "unique words entirely different from the copies here", "en", "s", 1),
        (30, "tiny doc", "en", "s", 1),
        (31, "tiny doc", "en", "s", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    monkeypatch.setattr(neardup, "load_table", lambda s, d, n: df)
    out = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in neardup.dedup_clusters_cc(spark, "ignored").collect()
    }
    assert out == {10: (10, 3), 11: (10, 3), 12: (10, 3)}


def test_cc_clusters_consistent_with_pair_graph(spark, sf_dir):
    """Connected components must place both endpoints of every near-dup
    pair in the same cluster, and never merge docs with no path."""
    import minefields_kafka_streams_deduplication_spark as engine

    clusters = {
        r.doc_id: r.cluster_id
        for r in engine.get_queries()["dedup_clusters_cc"](spark, sf_dir).collect()
    }
    pairs = engine.get_queries()["dedup_text_ngram_jaccard"](spark, sf_dir).collect()
    for p in pairs:
        assert clusters[p.doc_id_1] == clusters[p.doc_id_2], (p.doc_id_1, p.doc_id_2)
    # cluster ids are min-doc labels: every cluster id is a member of itself
    for d, c in clusters.items():
        assert clusters.get(c) == c


def test_bloom_prefilter_no_false_negatives(spark):
    """Every key present in history MUST flag maybe_seen=True — a false
    negative would silently drop a duplicate check and break the
    incremental-dedup contract."""
    from minefields_kafka_streams_deduplication_spark.operators.dedup import bloom_prefilter

    hist = spark.createDataFrame([(i, f"t{i % 7}", float(i) / 3) for i in range(500)],
                                 "user_id LONG, event_type STRING, value DOUBLE")
    flagged = bloom_prefilter(hist, hist, ["user_id", "event_type", "value"])
    assert flagged.filter("NOT maybe_seen").count() == 0


def test_bloom_prefilter_bypasses_unseen_keys(spark):
    """Keys absent from history should nearly all flag maybe_seen=False
    (the whole point of the prefilter: they skip the exact anti-join).
    At 500 history keys x 5 probes in a 1M-bit filter the expected
    false-positive rate is ~(2500/1e6)^5 ~ 1e-13; assert < 1%."""
    from minefields_kafka_streams_deduplication_spark.operators.dedup import bloom_prefilter

    hist = spark.createDataFrame([(i, f"t{i % 7}", float(i) / 3) for i in range(500)],
                                 "user_id LONG, event_type STRING, value DOUBLE")
    probe = spark.createDataFrame(
        [(i + 1_000_000, f"x{i % 11}", float(i) * 7.5) for i in range(2000)],
        "user_id LONG, event_type STRING, value DOUBLE")
    n_candidates = bloom_prefilter(hist, probe, ["user_id", "event_type", "value"]) \
        .filter("maybe_seen").count()
    assert n_candidates <= 20, n_candidates


def test_bloom_incremental_matches_plain_anti_join(spark, sf_dir):
    """dedup_incremental_bloom must return exactly the plain anti-join's
    rows — the Bloom stage is a pure prefilter, never a semantics change."""
    import minefields_kafka_streams_deduplication_spark as engine

    qs = engine.get_queries()
    bloom = {r.event_id for r in qs["dedup_incremental_bloom"](spark, sf_dir).collect()}
    plain = {r.event_id for r in qs["dedup_incremental_new_events"](spark, sf_dir).collect()}
    assert bloom == plain


def test_dedup_strategy_decision_rule():
    """The codified Bloom-vs-anti-join rule (SCALING.md 'Bloom decision
    rule'): plain anti-join below 5e7 keys (measured 4.4x faster at
    local[32]), literal bitmap to 5e8 (driver/plan-literal budget),
    distributed-bitmap probe beyond (the literal form's 2 GB JVM
    byte-array wall sits at ~1.7e9 keys)."""
    from minefields_kafka_streams_deduplication_spark.operators.dedup import (
        choose_dedup_strategy,
    )

    assert choose_dedup_strategy(1_000_000) == "anti_join"
    assert choose_dedup_strategy(49_999_999) == "anti_join"
    assert choose_dedup_strategy(200_000_000) == "bloom_literal"
    assert choose_dedup_strategy(500_000_000) == "bloom_literal"
    assert choose_dedup_strategy(5_000_000_000) == "bloom_partitioned"


def test_bloom_partitioned_matches_literal(spark):
    """bloom_prefilter_partitioned must produce bit-for-bit the same
    maybe_seen verdicts as the literal form — same hashes, same m —
    while never collecting the bitmap to the driver."""
    from minefields_kafka_streams_deduplication_spark.operators.dedup import (
        bloom_prefilter,
        bloom_prefilter_partitioned,
    )

    hist = spark.createDataFrame(
        [(i, f"t{i % 7}", float(i) / 3) for i in range(500)],
        "user_id LONG, event_type STRING, value DOUBLE",
    )
    probe = spark.createDataFrame(
        [(i, i, f"t{i % 7}", float(i) / 3) for i in range(250)]
        + [(10_000 + i, i + 1_000_000, f"x{i % 11}", float(i) * 7.5) for i in range(250)],
        "row_id LONG, user_id LONG, event_type STRING, value DOUBLE",
    )
    cols = ["user_id", "event_type", "value"]
    lit_verdicts = {
        r.row_id: r.maybe_seen
        for r in bloom_prefilter(hist, probe, cols).collect()
    }
    part_verdicts = {
        r.row_id: r.maybe_seen
        for r in bloom_prefilter_partitioned(hist, probe, cols).collect()
    }
    assert part_verdicts == lit_verdicts
    # the seen half must all flag True (no false negatives)
    assert all(part_verdicts[i] for i in range(250))


def test_bloom_partitioned_safe_for_duplicate_and_null_ids(spark):
    """Review-r4 regression: verdicts are per physical row, so
    duplicate id values must not pool probes (Bloom false negative) and
    NULL-id rows must not vanish."""
    from pyspark.sql import functions as F

    from minefields_kafka_streams_deduplication_spark.operators.dedup import (
        bloom_prefilter_partitioned,
    )

    hist = spark.createDataFrame([("seen",)], "k STRING")
    # Two rows share row_id 1 (one seen, one unseen); one row has NULL id.
    probe = spark.createDataFrame(
        [(1, "seen"), (1, "unseen-xyz"), (None, "seen")],
        "row_id INT, k STRING",
    )
    out = bloom_prefilter_partitioned(hist, probe, ["k"]).collect()
    assert len(out) == 3  # every input row survives, NULL id included
    verdicts = {(r.row_id, r.k): r.maybe_seen for r in out}
    assert verdicts[(1, "seen")] is True  # no false negative
    assert verdicts[(None, "seen")] is True
    assert verdicts[(1, "unseen-xyz")] is False  # (no collision at this size)


def test_scrub_runs_cover_long_repeats(spark, monkeypatch):
    """Run-merged reconstruction: a cross-doc repeat LONGER than the
    window width (15 tokens vs n=8) has all its pure sub-windows
    marked, which must merge into ONE maximal run covering the entire
    repeat — fully scrubbed from the non-canonical doc, canonical copy
    untouched, and the two flanking contexts (unique per doc) intact."""
    from minefields_kafka_streams_deduplication_spark.functions import neardup

    rep = " ".join(f"r{i}" for i in range(1, 16))  # 15-token repeat
    rows = [
        (1, f"a1 a2 a3 {rep} b1 b2 b3", "en", "s", 1),
        (2, f"c1 c2 c3 {rep} d1 d2 d3", "en", "s", 1),
        # two separate 8-token repeats in one doc: two DISJOINT runs
        (3, "a b c d e f g h uniq p q r s t u v w", "en", "s", 1),
        (4, "a b c d e f g h xx p q r s t u v w", "en", "s", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    monkeypatch.setattr(neardup, "load_table", lambda s, d, n: df)
    out = {r.doc_id: r for r in neardup.scrub_repeated_spans(spark, "x").collect()}
    assert out[1].scrubbed_text == rows[0][1] and out[1].n_removed_tokens == 0
    # the WHOLE 15-token repeat goes in one merged run — not 8-token bites
    assert out[2].scrubbed_text == "c1 c2 c3 d1 d2 d3"
    assert out[2].n_removed_tokens == 15
    # doc 4: both flanking 8-token repeats scrubbed as two disjoint
    # runs; the unmatched middle token survives between them
    assert out[4].scrubbed_text == "xx"
    assert out[4].n_removed_tokens == 16
    assert out[3].scrubbed_text == rows[2][1]  # canonical for both spans


def test_scrub_removeall_overlapping_repeats_fully_scrubbed(spark, monkeypatch):
    """VERDICT r5 #4: the keep-first mode's per-window attribution
    fragments the canonical copy when OVERLAPPING repeats have
    different keep docs (pinned below as the documented caveat); the
    remove-all mode (Lee et al.'s released ExactSubstr semantics) has
    no attribution, so every occurrence of the 15-token repeat scrubs
    FULLY regardless of alignment."""
    from minefields_kafka_streams_deduplication_spark.functions import neardup

    W = [f"w{i}" for i in range(100)]
    R = [f"r{i}" for i in range(15)]
    rows = [
        # doc 10: ONLY the last 8 tokens of R (a third-party sub-repeat
        # with the lowest id — the attribution-conflict trigger)
        (10, " ".join(W[40:44] + R[7:] + W[44:48]), "en", "s", 1),
        (11, " ".join(W[50:55] + R + W[55:60]), "en", "s", 1),
        (12, " ".join(W[60:63] + R + W[63:70]), "en", "s", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    monkeypatch.setattr(neardup, "load_table", lambda s, d, n: df)

    # remove-all: both full occurrences of R scrub completely, and the
    # sub-repeat occurrence in doc 10 scrubs too — contexts intact.
    out = {
        r.doc_id: r for r in neardup.scrub_repeated_spans_all(spark, "x").collect()
    }
    assert out[11].scrubbed_text == " ".join(W[50:55] + W[55:60])
    assert out[11].n_removed_tokens == 15
    assert out[12].scrubbed_text == " ".join(W[60:63] + W[63:70])
    assert out[12].n_removed_tokens == 15
    assert out[10].scrubbed_text == " ".join(W[40:44] + W[44:48])
    assert out[10].n_removed_tokens == 8

    # keep-first with run-level attribution (r7, VERDICT r6 #5): doc 11
    # is canonical for most of R's windows, so its merged run — the
    # WHOLE 15-token repeat — survives intact even though the contested
    # suffix window's keeper is doc 10. The old per-window rule cut
    # R[7:] out of doc 11, leaving the repeat intact nowhere.
    kf = {r.doc_id: r for r in neardup.scrub_repeated_spans(spark, "x").collect()}
    assert kf[10].n_removed_tokens == 0  # keeper of its own sub-repeat
    assert kf[11].n_removed_tokens == 0  # canonical copy survives INTACT
    assert kf[11].scrubbed_text == rows[1][1]
    assert kf[12].n_removed_tokens == 15  # keeper of nothing: run removed
    assert kf[12].scrubbed_text == " ".join(W[60:63] + W[63:70])


def test_scrub_removeall_copy_groups_and_uniques(spark, monkeypatch):
    """Remove-all over exact-copy groups: the collapse prefilter hides
    within-group repetition from the span table, so the dup-group rule
    must scrub BOTH the rep and its copies to empty (every window is
    cross-doc duplicated); unique docs — long and sub-window short —
    pass through untouched."""
    from minefields_kafka_streams_deduplication_spark.functions import neardup

    W = [f"w{i}" for i in range(100)]
    R = [f"r{i}" for i in range(15)]
    rows = [
        (1, " ".join(R + W[:5]), "en", "s", 1),
        (2, " ".join(R + W[:5]), "en", "s", 1),  # exact copy of doc 1
        (3, " ".join(W[10:30]), "en", "s", 1),   # unique long
        (4, " ".join(W[90:96]), "en", "s", 1),   # unique, < n tokens
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    monkeypatch.setattr(neardup, "load_table", lambda s, d, n: df)
    out = {
        r.doc_id: r for r in neardup.scrub_repeated_spans_all(spark, "x").collect()
    }
    assert out[1].scrubbed_text == "" and out[1].n_removed_tokens == 20
    assert out[2].scrubbed_text == "" and out[2].n_removed_tokens == 20
    assert out[3].scrubbed_text == rows[2][1] and out[3].n_removed_tokens == 0
    assert out[4].scrubbed_text == rows[3][1] and out[4].n_removed_tokens == 0


def test_scrub_removeall_dominates_keepfirst_on_fixture(spark, sf_dir):
    """Fixture-wide invariants tying the two modes together: remove-all
    scrubs at least as much as keep-first for EVERY document (it drops
    the canonical exemption and adds nothing else), and the two modes
    agree exactly on documents keep-first already emptied."""
    from minefields_kafka_streams_deduplication_spark.catalog import load_table
    from minefields_kafka_streams_deduplication_spark.functions.neardup import (
        scrub_repeated_spans_df,
    )

    docs = load_table(spark, sf_dir, "documents")
    kf = {
        r.doc_id: r.n_removed_tokens
        for r in scrub_repeated_spans_df(docs).collect()
    }
    ra = {
        r.doc_id: r.n_removed_tokens
        for r in scrub_repeated_spans_df(docs, keep_first=False).collect()
    }
    assert set(kf) == set(ra)
    assert all(ra[d] >= kf[d] for d in kf), [
        d for d in kf if ra[d] < kf[d]
    ][:5]
    assert any(ra[d] > 0 for d in ra)  # the fixture does contain repeats


def test_scrub_removeall_matches_positional_reference_hypothesis(spark):
    """Hypothesis pin for remove-all semantics: a pure-Python positional
    reference (windows → cross-doc repeated → union of covered
    positions → gap-kept tokens) must match the distributed output
    EXACTLY on arbitrary random corpora — including exact-copy groups
    (both copies empty), sub-window docs, and overlapping repeats."""
    from hypothesis import given, settings, strategies as st

    from minefields_kafka_streams_deduplication_spark.functions.neardup import (
        SCRUB_SPAN_TOKENS as N,
        scrub_repeated_spans_df,
    )

    word = st.sampled_from(["aa", "bb", "cc", "dd"])
    doc = st.lists(word, min_size=0, max_size=14)

    @given(st.lists(doc, min_size=1, max_size=5))
    @settings(max_examples=12, deadline=None)
    def run(corpus):
        rows = [(i, " ".join(toks)) for i, toks in enumerate(corpus)]
        df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
        got = {
            r.doc_id: (r.scrubbed_text, r.n_removed_tokens)
            for r in scrub_repeated_spans_df(df, keep_first=False).collect()
        }

        # positional reference
        toks = {i: t for i, t in enumerate(corpus)}
        owners: dict[tuple, set] = {}
        for i, t in toks.items():
            for p in range(len(t) - N + 1):
                owners.setdefault(tuple(t[p : p + N]), set()).add(i)
        exp = {}
        for i, t in toks.items():
            removed = set()
            for p in range(len(t) - N + 1):
                if len(owners[tuple(t[p : p + N])]) > 1:
                    removed.update(range(p, p + N))
            kept = [w for j, w in enumerate(t) if j not in removed]
            exp[i] = (" ".join(kept), len(removed))
        assert got == exp, (got, exp)

    run()


def test_dedup_source_priority_numeric_order(spark, monkeypatch):
    """The keep rule orders sources by NUMERIC rank (src2 beats src10),
    not lexicographically ('src10' < 'src2' as strings would invert
    it), with doc_id as tiebreak within a source."""
    from minefields_kafka_streams_deduplication_spark.operators import dedup

    rows = [
        (1, "shared text body here", "en", "src10", 1),
        (2, "shared text body here", "en", "src2", 1),
        (3, "shared text body here", "en", "src2", 1),
        (4, "unique text", "en", "src19", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    monkeypatch.setattr(dedup, "load_table", lambda s, d, n: df)
    out = dedup.dedup_keep_by_source_priority(spark, "x").collect()
    kept = {(r.doc_id, r.source) for r in out}
    assert kept == {(2, "src2"), (4, "src19")}


def test_banded_sigs_agg_determinism_and_banding(spark):
    """The JVM aggregate signature form (r11): identical texts produce
    IDENTICAL (band, bhash) sets regardless of row order/partitioning
    (k-independent xxhash64 permutations are pure functions of the
    shingle set); near-identical docs share >= 1 witness-banding bucket
    on a crafted 90%-overlap pair; and a disjoint-vocabulary doc shares
    none with either."""
    from pyspark.sql import functions as F

    from minefields_kafka_streams_deduplication_spark.functions.neardup import (
        MINHASH_PERMS,
        MINHASH_WITNESS_BANDS,
        _banded_sigs_agg,
        _shingles,
    )

    base = " ".join(f"w{i}" for i in range(50))
    near = " ".join(f"w{i}" for i in range(48)) + " x1 x2"
    other = " ".join(f"z{i}" for i in range(50))
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)],
        "doc_id LONG, text STRING",
    )
    hashed = _shingles(docs, distinct=False).select(
        "doc_id", F.xxhash64("shingle").alias("h")
    )
    rows_per_band = MINHASH_PERMS // MINHASH_WITNESS_BANDS
    sigs = {
        d: set()
        for d in (1, 2, 3, 4)
    }
    for r in _banded_sigs_agg(
        hashed, MINHASH_WITNESS_BANDS, rows_per_band
    ).collect():
        sigs[r.doc_id].add((r.band, r.bhash))
    # every doc has exactly one bhash per band
    assert all(len(s) == MINHASH_WITNESS_BANDS for s in sigs.values())
    # identical text -> identical signature set
    assert sigs[1] == sigs[2]
    # 90%-shingle-overlap pair shares >= 1 bucket (witness banding:
    # P(miss | J~0.9) ~ (1 - 0.81)^32 ~ 1e-23 — deterministic here)
    assert sigs[1] & sigs[3]
    # disjoint vocabulary shares no bucket with either
    assert not (sigs[4] & sigs[1]) and not (sigs[4] & sigs[3])

    # partitioning-independence: the aggregate form needs NO doc-local
    # layout — a 1-partition coalesce produces the same signatures
    one_part = {
        d: set()
        for d in (1, 2, 3, 4)
    }
    for r in _banded_sigs_agg(
        hashed.coalesce(1), MINHASH_WITNESS_BANDS, rows_per_band
    ).collect():
        one_part[r.doc_id].add((r.band, r.bhash))
    assert one_part == sigs


def _per_row_banded_reference(with_hs, n_bands, rows_per_band):
    """The per-row array signature form dedup_text_minhash ran before
    the aggregate kernel: each permutation min is
    ``array_min(transform(hs, h -> xxhash64(h, j)))`` and each band
    hash is ``xxhash64`` over its rows' mins. Kept here as the
    independent value reference for `_banded_from_hs`."""
    from pyspark.sql import functions as F

    perms = n_bands * rows_per_band
    mins = ", ".join(
        f"array_min(transform(hs, h -> xxhash64(h, {j})))" for j in range(perms)
    )
    band_hash = ", ".join(
        "xxhash64("
        + ", ".join(f"m[{b * rows_per_band + r}]" for r in range(rows_per_band))
        + ")"
        for b in range(n_bands)
    )
    return (
        with_hs.where(F.size("hs") > 0)
        .select("doc_id", F.expr(f"array({mins})").alias("m"))
        .select(
            "doc_id",
            F.posexplode(F.expr(f"array({band_hash})")).alias("band", "bhash"),
        )
    )


def test_hs_array_form_matches_exploded_kernels(spark):
    """The shingle-array kernels are VALUE-identical to the exploded
    forms, and `_banded_from_hs` reproduces the per-row
    ``array_min(transform(...))`` signatures it replaced:

    - `_shingle_hash_array(docs).hs` as a multiset == the exploded
      `xxhash64(shingle)` rows per doc (same grammar, same hash);
    - `_shingle_string_array` hashed with `transform(sh, xxhash64)`
      gives the same multiset (the witness's signature input);
    - `_banded_from_hs` == the inlined per-row reference (band, bhash)
      sets per doc, at the production 16×4 AND the witness 32×2
      banding (same xxhash64(h, j) permutation family, same band fold);
    - docs with <3 tokens yield an EMPTY hs array and NO banded rows."""
    from collections import Counter

    from pyspark.sql import functions as F

    from minefields_kafka_streams_deduplication_spark.functions.neardup import (
        MINHASH_BANDS,
        MINHASH_PERMS,
        MINHASH_WITNESS_BANDS,
        _banded_from_hs,
        _shingle_hash_array,
        _shingle_string_array,
        _shingles,
    )

    docs = spark.createDataFrame(
        [
            (1, "Alpha beta gamma DELTA epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "tiny doc"),  # <3 tokens: no shingles
            (4, "x y z x y z x y z"),  # repeated shingles
        ],
        "doc_id LONG, text STRING",
    )
    exploded = Counter(
        (r.doc_id, r.h)
        for r in _shingles(docs, distinct=False)
        .select("doc_id", F.xxhash64("shingle").alias("h"))
        .collect()
    )
    with_hs = _shingle_hash_array(docs)
    arr = Counter(
        (r.doc_id, h) for r in with_hs.collect() for h in r.hs
    )
    assert arr == exploded
    assert {r.doc_id: len(r.hs) for r in with_hs.collect()}[3] == 0

    # string-array form: same grammar as _shingles, and hashing it
    # reproduces _shingle_hash_array exactly (the witness's signature
    # path relies on this)
    exploded_str = Counter(
        (r.doc_id, r.shingle)
        for r in _shingles(docs, distinct=False).collect()
    )
    with_sh = _shingle_string_array(docs)
    assert (
        Counter((r.doc_id, s) for r in with_sh.collect() for s in r.sh)
        == exploded_str
    )
    rehashed = Counter(
        (r.doc_id, h)
        for r in with_sh.select(
            "doc_id", F.expr("transform(sh, s -> xxhash64(s))").alias("hs")
        ).collect()
        for h in r.hs
    )
    assert rehashed == exploded

    for n_bands in (MINHASH_BANDS, MINHASH_WITNESS_BANDS):
        rpb = MINHASH_PERMS // n_bands
        reference = {
            (r.doc_id, r.band, r.bhash)
            for r in _per_row_banded_reference(with_hs, n_bands, rpb).collect()
        }
        got = {
            (r.doc_id, r.band, r.bhash)
            for r in _banded_from_hs(with_hs, n_bands, rpb).collect()
        }
        assert got == reference
        assert len(got) == 3 * n_bands  # docs 1, 2, 4; one bhash per band
        assert not any(d == 3 for d, _, _ in got)


def test_banded_from_hs_drops_empty_and_null_hs(spark):
    """Rows whose ``hs`` is empty or NULL yield no band rows, with no
    ``size(hs) > 0`` filter upstream, and do not disturb the band rows
    of the other docs."""
    from minefields_kafka_streams_deduplication_spark.functions.neardup import (
        MINHASH_BANDS,
        MINHASH_PERMS,
        _banded_from_hs,
    )

    with_hs = spark.createDataFrame(
        [(1, [11, 12, 13]), (2, []), (3, None)],
        "doc_id LONG, hs ARRAY<BIGINT>",
    )
    rows = _banded_from_hs(
        with_hs, MINHASH_BANDS, MINHASH_PERMS // MINHASH_BANDS
    ).collect()
    assert {r.doc_id for r in rows} == {1}
    assert sorted(r.band for r in rows) == list(range(MINHASH_BANDS))
    assert all(r.bhash is not None for r in rows)


def test_shingles_distinct_is_per_doc_set(spark):
    """The r12 distinct=True rework (per-row array_distinct on the
    zipped triples instead of a global .distinct()) must keep SET
    semantics per document: within-doc duplicate shingles collapse to
    one row, cross-doc duplicates survive (one per doc), and the row
    multiset equals the old exploded-then-global-distinct form."""
    from pyspark.sql import functions as F

    from minefields_kafka_streams_deduplication_spark.functions.neardup import (
        _shingles,
    )

    docs = spark.createDataFrame(
        [
            # "a b c" shingle appears twice within doc 1 -> one row
            (1, "a b c a b c"),
            # same shingle in doc 2 -> still one row for doc 2
            (2, "a b c"),
            (3, "x y"),  # <3 tokens -> no rows
            (4, None),  # NULL text -> no rows
        ],
        "doc_id LONG, text STRING",
    )
    got = sorted(
        (r.doc_id, r.shingle) for r in _shingles(docs).collect()
    )
    old_form = sorted(
        (r.doc_id, r.shingle)
        for r in _shingles(docs, distinct=False).distinct().collect()
    )
    assert got == old_form
    assert got == [
        (1, "a b c"),
        (1, "b c a"),
        (1, "c a b"),
        (2, "a b c"),
    ]


def test_editdistance_bounded_threshold_boundary(spark):
    """The r12 bounded-levenshtein swap must keep pairs whose distance
    lands EXACTLY on floor(REL_MAX * longer) and drop ones just above —
    the integer-threshold equivalence the swap's correctness rests on
    (dist <= REL_MAX*longer iff dist <= floor(REL_MAX*longer) iff the
    3-arg levenshtein returns != -1)."""
    from minefields_kafka_streams_deduplication_spark.functions.neardup import (
        EDITDIST_REL_MAX,
        dedup_text_editdistance,
    )

    assert EDITDIST_REL_MAX == 0.3
    base = "abcdefghij"  # 10 chars -> threshold floor(3.0) = 3
    docs = spark.createDataFrame(
        [
            (1, base, "en", len(base)),
            (2, "abcdefgxyz", "en", 10),  # dist 3 == floor(0.3*10) -> kept
            (3, "zzzzzwxyzq", "en", 10),  # dist >3 from both -> dropped
        ],
        "doc_id LONG, text STRING, lang STRING, n_chars LONG",
    )
    import minefields_kafka_streams_deduplication_spark.functions.neardup as nd

    import unittest.mock as mock

    with mock.patch.object(nd, "load_table", lambda s, d, t: docs):
        rows = {
            (r.doc_id_1, r.doc_id_2): r.edit_dist
            for r in dedup_text_editdistance(spark, "unused").collect()
        }
    assert rows == {(1, 2): 3}
