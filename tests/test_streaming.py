"""Streaming semantics: batch-vs-stream parity (SURVEY.md §5.2.3) and
the D4/D5 state behaviors, on the sf0.001 fixture."""

from __future__ import annotations

import os

import pytest

import minefields_kafka_streams_deduplication_spark as engine
from minefields_kafka_streams_deduplication_spark.streaming.dedup_stream import (
    BUSINESS_KEY,
    TTL_MINUTES,
)


def _ttl_reference(rows) -> list[int]:
    """Independent put-only-on-forward reference over (event_id, ts_us,
    user_id, event_type) tuples: per (user_id, event_type) key, a NULL
    user_id being a key of its own, walk the events in (ts_us, event_id)
    order and keep one iff nothing of its key was KEPT within the TTL.
    A NULL ts_us is kept and never recorded."""
    by_key: dict = {}
    kept = []
    for eid, ts_us, user, etype in rows:
        if ts_us is None:
            kept.append(eid)
        else:
            by_key.setdefault((user, etype), []).append((ts_us, eid))
    for events in by_key.values():
        last = None
        for ts_us, eid in sorted(events):
            if last is None or ts_us - last > TTL_MINUTES * 60 * 1_000_000:
                kept.append(eid)
                last = ts_us
    return sorted(kept)


@pytest.fixture(scope="module")
def stream_dedup_rows(spark, sf_dir):
    df = engine.get_queries()["dedup_stream_watermark"](spark, sf_dir)
    return df.collect()


def test_stream_dedup_produces_rows(stream_dedup_rows):
    assert len(stream_dedup_rows) > 0


def test_stream_dedup_key_unique(stream_dedup_rows):
    keys = [(r.user_id, r.event_type, r.value) for r in stream_dedup_rows]
    assert len(keys) == len(set(keys))


def test_batch_stream_parity_on_distinct_keys(spark, sf_dir, stream_dedup_rows):
    """With availableNow over a single batch, every distinct business key
    must survive exactly once — same key-set as batch dedup (D2)."""
    batch = engine.get_queries()["dedup_keep_first"](spark, sf_dir).collect()
    batch_keys = {(r.user_id, r.event_type, r.value) for r in batch}
    stream_keys = {(r.user_id, r.event_type, r.value) for r in stream_dedup_rows}
    assert batch_keys == stream_keys


def test_custom_ttl_stream_runs(spark, sf_dir):
    rows = engine.get_queries()["dedup_stream_custom_ttl"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 1000


def test_custom_ttl_batch_stream_parity(spark, sf_dir):
    """Batch and stream run the same walk, so each is checked against
    the independent reference, not only against the other."""
    from minefields_kafka_streams_deduplication_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events").selectExpr(
        "event_id", "unix_micros(ts)", "user_id", "event_type"
    )
    want = _ttl_reference(tuple(r) for r in events.collect())
    stream_ids = sorted(
        r.event_id
        for r in engine.get_queries()["dedup_stream_custom_ttl"](spark, sf_dir).collect()
    )
    batch_ids = sorted(
        r.event_id
        for r in engine.get_queries()["dedup_batch_custom_ttl"](spark, sf_dir).collect()
    )
    assert stream_ids == want
    assert batch_ids == want


def test_windowed_stream_aggregation(spark, sf_dir):
    rows = engine.get_queries()["window_tumbling_stream"](spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r.n_events > 0 for r in rows)


def test_custom_ttl_key_straddling_arrow_chunks(spark, tmp_path):
    """A TTL key whose rows span several Arrow chunks
    (arrow.maxRecordsPerBatch) must still be walked in event-time
    order, by the stream (one bucket's chunks arrive in arbitrary
    order) and by the batch twin (one partition's chunks carry the
    key map forward). Inputs, written in REVERSE event-time order and
    split into 50-row chunks: one key of 120 events 4 min apart, a key
    of 3,000 events 31 min apart (every one forwarded), a pair with
    equal ts (the smaller event_id wins), a NULL-user key, and NULL-ts
    rows (forwarded, and never hiding a later row of their key)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0, minute = 1_704_067_200_000_000, 60_000_000  # 2024-01-01 UTC, in µs
    n, n_long = 120, 3000
    # 4 min apart, a kept row every 8: the period does not divide the
    # 50-row chunk, so resetting the key map at a chunk forwards extra rows.
    rows = [(i, t0 + 4 * i * minute, 1, "click") for i in range(n)]
    rows += [(n + i, t0 + 13 * i * minute, 2, "view") for i in range(10)]
    # A null user_id is one key of its own, as in a SQL GROUP BY.
    rows += [(n + 10 + i, t0 + 10 * i * minute, None, "view") for i in range(5)]
    rows += [(1000 + i, t0 + 31 * i * minute, 3, "click") for i in range(n_long)]
    rows += [(9001, t0, 4, "view"), (9000, t0, 4, "view")]
    # NULL ts: a key with only that row, and one where it precedes rows
    # at 0, 10 and 40 min (batch sorts NULL first, pandas sorts NaN last).
    rows += [(9100, None, 7, "view"), (9101, None, 8, "view")]
    rows += [(9102 + i, t0 + m * minute, 8, "view") for i, m in enumerate((0, 10, 40))]
    rows.reverse()
    cols = list(zip(*rows))
    table = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array([float(r[0]) for r in rows], pa.float64()),
        }
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    pq.write_table(table, os.path.join(sf, "events.parquet"))

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "50")
    try:
        got = {
            name: sorted(
                r.event_id for r in engine.get_queries()[name](spark, sf).collect()
            )
            for name in ("dedup_stream_custom_ttl", "dedup_batch_custom_ttl")
        }
    finally:
        spark.conf.set(key, prev)
    want = _ttl_reference(rows)
    # every 8th click (32 min), every 3rd view (39 min), null-user views
    # at 0 and 40 min, every long-key event, the pair's smaller id, both
    # NULL-ts rows and key 8 at 0 and 40 min
    assert len(want) == 15 + 4 + 2 + n_long + 1 + 4 and 9000 in want
    assert {9100, 9101, 9102, 9104} <= set(want) and 9103 not in want
    assert got["dedup_stream_custom_ttl"] == want
    assert got["dedup_batch_custom_ttl"] == want


def test_full_outer_stream_join_emits_both_side_nulls(spark, sf_dir):
    """J4 full-outer [R KStream#outerJoin]: after the watermark closes a
    join window, unmatched VIEWS emit with NULL purchase and unmatched
    PURCHASES emit with NULL view; matched pairs agree with the batch
    interval join."""
    rows = engine.get_queries()["join_interval_stream_full"](spark, sf_dir).collect()
    null_purchase = [r for r in rows if r.purchase_id is None]
    null_view = [r for r in rows if r.view_id is None]
    matched = [r for r in rows if r.view_id is not None and r.purchase_id is not None]
    assert null_purchase, "no left-side null emission"
    assert null_view, "no right-side null emission"
    batch = engine.get_queries()["join_interval_view_purchase"](spark, sf_dir).collect()
    assert {(r.view_id, r.purchase_id) for r in matched} == {
        (r.view_id, r.purchase_id) for r in batch
    }


def test_tumbling_append_stream_matches_batch_after_close(spark, sf_dir):
    """W5 suppression parity: the append-mode tumbling stream must equal
    the batch window() aggregate restricted to windows the final
    watermark (max event ts - delay) has closed — emit-exactly-once,
    emit-final semantics [R KTable#suppress(untilWindowCloses)]."""
    from datetime import timedelta

    from pyspark.sql import functions as F

    stream_rows = engine.get_queries()["window_tumbling_stream"](spark, sf_dir).collect()
    ev = engine.load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(engine.dec6("value")), 4).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
        )
        .collect()
    )
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    wm = max_ts - timedelta(minutes=10)

    def as_set(rows):
        return {(r.window_start, r.window_end, r.n_events, r.total_value) for r in rows}

    got = as_set(stream_rows)
    assert got
    # Spark's close boundary may be < or <= the watermark; accept either,
    # but the stream must be EXACTLY the closed prefix of the batch agg.
    assert got in (
        as_set([r for r in batch if r.window_end < wm]),
        as_set([r for r in batch if r.window_end <= wm]),
    )


def test_versioned_asof_stream_matches_batch(spark, sf_dir):
    """J6 streaming twin parity: every emitted (purchase, version) pair
    must equal the batch as-of answer — latest same-user view within the
    retention horizon at purchase time, NULL when none — and the emitted
    purchase set must be exactly a watermark-closed prefix."""
    from datetime import timedelta

    from pyspark.sql import functions as F

    rows = engine.get_queries()["join_asof_stream_versioned"](spark, sf_dir).collect()
    assert rows
    got = {r.purchase_id: r.version_id for r in rows}
    assert any(v is not None for v in got.values()), "no version ever matched"

    ev = engine.load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("version_id"),
        F.col("user_id").alias("v_user_id"),
        F.col("ts").alias("v_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id"), F.col("ts").alias("p_ts")
    )
    batch = (
        purchases.join(
            views,
            (F.col("user_id") == F.col("v_user_id"))
            & (F.col("v_ts") <= F.col("p_ts"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 6 HOURS")),
            "left",
        )
        .groupBy("purchase_id", "p_ts")
        .agg(F.max_by("version_id", "v_ts").alias("version_id"))
        .collect()
    )
    expected = {r.purchase_id: r.version_id for r in batch}
    for pid, vid in got.items():
        assert expected[pid] == vid, (pid, vid, expected[pid])

    # Emission bounds: a purchase can emit only once its 1h emit window
    # closes (upper bound: everything emitted is closed), and must have
    # emitted once the watermark also clears the FULL retention horizon
    # behind it — unmatched rows sit in join state until no version can
    # still arrive, so their null verdict lags by up to retention+delay
    # (lower bound).
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    wm = max_ts - timedelta(minutes=10)

    def window_end(ts):
        return (ts.replace(minute=0, second=0, microsecond=0)) + timedelta(hours=1)

    closed = {r.purchase_id for r in batch if window_end(r.p_ts) <= wm}
    # retention (6h) + watermark delay (10m) + one emit window (1h) of
    # batch-boundary quantization in the chained-stateful pipeline.
    settled = {
        r.purchase_id
        for r in batch
        if window_end(r.p_ts) <= wm - timedelta(hours=7, minutes=10)
    }
    assert set(got) <= closed, sorted(set(got) - closed)[:5]
    assert settled <= set(got), sorted(settled - set(got))[:5]


def test_stream_interval_join_matches_batch(spark, sf_dir):
    stream = engine.get_queries()["join_interval_stream"](spark, sf_dir).collect()
    batch = engine.get_queries()["join_interval_view_purchase"](spark, sf_dir).collect()
    stream_pairs = {(r.view_id, r.purchase_id) for r in stream}
    batch_pairs = {(r.view_id, r.purchase_id) for r in batch}
    assert stream_pairs == batch_pairs


def test_sliding_window_stream_covers_events(spark, sf_dir):
    """W2 streaming: each event belongs to 4 overlapping (1h, 15min)
    windows; closed-window counts must sum consistently with the
    tumbling stream (same close semantics, 4x coverage)."""
    rows = engine.get_queries()["window_sliding_stream"](spark, sf_dir).collect()
    assert rows
    from collections import Counter

    by_window = Counter()
    for r in rows:
        assert (r.window_end - r.window_start).total_seconds() == 3600
        by_window[r.window_start] += r.n_events
    tumbling = engine.get_queries()["window_tumbling_stream"](spark, sf_dir).collect()
    tumbling_total = sum(r.n_events for r in tumbling)
    # Sliding emits ~4x the tumbling mass (boundary windows excepted).
    assert sum(by_window.values()) >= 3 * tumbling_total


def test_window_topk_stream_matches_batch_on_closed_windows(spark, sf_dir):
    """The streamed per-window top-k must equal the batch rank over the
    same tumbling counts, for every window the stream emitted (append
    mode only emits closed windows; the final open window is withheld
    by design — suppress-until-close semantics)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    stream_rows = engine.get_queries()["window_topk_stream"](spark, sf_dir).collect()
    assert stream_rows, "stream emitted no closed windows"
    ev = engine.load_table(spark, sf_dir, "events")
    rank = F.row_number().over(
        W.partitionBy("window_start").orderBy(F.desc("n"), F.asc("event_type"))
    )
    batch = {
        (r.window_start, r.rank): (r.event_type, r.n)
        for r in ev.groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n")
        .withColumn("rank", rank)
        .filter(F.col("rank") <= 3)
        .collect()
    }
    for r in stream_rows:
        assert batch[(r.window_start, r.rank)] == (r.event_type, r.n)


def test_changelog_stream_final_state_matches_latest_by_key(spark, sf_dir):
    """The LAST changelog emission per key must equal the batch KTable
    (latest_by_key), and replaying in >1 micro-batch must emit genuine
    intermediate updates (changelog history longer than the key set)."""
    rows = engine.get_queries()["table_changelog_stream"](spark, sf_dir).collect()
    # memory sink accumulates per-batch update emissions in order; the
    # last occurrence per key is the final state.
    final = {}
    for r in rows:
        final[r.user_id] = (r.last_value, r.last_ts)
    batch = {
        r.user_id: (r.value, r.ts)
        for r in engine.get_queries()["latest_by_key"](spark, sf_dir).collect()
    }
    assert len(rows) > len(batch), "no intermediate changelog emissions"
    assert set(final) == set(batch)
    for k, (v, ts) in batch.items():
        assert final[k][1] == ts
        assert abs(final[k][0] - v) < 1e-12


def test_global_stream_dedup_matches_batch_keyset(spark, sf_dir):
    """Infinite-retention stream dedup keeps exactly one row per
    business key — same key-set as batch D1."""
    rows = engine.get_queries()["dedup_stream_global"](spark, sf_dir).collect()
    keys = [(r.user_id, r.event_type, r.value) for r in rows]
    assert len(keys) == len(set(keys))
    batch = engine.get_queries()["dedup_exact"](spark, sf_dir).collect()
    assert set(keys) == {(r.user_id, r.event_type, r.value) for r in batch}


def test_left_interval_stream_superset_of_inner(spark, sf_dir):
    """J4 left-outer streaming: matched pairs == inner streaming join;
    unmatched views carry NULL purchase."""
    left = engine.get_queries()["join_interval_stream_left"](spark, sf_dir).collect()
    inner = engine.get_queries()["join_interval_stream"](spark, sf_dir).collect()
    left_matched = {(r.view_id, r.purchase_id) for r in left if r.purchase_id is not None}
    assert left_matched == {(r.view_id, r.purchase_id) for r in inner}
    assert any(r.purchase_id is None for r in left), "no null emission"


def test_stream_static_join_matches_batch(spark, sf_dir):
    """Stream-static enrichment (complete mode) must equal the same
    broadcast join + count run in batch."""
    from pyspark.sql import functions as F

    got = {
        r.c_nationkey: r.n_events
        for r in engine.get_queries()["join_stream_static"](spark, sf_dir).collect()
    }
    ev = engine.load_table(spark, sf_dir, "events")
    customer = engine.load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    batch = {
        r.c_nationkey: r.n_events
        for r in ev.join(customer, F.col("user_id") == F.col("c_custkey"), "left")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_events"))
        .collect()
    }
    assert got == batch


def test_update_counts_final_state_matches_batch(spark, sf_dir):
    """Update-mode streaming counts: last emission per key must equal the
    batch group count."""
    from pyspark.sql import functions as F

    rows = engine.get_queries()["agg_stream_update_counts"](spark, sf_dir).collect()
    final = {}
    for r in rows:
        final[r.event_type] = r.cnt
    batch = {
        r.event_type: r.n
        for r in engine.load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert final == batch


def test_right_interval_stream_mirrors_left(spark, sf_dir):
    """Right-outer: matched pairs equal the inner join; unmatched
    purchases emit with NULL view."""
    right = engine.get_queries()["join_interval_stream_right"](spark, sf_dir).collect()
    inner = engine.get_queries()["join_interval_stream"](spark, sf_dir).collect()
    matched = {(r.view_id, r.purchase_id) for r in right if r.view_id is not None}
    assert matched == {(r.view_id, r.purchase_id) for r in inner}
    assert any(r.view_id is None for r in right), "no right-side null emission"


def test_ohlc_stream_matches_batch_on_closed_bars(spark, sf_dir):
    """Streaming OHLC emits exactly the batch bars whose hour the final
    watermark closed — same open/close/high/low values."""
    stream_rows = engine.get_queries()["ohlc_bars_stream"](spark, sf_dir).collect()
    assert stream_rows
    batch = {
        (r.user_id, r.bar_ts): (r.open, r.high, r.low, r.close, r.n_ticks)
        for r in engine.get_queries()["ohlc_bars_hourly"](spark, sf_dir).collect()
    }
    for r in stream_rows:
        assert batch[(r.user_id, r.bar_ts)] == (
            r.open, r.high, r.low, r.close, r.n_ticks,
        ), (r.user_id, r.bar_ts)
    # emit-final: no bar appears twice
    keys = [(r.user_id, r.bar_ts) for r in stream_rows]
    assert len(keys) == len(set(keys))


def test_stream_zscore_matches_welford_model(spark, sf_dir):
    """The streaming anomaly op must flag exactly the events a
    pure-Python Welford replay over the ts-ordered history flags —
    state carries across micro-batches, scoring precedes absorption."""
    import math

    import minefields_kafka_streams_deduplication_spark as engine
    from minefields_kafka_streams_deduplication_spark.catalog import load_table
    from minefields_kafka_streams_deduplication_spark.streaming.anomaly_stream import (
        ZSCORE_MIN_EVENTS,
        ZSCORE_THRESHOLD,
        welford_step,
    )

    got = {
        r.event_id: (r.zscore, r.n_baseline)
        for r in engine.get_queries()["anomaly_stream_zscore"](spark, sf_dir).collect()
    }

    ev = (
        load_table(spark, sf_dir, "events")
        .selectExpr("event_id", "unix_micros(ts) AS ts_us", "user_id", "value")
        .collect()
    )
    state: dict = {}
    want = {}
    for r in sorted(ev, key=lambda r: (r.ts_us, r.event_id)):
        n, mean, m2 = state.get(r.user_id, (0, 0.0, 0.0))
        if n >= ZSCORE_MIN_EVENTS and m2 > 0:
            z = (r.value - mean) / math.sqrt(m2 / (n - 1))
            if abs(z) > ZSCORE_THRESHOLD:
                want[r.event_id] = (math.floor(z * 10000 + 0.5) / 10000, n)
        state[r.user_id] = welford_step(n, mean, m2, r.value)

    assert got == want
    assert want, "fixture produced no anomalies — model check is vacuous"


def test_tombstone_changelog_reconstructs_batch_table(spark, sf_dir):
    """Replaying the tombstone changelog in (ts_us, event_id) order per
    key must reconstruct exactly the batch tombstoned KTable: keys
    whose last op is 'delete' absent, others at their latest value."""
    import minefields_kafka_streams_deduplication_spark as engine

    qs = engine.get_queries()
    ops = qs["table_changelog_tombstone_stream"](spark, sf_dir).collect()
    assert ops
    state: dict = {}
    for r in sorted(ops, key=lambda r: (r.ts_us, r.event_id)):
        if r.op == "delete":
            state[r.user_id] = None
        else:
            state[r.user_id] = (r.event_id, r.value)
    rebuilt = {u: v for u, v in state.items() if v is not None}
    batch = {
        r.user_id: (r.event_id, r.value)
        for r in qs["latest_by_key_tombstoned"](spark, sf_dir).collect()
    }
    assert rebuilt == batch
    assert any(r.op == "delete" for r in ops), "no tombstones exercised"


def test_stream_zscore_multichunk_arrow_batches(spark, sf_dir):
    """applyInPandasWithState delivers a key's micro-batch as MULTIPLE
    Arrow chunks once it exceeds arrow.maxRecordsPerBatch, in arbitrary
    cross-chunk order. Force tiny chunks (5 rows) and require the exact
    same flags as the ts-ordered Welford model — a per-chunk sort (the
    pre-fix code) diverges here."""
    import math

    import minefields_kafka_streams_deduplication_spark as engine
    from minefields_kafka_streams_deduplication_spark.catalog import load_table
    from minefields_kafka_streams_deduplication_spark.streaming.anomaly_stream import (
        ZSCORE_MIN_EVENTS,
        ZSCORE_THRESHOLD,
        welford_step,
    )

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        got = {
            r.event_id: (r.zscore, r.n_baseline)
            for r in engine.get_queries()["anomaly_stream_zscore"](
                spark, sf_dir
            ).collect()
        }
    finally:
        spark.conf.set(key, prev)

    ev = (
        load_table(spark, sf_dir, "events")
        .selectExpr("event_id", "unix_micros(ts) AS ts_us", "user_id", "value")
        .collect()
    )
    state: dict = {}
    want = {}
    for r in sorted(ev, key=lambda r: (r.ts_us, r.event_id)):
        n, mean, m2 = state.get(r.user_id, (0, 0.0, 0.0))
        if n >= ZSCORE_MIN_EVENTS and m2 > 0:
            z = (r.value - mean) / math.sqrt(m2 / (n - 1))
            if abs(z) > ZSCORE_THRESHOLD:
                want[r.event_id] = (math.floor(z * 10000 + 0.5) / 10000, n)
        state[r.user_id] = welford_step(n, mean, m2, r.value)
    assert got == want


def test_wall_clock_punctuator_semantics(spark, tmp_path):
    """[R ProcessorContext#schedule WALL_CLOCK_TIME]: snapshots flush on
    the HOST clock, not on data — every emitted snapshot must show at
    least the punctuation interval between the key's last update and
    its emission, and nothing may be lost or double-counted: per-key
    snapshot sums equal per-key input counts exactly."""
    from minefields_kafka_streams_deduplication_spark.streaming.punctuate import (
        run_punctuated,
    )

    stage = str(tmp_path / "stage")
    data = [("a",)] * 7 + [("b",)] * 3
    spark.createDataFrame(data, "event_type STRING").repartition(2).write.parquet(
        stage
    )
    interval_ms = 3000
    snaps = run_punctuated(
        spark, stage, "event_type STRING", len(data), interval_ms=interval_ms
    ).collect()
    by_key: dict = {}
    for r in snaps:
        by_key[r.event_type] = by_key.get(r.event_type, 0) + r.n
        held_us = r.emit_wall_us - r.last_update_wall_us
        # The timer arms at the BATCH's timestamp, while
        # last_update_wall_us is the python state fn's own clock, which
        # lags the batch timestamp by scheduling + worker-spawn delay.
        # A generous slack (half the interval) keeps the assertion
        # meaningful — an emit-on-data bug would show held_us ~ 0 —
        # without being flaky on a loaded box (review r4).
        assert held_us >= interval_ms * 1000 // 2, (
            f"snapshot for {r.event_type} flushed {held_us}us after last "
            f"update — before the wall-clock timer could plausibly fire"
        )
    assert by_key == {"a": 7, "b": 3}


def test_stream_neardup_matches_batch_star_reference(spark, sf_dir):
    """Streaming LSH near-dup (first-arrival bucket anchors) must drop
    exactly the docs the batch star-policy reference drops when the
    stream replays in doc_id order — in-stream state over multiple
    micro-batches changes nothing about the outcome."""
    import minefields_kafka_streams_deduplication_spark as engine
    from minefields_kafka_streams_deduplication_spark.streaming.neardup_stream import (
        batch_star_reference,
        dedup_stream_neardup,
    )

    got = {r.doc_id for r in dedup_stream_neardup(spark, sf_dir).collect()}
    docs = engine.load_table(spark, sf_dir, "documents")
    want = {r.doc_id for r in batch_star_reference(docs).collect()}
    assert got == want
    assert len(got) < docs.count()  # the fixture has near-dups to drop


def test_punctuator_state_and_timer_survive_restart(spark, tmp_path):
    """A pending punctuation is durable: counts accumulated before a
    stop AND the armed host-clock timer live in the checkpointed state,
    so a restarted query flushes them without replaying the input."""
    import time as _time

    from pyspark.sql import functions as F
    from minefields_kafka_streams_deduplication_spark.streaming.punctuate import (
        punctuated_counts_stream,
    )

    stage = str(tmp_path / "stage")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = "event_type STRING"
    interval_ms = 3000

    def write_batch(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(stage)

    def start(qname):
        # Parquet sink, NOT memory: the memory sink refuses checkpoint
        # recovery ("does not support recovering"), and recovery is the
        # point of this test.
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        return (
            punctuated_counts_stream(stream, interval_ms)
            .writeStream.format("parquet")
            .queryName(qname)
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="300 milliseconds")
            .start()
        )

    def emitted():
        import glob as _glob

        if not _glob.glob(f"{out}/*.parquet"):
            return {}
        rows = (
            spark.read.parquet(out)
            .groupBy("event_type")
            .agg(F.sum("n").alias("s"))
            .collect()
        )
        return {r.event_type: r.s for r in rows}

    def wait_rows_processed(q, want, deadline_s=30):
        # processAllAvailable() can block forever here: pending
        # processing-time timers keep the scheduler running batches, so
        # "all available" never settles. Poll committed progress instead.
        t0 = _time.time()
        seen = 0
        while seen < want:
            assert _time.time() - t0 < deadline_s, f"only {seen}/{want} rows"
            seen = sum(int(p["numInputRows"]) for p in q.recentProgress)
            _time.sleep(0.2)

    write_batch([("a",)] * 5, "f1")
    q1 = start("punct_restart_1")
    wait_rows_processed(q1, 5)
    q1.stop()
    q1.awaitTermination()
    # 'a' is accumulated but NOT yet flushed (interval >> q1 lifetime)
    assert emitted() == {}

    _time.sleep(interval_ms / 1000 + 0.5)  # the armed timer expires offline
    write_batch([("b",)] * 3, "f2")
    q2 = start("punct_restart_2")
    try:
        deadline = _time.time() + 60
        while emitted() != {"a": 5, "b": 3}:
            assert _time.time() < deadline, f"totals stuck at {emitted()}"
            _time.sleep(0.2)
    finally:
        q2.stop()
        q2.awaitTermination()


def test_watermark_dedup_runs_on_rocksdb_state_backend(spark, sf_dir):
    """The 100 TB state backend actually works here: the watermark
    dedup stream runs with RocksDBStateStoreProvider (the provider a
    large deployment uses for state bigger than executor heap) and
    produces the same keyed output as the default HDFS-backed provider."""
    import minefields_kafka_streams_deduplication_spark as engine

    key = "spark.sql.streaming.stateStore.providerClass"
    default_rows = {
        r.event_id
        for r in engine.get_queries()["dedup_stream_watermark"](spark, sf_dir).collect()
    }
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocks_rows = {
            r.event_id
            for r in engine.get_queries()["dedup_stream_watermark"](spark, sf_dir).collect()
        }
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert rocks_rows == default_rows and len(rocks_rows) > 0


def test_stream_time_punctuator_semantics(spark, tmp_path):
    """[R ProcessorContext#schedule STREAM_TIME]: snapshots flush when
    STREAM TIME (the watermark) crosses the armed interval boundary —
    driven by event time carried in records, never the host clock.
    Pins: (1) per-key conservation; (2) every snapshot emits at a
    stream time at or past the first interval boundary after the key's
    observed events; (3) a key whose boundary is crossed by LATER DATA
    (not the drain sentinel) emits mid-stream — stream time advanced by
    records fires the punctuator exactly as in KS."""
    import datetime as dt

    from minefields_kafka_streams_deduplication_spark.streaming.punctuate import (
        run_punctuated_stream_time,
        stage_events_ordered,
    )

    day_ms = 24 * 3600 * 1000
    t = lambda d, h=0: dt.datetime(2024, 1, d, h)
    rows = [
        ("a", t(1)), ("a", t(2, 6)), ("a", t(15)),  # active across slices
        ("b", t(1)),                                # boundary Jan 2 —
    ]                                               # crossed by slice-2 data
    stage = str(tmp_path / "stage")
    stage_events_ordered(
        spark.createDataFrame(rows, "event_type STRING, ts TIMESTAMP"),
        stage,
        n_slices=2,  # cut at the span midpoint: {Jan1..2} then {Jan15}
    )
    snaps = run_punctuated_stream_time(
        spark, stage, len(rows), interval_ms=day_ms
    ).collect()

    by_key: dict = {}
    for r in snaps:
        by_key[r.event_type] = by_key.get(r.event_type, 0) + r.n
        # armed at the first boundary strictly after the events seen
        boundary = (r.max_event_ts_us // 1000 // day_ms + 1) * day_ms
        assert r.emit_stream_time_ms >= boundary, (
            f"{r.event_type} flushed at stream time {r.emit_stream_time_ms}"
            f" before its boundary {boundary}"
        )
    assert by_key == {"a": 3, "b": 1}, by_key
    # b's Jan-2 boundary is crossed by slice 2's Jan-15 record — it must
    # have flushed BEFORE the drain sentinels (which sit past Jan 16).
    b_emits = [r.emit_stream_time_ms for r in snaps if r.event_type == "b"]
    jan16_ms = int(dt.datetime(2024, 1, 16).timestamp() * 1000)
    assert min(b_emits) < jan16_ms, (
        "b only flushed during the drain phase — stream-time advance by "
        "records did not fire the punctuator"
    )


def test_suppress_until_time_limit_semantics(spark, tmp_path):
    """[R Suppressed#untilTimeLimit]: a key's updates coalesce for at
    most the time limit of STREAM time, then exactly one debounced
    update emits. Pins: (1) coalescing — an update superseded within
    the limit is never emitted; (2) the busy-key inline flush emits
    mid-stream, before the drain; (3) the idle-key timer path emits on
    watermark advance; (4) consecutive emissions per key are >= the
    limit apart in stream time; (5) final values match latest-per-key."""
    import datetime as dt

    from minefields_kafka_streams_deduplication_spark.streaming.punctuate import (
        stage_events_ordered,
    )
    from minefields_kafka_streams_deduplication_spark.streaming.suppress import (
        run_suppressed,
    )

    day_ms = 24 * 3600 * 1000
    t = lambda d, h=0: dt.datetime(2024, 1, d, h)
    us = lambda d, h=0: int(t(d, h).timestamp() * 1_000_000)
    rows = [
        (1, 1, t(1), 1.0, "view"),       # a cycle 1 opens (deadline Jan 2)
        (1, 2, t(3), 2.0, "view"),       # coalesces over v1 (wm still < Jan 2)
        (1, 3, t(6), 3.0, "purchase"),   # arrives past deadline -> inline
                                         # flush of v2, cycle 2 opens
        (2, 10, t(1, 3), 9.0, "click"),  # idle key: timer path
    ]
    stage = str(tmp_path / "stage")
    stage_events_ordered(
        spark.createDataFrame(
            rows, "user_id LONG, event_id LONG, ts TIMESTAMP, value DOUBLE, event_type STRING"
        ),
        stage,
        n_slices=3,  # span cuts: {Jan1 rows} {Jan3} {Jan6}
    )
    hist = run_suppressed(
        spark, stage, out_dir=str(tmp_path / "out"), limit_ms=day_ms
    ).collect()

    a = sorted((r for r in hist if r.user_id == 1), key=lambda r: r.emit_stream_time_ms)
    b = [r for r in hist if r.user_id == 2]
    # coalescing: v1 was superseded inside the limit and never emitted
    assert [r.last_value for r in a] == [2.0, 3.0], a
    # the first emission happened mid-stream (stream time < Jan 6 — the
    # drain sentinels all sit past the staged max ts)
    jan6_ms = us(6) // 1000
    assert a[0].emit_stream_time_ms < jan6_ms, a[0]
    # idle key emitted exactly once, by the event-time timer
    assert [r.last_value for r in b] == [9.0], b
    # debounce pacing: at most one emission per key per limit interval
    assert a[1].emit_stream_time_ms - a[0].emit_stream_time_ms >= day_ms, a


def test_event_time_timer_ops_run_on_rocksdb_backend(spark, sf_dir):
    """The round-5 EventTimeTimeout operators (stream-time punctuator,
    untilTimeLimit debounce) run unmodified on
    RocksDBStateStoreProvider with identical results — timers and
    buffered state live in the provider, so this is the pin that the
    100 TB backend carries them too."""
    import minefields_kafka_streams_deduplication_spark as engine
    from pyspark.sql import functions as F

    key = "spark.sql.streaming.stateStore.providerClass"

    def run_both():
        punct = {
            (r.event_type, r.n_events)
            for r in engine.get_queries()["punctuate_stream_time_counts"](
                spark, sf_dir
            ).collect()
        }
        sup = engine.get_queries()["table_suppress_time_limit"](spark, sf_dir)
        final = {
            r.user_id: r.last_ts_us
            for r in sup.groupBy("user_id")
            .agg(F.max("last_ts_us").alias("last_ts_us"))
            .collect()
        }
        return punct, final

    default_out = run_both()
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocks_out = run_both()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert rocks_out == default_out
    assert len(default_out[0]) > 0 and len(default_out[1]) > 0


def test_suppress_buffer_and_event_timer_survive_restart(spark, tmp_path):
    """untilTimeLimit durability: a key's coalesced buffer and its
    armed EVENT-TIME deadline live in the checkpointed state — after a
    stop/restart the buffered update flushes (once, with the coalesced
    value) as soon as new data advances the watermark past the
    deadline, without replaying the pre-restart input."""
    import datetime as dt
    import time as _time

    from pyspark.sql import functions as F
    from minefields_kafka_streams_deduplication_spark.streaming.suppress import (
        suppressed_table_stream,
    )

    stage = str(tmp_path / "stage")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    schema = (
        "user_id LONG, event_id LONG, ts TIMESTAMP, value DOUBLE, event_type STRING"
    )
    day_ms = 24 * 3600 * 1000
    t = lambda d, h=0: dt.datetime(2024, 1, d, h)

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(stage)

    def start(qname):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        return (
            suppressed_table_stream(stream, day_ms)
            .writeStream.format("parquet")
            .queryName(qname)
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="300 milliseconds")
            .start()
        )

    def emitted():
        import glob as _glob

        if not _glob.glob(f"{out}/*.parquet"):
            return {}
        return {
            (r.user_id, r.last_value)
            for r in spark.read.parquet(out).collect()
        }

    def wait_rows_processed(q, want, deadline_s=40):
        t0 = _time.time()
        seen = 0
        while seen < want:
            assert _time.time() - t0 < deadline_s, f"only {seen}/{want} rows"
            seen = sum(int(p["numInputRows"]) for p in q.recentProgress)
            _time.sleep(0.2)

    # cycle opens and coalesces BEFORE the stop; deadline Jan 2
    write_batch([(1, 10, t(1), 1.0, "view"), (1, 11, t(1, 6), 2.0, "view")])
    q1 = start("suppress_restart_1")
    wait_rows_processed(q1, 2)
    q1.stop()
    q1.awaitTermination()
    assert emitted() == set()  # nothing flushed: wm never crossed Jan 2

    # restart; Jan 5 data advances the RECOVERED watermark past the
    # RECOVERED deadline -> key 1 flushes its coalesced buffer (v2.0)
    write_batch([(2, 20, t(5), 9.0, "view")])
    q2 = start("suppress_restart_2")
    try:
        deadline = _time.time() + 60
        while (1, 2.0) not in emitted():
            assert _time.time() < deadline, f"stuck at {emitted()}"
            _time.sleep(0.2)
        # far-future row drains key 2's cycle too
        write_batch([(-1, -1, t(10), 0.0, "__drain__")])
        while (2, 9.0) not in emitted():
            assert _time.time() < deadline, f"stuck at {emitted()}"
            _time.sleep(0.2)
    finally:
        q2.stop()
        q2.awaitTermination()
    got = {kv for kv in emitted() if kv[0] != -1}
    assert got == {(1, 2.0), (2, 9.0)}  # exactly once each, coalesced


def test_scd2_stream_matches_batch_changes(spark, sf_dir):
    """The streaming SCD2 change stream equals the batch history's
    (user_id, value, valid_from) set — every change detected exactly
    once across micro-batch boundaries."""
    q = engine.get_queries()
    a = set(map(tuple, q["scd2_change_stream"](spark, sf_dir).collect()))
    b = set(
        map(
            tuple,
            q["scd2_user_value_history"](spark, sf_dir)
            .select("user_id", "value", "valid_from")
            .collect(),
        )
    )
    assert a == b and len(a) > 0


def test_scd2_stream_no_reemit_across_batches(spark, monkeypatch):
    """A value that persists across micro-batch boundaries must NOT
    re-emit: per-key state seeds the next batch's comparison. The
    replay stages as 3 time slices, so the three equal-value rows land
    in different micro-batches."""
    import datetime as dt

    from minefields_kafka_streams_deduplication_spark.streaming import (
        windows_stream as ws,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 7, 5.0),
        (2, t0 + dt.timedelta(minutes=40), 7, 5.0),
        (3, t0 + dt.timedelta(minutes=80), 7, 9.0),
        (4, t0 + dt.timedelta(minutes=85), 8, 5.0),
    ]
    df = spark.createDataFrame(
        [(e, ts, u, v, "x", "{}") for (e, ts, u, v) in rows],
        "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE, "
        "event_type STRING, props STRING",
    )
    monkeypatch.setattr(ws, "load_table", lambda s, d, n: df, raising=False)
    import minefields_kafka_streams_deduplication_spark.catalog as catalog

    monkeypatch.setattr(catalog, "load_table", lambda s, d, n: df)
    out = sorted(
        map(tuple, ws.scd2_change_stream(spark, "ignored").collect())
    )
    # user 7: 5.0 once (not thrice), then 9.0; user 8: 5.0 once
    assert out == [
        (7, 5.0, t0),
        (7, 9.0, t0 + dt.timedelta(minutes=80)),
        (8, 5.0, t0 + dt.timedelta(minutes=85)),
    ]


def test_drift_stream_psi_spikes_on_drifting_batches(spark, tmp_path):
    """A replay whose later batches shift distribution scores a PSI
    spike vs the frozen baseline; a stationary replay stays low. The
    streaming scores equal the pure-Python PSI on the same counts."""
    import datetime as dt

    from minefields_kafka_streams_deduplication_spark.streaming.drift import (
        DRIFT_STREAM_BUCKETS,
        psi_of_counts,
        run_drift_monitor,
    )
    from minefields_kafka_streams_deduplication_spark.streaming.punctuate import (
        stage_events_ordered,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE"
    # values 0..9 uniform in the baseline; the replay's last third
    # collapses onto value 9 (drift)
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 1,
         9.0 if i >= 200 else float(i % 10))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, schema)
    baseline = {b: 10 for b in range(DRIFT_STREAM_BUCKETS)}  # uniform

    stage = str(tmp_path / "stage")
    stage_events_ordered(df, stage, n_slices=3)
    got = run_drift_monitor(
        spark, stage, baseline, vmin=0.0, vmax=9.0, k=DRIFT_STREAM_BUCKETS
    )
    assert [b for b, _, _ in got] == [0, 1, 2]
    psis = [p for _, _, p in got]
    # batches 0/1 are uniform like the baseline; batch 2 is collapsed
    assert psis[0] < 0.05 and psis[1] < 0.05
    assert psis[2] > 1.0
    # cross-check one score against the reference arithmetic directly
    ref = psi_of_counts(baseline, {9: 100}, DRIFT_STREAM_BUCKETS)
    assert abs(psis[2] - ref) < 1e-12


def test_expectations_gate_quarantines_poisoned_batch(spark, tmp_path):
    """VERDICT r5 #7: crafted replay through the streaming expectations
    gate — the poisoned batch is diverted to quarantine byte-intact
    (all rows, original columns), clean batches promote untouched, and
    promoted + quarantined conserve the input exactly."""
    import datetime as dt

    from pyspark.sql import functions as F
    from minefields_kafka_streams_deduplication_spark.streaming.expectations import (
        EXPECT_EVENT_RULES,
        run_expectations_gate,
    )
    from minefields_kafka_streams_deduplication_spark.streaming.punctuate import (
        stage_events_ordered,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(90):
        # three 30-row days; day 2 (Jan 2) carries nulls + a negative
        v = None if (30 <= i < 55) else (-1.0 if i == 58 else float(i))
        rows.append((i, t0 + dt.timedelta(days=i // 30, minutes=i % 30), i % 7, v))
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE"
    )
    stage, promoted, quarantine = (
        str(tmp_path / "stage"), str(tmp_path / "prom"), str(tmp_path / "quar")
    )
    stage_events_ordered(df, stage, n_slices=3)
    report = run_expectations_gate(
        spark,
        stage,
        "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE",
        EXPECT_EVENT_RULES,
        promoted,
        quarantine,
    )
    statuses = {b: s for b, _n, _v, s in report}
    assert statuses == {0: "promoted", 1: "quarantined", 2: "promoted"}, report
    viol = {b: v for b, _n, v, s in report}
    assert viol[1] == 26  # 25 nulls + 1 negative
    prom = spark.read.parquet(promoted)
    quar = spark.read.parquet(quarantine)
    assert prom.count() + quar.count() == 90
    # quarantined batch is the day-2 slice, rows untouched (nulls kept)
    assert quar.count() == 30
    assert quar.filter(F.col("value").isNull()).count() == 25
    assert sorted(r.event_id for r in quar.collect()) == list(range(30, 60))
    # promoted side is violation-free
    assert prom.filter(F.col("value").isNull() | (F.col("value") < 0)).count() == 0


def test_expectations_gate_clean_stream_all_promoted(spark, tmp_path):
    """A violation-free replay promotes every batch — the gate must not
    quarantine on a clean stream (no false positives)."""
    import datetime as dt

    from minefields_kafka_streams_deduplication_spark.streaming.expectations import (
        EXPECT_EVENT_RULES,
        run_expectations_gate,
    )
    from minefields_kafka_streams_deduplication_spark.streaming.punctuate import (
        stage_events_ordered,
    )

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, t0 + dt.timedelta(hours=i), i % 5, float(i)) for i in range(40)],
        "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE",
    )
    stage, promoted, quarantine = (
        str(tmp_path / "stage"), str(tmp_path / "prom"), str(tmp_path / "quar")
    )
    stage_events_ordered(df, stage, n_slices=2)
    report = run_expectations_gate(
        spark,
        stage,
        "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE",
        EXPECT_EVENT_RULES,
        promoted,
        quarantine,
    )
    assert [s for _b, _n, _v, s in report] == ["promoted", "promoted"]
    assert spark.read.parquet(promoted).count() == 40
    import os
    assert not os.path.exists(quarantine)  # nothing ever quarantined


def test_validate_stream_gate_query_shape(spark, sf_dir):
    """The registered fixture query: 4 time slices, exactly slice 2
    quarantined (the synthetic poison), conservation of row counts."""
    import minefields_kafka_streams_deduplication_spark as engine
    from minefields_kafka_streams_deduplication_spark.catalog import load_table

    out = engine.get_queries()["validate_stream_gate"](spark, sf_dir).collect()
    assert [r.batch_id for r in out] == [0, 1, 2, 3]
    assert [r.status for r in out] == [
        "promoted", "promoted", "quarantined", "promoted"
    ]
    quarantined = next(r for r in out if r.status == "quarantined")
    assert quarantined.n_violations == quarantined.n_rows  # every value nulled
    total = sum(r.n_rows for r in out)
    assert total == load_table(spark, sf_dir, "events").count()


def test_cancellable_punctuator_cancels_after_budget(spark, tmp_path):
    """[R ProcessorContext#schedule -> Cancellable#cancel]: after the
    firing budget, the key's punctuator is cancelled — rows that arrive
    AFTER the final firing accumulate silently and are never flushed,
    and the settle window inside run_cancellable proves no further
    punctuation fires while the trigger keeps running."""
    import datetime as dt

    from pyspark.sql import functions as F
    from minefields_kafka_streams_deduplication_spark.streaming.punctuate import (
        run_cancellable,
    )

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, t0 + dt.timedelta(minutes=i), "k") for i in range(20)],
        "event_id LONG, ts TIMESTAMP, event_type STRING",
    )
    stage = str(tmp_path / "stage")
    df.coalesce(1).write.parquet(stage)
    out = run_cancellable(
        spark,
        stage,
        "event_id LONG, ts TIMESTAMP, event_type STRING",
        n_keys=1,
        cancel_after=2,
        interval_ms=500,
    ).collect()
    firings = sorted(r.firing for r in out)
    assert firings == [1, 2], out  # exactly the budget, no more
    # emissions are a metronome: firing 2 at least one interval later
    by_firing = {r.firing: r for r in out}
    assert by_firing[2].emit_wall_us - by_firing[1].emit_wall_us >= 500_000
    assert sum(r.n for r in out) == 20  # all pre-cancel rows flushed


def test_cancellable_punctuator_reschedules_interval(spark, tmp_path):
    """Cancel + schedule-new (the KS backoff pattern): after
    reschedule_after firings the punctuator re-arms with the SLOW
    interval — post-reschedule emission gaps respect the slow bound
    while pre-reschedule gaps stay near the fast interval."""
    import datetime as dt

    from minefields_kafka_streams_deduplication_spark.streaming.punctuate import (
        run_cancellable,
    )

    t0 = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(i, t0 + dt.timedelta(minutes=i), "k") for i in range(10)],
        "event_id LONG, ts TIMESTAMP, event_type STRING",
    )
    stage = str(tmp_path / "stage")
    df.coalesce(1).write.parquet(stage)
    # Wide fast/slow separation: the lower bounds (gap >= interval) are
    # guaranteed by the punctuator, but `fast gap < slow` is a wall-
    # clock claim — under full-suite load a 3 s stall between two
    # 400 ms firings was observed once (r8), so the slow interval sits
    # 20x above fast to keep the cadence check meaningful AND robust.
    fast, slow = 400, 8000
    out = sorted(
        run_cancellable(
            spark,
            stage,
            "event_id LONG, ts TIMESTAMP, event_type STRING",
            n_keys=1,
            cancel_after=4,
            interval_ms=fast,
            slow_interval_ms=slow,
            reschedule_after=2,
            timeout_s=120.0,
        ).collect(),
        key=lambda r: r.firing,
    )
    assert [r.firing for r in out] == [1, 2, 3, 4]
    gaps = [
        (out[i + 1].emit_wall_us - out[i].emit_wall_us) / 1000.0
        for i in range(3)
    ]
    # firings 1->2 under the fast interval; 2->3 and 3->4 re-armed slow
    assert gaps[0] >= fast
    assert gaps[1] >= slow and gaps[2] >= slow, gaps
    # the reschedule visibly changed cadence (fast gap well under slow)
    assert gaps[0] < slow, gaps


def test_expectations_gate_replay_idempotent(spark, tmp_path):
    """ADVICE r6: foreachBatch delivery is at-least-once — replaying
    the same staged batches through the gate (fresh checkpoint, same
    sinks: the restart-after-crash shape) must not double-write rows
    or duplicate report entries. The batchId-addressed _SUCCESS-gated
    writes skip already-committed batches, so promoted + quarantined
    still conserve the input exactly."""
    import datetime as dt

    from minefields_kafka_streams_deduplication_spark.streaming.expectations import (
        EXPECT_EVENT_RULES,
        run_expectations_gate,
    )
    from minefields_kafka_streams_deduplication_spark.streaming.punctuate import (
        stage_events_ordered,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(hours=i), i % 5, None if 20 <= i < 40 else float(i))
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE"
    )
    stage, promoted, quarantine = (
        str(tmp_path / "stage"), str(tmp_path / "prom"), str(tmp_path / "quar")
    )
    stage_events_ordered(df, stage, n_slices=2)
    args = (
        spark, stage,
        "event_id LONG, ts TIMESTAMP, user_id LONG, value DOUBLE",
        EXPECT_EVENT_RULES, promoted, quarantine,
    )
    r1 = run_expectations_gate(*args)
    r2 = run_expectations_gate(*args)  # full replay, fresh checkpoint
    assert r1 == r2  # same batches, same routing, no duplicate entries
    assert spark.read.parquet(promoted).count() == 20
    assert spark.read.parquet(quarantine).count() == 20


def test_stream_dlq_two_sinks_conserve_preserve_and_replay(spark, sf_dir, tmp_path):
    """Streaming DLQ (r9): the two-sink foreachBatch router conserves
    records (good + dead == staged input, per batch and in total),
    preserves dead records' ORIGINAL value bytes bit-exactly, and is
    idempotent under full replay (fresh checkpoint, same sinks — the
    batchId-addressed _SUCCESS gate skips committed halves)."""
    import os

    from minefields_kafka_streams_deduplication_spark.streaming.dlq import (
        corrupted_wire,
        run_dlq_stream,
    )
    from minefields_kafka_streams_deduplication_spark.streaming.punctuate import (
        stage_events_ordered,
    )

    stage = str(tmp_path / "stage")
    good_dir = str(tmp_path / "good")
    dlq_dir = str(tmp_path / "dead")
    wire = corrupted_wire(spark, sf_dir)
    stage_events_ordered(wire, stage, n_slices=3)
    run_dlq_stream(spark, stage, good_dir, dlq_dir, str(tmp_path / "ck1"))

    staged = spark.read.parquet(stage)
    good = spark.read.parquet(good_dir)
    dead = spark.read.parquet(dlq_dir)

    # conservation: total and per-batch (each batch dir holds the
    # routed halves of exactly one staged file)
    assert good.count() + dead.count() == staged.count()
    per_batch_good = {r.batch_id: r.n for r in good.groupBy("batch_id").count().withColumnRenamed("count", "n").collect()}
    per_batch_dead = {r.batch_id: r.n for r in dead.groupBy("batch_id").count().withColumnRenamed("count", "n").collect()}
    assert set(per_batch_good) == {0, 1, 2}
    for b in (0, 1, 2):
        assert per_batch_good.get(b, 0) + per_batch_dead.get(b, 0) > 0

    # byte preservation: every DLQ value is byte-identical to a staged
    # wire value (the corrupt bytes survive verbatim), with a reason
    staged_bytes = {bytes(r.value) for r in staged.collect()}
    for r in dead.collect():
        assert bytes(r.value) in staged_bytes
        assert r.reason in ("malformed_json", "missing_required_field")

    # replay idempotence: fresh checkpoint over the same stage + sinks
    sig = {}
    for root, _dirs, files in os.walk(good_dir):
        for f in files:
            p = os.path.join(root, f)
            sig[p] = (os.path.getsize(p), os.path.getmtime(p))
    run_dlq_stream(spark, stage, good_dir, dlq_dir, str(tmp_path / "ck2"))
    for p, s in sig.items():
        assert (os.path.getsize(p), os.path.getmtime(p)) == s, p  # untouched
    assert good.count() + dead.count() == staged.count()  # no duplicates


def test_incremental_sessionization_bit_parity_and_conservation(spark, sf_dir):
    """Incremental sessionization (r9): the micro-batch-maintained
    session state equals the one-shot batch build BIT-FOR-BIT
    (boundaries, counts, exact-decimal-derived values, opening paths)
    after a 3-slice time-ordered replay, and conserves events."""
    from minefields_kafka_streams_deduplication_spark.catalog import load_table
    from minefields_kafka_streams_deduplication_spark.operators.windows import (
        build_session_frame,
    )
    import minefields_kafka_streams_deduplication_spark as engine

    out = engine.get_queries()["session_frame_incremental"](spark, sf_dir)
    got = {
        (r.user_id, r.session_start, r.session_end): (
            r.n_events,
            r.total_value,
            r.opening_path,
        )
        for r in out.collect()
    }
    ev = load_table(spark, sf_dir, "events")
    want = {
        (r.user_id, r.session_start, r.session_end): (
            r.n_events,
            r.total_value,
            r.opening_path,
        )
        for r in build_session_frame(ev).collect()
    }
    assert got == want
    assert sum(v[0] for v in got.values()) == ev.count()  # conservation


def test_incremental_sessionization_split_invariance(spark, tmp_path):
    """Counts, boundaries and exact decimal sums are SPLIT-INVARIANT:
    folding the same events in as any batch sequence — including an
    out-of-time-order split that interleaves one session across
    batches — reproduces the one-shot sessions."""
    import datetime as dt

    from minefields_kafka_streams_deduplication_spark.streaming.session_incremental import (
        apply_session_batch,
        build_session_rows,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # one user, one session of 4 events (gaps < 30 min), split so
        # batch 0 gets events 0 and 2, batch 1 gets 1 and 3 (interleaved)
        (i, 7, t0 + dt.timedelta(minutes=10 * i), float(i), "view")
        for i in range(4)
    ] + [
        (9, 7, t0 + dt.timedelta(hours=5), 9.0, "click"),  # second session
        (10, 8, t0, 1.0, "view"),                           # other user
    ]
    schema = "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE, event_type STRING"
    all_ev = spark.createDataFrame(rows, schema)
    b0 = spark.createDataFrame([rows[0], rows[2], rows[5]], schema)
    b1 = spark.createDataFrame([rows[1], rows[3], rows[4]], schema)

    from minefields_kafka_streams_deduplication_spark.streaming.session_incremental import (
        read_session_state,
    )

    state = str(tmp_path / "state")
    apply_session_batch(spark, state, b0, 0)
    apply_session_batch(spark, state, b1, 1)
    got = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.total_value_dec)
        for r in read_session_state(spark, state).collect()
    }
    want = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.total_value_dec)
        for r in build_session_rows(all_ev).collect()
    }
    assert got == want
    assert len(got) == 3  # user 7: 2 sessions (one merged across batches), user 8: 1


def test_incremental_sessionization_replay_and_touched_buckets(spark, tmp_path):
    """Redelivered batches are no-ops (batchId marker gate), and a
    batch touching one user rewrites ONLY that user's bucket dir."""
    import datetime as dt
    import os

    from minefields_kafka_streams_deduplication_spark.streaming.session_incremental import (
        SESSION_BUCKETS,
        apply_session_batch,
        read_session_state,
    )
    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE, event_type STRING"
    b0 = spark.createDataFrame(
        [(i, u, t0 + dt.timedelta(minutes=i), 1.0, "view") for i in range(4) for u in (1, 2, 3)],
        schema,
    )
    state = str(tmp_path / "state")
    apply_session_batch(spark, state, b0, 0)
    open_dir = os.path.join(state, "open")
    before = {
        d: os.path.getmtime(os.path.join(open_dir, d))
        for d in os.listdir(open_dir)
        if d.startswith("bucket=")
    }
    n_before = read_session_state(spark, state).count()

    # replay batch 0: marker gate -> nothing changes
    apply_session_batch(spark, state, b0, 0)
    assert n_before == read_session_state(spark, state).count()
    for d, m in before.items():
        assert os.path.getmtime(os.path.join(open_dir, d)) == m

    # batch touching ONLY user 1: only user 1's bucket rewrites
    b1 = spark.createDataFrame(
        [(99, 1, t0 + dt.timedelta(hours=9), 1.0, "view")], schema
    )
    u1_bucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(1).cast("long")), F.lit(SESSION_BUCKETS))
    ).first()[0]
    apply_session_batch(spark, state, b1, 1)
    for d, m in before.items():
        now = os.path.getmtime(os.path.join(open_dir, d))
        if d == f"bucket={u1_bucket}":
            assert now > m
        else:
            assert now == m, d  # untouched OPEN bucket untouched


def test_incremental_sessionization_fully_frozen_bucket_no_double_count(
    spark, tmp_path
):
    """A touched bucket whose every merged session falls behind the gap
    horizon must be DELETED from open/ (dynamic overwrite alone leaves
    the stale dir, double-counting against the closed copy): user A's
    only sessions freeze when a much-later batch touches A while its
    max ts pushes the horizon past them."""
    import datetime as dt

    from minefields_kafka_streams_deduplication_spark.streaming.session_incremental import (
        apply_session_batch,
        read_session_state,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE, event_type STRING"
    b0 = spark.createDataFrame([(1, 7, t0, 1.0, "view")], schema)
    # batch 1 touches user 7 again at +10h, but another event at +19h
    # pushes the horizon to 18.5h — BOTH of user 7's sessions freeze,
    # leaving 7's open bucket empty
    b1 = spark.createDataFrame(
        [
            (2, 7, t0 + dt.timedelta(hours=10), 1.0, "view"),
            (3, 8, t0 + dt.timedelta(hours=19), 1.0, "view"),
        ],
        schema,
    )
    state = str(tmp_path / "state")
    apply_session_batch(spark, state, b0, 0)
    apply_session_batch(spark, state, b1, 1)
    rows = read_session_state(spark, state).collect()
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r)
    assert len(per_user[7]) == 2           # two frozen sessions, ONCE each
    assert sum(r.n_events for r in rows) == 3  # conservation, no double count


def test_unified_session_store_append_folds_tail_only(spark, tmp_path):
    """The unified store (r10): first ensure folds everything as batch
    0; APPENDING a file folds ONLY the tail as batch 1 — the batch-0
    manifest and ledger survive untouched (no rebuild) — and the
    served frame equals the one-shot sessionization of the union,
    including a session that the tail EXTENDS across the fold
    boundary."""
    import datetime as dt
    import json
    import os
    import shutil

    from minefields_kafka_streams_deduplication_spark.streaming.session_incremental import (
        _session_root,
        build_session_rows,
        ensure_session_state,
        read_session_state,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE, event_type STRING"
    base_rows = [
        (1, 7, t0, 1.0, "view"),
        (2, 7, t0 + dt.timedelta(minutes=10), 2.0, "click"),
        (3, 8, t0 + dt.timedelta(hours=1), 3.0, "view"),
    ]
    # tail: extends user 8's open session (20-min gap) + a new session
    tail_rows = [
        (4, 8, t0 + dt.timedelta(hours=1, minutes=20), 4.0, "click"),
        (5, 9, t0 + dt.timedelta(hours=2), 5.0, "view"),
    ]
    src = str(tmp_path / "events_src")
    spark.createDataFrame(base_rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    root = _session_root(src)
    shutil.rmtree(root, ignore_errors=True)
    try:
        state = ensure_session_state(spark, src)
        m0 = os.path.join(state, "open", "manifest_0.json")
        m0_stat = os.stat(m0)

        spark.createDataFrame(tail_rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        state = ensure_session_state(spark, src)
        # batch-0 manifest untouched: the tail FOLDED, nothing rebuilt
        assert os.stat(m0).st_mtime_ns == m0_stat.st_mtime_ns
        assert os.path.exists(os.path.join(state, "open", "manifest_1.json"))
        with open(os.path.join(root, "ledger.json")) as fh:
            assert json.load(fh)["n_batches"] == 2

        got = {
            (r.user_id, r.session_start, r.session_end): (
                r.n_events, r.total_value_dec,
            )
            for r in read_session_state(spark, state).collect()
        }
        all_ev = spark.createDataFrame(base_rows + tail_rows, schema)
        want = {
            (r.user_id, r.session_start, r.session_end): (
                r.n_events, r.total_value_dec,
            )
            for r in build_session_rows(all_ev).collect()
        }
        assert got == want
        assert len(per_user := {u for u, *_ in got}) == 3 and per_user
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_unified_session_store_rebuilds_on_regenerated_file(spark, tmp_path):
    """A CHANGED already-applied file (fixture regeneration, not an
    append) wipes the unified store and rebuilds from scratch — the
    ledger's (size, mtime) signature is the guard."""
    import datetime as dt
    import shutil

    from minefields_kafka_streams_deduplication_spark.streaming.session_incremental import (
        _session_root,
        ensure_session_state,
        read_session_state,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE, event_type STRING"
    src = str(tmp_path / "events_src")
    spark.createDataFrame([(1, 7, t0, 1.0, "view")], schema).coalesce(
        1
    ).write.mode("overwrite").parquet(src)
    root = _session_root(src)
    shutil.rmtree(root, ignore_errors=True)
    try:
        state = ensure_session_state(spark, src)
        assert read_session_state(spark, state).count() == 1
        # regenerate: different content, same path
        spark.createDataFrame(
            [(1, 7, t0, 1.0, "view"), (2, 8, t0, 2.0, "view")], schema
        ).coalesce(1).write.mode("overwrite").parquet(src)
        state = ensure_session_state(spark, src)
        assert read_session_state(spark, state).count() == 2
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_session_batch_late_events_quarantined_and_conserved(spark, tmp_path):
    """Bounded-disorder contract (r10): an event arriving more than
    ALLOWED_LATENESS behind the watermark does NOT merge (whose result
    the algebra leaves undefined) — it routes to the quarantined late
    store, batchId-addressed; in-contract state + quarantine together
    conserve every event."""
    import datetime as dt

    from pyspark.sql import functions as F

    from minefields_kafka_streams_deduplication_spark.streaming.session_incremental import (
        ALLOWED_LATENESS_US,
        apply_session_batch,
        read_late_events,
        read_session_state,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE, event_type STRING"
    b0 = spark.createDataFrame(
        [(1, 7, t0 + dt.timedelta(hours=5), 1.0, "view")], schema
    )
    # watermark after b0 = 5h − lateness; this event sits one minute
    # beyond the budget → out of contract
    late_ts = (
        t0
        + dt.timedelta(hours=5)
        - dt.timedelta(microseconds=ALLOWED_LATENESS_US)
        - dt.timedelta(minutes=1)
    )
    b1 = spark.createDataFrame(
        [
            (2, 7, late_ts, 2.0, "view"),                      # quarantined
            (3, 8, t0 + dt.timedelta(hours=6), 3.0, "view"),   # in contract
        ],
        schema,
    )
    state = str(tmp_path / "state")
    apply_session_batch(spark, state, b0, 0)
    apply_session_batch(spark, state, b1, 1)
    late = read_late_events(spark, state).collect()
    assert [r.event_id for r in late] == [2]
    in_state = read_session_state(spark, state).agg(
        F.sum("n_events")
    ).first()[0]
    assert in_state + len(late) == 3  # conservation across the split


def test_session_batch_crash_before_manifest_replays_cleanly(spark, tmp_path):
    """Crash-ordering pin for the manifest commit (ADVICE r9): with the
    closed append AND the open commit dir fully written but the
    manifest missing (a crash one instant before the atomic rename),
    (a) readers see exactly the pre-batch state — no half-applied rows,
    no double counts — and (b) replaying the batch converges to the
    same state as the uncrashed run."""
    import datetime as dt
    import os

    from minefields_kafka_streams_deduplication_spark.streaming.session_incremental import (
        apply_session_batch,
        read_session_state,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE, event_type STRING"
    b0 = spark.createDataFrame(
        [(1, 7, t0, 1.0, "view"), (2, 8, t0 + dt.timedelta(hours=1), 2.0, "view")],
        schema,
    )
    # touches user 7 again (same bucket rewrites) + pushes the horizon
    b1 = spark.createDataFrame(
        [
            (3, 7, t0 + dt.timedelta(hours=10), 3.0, "view"),
            (4, 8, t0 + dt.timedelta(hours=19), 4.0, "view"),
        ],
        schema,
    )

    def snap(state):
        return {
            (r.user_id, r.session_start, r.session_end): (
                r.n_events, r.total_value_dec,
            )
            for r in read_session_state(spark, state).collect()
        }

    state = str(tmp_path / "state")
    apply_session_batch(spark, state, b0, 0)
    before_b1 = snap(state)

    # crash injection: batch 1 writes its closed append and its open
    # commit dir, then dies one instant before the atomic manifest
    # rename (so no post-commit GC ran either — the honest crash state)
    from minefields_kafka_streams_deduplication_spark.streaming import (
        session_incremental as si,
    )

    real_write = si._write_manifest

    def boom(*a, **k):
        raise RuntimeError("injected crash at the commit point")

    si._write_manifest = boom
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            apply_session_batch(spark, state, b1, 1)
    finally:
        si._write_manifest = real_write
    assert os.path.exists(
        os.path.join(state, "closed", "batch_id=1", "_SUCCESS")
    )
    assert not os.path.exists(os.path.join(state, "open", "manifest_1.json"))
    assert snap(state) == before_b1  # (a) mid-crash reads = pre-batch

    apply_session_batch(spark, state, b1, 1)  # (b) replay converges
    want_keys = {(7,), (8,)}
    got = snap(state)
    assert {((u,)) for u, *_ in got} == want_keys
    # replay == a never-crashed run: fold the same batches into a
    # fresh state and compare
    clean = str(tmp_path / "clean")
    apply_session_batch(spark, clean, b0, 0)
    apply_session_batch(spark, clean, b1, 1)
    assert got == snap(clean)


def test_incremental_sessionization_bounded_disorder_property(spark):
    """Lateness-contract property (r10): a replay whose per-event
    disorder stays within ALLOWED_LATENESS (arrival order = event time
    + bounded jitter, any contiguous batching of that arrival order)
    quarantines NOTHING and folds to the SAME final sessions — counts,
    boundaries, exact decimal sums — as the one-shot build. This
    replaces the old strict in-order precondition: disorder up to the
    budget is now in contract, not undefined."""
    import datetime as dt
    import shutil
    import tempfile

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from minefields_kafka_streams_deduplication_spark.streaming.session_incremental import (
        ALLOWED_LATENESS_US,
        apply_session_batch,
        build_session_rows,
        read_late_events,
        read_session_state,
    )

    t0 = dt.datetime(2024, 1, 1)
    max_jitter_min = int(ALLOWED_LATENESS_US // 60_000_000) - 1  # strictly inside
    events = st.lists(
        st.tuples(
            st.integers(0, 2),            # user
            st.integers(0, 600),          # event minute
            st.integers(0, max_jitter_min),  # arrival jitter (bounded disorder)
        ),
        min_size=2,
        max_size=14,
    )

    @settings(max_examples=5, deadline=None)
    @given(evs=events, cuts=st.lists(st.integers(1, 13), max_size=2, unique=True))
    def run(evs, cuts):
        schema = (
            "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE,"
            " event_type STRING"
        )
        rows = [
            (i, u, t0 + dt.timedelta(minutes=m), float(i), "view")
            for i, (u, m, _j) in enumerate(evs)
        ]
        # arrival order: event time + jitter < lateness ⇒ every event
        # lands within the watermark's budget, whatever the batching
        arrival = sorted(
            range(len(evs)), key=lambda i: (evs[i][1] + evs[i][2], i)
        )
        bounds = sorted({c for c in cuts if c < len(evs)}) + [len(evs)]
        state = tempfile.mkdtemp(prefix="sess_disorder_")
        try:
            lo = 0
            for bid, hi in enumerate(bounds):
                if hi <= lo:
                    continue
                batch = spark.createDataFrame(
                    [rows[i] for i in arrival[lo:hi]], schema
                )
                apply_session_batch(spark, state, batch, bid)
                lo = hi
            assert read_late_events(spark, state).count() == 0
            got = {
                (r.user_id, r.session_start, r.session_end): (
                    r.n_events, r.total_value_dec,
                )
                for r in read_session_state(spark, state).collect()
            }
            want = {
                (r.user_id, r.session_start, r.session_end): (
                    r.n_events, r.total_value_dec,
                )
                for r in build_session_rows(
                    spark.createDataFrame(rows, schema)
                ).collect()
            }
            assert got == want
        finally:
            shutil.rmtree(state, ignore_errors=True)

    run()


def test_reconciled_view_total_under_arbitrary_disorder(spark):
    """Total-correctness property for the repair view (r10): under
    ARBITRARY disorder — jitter far beyond ALLOWED_LATENESS, so events
    really do quarantine — read_session_state_reconciled folds the
    late store back in and equals the one-shot sessionization of ALL
    events on counts, boundaries and exact decimal sums. The lateness
    contract plus the repair view is therefore total: nothing is ever
    silently mis-merged OR lost."""
    import datetime as dt
    import shutil
    import tempfile

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from minefields_kafka_streams_deduplication_spark.streaming.session_incremental import (
        apply_session_batch,
        build_session_rows,
        read_session_state_reconciled,
    )

    t0 = dt.datetime(2024, 1, 1)
    events = st.lists(
        st.tuples(
            st.integers(0, 2),      # user
            st.integers(0, 600),    # event minute
            st.integers(0, 300),    # arrival jitter — WAY past lateness
        ),
        min_size=2,
        max_size=12,
    )

    @settings(max_examples=4, deadline=None)
    @given(evs=events, cuts=st.lists(st.integers(1, 11), max_size=2, unique=True))
    def run(evs, cuts):
        schema = (
            "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE,"
            " event_type STRING"
        )
        rows = [
            (i, u, t0 + dt.timedelta(minutes=m), float(i), "view")
            for i, (u, m, _j) in enumerate(evs)
        ]
        arrival = sorted(
            range(len(evs)), key=lambda i: (evs[i][1] + evs[i][2], i)
        )
        bounds = sorted({c for c in cuts if c < len(evs)}) + [len(evs)]
        state = tempfile.mkdtemp(prefix="sess_reconcile_")
        try:
            lo = 0
            for bid, hi in enumerate(bounds):
                if hi <= lo:
                    continue
                batch = spark.createDataFrame(
                    [rows[i] for i in arrival[lo:hi]], schema
                )
                apply_session_batch(spark, state, batch, bid)
                lo = hi
            got = {
                (r.user_id, r.session_start, r.session_end): (
                    r.n_events, r.total_value_dec,
                )
                for r in read_session_state_reconciled(spark, state).collect()
            }
            want = {
                (r.user_id, r.session_start, r.session_end): (
                    r.n_events, r.total_value_dec,
                )
                for r in build_session_rows(
                    spark.createDataFrame(rows, schema)
                ).collect()
            }
            assert got == want
        finally:
            shutil.rmtree(state, ignore_errors=True)

    run()


def test_merge_session_rows_matches_interval_model(spark):
    """Hypothesis model for the interval merge alone: random session
    rows (including overlaps and containment) merge exactly like the
    brute-force sweep — boundaries, counts and exact decimal sums."""
    import datetime as dt
    from decimal import Decimal

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from minefields_kafka_streams_deduplication_spark.streaming.session_incremental import (
        SESSION_GAP_US,
        merge_session_rows,
    )

    t0 = dt.datetime(2024, 1, 1)
    intervals = st.lists(
        st.tuples(
            st.integers(0, 2),          # user
            st.integers(0, 300),        # start minute
            st.integers(0, 90),         # duration minutes
            st.integers(1, 5),          # n_events
        ),
        min_size=1,
        max_size=12,
    )

    @settings(max_examples=8, deadline=None)
    @given(rows=intervals)
    def run(rows):
        data = [
            (
                u,
                t0 + dt.timedelta(minutes=s),
                t0 + dt.timedelta(minutes=s + d),
                n,
                Decimal(n).quantize(Decimal("0.000001")),
                ["x"] * min(3, n),
            )
            for (u, s, d, n) in rows
        ]
        df = spark.createDataFrame(
            data,
            "user_id LONG, session_start TIMESTAMP, session_end TIMESTAMP,"
            " n_events LONG, total_value_dec DECIMAL(18,6),"
            " opening ARRAY<STRING>",
        )
        got = {
            (r.user_id, r.session_start, r.session_end): (
                r.n_events,
                r.total_value_dec,
            )
            for r in merge_session_rows(df).collect()
        }
        # brute-force sweep per user
        want = {}
        by_user: dict = {}
        for u, s, e, n, v, _o in data:
            by_user.setdefault(u, []).append((s, e, n, v))
        gap = dt.timedelta(microseconds=SESSION_GAP_US)
        for u, ivs in by_user.items():
            ivs.sort()
            cur = None
            merged = []
            for s, e, n, v in ivs:
                if cur is None or s - cur[1] > gap:
                    cur = [s, e, n, v]
                    merged.append(cur)
                else:
                    cur[1] = max(cur[1], e)
                    cur[2] += n
                    cur[3] += v
            for s, e, n, v in merged:
                want[(u, s, e)] = (n, v)
        assert got == want

    run()


def test_session_state_compaction_preserves_state_and_continues(spark, tmp_path):
    """Log/store compaction (r10): folding the per-batch closed
    appends into one base segment and the manifest chain into one
    checkpoint json (a) preserves the read EXACTLY, (b) still rejects
    a replay of a pre-compaction batch id, and (c) lets the maintainer
    keep committing on top — including a new freeze landing in the
    post-compaction closed store."""
    import datetime as dt
    import glob as g
    import os

    from minefields_kafka_streams_deduplication_spark.streaming.session_incremental import (
        apply_session_batch,
        compact_session_state,
        read_session_state,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE, event_type STRING"

    def batch(rows):
        return spark.createDataFrame(rows, schema)

    def snap(state):
        return {
            (r.user_id, r.session_start, r.session_end): (
                r.n_events, r.total_value_dec,
            )
            for r in read_session_state(spark, state).collect()
        }

    state = str(tmp_path / "state")
    apply_session_batch(spark, state, batch([(1, 7, t0, 1.0, "view")]), 0)
    apply_session_batch(
        spark, state, batch([(2, 8, t0 + dt.timedelta(hours=2), 2.0, "view")]), 1
    )
    apply_session_batch(
        spark, state, batch([(3, 7, t0 + dt.timedelta(hours=4), 3.0, "view")]), 2
    )
    before = snap(state)

    compact_session_state(spark, state)
    assert snap(state) == before                       # (a) read preserved
    assert g.glob(os.path.join(state, "closed", "batch_id=*")) == []
    manifests = g.glob(os.path.join(state, "open", "manifest_*.json"))
    assert [os.path.basename(p) for p in manifests] == ["manifest_base.json"]
    assert os.path.exists(os.path.join(state, "closed_base", "upto_2"))

    # (b) pre-compaction batch ids still replay as no-ops
    apply_session_batch(spark, state, batch([(1, 7, t0, 1.0, "view")]), 1)
    assert snap(state) == before

    # (c) the maintainer continues on the compacted log; the distant
    # event freezes user 7/8's earlier sessions into post-base appends
    apply_session_batch(
        spark, state, batch([(4, 9, t0 + dt.timedelta(days=3), 4.0, "view")]), 3
    )
    after = snap(state)
    assert set(before) < set(after) and len(after) == len(before) + 1

    # compaction is idempotent / re-runnable
    compact_session_state(spark, state)
    compact_session_state(spark, state)
    assert snap(state) == after
    assert os.path.exists(os.path.join(state, "closed_base", "upto_3"))


def test_unified_store_auto_compacts_past_threshold(spark, tmp_path, monkeypatch):
    """ensure_session_state checkpoints its own log: once the
    incremental manifest chain passes COMPACT_EVERY_COMMITS, the next
    fold compacts — and the served frame is unchanged."""
    import datetime as dt
    import glob as g
    import os
    import shutil

    from minefields_kafka_streams_deduplication_spark.streaming import (
        session_incremental as si,
    )

    monkeypatch.setattr(si, "COMPACT_EVERY_COMMITS", 1)
    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE, event_type STRING"
    src = str(tmp_path / "events_src")
    root = si._session_root(src)
    shutil.rmtree(root, ignore_errors=True)
    try:
        for i in range(3):
            spark.createDataFrame(
                [(i, 7, t0 + dt.timedelta(hours=3 * i), 1.0, "view")], schema
            ).coalesce(1).write.mode("append").parquet(src)
            state = si.ensure_session_state(spark, src)
        assert os.path.exists(si._base_path(state))
        got = {
            (r.user_id, r.session_start): r.n_events
            for r in si.read_session_state(spark, state).collect()
        }
        assert len(got) == 3  # three 3h-apart single-event sessions
        # the per-batch manifests at/below the checkpoint are folded in
        incr = [
            p
            for p in g.glob(os.path.join(state, "open", "manifest_*.json"))
            if os.path.basename(p) != "manifest_base.json"
        ]
        assert len(incr) <= 1
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_streaming_maintainer_availablenow_bit_parity(spark, sf_dir, tmp_path):
    """The REAL streaming maintainer (readStream → foreachBatch →
    apply_session_batch, availableNow, one micro-batch per staged
    slice) folds the fixture to the one-shot sessionization
    bit-for-bat — counts, boundaries, exact decimal sums — through the
    actual Structured Streaming machinery, not a hand replay. (The
    registered session_frame_incremental now serves the unified store,
    so this test is the streaming path's dedicated witness.)"""
    from minefields_kafka_streams_deduplication_spark.catalog import load_table
    from minefields_kafka_streams_deduplication_spark.streaming.punctuate import (
        stage_events_ordered,
    )
    from minefields_kafka_streams_deduplication_spark.streaming.session_incremental import (
        build_session_rows,
        read_late_events,
        read_session_state,
        run_incremental_sessionization,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value", "event_type"
    )
    stage = str(tmp_path / "stage")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    stage_events_ordered(ev, stage, n_slices=3)
    run_incremental_sessionization(spark, stage, state, ckpt)

    assert read_late_events(spark, state).count() == 0  # ordered replay
    got = {
        (r.user_id, r.session_start, r.session_end): (
            r.n_events, r.total_value_dec,
        )
        for r in read_session_state(spark, state).collect()
    }
    want = {
        (r.user_id, r.session_start, r.session_end): (
            r.n_events, r.total_value_dec,
        )
        for r in build_session_rows(ev).collect()
    }
    assert got == want and len(got) > 0


def test_compaction_anywhere_property(spark):
    """Hypothesis: interleaving compact_session_state at ANY points of
    ANY batch sequence leaves the read identical to the uncompacted
    fold — compaction is a pure representation change."""
    import datetime as dt
    import shutil
    import tempfile

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from minefields_kafka_streams_deduplication_spark.streaming.session_incremental import (
        apply_session_batch,
        compact_session_state,
        read_session_state,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = (
        "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE,"
        " event_type STRING"
    )
    events = st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 2000)),
        min_size=2,
        max_size=10,
    )

    @settings(max_examples=4, deadline=None)
    @given(evs=events, compact_after=st.sets(st.integers(0, 3)))
    def run(evs, compact_after):
        rows = sorted(
            [
                (i, u, t0 + dt.timedelta(minutes=m), float(i), "view")
                for i, (u, m) in enumerate(evs)
            ],
            key=lambda r: r[2],
        )
        thirds = [rows[0::3], rows[1::3], rows[2::3]]
        # re-sort each slice so batches stay time-ordered overall? No —
        # interleaved slices ARE disorderly; use contiguous thirds.
        n = len(rows)
        cuts = [n // 3, 2 * n // 3, n]
        batches, lo = [], 0
        for hi in cuts:
            batches.append(rows[lo:hi])
            lo = hi
        sa = tempfile.mkdtemp(prefix="sess_compact_a_")
        sb = tempfile.mkdtemp(prefix="sess_compact_b_")
        try:
            for bid, b in enumerate(batches):
                if not b:
                    continue
                df = spark.createDataFrame(b, schema)
                apply_session_batch(spark, sa, df, bid)
                apply_session_batch(spark, sb, df, bid)
                if bid in compact_after:
                    compact_session_state(spark, sb)

            def snap(s):
                return {
                    (r.user_id, r.session_start, r.session_end): (
                        r.n_events, r.total_value_dec,
                    )
                    for r in read_session_state(spark, s).collect()
                }

            assert snap(sa) == snap(sb)
        finally:
            shutil.rmtree(sa, ignore_errors=True)
            shutil.rmtree(sb, ignore_errors=True)

    run()


def test_compaction_crash_before_base_rename_replays_cleanly(spark, tmp_path):
    """A crash after the compacted closed segment is written but
    before the base-manifest rename leaves the log untouched: reads
    resolve the old manifests exactly, and re-running compaction
    converges."""
    import datetime as dt
    import os

    from minefields_kafka_streams_deduplication_spark.streaming import (
        session_incremental as si,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE, event_type STRING"
    state = str(tmp_path / "state")
    si.apply_session_batch(
        spark, state,
        spark.createDataFrame([(1, 7, t0, 1.0, "view")], schema), 0,
    )
    si.apply_session_batch(
        spark, state,
        spark.createDataFrame(
            [(2, 8, t0 + dt.timedelta(days=2), 2.0, "view")], schema
        ),
        1,
    )

    def snap():
        return {
            (r.user_id, r.session_start, r.session_end): r.n_events
            for r in si.read_session_state(spark, state).collect()
        }

    before = snap()
    real_replace = os.replace

    def boom(src, dst):
        if dst.endswith("manifest_base.json"):
            raise RuntimeError("injected crash at the base rename")
        return real_replace(src, dst)

    os.replace = boom
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            si.compact_session_state(spark, state)
    finally:
        os.replace = real_replace
    assert not os.path.exists(si._base_path(state))
    assert snap() == before  # old manifests still resolve the state

    si.compact_session_state(spark, state)  # replay converges
    assert os.path.exists(si._base_path(state))
    assert snap() == before


def test_migration_bridges_long_sessions(spark, tmp_path):
    """A stored session LONGER than one gap (held together by interior
    events) must migrate intact: the zero-weight bridge rows stand in
    for the interior, so the re-sharded store returns the same window
    extent and exact totals."""
    import datetime as dt

    from pyspark.sql import functions as F

    from minefields_kafka_streams_deduplication_spark.streaming import live_state
    from minefields_kafka_streams_deduplication_spark.streaming.state_migration import (
        migrate_session_state,
    )

    t0 = dt.datetime(2024, 1, 1)
    # one user, one session spanning 100 minutes (gap=30: events every
    # 20 min keep it alive across 3+ gap widths), plus a second user
    rows = [
        (7, t0 + dt.timedelta(minutes=20 * i), 1.0) for i in range(6)
    ] + [(9, t0 + dt.timedelta(hours=12), 5.0)]
    ev = spark.createDataFrame(rows, "user_id LONG, ts TIMESTAMP, value DOUBLE")
    stage = str(tmp_path / "stage")
    ckpt = str(tmp_path / "ckpt")
    # build the checkpoint directly (single availableNow commit)
    ev.coalesce(1).write.parquet(stage)
    stream = spark.readStream.schema(
        "user_id LONG, ts TIMESTAMP, value DOUBLE"
    ).parquet(stage)
    sessions = (
        stream.withWatermark("ts", "36500 days")
        .groupBy(
            F.session_window(
                "ts", f"{live_state.SESSION_STATE_GAP_MINUTES} minutes"
            ).alias("session_window"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("count"), F.sum("value").alias("sum"))
    )
    q = (
        sessions.writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    new_ckpt = migrate_session_state(spark, ckpt, str(tmp_path / "mig"), 4)

    def fetch(c):
        return {
            (r.user_id, r.session_start, r.session_end): (
                r.n_events, r.total_value,
            )
            for r in live_state.session_state_fetch(spark, c).collect()
        }

    old, new = fetch(ckpt), fetch(new_ckpt)
    assert old == new
    long_key = next(k for k in old if k[0] == 7)
    assert (long_key[2] - long_key[1]) >= dt.timedelta(minutes=100)
    assert old[long_key][0] == 6  # all six interior events' count intact


def test_compaction_is_tiered_then_major_folds(spark, tmp_path, monkeypatch):
    """Compaction cost discipline (r10): each checkpoint folds ONLY the
    batch dirs since the last segment (tiered — O(new data)), segments
    accumulate in the base manifest, and past MAJOR_COMPACT_SEGMENTS a
    major fold rewrites them into one. The read is identical at every
    stage."""
    import datetime as dt
    import glob as g
    import os

    from minefields_kafka_streams_deduplication_spark.streaming import (
        session_incremental as si,
    )

    monkeypatch.setattr(si, "MAJOR_COMPACT_SEGMENTS", 3)
    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE, event_type STRING"
    state = str(tmp_path / "state")

    def snap():
        return {
            (r.user_id, r.session_start): (r.n_events, r.total_value_dec)
            for r in si.read_session_state(spark, state).collect()
        }

    expected_keys = 0
    seg_counts = []
    for bid in range(5):
        # each batch: one far-future event per batch → every prior
        # session freezes, so every compaction has closed data to fold
        si.apply_session_batch(
            spark, state,
            spark.createDataFrame(
                [(bid, 7, t0 + dt.timedelta(days=2 * bid), 1.0, "view")],
                schema,
            ),
            bid,
        )
        expected_keys += 1
        si.compact_session_state(spark, state)
        base, incr = si._state_log(state)
        assert incr == []  # log checkpointed every round
        seg_counts.append(len(si._segments(base)))
        assert len(snap()) == expected_keys
        # every listed segment exists on disk; nothing unlisted remains
        on_disk = {
            int(os.path.basename(p).rsplit("_", 1)[1])
            for p in g.glob(os.path.join(state, "closed_base", "upto_*"))
        }
        assert on_disk == set(si._segments(base))
    # tiered growth then the major fold back to one segment
    assert max(seg_counts) == 3
    assert seg_counts[-1] in (1, 2)  # major fold happened at the threshold


def test_repair_late_events_durable_and_resumable(spark, tmp_path):
    """Durable quarantine repair (r10): after folding batches with an
    out-of-contract event, repair_late_events commits a fresh base
    generation whose plain read equals the one-shot build (no
    merge-on-read overlay needed), retires the quarantine via
    late_applied (re-repair is a no-op; the audit dirs stay on disk),
    and the maintainer keeps committing on top afterwards."""
    import datetime as dt
    import glob as g
    import os

    from minefields_kafka_streams_deduplication_spark.streaming import (
        session_incremental as si,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE, event_type STRING"
    state = str(tmp_path / "state")
    rows0 = [(1, 7, t0, 1.0, "view"), (2, 8, t0 + dt.timedelta(hours=5), 2.0, "view")]
    # event 3 lands hours behind the batch-0 watermark → quarantined;
    # it should MERGE with user 7's t0 session (10 min gap)
    rows1 = [
        (3, 7, t0 + dt.timedelta(minutes=10), 3.0, "click"),
        (4, 9, t0 + dt.timedelta(hours=6), 4.0, "view"),
    ]
    si.apply_session_batch(spark, state, spark.createDataFrame(rows0, schema), 0)
    si.apply_session_batch(spark, state, spark.createDataFrame(rows1, schema), 1)
    assert si.read_late_events(spark, state).count() == 1

    assert si.repair_late_events(spark, state) is True
    assert si.read_late_events(spark, state).count() == 0  # retired
    assert g.glob(os.path.join(state, "late", "batch_id=*"))  # audit kept

    def snap():
        return {
            (r.user_id, r.session_start, r.session_end): (
                r.n_events, r.total_value_dec,
            )
            for r in si.read_session_state(spark, state).collect()
        }

    all_rows = rows0 + rows1
    want = {
        (r.user_id, r.session_start, r.session_end): (
            r.n_events, r.total_value_dec,
        )
        for r in si.build_session_rows(
            spark.createDataFrame(all_rows, schema)
        ).collect()
    }
    assert snap() == want  # the PLAIN read, no reconciliation overlay
    assert si.repair_late_events(spark, state) is False  # no-op re-run

    # the maintainer continues on top of the repaired generation
    rows2 = [(5, 7, t0 + dt.timedelta(days=3), 5.0, "view")]
    next_id = max(si._applied_ids(*si._state_log(state))) + 1
    si.apply_session_batch(
        spark, state, spark.createDataFrame(rows2, schema), next_id
    )
    want2 = {
        (r.user_id, r.session_start, r.session_end): (
            r.n_events, r.total_value_dec,
        )
        for r in si.build_session_rows(
            spark.createDataFrame(all_rows + rows2, schema)
        ).collect()
    }
    assert snap() == want2


def test_chunked_sessionization_exact_parity(spark, sf_dir):
    """Skew-safe chunked sessionization == the plain per-user build on
    the real fixture, INCLUDING the first-3 opening tokens (chunks
    partition time, so concatenation order is event order) and the
    exact decimal sums."""
    from minefields_kafka_streams_deduplication_spark.catalog import load_table
    from minefields_kafka_streams_deduplication_spark.streaming.session_incremental import (
        build_session_rows,
        build_session_rows_chunked,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value", "event_type"
    )

    def snap(df):
        return {
            (r.user_id, r.session_start, r.session_end): (
                r.n_events, r.total_value_dec, tuple(r.opening),
            )
            for r in df.collect()
        }

    plain = snap(build_session_rows(ev))
    for days in (1, 7):
        assert snap(build_session_rows_chunked(ev, chunk_days=days)) == plain
    assert len(plain) > 0


def test_chunked_sessionization_property(spark):
    """Hypothesis: chunked == plain on adversarial inputs — sessions
    exactly straddling chunk boundaries, sessions spanning several
    chunks, exact-gap pairs (the merge-on-touch edge), multi-user."""
    import datetime as dt

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from minefields_kafka_streams_deduplication_spark.streaming.session_incremental import (
        build_session_rows,
        build_session_rows_chunked,
    )

    t0 = dt.datetime(2024, 1, 1)
    events = st.lists(
        st.tuples(
            st.integers(0, 2),          # user
            st.integers(0, 4 * 1440),   # minute across ~4 chunk-days
        ),
        min_size=1,
        max_size=16,
    )

    @settings(max_examples=6, deadline=None)
    @given(evs=events)
    def run(evs):
        schema = (
            "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE,"
            " event_type STRING"
        )
        rows = [
            (i, u, t0 + dt.timedelta(minutes=m), float(i), f"t{i % 3}")
            for i, (u, m) in enumerate(evs)
        ]
        ev = spark.createDataFrame(rows, schema)

        def snap(df):
            return {
                (r.user_id, r.session_start, r.session_end): (
                    r.n_events, r.total_value_dec, tuple(r.opening),
                )
                for r in df.collect()
            }

        assert snap(build_session_rows_chunked(ev, chunk_days=1)) == snap(
            build_session_rows(ev)
        )

    run()


def test_apply_session_batch_chunked_fold_parity(spark, tmp_path):
    """The fold's skew guard: applying a batch with chunk_days set
    produces bit-identical state to the plain fold."""
    import datetime as dt

    from minefields_kafka_streams_deduplication_spark.streaming.session_incremental import (
        apply_session_batch,
        read_session_state,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE, event_type STRING"
    rows = [
        (i, 7 if i % 2 else 8, t0 + dt.timedelta(hours=6 * i), float(i), "view")
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, schema)

    def snap(state):
        return {
            (r.user_id, r.session_start, r.session_end): (
                r.n_events, r.total_value_dec, tuple(r.opening),
            )
            for r in read_session_state(spark, state).collect()
        }

    sa, sb = str(tmp_path / "plain"), str(tmp_path / "chunked")
    apply_session_batch(spark, sa, df, 0)
    apply_session_batch(spark, sb, df, 0, chunk_days=1)
    assert snap(sa) == snap(sb) and len(snap(sa)) > 0


def test_apply_session_batch_auto_skew_routing(spark, tmp_path, monkeypatch):
    """The SELF-APPLYING skew guard (r11): with the row floor lowered,
    a batch whose top key owns half the rows routes to the chunked
    builder automatically (observed via a module-attribute spy) and the
    committed state is bit-identical to the forced plain fold; a
    balanced batch stays on the plain path."""
    import datetime as dt

    from minefields_kafka_streams_deduplication_spark.streaming import (
        session_incremental as si,
    )

    monkeypatch.setattr(si, "SKEW_AUTO_MIN_ROWS", 10)
    calls: list[int] = []
    orig = si.build_session_rows_chunked

    def spy(ev, chunk_days=7):
        calls.append(chunk_days)
        return orig(ev, chunk_days=chunk_days)

    monkeypatch.setattr(si, "build_session_rows_chunked", spy)

    t0 = dt.datetime(2024, 1, 1)
    schema = (
        "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE,"
        " event_type STRING"
    )
    # hot: user 1 owns 12 of 24 rows (50% > SKEW_AUTO_SHARE)
    hot = [
        (i, 1, t0 + dt.timedelta(hours=6 * i), float(i), "view")
        for i in range(12)
    ] + [
        (100 + i, 2 + i, t0 + dt.timedelta(hours=i), float(i), "click")
        for i in range(12)
    ]
    df_hot = spark.createDataFrame(hot, schema)

    def snap(state):
        return {
            (r.user_id, r.session_start, r.session_end): (
                r.n_events, r.total_value_dec, tuple(r.opening),
            )
            for r in si.read_session_state(spark, state).collect()
        }

    s_auto, s_plain = str(tmp_path / "auto"), str(tmp_path / "plain")
    si.apply_session_batch(spark, s_auto, df_hot, 0)  # default: auto
    assert calls == [si.SKEW_AUTO_CHUNK_DAYS]  # routed to chunked
    si.apply_session_batch(spark, s_plain, df_hot, 0, chunk_days=None)
    assert snap(s_auto) == snap(s_plain) and len(snap(s_auto)) > 0

    # balanced: 12 users × 2 rows — top share 1/12, stays plain
    bal = [
        (i, i % 12, t0 + dt.timedelta(hours=i), float(i), "view")
        for i in range(24)
    ]
    s_bal = str(tmp_path / "bal")
    si.apply_session_batch(spark, s_bal, spark.createDataFrame(bal, schema), 0)
    assert calls == [si.SKEW_AUTO_CHUNK_DAYS]  # no second chunked call


def test_torn_ledger_and_pending_demote_to_rebuild(spark, tmp_path):
    """ADVICE r10 pins: (a) a TORN ledger.json (crash mid-write under a
    pre-r11 plain writer, disk fault) demotes to a full rebuild instead
    of raising JSONDecodeError; (b) a crashed fold whose staged file
    was REWRITTEN IN PLACE before resume rebuilds rather than promoting
    the new signature over the old folded content."""
    import datetime as dt
    import json
    import os
    import shutil

    from minefields_kafka_streams_deduplication_spark.streaming.session_incremental import (
        _session_root,
        ensure_session_state,
        read_session_state,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE, event_type STRING"
    src = str(tmp_path / "events_src")
    spark.createDataFrame([(1, 7, t0, 1.0, "view")], schema).coalesce(
        1
    ).write.mode("overwrite").parquet(src)
    root = _session_root(src)
    shutil.rmtree(root, ignore_errors=True)
    try:
        state = ensure_session_state(spark, src)
        assert read_session_state(spark, state).count() == 1

        # (a) torn ledger: truncated JSON must rebuild, not crash
        with open(os.path.join(root, "ledger.json"), "w") as fh:
            fh.write('{"files": {"/x": [1,')  # torn mid-write
        state = ensure_session_state(spark, src)
        assert read_session_state(spark, state).count() == 1

        # (b) staged-signature mismatch with the LEDGER still valid —
        # the exact ADVICE scenario: a crashed fold staged this file,
        # the file was then rewritten in place (same content here, so
        # the ledger's own staleness check stays green), and resume
        # must demote to rebuild instead of promoting the STALE staged
        # signature into the ledger (which would permanently blind the
        # staleness check). Observable: after ensure, the ledger
        # records the file's REAL current signature, and pending is
        # consumed.
        files = [
            os.path.join(src, f)
            for f in os.listdir(src)
            if f.endswith(".parquet")
        ]
        real_sig = [os.path.getsize(files[0]), os.stat(files[0]).st_mtime_ns]
        pend = {
            "batch_id": 0,
            "files": {files[0]: [1, 1]},  # staged sig != current sig
        }
        with open(os.path.join(root, "pending.json"), "w") as fh:
            json.dump(pend, fh)
        state = ensure_session_state(spark, src)
        assert read_session_state(spark, state).count() == 1
        assert not os.path.exists(os.path.join(root, "pending.json"))
        with open(os.path.join(root, "ledger.json")) as fh:
            led = json.load(fh)
        # the stale staged signature must NOT have been promoted — the
        # rebuild recorded the file's real current signature
        assert list(led["files"].values()) == [real_sig]
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_empty_late_batches_leave_no_quarantine_dirs(spark, tmp_path):
    """ADVICE r10 pin: once a watermark exists, a fold with ZERO late
    events must not grow the late/ listing (pre-r11 every fold wrote an
    empty batch_id dir forever); and repair_late_events retires any
    legacy EMPTY un-folded dirs it finds."""
    import datetime as dt
    import glob as g
    import os

    from minefields_kafka_streams_deduplication_spark.streaming import (
        session_incremental as si,
    )

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE, event_type STRING"
    state = str(tmp_path / "state")
    b0 = spark.createDataFrame(
        [(1, 7, t0, 1.0, "view"), (2, 7, t0 + dt.timedelta(hours=9), 2.0, "view")],
        schema,
    )
    si.apply_session_batch(spark, state, b0, 0)  # establishes a watermark
    # an all-in-contract follow-up batch: no late/ dir may appear
    b1 = spark.createDataFrame(
        [(3, 7, t0 + dt.timedelta(hours=10), 3.0, "view")], schema
    )
    si.apply_session_batch(spark, state, b1, 1)
    assert g.glob(os.path.join(state, "late", "batch_id=*")) == []

    # legacy empty dir (pre-r11 fold): repair retires it and reports
    # nothing to fold
    legacy = os.path.join(state, "late", "batch_id=9")
    os.makedirs(legacy, exist_ok=True)
    assert si.repair_late_events(spark, state) is False
    assert not os.path.exists(legacy)
