"""Streaming deduplication (SURVEY.md §2.3 D4/D5) — the reference's
core topology [R Confluent EventDeduplicationLambdaIntegrationTest:
stream → processValues(window-store dedup transformer) → to].

D4 uses the built-in `dropDuplicatesWithinWatermark` (Spark >= 3.5):
state eviction by watermark == the reference's window-store retention,
declared instead of hand-rolled.

D5 reproduces the reference's EXACT transformer semantics (fixed TTL
from the last *forwarded* record — put-only-on-forward) with arbitrary
stateful processing (`applyInPandasWithState`), because that policy is
iterative and not expressible with built-in operators. Its state is
laid out like a Kafka Streams task's store: one state row per fixed
hash bucket of the TTL key (`TTL_STATE_BUCKETS`, frozen into the
checkpoint), holding that bucket's key → last-forwarded-time map, so
PySpark pays its per-group cost once per bucket rather than per key.
A touched bucket rewrites its whole key map each micro-batch.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..registry import query
from .source import read_events_stream, run_to_parquet, stream_partitions

WATERMARK_DELAY = "10 minutes"
BUSINESS_KEY = ["user_id", "event_type", "value"]
# D5 (custom TTL) keys on (user_id, event_type) — the D3 dedup key.
# The full business key is nearly unique in the fixture, which would
# make per-key Python state pure overhead; (user, type) is the
# realistic "suppress repeats of this signal" shape.
TTL_KEY = ["user_id", "event_type"]
TTL_MINUTES = 30


@query("dedup_stream_watermark")  # rows-only: streaming state op, no SQL oracle
def dedup_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: event-time streaming dedup with bounded state.

    `withWatermark(ts, 10m)` + `dropDuplicatesWithinWatermark(key)`
    drops any record whose key was seen while that key's state is live;
    state is evicted once the watermark passes, which is exactly the
    reference's window-store retention minefield solved declaratively.
    Physical op: StreamingDeduplicateWithinWatermarkExec over the state
    store (RocksDB provider at scale).
    """
    stream = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", WATERMARK_DELAY)
        .dropDuplicatesWithinWatermark(BUSINESS_KEY)
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    return run_to_parquet(stream, "dedup_stream_watermark", partitions=stream_partitions(spark, sf_dir))


# D5 state layout: one state row per hash bucket of the TTL key, not
# one per key. FROZEN: a checkpoint's state is laid out by bucket, so
# changing this number (like changing a Kafka topic's partition count)
# invalidates every existing checkpoint of dedup_stream_custom_ttl. It
# is deliberately not derived from cores or shuffle.partitions.
TTL_STATE_BUCKETS = 64
DEDUP_TTL_STATE_SCHEMA = (
    "user_id ARRAY<LONG>, event_type ARRAY<STRING>, last_kept_us ARRAY<LONG>"
)
DEDUP_TTL_OUTPUT_SCHEMA = (
    "event_id LONG, ts_us LONG, user_id LONG, event_type STRING, value DOUBLE"
)


def ttl_bucket() -> F.Column:
    """The state bucket of a row's TTL key (the D5 grouping column)."""
    return F.pmod(F.hash(*TTL_KEY), F.lit(TTL_STATE_BUCKETS))


def _dedup_ttl_fn(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Reference transformer semantics [R], run for every key of one
    state bucket: forward a record iff no record of the same
    (user_id, event_type) was FORWARDED within the TTL; record the
    forwarded timestamp (put-only-on-forward).

    The state row holds the bucket's key map as parallel arrays
    (user_id, event_type, last_kept_us). The bucket's rows arrive as
    several Arrow chunks once they exceed arrow.maxRecordsPerBatch, so
    they are concatenated before the one event-time sort."""
    ttl_us = TTL_MINUTES * 60 * 1_000_000
    users, types, lasts = state.get if state.exists else ([], [], [])
    last_kept = dict(zip(zip(users, types), lasts))
    cols = ["event_id", "ts_us", "user_id", "event_type", "value"]
    pdf = pd.concat([c[cols] for c in pdfs], ignore_index=True).sort_values(
        [*TTL_KEY, "ts_us", "event_id"], ignore_index=True
    )
    uids = pdf["user_id"].tolist()
    if pdf["user_id"].hasnans:  # a null user_id arrives as NaN in a float column
        uids = [None if u != u else int(u) for u in uids]
    keep = np.zeros(len(pdf), dtype=bool)
    for i, (k, ts) in enumerate(
        zip(zip(uids, pdf["event_type"].tolist()), pdf["ts_us"].tolist())
    ):
        last = last_kept.get(k)
        if last is None or ts - last > ttl_us:
            keep[i] = True
            last_kept[k] = ts
    state.update(
        (
            [u for u, _ in last_kept],
            [t for _, t in last_kept],
            list(last_kept.values()),
        )
    )
    yield pdf[keep]


def dedup_ttl_stream(events: DataFrame) -> DataFrame:
    """The D5 plan: an events stream (event_id, ts, user_id, event_type,
    value) to its custom-TTL survivors, grouped by `ttl_bucket()`."""
    return (
        events.select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "user_id",
            "event_type",
            "value",
            F.col("ts"),
            ttl_bucket().alias("ttl_bucket"),
        )
        .withWatermark("ts", WATERMARK_DELAY)
        .groupBy("ttl_bucket")
        .applyInPandasWithState(
            _dedup_ttl_fn,
            outputStructType=DEDUP_TTL_OUTPUT_SCHEMA,
            stateStructType=DEDUP_TTL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@query("dedup_stream_custom_ttl")  # rows-only: arbitrary-state streaming op
def dedup_stream_custom_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: custom-TTL dedup via arbitrary stateful processing — the
    faithful port of the reference's Processor-API dedup transformer
    (value state = last forwarded event-time per key).

    Like a Kafka Streams task's state store, which its processor reads
    by key, the state is kept per bucket of keys: the stream is grouped
    by `pmod(hash(user_id, event_type), TTL_STATE_BUCKETS)` and each
    `applyInPandasWithState` call runs the automaton over every key of
    its bucket. A per-key group costs PySpark a fixed few milliseconds,
    far above the microseconds the automaton spends on a row.

    Trade-off: a bucket touched by a micro-batch rewrites its whole key
    map, so a batch writes state in proportion to the live keys of the
    touched buckets, not to the keys it touched. Every key stays in
    state (no timeout), as with one row per key. At 100 TB this op
    shuffles once on the bucket, and the state holds one
    (user_id, event_type, last_kept_us) entry per live key in at most
    TTL_STATE_BUCKETS rows; the bucket count is frozen into the
    checkpoint.
    """
    deduped = dedup_ttl_stream(read_events_stream(spark, sf_dir))
    # Python-state ops are worker-CPU-bound: give them a worker per core
    # (unlike JVM state ops, where fewer stores win at fixture scale).
    n_part = spark.sparkContext.defaultParallelism
    return run_to_parquet(deduped, "dedup_stream_custom_ttl", partitions=n_part)


@query("dedup_batch_custom_ttl")  # rows-only: iterative semantics, not SQL-expressible
def dedup_batch_custom_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 batch twin: the same put-only-on-forward TTL dedup over
    historical data — used by tests to prove batch/stream parity.

    Implemented as a pure-JVM sequential fold: collect each key's
    (ts, id, payload) structs sorted, run the TTL automaton with a
    higher-order `aggregate`, and explode the survivors WITH their
    payload — no join-back pass at all. The iterative
    last-KEPT-timestamp policy is exactly what SQL window functions
    cannot express (SURVEY.md §2.3 D3 note) but an ordered fold can —
    no Python workers, ONE shuffle total, and per-key arrays are
    bounded by events-per-key. (A previous form folded ids only and
    semi-joined survivors back; survivors are proportional to input,
    so that second shuffle dominated — measured 2.8 s → 0.8 s at
    sf0.1 by carrying the payload through the fold.)
    """
    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("ts_us"), "user_id", "event_type", "value"
    )
    ttl_us = TTL_MINUTES * 60 * 1_000_000
    kept_t = "array<struct<ts_us:bigint,event_id:bigint,value:double>>"
    return (
        ev.groupBy(*TTL_KEY)
        .agg(
            F.array_sort(F.collect_list(F.struct("ts_us", "event_id", "value"))).alias(
                "arr"
            )
        )
        .select(
            "user_id",
            "event_type",
            F.explode(
                F.expr(
                    f"""
                    aggregate(
                      arr,
                      struct(cast(null as bigint) as last, cast(array() as {kept_t}) as kept),
                      (acc, x) -> IF(acc.last IS NULL OR x.ts_us - acc.last > {ttl_us},
                                     struct(x.ts_us as last, array_append(acc.kept, x) as kept),
                                     acc),
                      acc -> acc.kept)
                    """
                )
            ).alias("k"),
        )
        .select("k.event_id", "k.ts_us", "user_id", "event_type", "k.value")
    )


@query("dedup_stream_global")  # rows-only: unbounded-state streaming op
def dedup_stream_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 streaming twin [R dedup store with INFINITE retention]:
    `dropDuplicates` (no watermark) keeps every seen key in state
    forever — the semantics a KS app gets from a non-windowed
    persistent KeyValueStore. Deliberately registered NEXT TO the
    watermarked form (D4): infinite retention is correct-but-unbounded,
    which is exactly the trade the reference's minefield teaches —
    state grows with distinct keys, so production pipelines take D4's
    watermark eviction. Parity with batch `dedup_exact`'s key-set is
    pinned in tests/test_streaming.py.
    """
    stream = (
        read_events_stream(spark, sf_dir)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .dropDuplicates(BUSINESS_KEY)
    )
    return run_to_parquet(
        stream, "dedup_stream_global", partitions=stream_partitions(spark, sf_dir)
    )
