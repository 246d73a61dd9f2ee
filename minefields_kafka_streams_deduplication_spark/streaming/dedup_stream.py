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
A touched bucket rewrites its whole key map each micro-batch. The
batch twin runs the same automaton (`_ttl_walk`) under `mapInPandas`.
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


def _ttl_walk(pdf: pd.DataFrame, last_kept: dict) -> np.ndarray:
    """Reference transformer semantics [R], the one D5 automaton: over
    rows sorted on (user_id, event_type, ts_us, event_id), forward a
    record iff no record of the same key was FORWARDED within the TTL,
    and record the forwarded timestamp in `last_kept` (put-only-on-
    forward; the dict is updated in place). Returns the keep mask.

    A row with no event time (NULL `ts`, NaN here) cannot be judged
    against a TTL: it is forwarded and never recorded, wherever the
    sort placed it."""
    if pdf["ts_us"].hasnans:
        has_ts = pdf["ts_us"].notna().to_numpy()
        keep = np.ones(len(pdf), dtype=bool)
        keep[has_ts] = _ttl_walk(pdf[has_ts].astype({"ts_us": "int64"}), last_kept)
        return keep
    ttl_us = TTL_MINUTES * 60 * 1_000_000
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
    return keep


def _dedup_ttl_fn(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """The stream's state function: `_ttl_walk` over every key of one
    state bucket, starting from the bucket's stored key map.

    The state row holds the bucket's key map as parallel arrays
    (user_id, event_type, last_kept_us). The bucket's rows arrive as
    several Arrow chunks once they exceed arrow.maxRecordsPerBatch, so
    they are concatenated before the one event-time sort."""
    users, types, lasts = state.get if state.exists else ([], [], [])
    last_kept = dict(zip(zip(users, types), lasts))
    cols = ["event_id", "ts_us", "user_id", "event_type", "value"]
    pdf = pd.concat([c[cols] for c in pdfs], ignore_index=True).sort_values(
        [*TTL_KEY, "ts_us", "event_id"], ignore_index=True
    )
    keep = _ttl_walk(pdf, last_kept)
    state.update(
        (
            [u for u, _ in last_kept],
            [t for _, t in last_kept],
            list(last_kept.values()),
        )
    )
    yield pdf[keep]


def _dedup_ttl_partition(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The batch twin's partition function: `_ttl_walk` over a partition
    already sorted on the walk's order. One `last_kept` dict spans all
    of the partition's Arrow chunks, so a key that straddles chunks is
    still walked as one sequence."""
    last_kept: dict = {}
    for pdf in pdfs:
        yield pdf[_ttl_walk(pdf, last_kept)]


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

    A record with a NULL `ts` is forwarded and never becomes its key's
    last-forwarded time, in the stream and in `dedup_batch_custom_ttl`
    alike: with no event time it cannot be inside or outside a TTL.
    """
    deduped = dedup_ttl_stream(read_events_stream(spark, sf_dir))
    # Python-state ops are worker-CPU-bound: give them a worker per core
    # (unlike JVM state ops, where fewer stores win at fixture scale).
    n_part = spark.sparkContext.defaultParallelism
    return run_to_parquet(deduped, "dedup_stream_custom_ttl", partitions=n_part)


@query("dedup_batch_custom_ttl")  # rows-only: iterative semantics, not SQL-expressible
def dedup_batch_custom_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 batch twin: the same put-only-on-forward TTL dedup over
    historical data, run by the stream's own automaton (`_ttl_walk`).

    The iterative last-KEPT-timestamp policy is what SQL window
    functions cannot express (SURVEY.md §2.3 D3 note). One shuffle
    places each key in one partition, the partition is sorted on the
    walk's order, and `mapInPandas` walks it: linear in a key's events,
    whatever share of them is forwarded.
    """
    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("ts_us"), "user_id", "event_type", "value"
    )
    return (
        ev.repartition(*TTL_KEY)
        .sortWithinPartitions(*TTL_KEY, "ts_us", "event_id")
        .mapInPandas(_dedup_ttl_partition, DEDUP_TTL_OUTPUT_SCHEMA)
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
