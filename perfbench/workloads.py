"""The benchmark's workloads: inputs, the timed job, and output checks.

Each workload is a closed loop with one client: the next job starts when
the previous one returns. A job is one registered query called on the
generated fixture directory plus a ``noop`` read-back of the DataFrame
it returns, so every partition of the result is computed.

Checks compare each job's output with ground truth that does not come
from the engine: the generator's truth files, or (stream_ttl) a
pure-Python reference of the reference transformer's policy.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow.compute as pc

import gen

TTL_US = 30 * 60 * 1_000_000  # dedup_stream.TTL_MINUTES


@dataclass(frozen=True)
class Workload:
    name: str
    query: str  # registered query name
    table: str  # the fixture table the query reads
    make_inputs: Callable[[str, int], dict]
    answer: Callable[[object], np.ndarray]  # canonical answer of one job's output
    expected: Callable[[str, dict], np.ndarray]  # the same, from ground truth
    warmup_jobs: int


def run_job(spark, queries: dict, wl: Workload, fixture_dir: str):
    """One closed-loop job: the public call plus a noop read-back."""
    df = queries[wl.query](spark, fixture_dir)
    df.write.format("noop").mode("overwrite").save()
    return df


def ttl_reference(events) -> list[int]:
    """Independent put-only-on-forward reference (pure Python): per
    (user_id, event_type) in (ts, event_id) order, forward an event iff
    no event of that key was forwarded within the TTL, and remember the
    forwarded event's time."""
    ts = pc.cast(events["ts"], "int64").to_pylist()
    rows = sorted(
        zip(
            events["user_id"].to_pylist(),
            events["event_type"].to_pylist(),
            ts,
            events["event_id"].to_pylist(),
        )
    )
    kept, last_key, last_kept = [], None, None
    for user, etype, t, eid in rows:
        if (user, etype) != last_key:
            last_key, last_kept = (user, etype), None
        if last_kept is None or t - last_kept > TTL_US:
            kept.append(eid)
            last_kept = t
    return sorted(kept)


def _ids(df, col: str) -> np.ndarray:
    return np.sort(df.select(col).toPandas()[col].to_numpy(dtype=np.int64))


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            name="stream_ttl",
            query="dedup_stream_custom_ttl",
            table="events",
            make_inputs=lambda d, seed: gen.make_events(d, 8_000, seed),
            answer=lambda df: _ids(df, "event_id"),
            expected=lambda d, truth: np.array(ttl_reference(gen.read_events(d)), dtype=np.int64),
            warmup_jobs=6,
        ),
        Workload(
            name="text_dedup",
            query="dedup_text_minhash",
            table="documents",
            make_inputs=lambda d, seed: gen.make_corpus(d, 10_000, seed),
            answer=lambda df: _ids(df, "doc_id"),
            expected=lambda d, truth: np.array(truth["survivors"], dtype=np.int64),
            warmup_jobs=6,
        ),
    ]
}
