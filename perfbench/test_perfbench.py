"""Tests of the benchmark's generators and its TTL reference (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import workloads  # noqa: E402

VERIFY_THRESHOLD = 0.7  # neardup.MINHASH_VERIFY_THRESHOLD


def _bytes(d: str) -> dict[str, bytes]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = fh.read()
    return out


def test_events_same_seed_same_files(tmp_path):
    gen.make_events(str(tmp_path / "a"), 5000, 7)
    gen.make_events(str(tmp_path / "b"), 5000, 7)
    gen.make_events(str(tmp_path / "c"), 5000, 8)
    a, b, c = (_bytes(str(tmp_path / x)) for x in "abc")
    assert set(a) == {"events.parquet", "truth.json"}
    assert a == b
    assert a["events.parquet"] != c["events.parquet"]


def test_events_truth_counts(tmp_path):
    n = 20_000
    truth = gen.make_events(str(tmp_path), n, 3)
    ev = pq.read_table(tmp_path / "events.parquet")
    assert ev.num_rows == n == truth["rows"]
    assert len(set(ev["event_id"].to_pylist())) == n
    keys = defaultdict(int)
    for k in zip(*(ev[c].to_pylist() for c in ("user_id", "event_type", "value"))):
        keys[k] += 1
    assert truth["distinct_keys"] == len(keys)
    assert truth["duplicates"] == n - len(keys)
    assert truth["resends_planted"] == n // 2
    # Planted re-sends dominate the duplicates; accidental key clashes
    # among the originals are rare.
    assert n // 2 <= truth["duplicates"] < n // 2 + n // 100
    assert truth["hot_key_resends"] == max(keys.values()) - 1
    assert truth["hot_key_resends"] > 50  # Zipf: one key carries many re-sends
    ts = ev["ts"].cast(pa.int64()).to_pylist()
    assert any(b < a for a, b in zip(ts, ts[1:]))  # arrivals out of event-time order


def test_corpus_same_seed_same_files(tmp_path):
    gen.make_corpus(str(tmp_path / "a"), 1000, 7)
    gen.make_corpus(str(tmp_path / "b"), 1000, 7)
    gen.make_corpus(str(tmp_path / "c"), 1000, 8)
    a, b, c = (_bytes(str(tmp_path / x)) for x in "abc")
    assert set(a) == {"documents.parquet", "truth.json"}
    assert a == b
    assert a["documents.parquet"] != c["documents.parquet"]


def _shingles(text: str) -> set:
    t = text.split(" ")
    return {tuple(t[i : i + 3]) for i in range(len(t) - 2)}


def test_corpus_survivors_match_brute_force_keep_first(tmp_path):
    """Keep-first near-dup semantics, by exact Jaccard over an inverted
    shingle index (no LSH): collapse lower(trim(text)) copies to their
    min doc_id, then drop every representative that has a verified
    partner with a lower id. The survivors must be the planted bases."""
    n = 3000
    truth = gen.make_corpus(str(tmp_path), n, 11)
    docs = pq.read_table(tmp_path / "documents.parquet")
    assert docs.num_rows == n
    rep: dict[str, int] = {}
    for doc_id, text in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()):
        norm = text.strip(" ").lower()
        rep[norm] = min(doc_id, rep.get(norm, doc_id))
    assert len(rep) == truth["bases"] + truth["near_dups"] + truth["related"]
    sets = {i: _shingles(t) for t, i in rep.items()}
    index = defaultdict(set)
    for i, s in sets.items():
        for sh in s:
            index[sh].add(i)
    dropped = set()
    for i, s in sets.items():
        partners = set().union(*(index[sh] for sh in s)) - {i}
        for j in partners:
            if j < i and len(s & sets[j]) / len(s | sets[j]) >= VERIFY_THRESHOLD:
                dropped.add(i)
                break
    assert len(dropped) == truth["near_dups"]
    assert sorted(set(sets) - dropped) == truth["survivors"]
    assert truth["near_jaccard_min"] >= gen.NEAR_JACCARD_MIN


def test_ttl_reference_put_only_on_forward():
    minute = 60 * 1_000_000
    rows = [  # (event_id, minute, user, type)
        (1, 0, 1, "view"),
        (2, 10, 1, "view"),  # 10 min after the forwarded 1: dropped
        (3, 30, 1, "view"),  # exactly the TTL after 1: dropped (strictly greater keeps)
        (4, 31, 1, "view"),  # kept; a put-on-every-record policy would drop it
        (5, 45, 1, "view"),
        (6, 62, 1, "view"),  # 31 min after the forwarded 4: kept
        (7, 10, 1, "click"),  # another key
        (9, 5, 2, "view"),
        (8, 5, 2, "view"),  # same time: event_id breaks the tie, 8 wins
    ]
    events = pa.table(
        {
            "event_id": [r[0] for r in rows],
            "ts": pa.array([r[1] * minute for r in rows], pa.timestamp("us")),
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
        }
    )
    assert workloads.ttl_reference(events) == [1, 4, 6, 7, 8]
