"""Seeded input generators for the benchmark (numpy + pyarrow only).

Each generator writes the engine's input table into a fixture directory
laid out like the repo's parquet fixtures (``<dir>/<table>.parquet``),
and its ground truth beside it (``truth.json``). The engine only ever
sees the table file; the truth is read by the benchmark's output checks.

The same ``(n, seed)`` always produces byte-identical files.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "purchase", "signup", "error", "logout"]
EPOCH_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
EPOCH_SPAN_US = 24 * 3600 * 1_000_000
HORIZON_US = 10 * 60 * 1_000_000  # dedup_stream_watermark's 10-minute delay
JITTER_US = 20 * 1_000_000  # arrival order vs event time
RESEND_ZIPF_S = 1.0

WORDS_PER_DOC = (40, 150)
VOCAB_SIZE = 5000
NEAR_JACCARD_MIN = 0.88  # planted near-dups sit in [0.88, 1.0)
RELATED_JACCARD = (0.45, 0.65)  # related docs: LSH candidates that fail verify (0.7)
LSH_BANDS, LSH_ROWS = 16, 4  # dedup_text_minhash's banding, for the recall note


def _write(table: pa.Table, path: str) -> None:
    # One writer setting for every file: the same seed gives the same bytes.
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def _dump_truth(out_dir: str, truth: dict) -> None:
    with open(os.path.join(out_dir, "truth.json"), "w") as fh:
        json.dump(truth, fh, indent=1, sort_keys=True)


def make_events(out_dir: str, n: int, seed: int) -> dict:
    """A Kafka-style epoch of ``n`` events in ``out_dir/events.parquet``.

    Half the rows are originals spread over one day; the other half are
    re-sends of an original's business key (user_id, event_type, value)
    with a fresh event_id. Which originals are re-sent is Zipf-skewed
    over a random ranking of the originals, so a few hot keys carry many
    re-sends. Each re-send lands 0-10 minutes (the watermark horizon)
    after its original, and the file's row order is event time plus
    Gaussian jitter, so arrivals are out of order.

    Truth (``truth.json``): the count of distinct business keys, the
    duplicate count and the skew of the planted re-sends.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_re = n // 2
    n_orig = n - n_re
    n_users = max(50, n_orig // 20)
    ts = np.sort(rng.integers(0, EPOCH_SPAN_US, n_orig))
    user = rng.integers(0, n_users, n_orig)
    etype = rng.integers(0, len(EVENT_TYPES), n_orig)
    cents = rng.integers(0, 50_000, n_orig)

    rank = rng.permutation(n_orig)
    w = 1.0 / np.arange(1, n_orig + 1, dtype=np.float64) ** RESEND_ZIPF_S
    src = rank[rng.choice(n_orig, size=n_re, p=w / w.sum())]
    delay = rng.integers(0, HORIZON_US, n_re)

    all_ts = np.concatenate([ts, ts[src] + delay])
    all_user = np.concatenate([user, user[src]])
    all_type = np.concatenate([etype, etype[src]])
    all_cents = np.concatenate([cents, cents[src]])
    order = np.argsort(all_ts + rng.normal(0, JITTER_US, n).astype(np.int64), kind="stable")

    types = np.array(EVENT_TYPES)
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(EPOCH_START_US + all_ts[order], pa.timestamp("us")),
            "user_id": pa.array(all_user[order].astype(np.int64)),
            "event_type": pa.array(types[all_type[order]]),
            "value": pa.array(all_cents[order] / 100.0),
            "props": pa.array(
                np.char.add(np.char.add('{"k": ', (all_cents[order] % 100).astype(str)), "}")
            ),
        }
    )
    _write(table, os.path.join(out_dir, "events.parquet"))

    key = np.stack([all_user, all_type, all_cents], axis=1)
    uniq, counts = np.unique(key, axis=0, return_counts=True)
    truth = {
        "rows": int(n),
        "resends_planted": int(n_re),
        "distinct_keys": int(len(uniq)),
        "duplicates": int(n - len(uniq)),
        "hot_key_resends": int(counts.max() - 1),
        "keys_resent": int((counts > 1).sum()),
        "seed": int(seed),
    }
    _dump_truth(out_dir, truth)
    return truth


def read_events(fixture_dir: str) -> pa.Table:
    return pq.read_table(os.path.join(fixture_dir, "events.parquet"))


def _shingles(words: list[str]) -> set[tuple[str, str, str]]:
    return {tuple(words[i : i + 3]) for i in range(len(words) - 2)}


def _jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def _variant(text: str, rng: np.random.Generator) -> str:
    """An exact copy under dedup_text_minhash's lower(trim(text)) norm:
    changed case and/or leading/trailing spaces."""
    kind = int(rng.integers(0, 4))
    if kind == 0:
        return text.upper()
    if kind == 1:
        return text.title()
    pad = " " * int(rng.integers(1, 4))
    return pad + text if kind == 2 else text + pad


def make_corpus(out_dir: str, n: int, seed: int) -> dict:
    """A ``documents`` table of ``n`` docs in ``out_dir/documents.parquet``.

    About 30% of rows are distinct base texts (random word sequences
    over a synthetic vocabulary), 15% are planted near-dups of a base
    (a few word substitutions, word-3-gram Jaccard with the base in
    [0.88, 1)), 5% are related docs (Jaccard with a base in
    [0.45, 0.65]: often LSH candidates, never verified), and 50% are
    exact copies of a base with case and whitespace variants, with
    Zipf-skewed copy counts.

    doc_ids are assigned so every base has a lower id than any copy or
    near-dup of it, so dedup_text_minhash's keep-first survivors are
    exactly the bases and the related docs (``truth.json``'s
    ``survivors``).
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    vocab = [
        "".join(chr(97 + c) for c in rng.integers(0, 26, int(k)))
        for k in rng.integers(3, 9, VOCAB_SIZE)
    ]
    n_near = int(n * 0.15)
    n_related = int(n * 0.05)
    n_copy = n // 2
    n_base = n - n_near - n_related - n_copy

    base_words = []
    for length in rng.integers(WORDS_PER_DOC[0], WORDS_PER_DOC[1] + 1, n_base):
        base_words.append([vocab[i] for i in rng.integers(0, VOCAB_SIZE, int(length))])
    base_text = [" ".join(w) for w in base_words]

    def edit(words: list[str], max_sub: int, lo: float, hi: float) -> tuple[str, float]:
        """Substitute random words until the Jaccard with ``words`` is in [lo, hi]."""
        while True:
            edited = list(words)
            n_sub = 1 + int(rng.integers(0, max_sub))
            for pos in rng.choice(len(words), n_sub, replace=False):
                edited[int(pos)] = vocab[int(rng.integers(0, VOCAB_SIZE))]
            j = _jaccard(words, edited)
            if lo <= j <= hi:
                return " ".join(edited), j

    near_text, near_root, near_j = [], [], []
    for r in rng.integers(0, n_base, n_near):
        words = base_words[int(r)]
        text, j = edit(words, max(1, len(words) // 40), NEAR_JACCARD_MIN, 1.0 - 1e-9)
        near_text.append(text)
        near_root.append(int(r))
        near_j.append(j)
    related_text = [
        edit(base_words[int(r)], max(2, len(base_words[int(r)]) // 5), *RELATED_JACCARD)[0]
        for r in rng.integers(0, n_base, n_related)
    ]

    w = 1.0 / np.arange(1, n_base + 1, dtype=np.float64) ** 1.1
    copy_src = rng.permutation(n_base)[rng.choice(n_base, size=n_copy, p=w / w.sum())]
    copy_text = [_variant(base_text[int(s)], rng) for s in copy_src]

    # Bases take ids [0, n_base) in random order; copies, near-dups and
    # related docs take the rest, so a base always wins its group under
    # keep-first.
    base_ids = rng.permutation(n_base)
    other_ids = n_base + rng.permutation(n_copy + n_near + n_related)
    related_ids = other_ids[n_copy + n_near :]
    texts = base_text + copy_text + near_text + related_text
    ids = np.concatenate([base_ids, other_ids])
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    ids = ids[order]
    table = pa.table(
        {
            "doc_id": pa.array(ids.astype(np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.where(ids % 7 == 0, "de", "en")),
            "source": pa.array(np.char.add("src", (ids % 10).astype(str))),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    _write(table, os.path.join(out_dir, "documents.parquet"))

    near_j = np.array(near_j)
    p_miss = (1.0 - near_j**LSH_ROWS) ** LSH_BANDS
    truth = {
        "rows": int(n),
        "bases": int(n_base),
        "exact_copies": int(n_copy),
        "near_dups": int(n_near),
        "related": int(n_related),
        "near_jaccard_min": float(near_j.min()),
        "near_roots": int(len(set(near_root))),
        "expected_lsh_misses": float(p_miss.sum()),
        "survivors": sorted(int(i) for i in np.concatenate([base_ids, related_ids])),
        "seed": int(seed),
    }
    _dump_truth(out_dir, truth)
    return truth
