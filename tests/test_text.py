"""Text/LLM-pipeline operator semantics on hand-written fixtures
(the synthetic corpus is monolingual-ish, so real multilingual snippets
live here)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from minefields_kafka_streams_deduplication_spark.functions.neardup import _shingles
from minefields_kafka_streams_deduplication_spark.functions.text import (
    LANG_PRIORITY,
    LANG_STOPWORDS,
)


def docs_df(spark, texts):
    rows = [(i, t, "xx", "src0", len(t)) for i, t in enumerate(texts)]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")


def test_lang_id_on_real_snippets(spark):
    texts = {
        "en": "the cat sat on the mat and it is happy",
        "de": "der hund und die katze das ist gut",
        "es": "el perro corre por la calle que bonito una vez",
        "fr": "le chien est dans le jardin pour les enfants",
    }
    df = docs_df(spark, list(texts.values()))
    from minefields_kafka_streams_deduplication_spark.functions.text import _stopword_hits

    tokens = F.split(F.lower("text"), " ")
    scored = df.select(
        "doc_id",
        *[
            _stopword_hits(tokens, LANG_STOPWORDS[lg]).alias(f"score_{lg}")
            for lg in LANG_PRIORITY
        ],
    ).collect()
    by_id = {r.doc_id: r for r in scored}
    for i, lang in enumerate(texts):
        scores = {lg: by_id[i][f"score_{lg}"] for lg in LANG_PRIORITY}
        assert max(scores, key=lambda lg: (scores[lg], -LANG_PRIORITY.index(lg))) == lang


def test_shingles_identical_docs_identical_sets(spark):
    text = "alpha beta gamma delta epsilon zeta"
    df = docs_df(spark, [text, text])
    sh = _shingles(df).collect()
    s0 = {r.shingle for r in sh if r.doc_id == 0}
    s1 = {r.shingle for r in sh if r.doc_id == 1}
    assert s0 == s1 and len(s0) == 4  # n_tokens - 2


def test_shingles_short_doc_empty(spark):
    df = docs_df(spark, ["one two"])
    assert _shingles(df).count() == 0


def test_ngram_jaccard_detects_near_dupes(spark, monkeypatch):
    from minefields_kafka_streams_deduplication_spark.functions import neardup

    near1 = "the quick brown fox jumps over the lazy dog again and again today"
    near2 = "the quick brown fox jumps over the lazy dog again and again tonight"
    other = "completely different words in this document about spark engines"
    df = docs_df(spark, [near1, near2, other])
    monkeypatch.setattr(neardup, "load_table", lambda s, d, n: df)
    out = neardup.dedup_text_ngram_jaccard(spark, "ignored").collect()
    assert [(r.doc_id_1, r.doc_id_2) for r in out] == [(0, 1)]
    assert out[0].jaccard >= 0.8


def test_minhash_drops_exact_duplicate(spark, monkeypatch):
    from minefields_kafka_streams_deduplication_spark.functions import neardup

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = docs_df(spark, [text, text, "unrelated totally different content here now ok fine"])
    monkeypatch.setattr(neardup, "load_table", lambda s, d, n: df)
    kept = sorted(r.doc_id for r in neardup.dedup_text_minhash(spark, "ignored").collect())
    assert kept == [0, 2]


def test_simhash_identical_docs_zero_hamming(spark, monkeypatch):
    from minefields_kafka_streams_deduplication_spark.functions import neardup

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = docs_df(spark, [text, text])
    monkeypatch.setattr(neardup, "load_table", lambda s, d, n: df)
    out = neardup.dedup_text_simhash(spark, "ignored").collect()
    assert len(out) == 1 and out[0].hamming == 0


def test_sample_mix_deterministic_across_runs(spark, sf_dir):
    """The md5-coin sampler must select the identical row set on every
    invocation (no RNG state) — the property that makes training-mix
    recipes reproducible."""
    import minefields_kafka_streams_deduplication_spark as engine

    q = engine.get_queries()["sample_mix_by_lang"]
    a = sorted(r.doc_id for r in q(spark, sf_dir).collect())
    b = sorted(r.doc_id for r in q(spark, sf_dir).collect())
    assert a == b and len(a) > 0


def test_bm25_prefers_term_dense_docs(spark, monkeypatch):
    """BM25 must rank a doc saturated with a query term above one with a
    single mention, and ignore docs with none."""
    from minefields_kafka_streams_deduplication_spark.functions import text

    rows = [
        (0, "spark spark spark spark", "en", "s", 23),
        (1, "spark table row line sort", "en", "s", 25),
        (2, "table row line sort merge", "en", "s", 25),
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    monkeypatch.setattr(text, "load_table", lambda s, d, n: df)
    scores = {r.doc_id: r.bm25 for r in text.bm25_doc_search(spark, "ignored").collect()}
    assert set(scores) == {0, 1}  # doc 2 matches no term
    assert scores[0] > scores[1] > 0


def test_winnow_fingerprints_are_subset_and_shared_for_copies(spark, monkeypatch):
    """Winnowing: identical docs produce identical fingerprint sets, and
    each fingerprint is one of the doc's k-gram hashes (window minima).
    ``fingerprints`` is a space-joined string of distinct ascending
    hashes (an array column breaks the driver's canonicalization) and
    ``n_fp`` is their count."""
    from minefields_kafka_streams_deduplication_spark.functions import text

    body = "one two three four five six seven eight nine ten eleven twelve"
    rows = [
        (0, body, "en", "s", len(body)),
        (1, body, "en", "s", len(body)),
        (2, "completely different content goes here for the third doc", "en", "s", 55),
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    monkeypatch.setattr(text, "load_table", lambda s, d, n: df)
    out = text.doc_winnow_fingerprint(spark, "ignored").collect()

    def fp(r):
        assert isinstance(r.fingerprints, str), type(r.fingerprints)
        hashes = [int(h) for h in r.fingerprints.split(" ")]
        assert hashes == sorted(set(hashes)) and len(hashes) == r.n_fp
        return tuple(hashes)

    by_doc = {r.doc_id: fp(r) for r in out}
    assert by_doc[0] == by_doc[1]
    assert by_doc[2] != by_doc[0]


def test_char_entropy_known_values(spark, monkeypatch):
    """Entropy of hand-computable distributions: a single repeated char
    is 0 bits, a perfectly uniform 2-char string is exactly 1 bit, a
    uniform 4-char string exactly 2 bits."""
    from minefields_kafka_streams_deduplication_spark.functions import text

    rows = [
        (0, "aaaaaaaa", "en", "s", 8),
        (1, "abababab", "en", "s", 8),
        (2, "abcdabcd", "en", "s", 8),
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    monkeypatch.setattr(text, "load_table", lambda s, d, n: df)
    out = {r.doc_id: r for r in text.doc_char_entropy(spark, "ignored").collect()}
    assert out[0].entropy_bits == 0.0 and out[0].n_distinct_chars == 1
    assert out[1].entropy_bits == 1.0 and out[1].n_distinct_chars == 2
    assert out[2].entropy_bits == 2.0 and out[2].n_distinct_chars == 4
    assert all(out[d].n_chars_counted == 8 for d in out)


def test_char_entropy_orders_quality(spark, monkeypatch):
    """Natural-looking prose must score strictly higher than repetitive
    junk — the property the quality filter relies on."""
    from minefields_kafka_streams_deduplication_spark.functions import text

    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "s", 43),
        (1, "aaaa bbbb aaaa bbbb aaaa bbbb aaaa bbbb aaa", "en", "s", 43),
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    monkeypatch.setattr(text, "load_table", lambda s, d, n: df)
    out = {r.doc_id: r.entropy_bits for r in text.doc_char_entropy(spark, "ignored").collect()}
    assert out[0] > out[1]


def test_editdistance_finds_typo_storm(spark, monkeypatch):
    """A doc differing only by scattered single-char typos (which break
    token shingles) must pair with its original; unrelated docs and
    docs in other length buckets must not."""
    from minefields_kafka_streams_deduplication_spark.functions import neardup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    typos = "thе quick brwn fox jumps ovr the lazy dog agan and again todey"
    rows = [
        (0, base, "en", "s", len(base)),
        (1, typos, "en", "s", len(typos)),
        (2, "completely different text about spark query planning internals", "en", "s", 62),
        (3, base * 4, "en", "s", len(base) * 4),   # other length bucket
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    monkeypatch.setattr(neardup, "load_table", lambda s, d, n: df)
    pairs = {
        (r.doc_id_1, r.doc_id_2)
        for r in neardup.dedup_text_editdistance(spark, "x").collect()
    }
    assert pairs == {(0, 1)}


def test_minhash_witness_matches_exact_pairs(spark, monkeypatch):
    """The driver-visible LSH witness must return exactly the true
    Jaccard>=0.7 pair set: the near pair, all within-group exact-copy
    pairs (expanded past the representative collapse), nothing for the
    shingle-less short doc, and no low-similarity pairs."""
    from minefields_kafka_streams_deduplication_spark.functions import neardup

    near1 = "the quick brown fox jumps over the lazy dog again and again today"
    near2 = "the quick brown fox jumps over the lazy dog again and again tonight"
    copy = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = docs_df(
        spark,
        [near1, near2, copy, copy, copy, "unrelated totally different words", "hi there"],
    )
    monkeypatch.setattr(neardup, "load_table", lambda s, d, n: df)
    out = neardup.neardup_minhash_verified(spark, "ignored").collect()
    pairs = {(r.doc_id_1, r.doc_id_2): r.jaccard for r in out}
    assert set(pairs) == {(0, 1), (2, 3), (2, 4), (3, 4)}
    assert pairs[(2, 3)] == pairs[(2, 4)] == pairs[(3, 4)] == 1.0
    assert pairs[(0, 1)] >= 0.7


def _brute_jaccard_pairs(texts, threshold):
    """Every document pair over the uncollapsed corpus sharing a shingle
    with Jaccard >= threshold, rounded like the queries."""
    sets = []
    for t in texts:
        tok = t.lower().split(" ")
        sets.append({" ".join(tok[i : i + 3]) for i in range(len(tok) - 2)})
    out = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            common = len(sets[i] & sets[j])
            if common and common / len(sets[i] | sets[j]) >= threshold:
                out[(i, j)] = round(common / len(sets[i] | sets[j]), 4)
    return out


@pytest.mark.parametrize(
    "name, threshold",
    [
        ("dedup_text_ngram_jaccard", 0.8),
        ("neardup_minhash_verified", 0.7),
        ("dedup_text_simhash", None),
    ],
)
def test_pair_expansion_over_copy_groups(spark, monkeypatch, name, threshold):
    """Pairs expanded from reps back to documents: copies of a doc with
    <3 tokens pair with nothing; a near pair whose groups' ids
    interleave (reps 0 and 1, copies 6 and 3) yields every cross pair
    with the smaller id first; a 3-copy group yields its 3 within pairs
    at Jaccard 1.0 / hamming 0."""
    from minefields_kafka_streams_deduplication_spark.functions import neardup

    a = " ".join(f"w{i}" for i in range(40))
    b = a + " tail"  # Jaccard 38/39, simhash hamming 2
    c = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    short = "hi there"
    texts = [a, b, c, b, short, c, a, c, short]
    df = docs_df(spark, texts)
    monkeypatch.setattr(neardup, "load_table", lambda s, d, n: df)
    rows = getattr(neardup, name)(spark, "ignored").collect()
    value = "hamming" if threshold is None else "jaccard"
    got = {(r.doc_id_1, r.doc_id_2): r[value] for r in rows}
    assert len(rows) == len(got)
    cross = {(0, 1), (0, 3), (1, 6), (3, 6)}
    within = {(0, 6), (1, 3), (2, 5), (2, 7), (5, 7)}
    assert set(got) == cross | within
    same = 0 if threshold is None else 1.0
    assert all(got[p] == same for p in within)
    assert len({got[p] for p in cross}) == 1
    if threshold is None:
        assert got[(0, 1)] <= 3
    else:
        assert got == _brute_jaccard_pairs(texts, threshold)


def test_neardup_incremental_matches_reference_model(spark):
    """Incremental near-dup vs a python reference model on a crafted
    corpus covering: cross-side exact copy (dropped), cross-side
    near-dup above/below threshold, shingle-less short doc (kept),
    within-incoming duplicate (kept — only history is probed)."""
    from minefields_kafka_streams_deduplication_spark.functions.neardup import (
        MINHASH_VERIFY_THRESHOLD,
        neardup_incremental_df,
    )

    texts = {
        0: "a b c d e f",            # history
        1: "x y z w q r s t",        # history
        2: "m n o p q r s t u v",    # history
        3: "a b c d e f",            # exact copy of 0 -> drop
        4: "a b c d e f g",          # near-dup of 0 (J=4/5) -> drop
        5: "a b c q e f",            # far from 0 -> keep
        6: "p q",                    # <3 tokens, no shingles -> keep
        7: "x y z w q r s t",        # exact copy of 1 -> drop
        8: "hello world unique doc", # novel -> keep
        9: "hello world unique doc", # copy of 8 (INCOMING) -> keep
    }
    cut = 3

    def sh(t):
        w = t.split()
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    def jac(x, y):
        u = sh(x) | sh(y)
        return len(sh(x) & sh(y)) / len(u) if u else 0.0

    expect = {
        d
        for d in texts
        if d >= cut
        and not any(
            jac(texts[d], texts[h]) >= MINHASH_VERIFY_THRESHOLD
            for h in texts
            if h < cut
        )
    }
    assert expect == {5, 6, 8, 9}  # the model itself behaves as designed
    docs = spark.createDataFrame(
        [(d, t, "en", "src") for d, t in texts.items()],
        "doc_id LONG, text STRING, lang STRING, source STRING",
    )
    got = {r.doc_id for r in neardup_incremental_df(docs, cut).collect()}
    assert got == expect


def _ref_bpe_train(texts, n_merges):
    """Pure-Python reference BPE trainer: greedy left-to-right merge,
    (count DESC, pair ASC) tie-break — the model bpe_train_merges must
    reproduce exactly."""
    from collections import Counter

    docs = [t.lower().split(" ") for t in texts]
    merges = []
    for rank in range(n_merges):
        c = Counter()
        for d in docs:
            for a, b in zip(d, d[1:]):
                c[(a, b)] += 1
        if not c:
            break
        (l, r), cnt = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        merges.append((rank, l, r, cnt))
        m = l + r
        nxt = []
        for d in docs:
            out, i = [], 0
            while i < len(d):
                if i + 1 < len(d) and d[i] == l and d[i + 1] == r:
                    out.append(m)
                    i += 2
                else:
                    out.append(d[i])
                    i += 1
            nxt.append(out)
        docs = nxt
    return merges


def test_bpe_train_matches_reference_model(spark):
    """bpe_train_merges == the pure-Python greedy trainer on a corpus
    crafted with the hard cases: overlapping self-pairs ('a a a a'
    merges greedily to 'aa aa', never 'a aa a'), count ties broken by
    pair order, and cascading merges (round 2 counts pairs over round
    1's MERGED tokens, not the original text)."""
    from minefields_kafka_streams_deduplication_spark.functions.text import bpe_train_merges

    texts = [
        "a a a a b c",
        "a a b c d",
        "b c b c a a",
        "x y x y x y",
        "single",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    got = bpe_train_merges(docs, n_merges=5)
    want = _ref_bpe_train(texts, 5)
    assert got == want, f"\ngot:  {got}\nwant: {want}"
    # sanity: the crafted corpus exercised >= 3 genuine merge rounds
    assert len(want) >= 3


def test_bpe_encode_matches_reference_apply(spark):
    """bpe_encode (single-pass kernel applying all ranks) must equal
    the reference trainer's own per-round corpus rewrite — encoding
    the TRAINING corpus with the learned table reproduces exactly the
    token arrays training ended with."""
    from minefields_kafka_streams_deduplication_spark.functions.text import (
        bpe_encode,
        bpe_train_merges,
    )

    texts = ["a a a a b c", "a a b c d", "b c b c a a", "x y x y x y", "one"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    merges = bpe_train_merges(docs, n_merges=4)

    # reference: replay the merges over the corpus in rank order
    ref = [t.lower().split(" ") for t in texts]
    for _rank, l, r, _n in merges:
        m = l + r
        nxt = []
        for d in ref:
            out, i = [], 0
            while i < len(d):
                if i + 1 < len(d) and d[i] == l and d[i + 1] == r:
                    out.append(m)
                    i += 2
                else:
                    out.append(d[i])
                    i += 1
            nxt.append(out)
        ref = nxt

    got = {r.doc_id: list(r.tokens) for r in bpe_encode(docs, merges).collect()}
    assert got == {i: ref[i] for i in range(len(texts))}
    # compression is real on this corpus
    assert sum(len(t) for t in ref) < sum(len(t.split(" ")) for t in texts)


def test_pagerank_matches_python_power_iteration(spark):
    """Crafted weighted graph replayed by a pure-Python power
    iteration: distributed ranks match to float-summation tolerance,
    and the hub of a star graph outranks the leaves."""
    from minefields_kafka_streams_deduplication_spark.functions.text import (
        TEXTRANK_DAMPING,
        TEXTRANK_ITERS,
        pagerank_edges,
    )

    # star (hub=0) plus a chain tail 3-4-5
    raw = [(0, 1, 2.0), (1, 0, 2.0), (0, 2, 1.0), (2, 0, 1.0),
           (0, 3, 1.0), (3, 0, 1.0), (3, 4, 1.0), (4, 3, 1.0),
           (4, 5, 1.0), (5, 4, 1.0)]
    edges = spark.createDataFrame(raw, "src LONG, dst LONG, w DOUBLE")
    got = {r.node: r.rank for r in pagerank_edges(edges).collect()}

    out_w = {}
    for s, d, w in raw:
        out_w[s] = out_w.get(s, 0.0) + w
    nodes = sorted(out_w)
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(TEXTRANK_ITERS):
        inflow = {v: 0.0 for v in nodes}
        for s, d, w in raw:
            inflow[d] += rank[s] * (w / out_w[s])
        rank = {
            v: (1 - TEXTRANK_DAMPING) / n + TEXTRANK_DAMPING * inflow[v]
            for v in nodes
        }
    assert set(got) == set(rank)
    for v in nodes:
        assert abs(got[v] - rank[v]) < 1e-9, (v, got[v], rank[v])
    assert got[0] == max(got.values())  # the hub wins
    assert abs(sum(got.values()) - 1.0) < 1e-9  # stochastic: mass conserved


def test_textrank_keywords_fixture(spark, sf_dir):
    """Fixture-scale invariants: K rows, ranks positive and descending,
    and every keyword is a real corpus token."""
    import minefields_kafka_streams_deduplication_spark as engine
    from minefields_kafka_streams_deduplication_spark.functions.text import (
        TEXTRANK_TOPK,
    )

    out = engine.get_queries()["textrank_keywords"](spark, sf_dir).collect()
    # sf0.001's template vocabulary has <50 co-occurring tokens
    assert 10 <= len(out) <= TEXTRANK_TOPK
    ranks = [r.rank for r in out]
    assert all(r > 0 for r in ranks)
    assert ranks == sorted(ranks, reverse=True)
    toks = set(
        t.t
        for t in engine.load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("t"))
        .distinct()
        .collect()
    )
    assert all(r.token in toks for r in out)


def test_pagerank_directed_sink_node_kept(spark):
    """ADVICE r5: on a DIRECTED edge list a pure-sink node (appears
    only as dst) must stay in the rank vector and keep its inflow —
    replayed against the same pure-Python iteration with the sink in
    the node set (its rank leaks each round, the documented dangling
    simplification)."""
    from minefields_kafka_streams_deduplication_spark.functions.text import (
        TEXTRANK_DAMPING,
        TEXTRANK_ITERS,
        pagerank_edges,
    )

    # 0→1→2, 0→2: node 2 is a pure sink (no out-edges)
    raw = [(0, 1, 1.0), (1, 2, 1.0), (0, 2, 1.0)]
    edges = spark.createDataFrame(raw, "src LONG, dst LONG, w DOUBLE")
    got = {r.node: r.rank for r in pagerank_edges(edges).collect()}
    assert set(got) == {0, 1, 2}, got  # sink present

    out_w = {}
    for s, d, w in raw:
        out_w[s] = out_w.get(s, 0.0) + w
    nodes = [0, 1, 2]
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(TEXTRANK_ITERS):
        inflow = {v: 0.0 for v in nodes}
        for s, d, w in raw:
            inflow[d] += rank[s] * (w / out_w[s])
        rank = {
            v: (1 - TEXTRANK_DAMPING) / n + TEXTRANK_DAMPING * inflow[v]
            for v in nodes
        }
    for v in nodes:
        assert abs(got[v] - rank[v]) < 1e-9, (v, got[v], rank[v])
    # the sink accumulates the most rank (everything flows into it)
    assert got[2] == max(got.values())


def test_jaccard_df_cap_drops_boilerplate_candidates(spark, sf_dir):
    """The documented hot-shingle answer, pinned (r6): (a) with the cap
    above the corpus's max document frequency the capped pipeline is
    IDENTICAL to the uncapped oracle-backed query; (b) on a
    boilerplate-flooded corpus the capped index's candidate volume
    collapses from O(n²) to the true pairs while every true near-dup —
    sharing at least one sub-cap shingle — is still found with its
    EXACT (uncapped) jaccard."""
    import minefields_kafka_streams_deduplication_spark as engine
    from minefields_kafka_streams_deduplication_spark.catalog import load_table
    from minefields_kafka_streams_deduplication_spark.functions.neardup import (
        _shingles,
        jaccard_pairs_with_df_cap,
    )
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    max_df = (
        _shingles(docs)
        .groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("df"))
        .agg(F.max("df"))
        .first()[0]
    )
    capped = {
        (r.doc_id_1, r.doc_id_2): r.jaccard
        for r in jaccard_pairs_with_df_cap(docs, int(max_df)).collect()
    }
    uncapped = {
        (r.doc_id_1, r.doc_id_2): r.jaccard
        for r in engine.get_queries()["dedup_text_ngram_jaccard"](
            spark, sf_dir
        ).collect()
    }
    assert capped == uncapped  # (a)

    # (b) 40 docs sharing an 8-token boilerplate header; docs 0/1 are
    # true near-dups through their distinctive tails
    boiler = " ".join(f"b{i}" for i in range(8))
    tail = " ".join(f"t{i}" for i in range(30))
    rows = [(0, f"{boiler} {tail}"), (1, f"{boiler} {tail} extra")]
    rows += [
        (i, f"{boiler} " + " ".join(f"u{i}_{j}" for j in range(10)))
        for i in range(2, 42)
    ]
    crafted = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        (r.doc_id_1, r.doc_id_2): r.jaccard
        for r in jaccard_pairs_with_df_cap(crafted, df_cap=5).collect()
    }
    assert set(got) == {(0, 1)}, got
    # the surviving pair's jaccard is computed on the FULL shingle sets
    sh0 = set(
        r.shingle for r in _shingles(crafted.where("doc_id = 0")).collect()
    )
    sh1 = set(
        r.shingle for r in _shingles(crafted.where("doc_id = 1")).collect()
    )
    want = round(len(sh0 & sh1) / len(sh0 | sh1), 4)
    assert got[(0, 1)] == want
    # candidate-volume collapse: the capped index holds no boilerplate
    # shingle, so cross-boilerplate candidates are structurally gone
    idx_df = (
        _shingles(crafted)
        .groupBy("shingle")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    assert idx_df.where("df > 5").count() > 0  # the flood is real


def test_bigram_pmi_matches_python_reference(spark, monkeypatch):
    """Crafted corpus replayed by a pure-Python PMI scorer: pair set,
    supports and 6-dp-snapped PMI all match; the deliberately over-
    represented collocation ranks first; copies of a doc contribute
    their full bigram weight (the copy collapse changes execution,
    never counts)."""
    import math
    from collections import Counter

    from minefields_kafka_streams_deduplication_spark.functions import text as tx

    # "fizz buzz" appears 12x via copies of doc A (collapse must weight
    # them), "red blue" 10x inside one long doc, filler below threshold.
    texts = (
        ["fizz buzz end"] * 12
        + [" ".join(["red blue"] * 10)]
        + ["alpha beta gamma", "beta gamma alpha"] * 3
    )
    rows = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    monkeypatch.setattr(tx, "load_table", lambda s, d, n: df)
    got = [
        (r.w1, r.w2, r.n_pair, r.pmi)
        for r in tx.bigram_pmi_top(spark, "ignored").collect()
    ]

    toks = [t.split(" ") for t in texts]
    bg = Counter((a, b) for tk in toks for a, b in zip(tk, tk[1:]))
    uni = Counter(w for tk in toks for w in tk)
    nb = sum(bg.values())
    nu = sum(uni.values())
    want = []
    for (a, b), c in bg.items():
        if c < tx.PMI_MIN_COUNT:
            continue
        pmi = math.log((c / nb) / ((uni[a] / nu) * (uni[b] / nu)))
        want.append((a, b, c, round(pmi, 6)))
    want.sort(key=lambda t: (-t[3], t[0], t[1]))
    want = want[: tx.PMI_TOP_K]

    assert [(a, b, c) for a, b, c, _ in got] == [
        (a, b, c) for a, b, c, _ in want
    ]
    for (_, _, _, gp), (_, _, _, wp) in zip(got, want):
        assert abs(gp - wp) < 2e-6, (gp, wp)
    # the engineered collocations survive the support floor with their
    # full copy-weighted counts ("buzz end" rides along in the copies)
    supports = {(a, b): c for a, b, c, _ in got}
    assert supports[("fizz", "buzz")] == 12
    assert supports[("red", "blue")] == 10
    assert supports[("buzz", "end")] == 12


_COPY_A = "spark hash join alpha beta alpha beta alpha beta spark"
_COPY_CORPUS = [
    (0, _COPY_A, "en"),
    (1, "Alpha beta", "en"),  # case-only variant of doc 5: one text class
    (2, None, "en"),
    (3, _COPY_A, "de"),
    (4, "hash", "de"),  # one token: no bigrams
    (5, "alpha beta", "de"),
    (6, _COPY_A, "en"),  # third copy of doc 0, two of them target-lang
    (7, "gamma join delta spark gamma hash", "de"),
]


@pytest.mark.parametrize(
    "name",
    [
        "tfidf_top_terms",
        "bm25_doc_search",
        "bigram_pmi_top",
        "importance_weight_dsir",
        "doc_unigram_logprob",
        "doc_bigram_logprob",
    ],
)
def test_copy_weighted_collapse_matches_oracle(spark, monkeypatch, name):
    """The copy-weighted token collapse against each query's DuckDB oracle
    on a corpus with real copies: a 3-copy group across two langs, a
    case-only variant, a NULL text and a 1-token doc. ("alpha", "beta")
    reaches bigram_pmi_top's support floor only when every copy counts.
    Rows are compared the way tools/check_strict.py compares them."""
    import duckdb

    from minefields_kafka_streams_deduplication_spark.functions import pipeline
    from minefields_kafka_streams_deduplication_spark.functions import text as tx
    from minefields_kafka_streams_deduplication_spark.registry import ORACLES, QUERIES
    from tools.check_strict import norm_rows

    rows = [(i, t, lang, "s", len(t or "")) for i, t, lang in _COPY_CORPUS]
    schema = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    df = spark.createDataFrame(rows, schema)
    for mod in (tx, pipeline):
        monkeypatch.setattr(mod, "load_table", lambda s, d, n: df)
    sdf = QUERIES[name](spark, "ignored")
    got = norm_rows(sdf.columns, [tuple(r) for r in sdf.collect()])

    con = duckdb.connect()
    con.execute(f"CREATE TABLE documents ({schema})")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?, ?, ?)", rows)
    cur = con.execute(ORACLES[name])
    want = norm_rows([d[0] for d in cur.description], cur.fetchall())
    assert want
    assert got == want
