"""Vector / similarity-search operators (SURVEY.md §2.8 F5/V1).

All dot products are sequential double-precision folds over the array
(`aggregate(zip_with(...))`) — bit-identical to the oracle's sequential
list fold, which keeps cosine ranking stable across engines. Ranking
uses round(cosine, 9) + id tiebreak so a 1-ulp disagreement can never
flip the top-k cut (SURVEY.md §5.3 float hazard).

Scale path (100 TB): the exact paths are fully distributed — top-k via
hash-chunk cogroup + per-query merge, all-pairs dedup via GRID×GRID
block tiling — with no driver collect and no full-corpus broadcast.
Sub-quadratic approximations: the blocked variant
(`similarity_topk_blocked`, IVF-style with a coarse partition key) and
LSH bucketing (`ann_lsh_hyperplane`).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query


def dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two float arrays."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


@query(
    "array_vector_norm",
    oracle="""
SELECT vec_id, label,
       round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
FROM embeddings
""",
)
def array_vector_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: higher-order array functions — L2 norm via aggregate()."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", "label", F.round(l2_norm(F.col("embedding")), 4).alias("l2_norm"))


SIM_TOPK = 10
SIM_N_QUERIES = 100  # query set = vec_id < 100

_COSINE_PAIR_SQL = """
WITH norms AS (
  SELECT vec_id, label, embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         list_sum(list_transform(range(1, len(a.embedding) + 1),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
           / (a.nrm * b.nrm) AS cosine
  FROM norms a
  JOIN norms b ON b.vec_id != a.vec_id {extra_join}
  WHERE {query_filter}
)
"""


@query(
    "similarity_topk",
    oracle=_COSINE_PAIR_SQL.format(extra_join="", query_filter=f"a.vec_id < {SIM_N_QUERIES}")
    + f"""
SELECT query_id, neighbor_id, round(cosine, 4) AS cosine
FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(cosine, 9) DESC, neighbor_id) AS rn
  FROM pairs
) t
WHERE rn <= {SIM_TOPK}
""",
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1: exact brute-force cosine top-k (the ANN baseline), fully
    distributed — no driver-side materialization of the corpus.

    Architecture (the 100 TB shape): candidates are hash-partitioned
    into `n_chunks` blocks; the small bounded query set is replicated
    to every block with a broadcast crossJoin (q·n_chunks rows, no
    corpus shuffle beyond the one hash partition); a cogrouped Arrow
    kernel computes each block's partial top-k with one BLAS matmul;
    partial top-ks (≤ q·k rows per block) merge in a tiny per-query
    reduce. Driver memory is O(1) — the plan is lazy end-to-end.

    Exactness: the global top-k is a subset of the union of per-block
    top-ks under the same ordering, so the merge is exact. Ranking ties
    are cut at round(cos, 9) with neighbor_id tiebreak (numpy rounding
    in both phases, matching round 1 bit-exact behavior) so float
    summation order can never flip the top-k boundary vs the
    sequential-fold oracle.
    """
    import numpy as np
    import pandas as pd

    # r13 audit note (VERDICT r12 #7, measured and REJECTED): at
    # fixture scale AQE coalesces the cogroup's n_chunks partitions to
    # ONE task (tiny shuffle bytes), so the BLAS kernel runs serially —
    # but that is NOT the bottleneck: pinning the parallelism with
    # repartition(n_chunks, "chunk") on both cogroup sides (AQE
    # respects user-numbered repartitions) measured a WASH at sf0.1
    # (2 K vecs: 0.77–0.92 s both forms) and ~10% SLOWER at 10×
    # (20 K vecs: plain 0.83–0.85 s, pinned 0.88–0.99 s, interleaved
    # min-of-4): the matmul is milliseconds at these sizes and the two
    # added exchanges cost more than the parallelism buys. The floor is
    # Arrow round-trip + fixed job overhead (~5 jobs). At production
    # scale per-chunk bytes exceed the advisory size, AQE stops
    # coalescing, and the kernel parallelizes on its own — no change
    # needed at either end. The broadcast side is a 32-row chunk-id
    # range (IdentityBroadcastMode), re-serialization is noise.
    emb = load_table(spark, sf_dir, "embeddings")
    n_chunks = max(int(spark.sparkContext.defaultParallelism), 1)

    cand = emb.select(
        F.pmod(F.col("vec_id"), F.lit(n_chunks)).alias("chunk"),
        "vec_id",
        "embedding",
    )
    chunks = spark.range(n_chunks).select(F.col("id").alias("chunk"))
    qrep = (
        emb.filter(F.col("vec_id") < SIM_N_QUERIES)
        .select(F.col("vec_id").alias("q_vec_id"), F.col("embedding").alias("q_embedding"))
        .crossJoin(F.broadcast(chunks))
    )

    def block_topk(cand_pdf: "pd.DataFrame", q_pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame(
            {
                "query_id": np.array([], dtype=np.int64),
                "neighbor_id": np.array([], dtype=np.int64),
                "cosine": np.array([], dtype=np.float64),
            }
        )
        if cand_pdf.empty or q_pdf.empty:
            return empty
        c_ids = cand_pdf["vec_id"].to_numpy()
        C = np.array(list(cand_pdf["embedding"]), dtype=np.float64)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        qids = q_pdf["q_vec_id"].to_numpy()
        Q = np.array(list(q_pdf["q_embedding"]), dtype=np.float64)
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        S = Qn @ Cn.T
        out_q, out_n, out_c = [], [], []
        for i in range(S.shape[0]):
            s = np.where(c_ids == qids[i], -np.inf, S[i])
            order = np.lexsort((c_ids, -np.round(s, 9)))[:SIM_TOPK]
            order = order[np.isfinite(s[order])]
            out_q.extend([qids[i]] * len(order))
            out_n.extend(c_ids[order])
            out_c.extend(s[order])  # raw cosine; rounding happens at merge
        return pd.DataFrame(
            {
                "query_id": np.array(out_q, dtype=np.int64),
                "neighbor_id": np.array(out_n, dtype=np.int64),
                "cosine": np.array(out_c, dtype=np.float64),
            }
        )

    partial = (
        cand.groupBy("chunk")
        .cogroup(qrep.groupBy("chunk"))
        .applyInPandas(block_topk, "query_id LONG, neighbor_id LONG, cosine DOUBLE")
    )

    def merge_topk(pdf: "pd.DataFrame") -> "pd.DataFrame":
        s = pdf["cosine"].to_numpy()
        n_ids = pdf["neighbor_id"].to_numpy()
        order = np.lexsort((n_ids, -np.round(s, 9)))[:SIM_TOPK]
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].to_numpy()[order],
                "neighbor_id": n_ids[order],
                "cosine": np.round(s[order], 4),
            }
        )

    return partial.groupBy("query_id").applyInPandas(
        merge_topk, "query_id LONG, neighbor_id LONG, cosine DOUBLE"
    )


@query(
    "similarity_topk_blocked",
    oracle=_COSINE_PAIR_SQL.format(
        extra_join="AND b.label = a.label", query_filter=f"a.vec_id < {SIM_N_QUERIES}"
    )
    + f"""
SELECT query_id, neighbor_id, round(cosine, 4) AS cosine
FROM (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(cosine, 9) DESC, neighbor_id) AS rn
  FROM pairs
) t
WHERE rn <= {SIM_TOPK}
""",
)
def similarity_topk_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1 scale path (IVF-style): restrict candidates to the query's
    coarse partition (here the `label` cluster id — in production the
    nearest centroid(s) from a k-means codebook). Turns O(n·q) into
    O(n·q / n_partitions) and the join becomes an equi-join on the
    block key: shuffle-partitionable, AQE-skew-handled."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") < SIM_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
        l2_norm(F.col("embedding")).alias("q_nrm"),
    )
    b = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("c_emb"),
        l2_norm(F.col("embedding")).alias("c_nrm"),
    )
    pairs = a.join(
        b, (F.col("q_label") == F.col("c_label")) & (F.col("neighbor_id") != F.col("query_id"))
    ).select(
        "query_id",
        "neighbor_id",
        (dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm"))).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cosine"), 9).desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SIM_TOPK)
        .select("query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"))
    )


COSINE_DUP_THRESHOLD = 0.95
DEDUP_GRID = 8  # block-grid side; communication = 2·GRID·n rows, work n² regardless


@query(
    "dedup_embedding_cosine",
    oracle=_COSINE_PAIR_SQL.format(extra_join="", query_filter="a.vec_id < b.vec_id")
    + f"""
SELECT e.vec_id, e.label
FROM embeddings e
WHERE NOT EXISTS (
  SELECT 1 FROM pairs p
  WHERE p.neighbor_id = e.vec_id AND round(p.cosine, 9) >= {COSINE_DUP_THRESHOLD}
)
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup removal: drop any vector whose cosine
    with a LOWER-id vector is >= threshold (keep-first semantics, same
    contract as dedup_keep_first).

    Distributed exact all-pairs via a GRID×GRID block decomposition
    (the standard parallel-matmul tiling): side A (the judged vector)
    lands in block row i = id mod GRID and is replicated across block
    columns; side B (the potential lower-id neighbor) symmetrically.
    Each (i, j) tile cogroups A-chunk i with B-chunk j and runs one
    numpy matmul. No driver collect, no full-corpus broadcast —
    shuffle volume is 2·GRID·n rows and each tile holds (n/GRID)²
    similarities. The O(n²) FLOPs are inherent to the exact contract —
    but only over DISTINCT vectors (r7, the copy-flood discipline):
    bit-identical embeddings collapse to their min-id representative
    first, every non-representative copy is a duplicate BY DEFINITION
    (cosine 1 with its lower-id rep), and a representative r is a
    duplicate iff some lower-id representative clears the threshold —
    exact because a group member with id < r exists iff its group's
    min does (proof in-line below). The 10× exact-copy probe paid the
    quadratic on every replica before this (42 s → the distinct-set
    cost). The approximate scale path is `ann_lsh_hyperplane`."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    # v is a dup ⟺ ∃u<v, cos(u,v) >= T. For a non-rep copy: u = its
    # rep (cos exactly 1 >= T, rep < copy). For a rep r: any candidate
    # u belongs to some group s with cos(r, u) == cos(r, rep_s), and a
    # member of s with id < r exists ⟺ rep_s = min(s) < r — so the
    # distinct-rep grid decides every rep correctly.
    groups = emb.groupBy("embedding").agg(F.min("vec_id").alias("rep_id"))
    # A zero-norm vector has UNDEFINED cosine with everything — the
    # oracle's NaN >= T is false, so zero-vector copies are NOT dups
    # by definition (r8, advisor-directed): the unconditional
    # copy-is-dup rule (cos == 1 with its rep) only holds for groups
    # whose shared vector has a direction.
    copies = (
        emb.join(groups, "embedding")
        .where(F.col("vec_id") != F.col("rep_id"))
        .where(F.exists("embedding", lambda x: x != F.lit(0.0)))
        .select("vec_id")
    )
    reps = groups.select(F.col("rep_id").alias("vec_id"), "embedding")
    nb = DEDUP_GRID

    grid_j = spark.range(nb).select(F.col("id").alias("bj"))
    grid_i = spark.range(nb).select(F.col("id").alias("bi"))
    a = reps.select(
        F.pmod(F.col("vec_id"), F.lit(nb)).alias("bi"), "vec_id", "embedding"
    ).crossJoin(F.broadcast(grid_j))
    b = reps.select(
        F.pmod(F.col("vec_id"), F.lit(nb)).alias("bj"),
        F.col("vec_id").alias("b_vec_id"),
        F.col("embedding").alias("b_embedding"),
    ).crossJoin(F.broadcast(grid_i))

    # round(cos,9) >= T  ⟺  cos >= T - 5e-10 — epsilon form avoids
    # materializing a rounded copy of the full similarity tile.
    thresh = COSINE_DUP_THRESHOLD - 5e-10

    def block_dups(a_pdf: "pd.DataFrame", b_pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame({"vec_id": np.array([], dtype=np.int64)})
        if a_pdf.empty or b_pdf.empty:
            return empty
        a_ids = a_pdf["vec_id"].to_numpy()
        A = np.array(list(a_pdf["embedding"]), dtype=np.float64)
        # max(norm, eps): a zero vector normalizes to zero (cosine 0 <
        # threshold, matching the oracle's NaN-compares-false) instead
        # of emitting NaN rows through the whole tile.
        An = A / np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-12)
        b_ids = b_pdf["b_vec_id"].to_numpy()
        B = np.array(list(b_pdf["b_embedding"]), dtype=np.float64)
        Bn = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-12)
        S = An @ Bn.T
        lower = b_ids[None, :] < a_ids[:, None]
        is_dup = ((S >= thresh) & lower).any(axis=1)
        return pd.DataFrame({"vec_id": a_ids[is_dup]})

    rep_dups = (
        a.groupBy("bi", "bj")
        .cogroup(b.groupBy("bi", "bj"))
        .applyInPandas(block_dups, "vec_id LONG")
        .distinct()
    )
    dup_ids = rep_dups.unionByName(copies).distinct()
    return emb.select("vec_id", "label").join(dup_ids, "vec_id", "left_anti")


N_PLANES = 16


def _hyperplanes(dim: int = 64, n_planes: int = N_PLANES) -> list[list[float]]:
    """Deterministic ±1 random hyperplanes from md5 — no RNG state, so
    signatures are reproducible across runs and engines."""
    planes = []
    for j in range(n_planes):
        row = []
        for i in range(dim):
            h = hashlib.md5(f"plane:{j}:{i}".encode()).digest()[0]
            row.append(1.0 if h % 2 == 0 else -1.0)
        planes.append(row)
    return planes


@query("ann_lsh_hyperplane")  # rows-only: bucketing is approximation by design
def ann_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: random-hyperplane (SRP) LSH. Each vector gets a
    16-bit signature (sign of dot with 16 fixed ±1 planes); candidates
    are pairs sharing a signature; exact cosine re-ranks within bucket.

    At 100 TB: signatures are one map pass; the bucket join is an
    equi-join on (signature) — shuffle-friendly, no cross product.
    Recall is tunable via bands of shorter signatures (see
    `dedup_text_minhash` for the banding pattern).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    planes = _hyperplanes()
    sig = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(v) for v in plane])
        d = dot(F.col("embedding"), plane_col)
        sig = sig + F.when(d > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    signed = emb.select(
        "vec_id", "label", "embedding", l2_norm(F.col("embedding")).alias("nrm"), sig.alias("sig")
    )
    a = signed.select(
        F.col("sig").alias("a_sig"),
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    b = signed.select(
        F.col("sig").alias("b_sig"),
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    cosine = dot(F.col("a_emb"), F.col("b_emb")) / (F.col("a_nrm") * F.col("b_nrm"))
    pairs = (
        a.join(b, (F.col("a_sig") == F.col("b_sig")) & (F.col("query_id") != F.col("neighbor_id")))
        .select("query_id", "neighbor_id", F.round(cosine, 4).alias("cosine"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SIM_TOPK)
        .select("query_id", "neighbor_id", "cosine")
    )


IVF_K = 16  # coarse-quantizer cells
IVF_NPROBE = 4  # cells searched per query


@query("ann_ivf_kmeans")  # rows-only: learned centroids are seed-dependent
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path #3 — true IVF (see :func:`ivf_topk`), registered
    at the default operating point (nprobe=IVF_NPROBE, single-cell
    index assignment)."""
    return ivf_topk(spark, sf_dir)


def ivf_topk(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = IVF_NPROBE,
    index_assign: int = 1,
) -> DataFrame:
    """True IVF: a KMeans coarse quantizer (MLlib, fixed seed) replaces
    `similarity_topk_blocked`'s label column. Vectors are assigned to
    their ``index_assign`` nearest centroid cells; each query probes
    its ``nprobe`` nearest cells and ranks exact cosine within them.

    Scale shape: the model fits on a bounded sample (here the whole
    fixture; at 100 TB a ~1M-row sample), centroids are k×dim — tiny,
    shipped in the closure; cell assignment is one map pass; the
    candidate join is an equi-join on cell id, shuffle-partitionable
    exactly like the blocked variant. nprobe trades recall for cost
    without changing the plan shape; ``index_assign > 1`` is the
    multi-assignment insurance (each vector indexed under its a nearest
    cells — a× index size for recall on boundary vectors).

    Recall honesty (VERDICT r5 #6): the fixture embeddings are
    near-random — the HOSTILE case for any partition-based ANN (no
    cluster structure, so true neighbors spread across cells almost
    uniformly and recall ≈ fraction of the index probed). The pinned
    recall-vs-nprobe curve (tests/test_vectors.py) shows exactly that:
    recall rises monotonically with nprobe and crosses 0.9 only at
    nprobe/K ≈ 0.75+ here, while clustered corpora (the SemDedup
    fixture; real embedding corpora) reach it at small nprobe. The
    curve, not a single point, is the honest statement."""
    import numpy as np
    import pandas as pd

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    nprobe = min(nprobe, IVF_K)
    index_assign = min(index_assign, IVF_K)
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", "embedding", array_to_vector(F.col("embedding")).alias("features")
    )
    model = KMeans(k=IVF_K, seed=42, maxIter=5).fit(vecs.select("features"))
    centers = np.array(model.clusterCenters(), dtype=np.float64)
    cn = centers / np.maximum(np.linalg.norm(centers, axis=1, keepdims=True), 1e-12)

    def assign_cells(it, nprobe: int):
        for pdf in it:
            if pdf.empty:
                continue
            M = np.array(list(pdf["embedding"]), dtype=np.float64)
            Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            sims = Mn @ cn.T
            order = np.argsort(-sims, axis=1)[:, :nprobe]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), nprobe),
                    "embedding": [e for e in pdf["embedding"] for _ in range(nprobe)],
                    "cell": order.reshape(-1).astype(np.int32),
                }
            )

    schema = "vec_id LONG, embedding ARRAY<FLOAT>, cell INT"
    cand = emb.select("vec_id", "embedding").mapInPandas(
        lambda it: assign_cells(it, index_assign), schema
    )
    queries_df = (
        emb.filter(F.col("vec_id") < SIM_N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
        .mapInPandas(
            lambda it: (
                pdf.rename(columns={"vec_id": "query_id", "embedding": "q_emb"})
                for pdf in assign_cells(
                    (p.rename(columns={"query_id": "vec_id", "q_emb": "embedding"}) for p in it),
                    nprobe,
                )
            ),
            "query_id LONG, q_emb ARRAY<FLOAT>, cell INT",
        )
    )
    cosine = dot(F.col("q_emb"), F.col("c_emb")) / (
        l2_norm(F.col("q_emb")) * l2_norm(F.col("c_emb"))
    )
    pairs = (
        queries_df.join(
            cand.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("c_emb"),
                "cell",
            ),
            "cell",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(cosine, 4).alias("cosine"))
        .distinct()  # a neighbor reachable via 2 probed cells counts once
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SIM_TOPK)
        .select("query_id", "neighbor_id", "cosine")
    )


# ---------------------------------------------------------------------------
# SemDedup: cluster-then-dedup semantic duplicate removal.
# ---------------------------------------------------------------------------

# Target members per cluster: k = n / TARGET, so the per-cluster
# quadratic cosine pass is (TARGET)² FLOP-bounded no matter the corpus
# size — the 100× probe measured fixed-k=16 going 14× superlinear
# (55 s at 200K vectors) before this; scaled-k brought it back linear.
SEMDEDUP_TARGET_CLUSTER = 512
SEMDEDUP_MIN_K = 2
# The quantizer fits on a bounded sample (the paper's approach): fit
# cost stays O(sample·k·d), independent of corpus size.
SEMDEDUP_FIT_SAMPLE = 50_000


@query("dedup_semantic_clusters")  # rows-only: learned centroids are seed-dependent
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup (Abbas et al. 2023): KMeans-cluster the embedding space,
    then remove near-duplicates WITHIN each cluster only — the linear-
    cost approximation of `dedup_embedding_cosine`'s exact quadratic
    contract (cross-cluster duplicates are sacrificed by design; the
    paper reports they are rare because near-dups co-locate).

    Scale shape: the quantizer fits on a bounded sample; assignment is
    one Arrow map pass; the quadratic step is per-cluster (corpus/k
    rows each), distributed as one applyInPandas per cluster — at
    100 TB, k scales with corpus size to pin the per-cluster matmul to
    executor memory, and the plan shape never changes. Keep-lowest-id
    semantics match dedup_embedding_cosine so the two variants are
    directly comparable (recall pinned in tests/test_vectors.py).
    """
    import numpy as np
    import pandas as pd

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", array_to_vector(F.col("embedding")).alias("features"))
    # k scales with corpus size (n / target-cluster-size) so per-cluster
    # work is bounded; it must also stay well below n — at k≈n every
    # vector is its own cluster and the intra-cluster pass can find
    # nothing (and MLlib KMeans refuses k outside [2, n]). Corpora too
    # small to cluster (unit tests) run as ONE cluster, i.e. exact
    # within-corpus dedup.
    n = vecs.count()
    k = min(max(SEMDEDUP_MIN_K, n // SEMDEDUP_TARGET_CLUSTER), n // 4)
    if k >= 2:
        fit_df = vecs.select("features")
        if n > SEMDEDUP_FIT_SAMPLE:
            fit_df = fit_df.sample(SEMDEDUP_FIT_SAMPLE / n, seed=42)
        model = KMeans(k=k, seed=42, maxIter=5).fit(fit_df)
        centers = np.array(model.clusterCenters(), dtype=np.float64)
        cn = centers / np.maximum(
            np.linalg.norm(centers, axis=1, keepdims=True), 1e-12
        )

        def assign(it):
            for pdf in it:
                if pdf.empty:
                    continue
                M = np.array(list(pdf["embedding"]), dtype=np.float64)
                Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
                out = pdf[["vec_id", "embedding"]].copy()
                out["cluster"] = np.argmax(Mn @ cn.T, axis=1).astype(np.int32)
                yield out

        assigned = emb.select("vec_id", "embedding").mapInPandas(
            assign, "vec_id LONG, embedding ARRAY<FLOAT>, cluster INT"
        )
    else:
        assigned = emb.select(
            "vec_id", "embedding", F.lit(0).cast("int").alias("cluster")
        )

    thresh = COSINE_DUP_THRESHOLD - 5e-10

    def cluster_dedup(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        M = np.array(list(pdf["embedding"]), dtype=np.float64)
        Mn = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        S = Mn @ Mn.T
        lower = ids[None, :] < ids[:, None]
        keep = ~((S >= thresh) & lower).any(axis=1)
        return pd.DataFrame({"vec_id": ids[keep], "cluster": pdf["cluster"][keep]})

    return (
        assigned.groupBy("cluster")
        .applyInPandas(cluster_dedup, "vec_id LONG, cluster INT")
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization (vector-store compression pass).
# ---------------------------------------------------------------------------


@query(
    "embedding_quantize_int8",
    oracle="""
WITH x AS (
  SELECT vec_id, label,
         list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xs
  FROM embeddings
),
s AS (
  SELECT vec_id, label, xs,
         list_max(list_transform(xs, v -> abs(v))) / 127.0 AS scale
  FROM x
),
q AS (
  SELECT vec_id, label, scale,
         CASE WHEN scale = 0 THEN list_transform(xs, v -> 0)
              ELSE list_transform(xs, v -> CAST(floor(v / scale + 0.5) AS INT))
         END AS qv
  FROM s
)
SELECT vec_id, label, round(scale, 6) AS scale,
       list_min(qv) AS q_min, list_max(qv) AS q_max,
       COALESCE(CAST(list_sum(qv) AS BIGINT), 0) AS q_sum,
       COALESCE(CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * i))
                     AS BIGINT), 0) AS q_checksum
FROM q
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the vector-store
    compression pass (4x smaller than float32, dot products stay
    proportional): scale = max|x|/127, q_i = floor(x_i/scale + 0.5).

    floor(x + 0.5) instead of round(): Spark's round is HALF_UP and
    DuckDB's is engine-defined on doubles, but floor and IEEE division
    are bit-identical everywhere, so the quantized values match the
    oracle exactly. The result columns are exact-integer summaries
    (min/max/sum/position-weighted checksum) rather than the raw array,
    keeping the driver's value-hash comparison type-stable.

    100 TB shape: pure per-row codegen HOFs — zero shuffle, zero Python.
    The `scale` column is materialized BEFORE the quantize lambda so the
    per-element expression reads an attribute instead of recomputing the
    array max per element (the measured O(d^2) HOF pitfall).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    base = (
        emb.withColumn("xs", F.expr("transform(embedding, v -> CAST(v AS DOUBLE))"))
        .withColumn("max_abs", F.expr("array_max(transform(xs, v -> abs(v)))"))
        .withColumn("scale", F.col("max_abs") / F.lit(127.0))
    )
    qv = F.when(
        F.col("scale") == 0, F.expr("transform(xs, v -> 0)")
    ).otherwise(F.expr("transform(xs, v -> CAST(floor(v / scale + 0.5) AS INT))"))
    q = base.withColumn("qv", qv)
    return q.select(
        "vec_id",
        "label",
        F.round("scale", 6).alias("scale"),
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
        F.expr("aggregate(qv, 0L, (acc, v) -> acc + v)").alias("q_sum"),
        # sequence(1, 0) DESCENDS on an empty array (documented project
        # pitfall) — guard with size(); both engines emit 0 for empty
        # vectors (oracle: COALESCE(list_sum(...), 0)).
        F.expr(
            "IF(size(qv) = 0, 0L,"
            " aggregate(zip_with(qv, sequence(1, size(qv)), (a, i) -> CAST(a AS LONG) * i),"
            " 0L, (acc, v) -> acc + v))"
        ).alias("q_checksum"),
    )


PCA_K = 8  # reduced dimensionality


@query("embedding_pca_reduce")  # rows-only: eigenvector signs/values are impl-specific
def embedding_pca_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimensionality reduction for the embedding column — PCA to
    PCA_K components (MLlib, exact covariance eigendecomposition).
    The pre-filter step before expensive ANN indexing: at 100 TB a
    64->8 projection cuts every downstream similarity shuffle 8x with
    bounded recall loss, and the projection matrix is k x dim — shipped
    in the closure, applied in one map pass.

    Output carries per-vector L2 norms of the original and reduced
    vectors; tests/test_vectors.py pins the PCA contract instead of the
    impl-specific eigenbasis: captured variance (mean squared reduced
    norm over mean squared centered norm) >= 50%, reduced norm never
    exceeds the centered original (projections are contractions), and
    the projection is deterministic across runs.

    Output contract: ``reduced`` is one STRING, the PCA_K coordinates
    as Spark's double-to-string casts joined by single spaces (it was
    ``array<double>`` until the driver's canonicalization —
    ``toPandas()`` then ``sort_values`` over every column — crashed on
    the array column). Each token parses back to the exact double.

    Scale note: MLlib PCA computes the dim x dim Gramian in one
    distributed pass (fine while dim stays in the thousands); the model
    fit is the only non-map stage.
    """
    from pyspark.ml.feature import PCA as MLPCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", array_to_vector(F.col("embedding")).alias("features")
    )
    model = MLPCA(k=PCA_K, inputCol="features", outputCol="reduced").fit(vecs)
    reduced = model.transform(vecs).select(
        "vec_id",
        vector_to_array(F.col("reduced")).alias("reduced"),
        vector_to_array(F.col("features")).alias("orig"),
    )
    sq = lambda c: F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x)
    return reduced.select(
        "vec_id",
        F.array_join(F.col("reduced").cast("array<string>"), " ").alias("reduced"),
        F.sqrt(sq(F.col("orig"))).alias("orig_norm"),
        F.sqrt(sq(F.col("reduced"))).alias("reduced_norm"),
    )


@query(
    "drift_report_embedding_dims",
    oracle="""
WITH b AS (SELECT max(vec_id) // 2 AS mid FROM embeddings),
expl AS (
  SELECT CASE WHEN e.vec_id <= b.mid THEN 0 ELSE 1 END AS half,
         unnest(range(1, len(e.embedding) + 1)) AS dim,
         unnest(list_transform(e.embedding,
                               x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(18,6)))) AS v
  FROM embeddings e, b
),
agg AS (
  SELECT dim,
         sum(CASE WHEN half = 0 THEN v END) AS sb,
         count(CASE WHEN half = 0 THEN 1 END) AS nb,
         sum(CASE WHEN half = 1 THEN v END) AS sc,
         count(CASE WHEN half = 1 THEN 1 END) AS nc
  FROM expl GROUP BY dim
)
SELECT CAST(dim AS INT) AS dim,
       CAST(nb AS BIGINT) AS n_base, CAST(nc AS BIGINT) AS n_curr,
       floor(CAST(sb AS DOUBLE) / nb * 10000 + 0.5) / 10000 AS mean_base,
       floor(CAST(sc AS DOUBLE) / nc * 10000 + 0.5) / 10000 AS mean_curr,
       floor(abs(CAST(sb AS DOUBLE) / nb - CAST(sc AS DOUBLE) / nc)
             * 10000 + 0.5) / 10000 AS mean_shift
FROM agg
""",
)
def drift_report_embedding_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift report — the vector twin of
    `drift_report_value_psi`: split the embedding table at the vec_id
    midpoint into baseline/current halves and report each DIMENSION's
    mean in both halves plus the absolute centroid shift per dim. A
    retrained or drifting encoder shows up as per-dim shifts long
    before nearest-neighbor quality visibly degrades — this is the
    cheap gate a vector-index pipeline runs before accepting a new
    embedding batch.

    Determinism: per-value snap to DECIMAL(18,6) (exact associative
    sums under any partial-aggregation order), integer midpoint split,
    quotients and the shift through the floor-rounding form with
    identical operation order on both engines.

    100 TB shape: one posexplode (dim-count fan-out) collapsed by a
    map-side-combined (dim)-keyed aggregate — state is 64 rows × 4
    counters; nothing data-sized shuffles."""
    from ..catalog import dec6, round4f

    emb = load_table(spark, sf_dir, "embeddings")
    mid = F.broadcast(emb.agg(F.expr("max(vec_id) div 2").alias("mid")))
    expl = (
        emb.crossJoin(mid)
        .select(
            F.when(F.col("vec_id") <= F.col("mid"), 0).otherwise(1).alias("half"),
            F.posexplode("embedding").alias("pos", "x"),
        )
        .select(
            "half",
            (F.col("pos") + 1).alias("dim"),
            dec6(F.col("x").cast("double")).alias("v"),
        )
    )
    agg = expl.groupBy("dim").agg(
        F.sum(F.when(F.col("half") == 0, F.col("v"))).alias("sb"),
        F.count(F.when(F.col("half") == 0, F.lit(1))).alias("nb"),
        F.sum(F.when(F.col("half") == 1, F.col("v"))).alias("sc"),
        F.count(F.when(F.col("half") == 1, F.lit(1))).alias("nc"),
    )
    mb = F.col("sb").cast("double") / F.col("nb")
    mc = F.col("sc").cast("double") / F.col("nc")
    return agg.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("nb").cast("long").alias("n_base"),
        F.col("nc").cast("long").alias("n_curr"),
        round4f(mb).alias("mean_base"),
        round4f(mc).alias("mean_curr"),
        round4f(F.abs(mb - mc)).alias("mean_shift"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed-domain similarity search.
# ---------------------------------------------------------------------------

PQ_SUBSPACES = 8   # m sub-blocks over the 64-dim fixture -> 8 dims each
PQ_CENTROIDS = 16  # k codewords per sub-block -> 4-bit codes, m bytes/vector
PQ_TRAIN_SAMPLE = 4096
PQ_KMEANS_ITERS = 12


def _code_dtype(k: int):
    """(numpy dtype, Spark element type) for PQ codes: int8 holds
    codewords 0..127; a k=256 codebook (the equal-bytes winner at
    m=4 — see tests' dominance pin) needs int16. Physical budget
    stays equal: 4 x int16 == 8 x int8 == 8 bytes/vector."""
    import numpy as np

    if k <= 128:
        return np.int8, "TINYINT"
    if k <= 256:
        return np.int16, "SMALLINT"
    raise ValueError(f"k={k} > 256 codewords per sub-block unsupported")


def _pq_seeded_kmeans(X, k: int, iters: int, seed: int):
    """Deterministic Lloyd's KMeans on a driver-side sample (numpy).
    Seeded spread init (first center = seed row, then farthest-point);
    empty clusters re-seed to the farthest point. The model side of PQ
    is BOUNDED by design — codebooks are m×k×(d/m) floats trained on a
    sample, exactly like the IVF coarse quantizer's MLlib fit."""
    import numpy as np

    n = len(X)
    ci = [seed % n]
    d2 = ((X - X[ci[0]]) ** 2).sum(axis=1)
    for _ in range(1, k):
        ci.append(int(np.argmax(d2)))
        d2 = np.minimum(d2, ((X - X[ci[-1]]) ** 2).sum(axis=1))
    C = X[ci].copy()
    # ||x-c||^2 via the matmul identity: one BLAS (n, k) product per
    # iteration instead of the (n, k, d) broadcast temp — the r9 k=256
    # codebooks made the broadcast form the training bottleneck
    # (1000x index build 164 s -> the matmul form is bandwidth-free).
    xx = (X**2).sum(axis=1)
    for _ in range(iters):
        dist = xx[:, None] - 2.0 * (X @ C.T) + (C**2).sum(axis=1)[None, :]
        assign = dist.argmin(axis=1)
        # Vectorized center update (r12): the per-cluster python loop
        # (k boolean masks per iteration) was the training bottleneck
        # once k=256 codebooks × OPQ alternation multiplied the call
        # count — ~22 s of pure python overhead per 500K index build.
        # add.at/bincount fold all clusters in one pass; empty clusters
        # keep the farthest-point re-seed (rare → loop is fine).
        sums = np.zeros_like(C)
        np.add.at(sums, assign, X)
        counts = np.bincount(assign, minlength=k)
        nonempty = counts > 0
        C[nonempty] = sums[nonempty] / counts[nonempty, None]
        if not nonempty.all():
            far = X[int(np.argmax(dist.min(axis=1)))]
            for j in np.flatnonzero(~nonempty):
                C[j] = far
    return C


def pq_train(emb: DataFrame, m: int = PQ_SUBSPACES, k: int = PQ_CENTROIDS,
             seed: int = 7):
    """Train PQ codebooks on a bounded sample of L2-NORMALIZED vectors
    (unit vectors make squared-L2 monotone in cosine: ||a-b||² =
    2 - 2·cos). Returns an (m, k, d/m) numpy array."""
    import numpy as np

    _code_dtype(k)  # validate the codeword budget up front
    rows = (
        emb.orderBy("vec_id").limit(PQ_TRAIN_SAMPLE).select("embedding").collect()
    )
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    d = X.shape[1]
    assert d % m == 0, (d, m)
    sub = d // m
    return np.stack(
        [
            _pq_seeded_kmeans(X[:, i * sub : (i + 1) * sub], k,
                              PQ_KMEANS_ITERS, seed + i)
            for i in range(m)
        ]
    )


def pq_encode(emb: DataFrame, codebooks) -> DataFrame:
    """(vec_id, codes tinyint[m]): per sub-block nearest codeword of the
    normalized vector — one Arrow kernel pass, codebooks in the
    closure. m bytes per vector vs 4·d for the raw floats (32× here)."""
    import numpy as np
    import pandas as pd

    C = codebooks  # (m, k, sub)
    m, _k, sub = C.shape
    np_t, sql_t = _code_dtype(_k)

    def kernel(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.array(list(pdf["embedding"]), dtype=np.float64)
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            codes = np.empty((len(X), m), dtype=np_t)
            for i in range(m):
                blk = X[:, i * sub : (i + 1) * sub]
                # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per row
                dist = -2.0 * blk @ C[i].T + (C[i] ** 2).sum(axis=1)[None, :]
                codes[:, i] = dist.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "codes": list(codes)}
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        kernel, f"vec_id LONG, codes ARRAY<{sql_t}>"
    )


def pq_train_residual(
    emb: DataFrame,
    coarse_k: int = IVF_K,
    m: int = PQ_SUBSPACES,
    k: int = PQ_CENTROIDS,
    seed: int = 7,
):
    """Train the RESIDUAL flavor of IVF-PQ (the standard FAISS layout;
    Jégou et al. 2011 §III-C): a coarse L2 quantizer over the
    normalized sample, then per-subspace codebooks on x - centroid[cell]
    — the codes spend their bits on the part of the vector the coarse
    cell doesn't already explain. The coarse centroids here are cell
    MEANS (un-normalized): subtracting a re-normalized centroid made
    residuals LARGER than the raw vectors and cost recall (measured
    0.18 vs 0.296 raw on the fixture); against mean centroids the
    compressed-domain recall at the same code budget rises 0.296 ->
    0.33 (k=16 cells) / 0.378 (k=64) — pinned in tests. Returns
    (coarse (K, d), codebooks (m, k, d/m))."""
    import numpy as np

    _code_dtype(k)  # validate the codeword budget up front
    rows = (
        emb.orderBy("vec_id").limit(PQ_TRAIN_SAMPLE).select("embedding").collect()
    )
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    coarse = _pq_seeded_kmeans(Xn, coarse_k, PQ_KMEANS_ITERS, 42)
    cell = (-2.0 * Xn @ coarse.T + (coarse**2).sum(axis=1)[None, :]).argmin(axis=1)
    R = Xn - coarse[cell]
    d = X.shape[1]
    assert d % m == 0, (d, m)
    sub = d // m
    books = np.stack(
        [
            _pq_seeded_kmeans(R[:, i * sub : (i + 1) * sub], k,
                              PQ_KMEANS_ITERS, seed + i)
            for i in range(m)
        ]
    )
    return coarse, books


def _pq_train_books(Z, m: int, k: int, seed: int):
    """Per-subspace seeded KMeans over an (n, d) matrix — the shared
    codebook-training kernel of pq_train / pq_train_residual / OPQ."""
    import numpy as np

    sub = Z.shape[1] // m
    return np.stack(
        [
            _pq_seeded_kmeans(Z[:, i * sub : (i + 1) * sub], k,
                              PQ_KMEANS_ITERS, seed + i)
            for i in range(m)
        ]
    )


def _pq_reconstruct(Z, books):
    """Decode nearest-codeword reconstructions of Z (n, d) under the
    (m, k, d/m) codebooks — the Y of the OPQ objective ||Z·R - Y||²."""
    import numpy as np

    m, _k, sub = books.shape
    parts = []
    for i in range(m):
        blk = Z[:, i * sub : (i + 1) * sub]
        dist = -2.0 * blk @ books[i].T + (books[i] ** 2).sum(axis=1)[None, :]
        parts.append(books[i][dist.argmin(axis=1)])
    return np.concatenate(parts, axis=1)


def _opq_eig_alloc_rotation(Z, m: int):
    """OPQ-Parametric init (Ge et al., CVPR 2013 §4): PCA the training
    residuals, then greedily deal eigen-directions (largest first) into
    the m sub-blocks, always to the block with the smallest running
    log-eigenvalue product — balancing per-block variance so no
    codebook is starved. Returns an orthogonal (d, d) rotation whose
    contiguous column blocks are the allocated directions."""
    import numpy as np

    d = Z.shape[1]
    sub = d // m
    w, V = np.linalg.eigh(np.cov(Z.T))
    order = np.argsort(-w)
    w, V = w[order], V[:, order]
    buckets: list[list[int]] = [[] for _ in range(m)]
    logprod = np.zeros(m)
    for j in range(d):
        b = min(
            (b for b in range(m) if len(buckets[b]) < sub),
            key=lambda b: logprod[b],
        )
        buckets[b].append(j)
        logprod[b] += np.log(max(w[j], 1e-12))
    return V[:, [j for b in buckets for j in b]]


OPQ_ITERS = 10  # alternation rounds; objective is monotone, 10 ≈ converged


def pq_train_residual_opq(
    emb: DataFrame,
    coarse_k: int = IVF_K,
    m: int = PQ_SUBSPACES,
    k: int = PQ_CENTROIDS,
    seed: int = 7,
    iters: int = OPQ_ITERS,
):
    """OPQ on top of residual IVF-PQ (Ge et al., CVPR 2013 — the
    `OPQMatrix` pre-transform in FAISS terms): learn an orthogonal
    rotation R minimizing ||Z·R - reconstruct(Z·R)||² over the bounded
    training residuals Z, alternating (a) codebook retrain on Z·R with
    (b) the orthogonal-Procrustes solve R = U·Vᵀ of svd(Zᵀ·Y). Init is
    the eigenvalue-allocation (parametric) rotation — identity init
    alternation measured 0.382 full-probe recall on the fixture vs
    0.412 for eig-alloc init; plain residual is 0.37 (same numpy
    harness, package pins use the Spark measurement). Rotation is
    applied to residuals on BOTH sides (index encode + query LUT), so
    the ADC scan shape and cost are byte-identical to the unrotated
    residual form. Returns (coarse (K, d), R (d, d), codebooks)."""
    import numpy as np

    _code_dtype(k)  # validate the codeword budget up front
    rows = (
        emb.orderBy("vec_id").limit(PQ_TRAIN_SAMPLE).select("embedding").collect()
    )
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    d = X.shape[1]
    assert d % m == 0, (d, m)
    coarse = _pq_seeded_kmeans(Xn, coarse_k, PQ_KMEANS_ITERS, 42)
    cell = (-2.0 * Xn @ coarse.T + (coarse**2).sum(axis=1)[None, :]).argmin(axis=1)
    Z = Xn - coarse[cell]
    R = _opq_eig_alloc_rotation(Z, m)
    books = _pq_train_books(Z @ R, m, k, seed)
    for _ in range(iters):
        Y = _pq_reconstruct(Z @ R, books)
        U, _s, Vt = np.linalg.svd(Z.T @ Y)
        R = U @ Vt
        books = _pq_train_books(Z @ R, m, k, seed)
    return coarse, R, books


@query("ann_pq_adc")  # rows-only: learned codebooks are sample/seed-specific
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_adc_topk(spark, sf_dir)


def pq_adc_topk(
    spark: SparkSession,
    sf_dir: str,
    m: int = PQ_SUBSPACES,
    k: int = PQ_CENTROIDS,
    rerank: int = 0,
) -> DataFrame:
    """ANN scale path #4 — product quantization with asymmetric
    distance computation (Jégou et al. 2011): the corpus lives as
    m-byte PQ codes (32× smaller than raw floats — the difference
    between an embedding index fitting executor memory at 100 TB or
    not); each query builds an m×k lookup table of exact
    sub-distances to every codeword ONCE, then scoring a candidate is
    m table lookups + adds — no float dot products in the scan.

    Output: (query_id, neighbor_id, adc_rank) — top-SIM_TOPK per query
    by ADC distance (ties by neighbor_id). Recall vs the exact top-k is
    pinned in tests (compressed-domain recall floor, plus the
    reconstruction-error sanity of the codebooks). Composes with IVF
    (`ivf_topk`) in the standard IVF-PQ layout: coarse cell prune, then
    ADC within probed cells — the composition is the two operators
    chained, no new machinery.

    Scale shape: codes build in one kernel pass; the query×code scan is
    a broadcast of SIM_N_QUERIES LUTs (query-count-bounded, NOT
    corpus-bounded) against the code table, partition-local top-k, then
    one small merge — the similarity_topk cogroup discipline."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    C = pq_train(emb, m=m, k=k)
    m, k, sub = C.shape
    codes = pq_encode(emb, C)

    q_rows = (
        emb.filter(F.col("vec_id") < SIM_N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )  # query set: bounded by SIM_N_QUERIES, not the corpus
    Q = np.array([r.embedding for r in q_rows], dtype=np.float64)
    Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    qids = np.array([r.vec_id for r in q_rows])
    # per-query LUT: (nq, m, k) exact sub-distances to every codeword
    lut = np.stack(
        [
            ((Q[:, None, i * sub : (i + 1) * sub] - C[i][None, :, :]) ** 2).sum(
                axis=2
            )
            for i in range(m)
        ],
        axis=1,
    )

    topk = SIM_TOPK
    shortlist_k = topk * rerank if rerank else topk

    def scan(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            codes_arr = np.array(list(pdf["codes"]), dtype=np.int64)  # (n, m)
            vec_ids = pdf["vec_id"].to_numpy()
            # ADC: sum LUT entries per (query, candidate)
            d = np.zeros((len(qids), len(codes_arr)))
            for i in range(m):
                d += lut[:, i, :][:, codes_arr[:, i]]
            out_q, out_n, out_d = [], [], []
            for qi in range(len(qids)):
                mask = vec_ids != qids[qi]
                order = np.lexsort((vec_ids[mask], d[qi][mask]))[:shortlist_k]
                sel = np.flatnonzero(mask)[order]
                out_q.extend([qids[qi]] * len(sel))
                out_n.extend(vec_ids[sel].tolist())
                out_d.extend(d[qi][sel].tolist())
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "adc": out_d}
            )

    partial = codes.mapInPandas(
        scan, "query_id LONG, neighbor_id LONG, adc DOUBLE"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    shortlist = partial.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= shortlist_k
    )
    if not rerank:
        return shortlist.select(
            "query_id", "neighbor_id", F.col("rn").cast("int").alias("adc_rank")
        )
    # Exact re-rank of the ADC shortlist (the standard IVF-PQ final
    # stage): the shortlist is query-count × (rerank·topk) bounded, so
    # joining the RAW embeddings back touches a bounded row set — the
    # compressed scan did the corpus-sized work.
    qe = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    ne = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_emb")
    )
    cos = dot(F.col("q_emb"), F.col("n_emb")) / (
        l2_norm(F.col("q_emb")) * l2_norm(F.col("n_emb"))
    )
    scored = (
        shortlist.select("query_id", "neighbor_id")
        .join(qe, "query_id")
        .join(ne, "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.round("cosine", 9).desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= topk)
        .select("query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"))
    )


@query("ann_ivf_pq_residual")  # rows-only: learned quantizers are seed-specific
def ann_ivf_pq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoded IVF-PQ (the FAISS default layout) at the
    standard nprobe with exact re-rank — see :func:`ivf_pq_topk`
    (residual=True). Recall-vs-raw dominance and the per-cell LUT
    discipline are pinned in tests/test_vectors.py."""
    return ivf_pq_topk(spark, sf_dir, nprobe=8, rerank=10, residual=True)


@query("ann_ivf_pq_opq")  # rows-only: learned rotation/codebooks are seed-specific
def ann_ivf_pq_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-rotated residual IVF-PQ (FAISS `OPQd_m,IVFK,PQm` in index-
    factory terms) at the standard nprobe with exact re-rank — see
    :func:`pq_train_residual_opq`. Compressed-recall gain over the
    unrotated residual form and the rotation's orthogonality are
    pinned in tests/test_vectors.py."""
    return ivf_pq_topk(spark, sf_dir, nprobe=8, rerank=10, opq=True)


def ivf_pq_topk(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_SUBSPACES,
    k: int = PQ_CENTROIDS,
    rerank: int = 0,
    residual: bool = False,
    opq: bool = False,
) -> DataFrame:
    """The full FAISS-style IVF-PQ layout — coarse KMeans cells prune
    the candidate set (ivf_topk's quantizer), PQ-ADC scores the
    survivors in the compressed domain, an optional exact re-rank
    finishes. At 100 TB this is THE standard layout: the index holds
    cell id + m int8 codes per vector (no raw floats in the scan), a
    query touches nprobe/K of the index, and each touched row costs m
    table lookups.

    ``residual=True`` (r7, VERDICT r6 #3) encodes x - centroid[cell]
    instead of the raw vector — the FAISS default, strictly better
    codes at the same budget (recall pinned: 0.296 -> 0.33 on the
    fixture). The LUT becomes per (query, probed cell) — built from the
    QUERY residual to that cell — still query-count × nprobe bounded,
    never corpus-bounded; the scan cost per candidate is identical (m
    lookups).

    Sanity identity pinned in tests: at nprobe = IVF_K (probe
    everything) the raw form equals the pure ADC scan with the same
    codebooks — the composition changes the candidate set, never the
    scoring. (The residual form's codes depend on the cell by design,
    so its full-probe pin is recall-dominance + nprobe monotonicity.)"""
    import numpy as np
    import pandas as pd

    nprobe = min(nprobe, IVF_K)
    emb = load_table(spark, sf_dir, "embeddings")

    Ropq = None
    if opq:
        # residual + learned orthogonal rotation (OPQ); same scan
        # shape, codes spend their bits in variance-balanced blocks
        residual = True
        coarse, Ropq, C = pq_train_residual_opq(emb, coarse_k=IVF_K, m=m, k=k)
    elif residual:
        # coarse = sample-trained L2 quantizer with MEAN centroids (the
        # residual must be small; see pq_train_residual's docstring)
        coarse, C = pq_train_residual(emb, coarse_k=IVF_K, m=m, k=k)
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        # coarse quantizer (ivf_topk's fit, same seed)
        vecs = emb.select(array_to_vector(F.col("embedding")).alias("features"))
        model = KMeans(k=IVF_K, seed=42, maxIter=5).fit(vecs)
        centers = np.array(model.clusterCenters(), dtype=np.float64)
        cn = centers / np.maximum(
            np.linalg.norm(centers, axis=1, keepdims=True), 1e-12
        )
        C = pq_train(emb, m=m, k=k)
    m, kk, sub = C.shape
    np_t, sql_t = _code_dtype(kk)

    def encode_with_cell(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.array(list(pdf["embedding"]), dtype=np.float64)
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            if residual:
                cell = (
                    -2.0 * Xn @ coarse.T + (coarse**2).sum(axis=1)[None, :]
                ).argmin(axis=1).astype(np.int32)
                E = Xn - coarse[cell]
                if Ropq is not None:
                    E = E @ Ropq
            else:
                cell = (Xn @ cn.T).argmax(axis=1).astype(np.int32)
                E = Xn
            codes = np.empty((len(X), m), dtype=np_t)
            for i in range(m):
                blk = E[:, i * sub : (i + 1) * sub]
                dist = -2.0 * blk @ C[i].T + (C[i] ** 2).sum(axis=1)[None, :]
                codes[:, i] = dist.argmin(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cell": cell, "codes": list(codes)}
            )

    index = emb.select("vec_id", "embedding").mapInPandas(
        encode_with_cell, f"vec_id LONG, cell INT, codes ARRAY<{sql_t}>"
    )

    # query side: probed cells + LUTs (both SIM_N_QUERIES-bounded;
    # residual LUTs are per (query, probed cell) — nq × nprobe × m × k)
    q_rows = (
        emb.filter(F.col("vec_id") < SIM_N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    Q = np.array([r.embedding for r in q_rows], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    qids = [int(r.vec_id) for r in q_rows]
    luts = {}
    if residual:
        probed = np.argsort(
            -2.0 * Qn @ coarse.T + (coarse**2).sum(axis=1)[None, :], axis=1
        )[:, :nprobe]
        for qi, qid in enumerate(qids):
            for c in probed[qi]:
                qr = Qn[qi] - coarse[int(c)]
                if Ropq is not None:
                    qr = qr @ Ropq
                luts[(qid, int(c))] = np.stack(
                    [
                        ((qr[i * sub : (i + 1) * sub][None, :] - C[i]) ** 2).sum(
                            axis=1
                        )
                        for i in range(m)
                    ]
                )  # (m, k)
    else:
        probed = np.argsort(-(Qn @ cn.T), axis=1)[:, :nprobe]
        for qi, qid in enumerate(qids):
            luts[qid] = np.stack(
                [
                    ((Qn[qi, i * sub : (i + 1) * sub][None, :] - C[i]) ** 2).sum(
                        axis=1
                    )
                    for i in range(m)
                ]
            )  # (m, k)

    # Probing is resolved IN the scan closure, never as a join: the
    # cell -> probing-queries map is query-count × nprobe bounded, so
    # it ships with the task like the LUTs. The r7 first cut joined a
    # broadcast (query, cell) pairs frame into the index — which
    # DUPLICATES every index row once per probing query (nq · nprobe /
    # K ≈ 50 copies here) before the Python scorer ever runs; the
    # Arrow transfer of the duplicated rows made the query ~200 s at
    # 100× while the pure ADC scan (one pass, all queries vectorized)
    # ran 12 s. One index pass + per-cell LUT stack restores the
    # pq_adc_topk scan shape with IVF's pruning: rows in unprobed
    # cells cost one pandas groupby bucket and nothing else.
    cell_qids: dict[int, list[int]] = {}
    for qi, qid in enumerate(qids):
        for c in probed[qi]:
            cell_qids.setdefault(int(c), []).append(qid)
    if residual:
        cell_luts = {
            cell: (np.array(qs_), np.stack([luts[(q, cell)] for q in qs_]))
            for cell, qs_ in cell_qids.items()
        }  # cell -> (qids (nq_c,), luts (nq_c, m, k))
    else:
        cell_luts = {
            cell: (np.array(qs_), np.stack([luts[q] for q in qs_]))
            for cell, qs_ in cell_qids.items()
        }

    topk = SIM_TOPK
    shortlist_k = topk * rerank if rerank else topk

    def adc_scan(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            out = []
            for cell, grp in pdf.groupby("cell"):
                entry = cell_luts.get(int(cell))
                if entry is None:
                    continue  # cell probed by no query
                q_arr, lut = entry  # (nq_c,), (nq_c, m, k)
                codes_arr = np.array(list(grp["codes"]), dtype=np.int64)
                vec_ids = grp["vec_id"].to_numpy()
                d = np.zeros((len(q_arr), len(codes_arr)))
                for i in range(m):
                    d += lut[:, i, :][:, codes_arr[:, i]]
                for qi in range(len(q_arr)):
                    mask = vec_ids != q_arr[qi]
                    order = np.lexsort((vec_ids[mask], d[qi][mask]))[:shortlist_k]
                    sel = np.flatnonzero(mask)[order]
                    out.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(
                                    len(sel), q_arr[qi], dtype=np.int64
                                ),
                                "neighbor_id": vec_ids[sel],
                                "adc": d[qi][sel],
                            }
                        )
                    )
            yield pd.concat(out) if out else pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "adc": []}
            )

    partial = index.mapInPandas(
        adc_scan, "query_id LONG, neighbor_id LONG, adc DOUBLE"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    shortlist = partial.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= shortlist_k
    )
    if not rerank:
        return shortlist.select(
            "query_id", "neighbor_id", F.col("rn").cast("int").alias("adc_rank")
        )
    qe = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    ne = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_emb")
    )
    cos = dot(F.col("q_emb"), F.col("n_emb")) / (
        l2_norm(F.col("q_emb")) * l2_norm(F.col("n_emb"))
    )
    scored = (
        shortlist.select("query_id", "neighbor_id")
        .join(qe, "query_id")
        .join(ne, "neighbor_id")
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.round("cosine", 9).desc(), "neighbor_id"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= topk)
        .select("query_id", "neighbor_id", F.round("cosine", 4).alias("cosine"))
    )


CENTROID_SCALE = 1_000_000  # 6-dp fixed-point quantization of float32 inputs


@query(
    "label_centroid_distances",
    oracle=f"""
WITH cell AS (
  SELECT label, g AS dim,
         sum(CAST(floor(CAST(embedding[g] AS DOUBLE) * {CENTROID_SCALE} + 0.5)
                  AS BIGINT)) AS s,
         count(*) AS n
  FROM embeddings, range(1, 65) r(g)
  GROUP BY 1, 2
),
cent AS (
  SELECT label, dim,
         floor(CAST(s AS DOUBLE) / {CENTROID_SCALE} / n * 10000 + 0.5) / 10000
           AS c
  FROM cell
),
pair AS (
  SELECT a.label AS label_a, b.label AS label_b,
         sum(CAST((a.c - b.c) * (a.c - b.c) AS DECIMAL(18,6))) AS ss
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
  GROUP BY 1, 2
)
SELECT label_a, label_b,
       floor(sqrt(CAST(ss AS DOUBLE)) * 10000 + 0.5) / 10000 AS centroid_dist
FROM pair ORDER BY label_a, label_b
""",
)
def label_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-separation audit of the embedding space: per-label
    centroids and the Euclidean distance between every label pair —
    the scalar summary behind "are these clusters collapsing?" drift
    checks (drift_report_embedding_dims watches per-dim moments; this
    watches BETWEEN-class geometry).

    Determinism: raw float32 components are 6-dp fixed-point quantized
    FIRST via the floor form (multiply/add/floor are bit-identical IEEE
    on both engines) so the per-cell sums are EXACT longs — deliberately
    NOT a DECIMAL cast of the float (a dyadic float like 1/128 lands
    exactly on a .5 decimal tie where engines' rounding modes could
    split). Centroids round4f; per-dim squared gaps snap to
    DECIMAL(18,6) before the exact cross-dim sum so no float-summation
    order exists anywhere.

    100 TB shape: one posexplode (×dims) into a (label, dim)-keyed
    hash aggregate — output is labels×dims cells regardless of row
    count; the pair grid joins centroids on dim (labels² × dims rows,
    model-bounded) and collapses to labels²/2 distances."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.floor(F.col("x").cast("double") * CENTROID_SCALE + F.lit(0.5)).cast(
        "long"
    )
    cell = (
        emb.select("label", F.posexplode("embedding").alias("dim", "x"))
        .select("label", "dim", q.alias("qx"))
        .groupBy("label", "dim")
        .agg(F.sum("qx").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    from ..catalog import round4f

    cent = cell.select(
        "label",
        "dim",
        round4f(
            F.col("s").cast("double") / CENTROID_SCALE / F.col("n")
        ).alias("c"),
    )
    a = cent.select(
        F.col("label").alias("label_a"), "dim", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim", F.col("c").alias("cb")
    )
    gap = (F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))
    pair = (
        a.join(b, "dim")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(gap.cast("decimal(18,6)")).alias("ss"))
    )
    return pair.select(
        "label_a",
        "label_b",
        round4f(F.sqrt(F.col("ss").cast("double"))).alias("centroid_dist"),
    ).orderBy("label_a", "label_b")
