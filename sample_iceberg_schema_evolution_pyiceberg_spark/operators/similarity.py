"""Tier C similarity search over ``embeddings`` (array<float>, 64-dim):
brute-force cosine top-k as the exactness baseline, LSH-bucketed ANN as
the scale path (SURVEY.md §2 C2-C3).

Scale design: brute force is one scan + TakeOrderedAndProject (per-
partition top-k, k-row driver merge) — correct baseline but O(n) per
query. The ANN variant buckets vectors by random-hyperplane signs so a
query probes ~n/2^bits vectors; the bucketing pass is one Arrow-batched
pandas UDF (numpy matmul) and the index is just a column — at 100 TB it
becomes a partition key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cosine
from .registry import query, t

N_TABLES = 4  # independent LSH tables (multi-table = the recall knob)
BITS_PER_TABLE = 4  # 16 buckets per table
N_PLANES = N_TABLES * BITS_PER_TABLE
_DIM = 64
# deterministic hyperplanes (fixed seed; float64)
_PLANES = np.random.RandomState(11).standard_normal((N_PLANES, _DIM))


# ---------------------------------------------------------------------------
# Unrolled fixed-dim cosine (r16 optimization round, guide §1.2 step 2)
#
# functions.dot/l2_norm fold with zip_with+aggregate — higher-order
# functions are CodegenFallback in Spark, so every PAIR of a pair query
# pays an interpreted 64-step fold. For a known fixed dim the same
# left-to-right sum unrolls into a flat codegen'd expression:
# 0.0 + a[0]*b[0] + a[1]*b[1] + ... parses left-associative, which is
# EXACTLY the fold's (((0+t1)+t2)+...) association — bit-identical
# doubles, same oracle hashes. A size guard falls back to the HOF fold
# for any row that is not dim-sized, so the helpers stay total.
# ---------------------------------------------------------------------------


def _dot_fold_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b},"
        " (x, y) -> cast(x as double) * cast(y as double)),"
        " 0.0D, (acc, v) -> acc + v)"
    )


def _unrolled_dot(a: str, b: str, dim: int = _DIM):
    terms = " + ".join(
        f"(cast({a}[{i}] as double) * cast({b}[{i}] as double))"
        for i in range(dim)
    )
    return F.expr(
        f"CASE WHEN size({a}) = {dim} AND size({b}) = {dim}"
        f" THEN 0.0D + {terms}"
        f" ELSE {_dot_fold_sql(a, b)} END"
    )


def _unrolled_norm(a: str, dim: int = _DIM):
    terms = " + ".join(
        f"(cast({a}[{i}] as double) * cast({a}[{i}] as double))"
        for i in range(dim)
    )
    return F.expr(
        f"CASE WHEN size({a}) = {dim} THEN sqrt(0.0D + {terms})"
        f" ELSE sqrt({_dot_fold_sql(a, a)}) END"
    )


def _query_vector(spark: SparkSession, sf: str) -> DataFrame:
    """The query point: embedding of vec_id=0, as a 1-row broadcastable
    DataFrame (a query constant, not a driver-side data loop)."""
    e = t(spark, sf, "embeddings")
    return e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec")
    )


@query(
    "c05_cosine_topk_brute",
    memo_plan=True,  # pure constructor: prepared-plan memo (r16)
    oracle="""
    SELECT e.vec_id, e.label,
           ROUND(LIST_COSINE_SIMILARITY(CAST(e.embedding AS DOUBLE[]),
                CAST(q.embedding AS DOUBLE[])), 6) AS cos_sim
    FROM embeddings e
    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 20
    """,
)
def c05_cosine_topk_brute(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-20 neighbors of vec_id=0. Dot/norms as
    the UNROLLED sequential double fold (r16: same left-to-right sums
    as the zip_with+aggregate form — bit-matches DuckDB's
    list_cosine_similarity — but whole-stage-codegen instead of the
    interpreted HOF path; see _unrolled_dot), rounded to 6."""
    e = t(spark, sf, "embeddings").filter(F.col("vec_id") != 0)
    q = _query_vector(spark, sf)
    cos = _unrolled_dot("embedding", "qvec") / (
        _unrolled_norm("embedding") * _unrolled_norm("qvec")
    )
    return (
        e.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cos, 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(20)
    )


def lsh_buckets_udf(n_tables: int = N_TABLES, bits: int = BITS_PER_TABLE,
                    seed: int = 11):
    """pandas UDF: embedding batch -> array of per-table hyperplane-sign
    bucket ids (one Arrow-batched numpy matmul for all tables).
    (n_tables, bits) is the recall/cost dial: per-table collision
    probability for angle θ is (1-θ/π)^bits, overall recall
    1-(1-p)^n_tables."""
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    planes = np.random.RandomState(seed).standard_normal((n_tables * bits, _DIM))

    def _buckets(emb):
        m = np.stack(emb.apply(lambda v: np.asarray(v, dtype=np.float64)))
        signs = (m @ planes.T) > 0  # (batch, n_tables*bits)
        weights = 1 << np.arange(bits)
        out = [
            (signs[:, l * bits : (l + 1) * bits] * weights).sum(axis=1)
            for l in range(n_tables)
        ]
        return pd.Series(np.stack(out, axis=1).tolist())

    _buckets.__annotations__ = {"emb": pd.Series, "return": pd.Series}
    return pandas_udf(_buckets, "array<bigint>")


@query("c06_ann_lsh_topk")  # approximate by design -> rows-only check
def c06_ann_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """ANN top-k: multi-table random-hyperplane LSH. Each vector lands
    in one bucket per table; a candidate matches the query in ANY table
    (union via explode + equi-join + distinct), then exact cosine ranks
    the candidates. N_TABLES trades recall for candidate-set size —
    recall vs the brute baseline asserted in tests."""
    buckets = lsh_buckets_udf()
    e = t(spark, sf, "embeddings").withColumn("buckets", buckets("embedding"))
    tb = e.select(
        "vec_id",
        "label",
        "embedding",
        F.posexplode("buckets").alias("table_id", "bucket"),
    )
    q = (
        tb.filter(F.col("vec_id") == 0)
        .select(
            F.col("embedding").alias("qvec"),
            "table_id",
            F.col("bucket").alias("qbucket"),
        )
    )
    cand = (
        tb.filter(F.col("vec_id") != 0)
        .join(
            F.broadcast(q),
            (tb.table_id == q.table_id) & (F.col("bucket") == F.col("qbucket")),
        )
        .select("vec_id", "label", tb.embedding, "qvec")
        .dropDuplicates(["vec_id"])
    )
    return (
        cand.select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("qvec")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(20)
    )


N_CENTROIDS = 16  # IVF codebook size
N_PROBE = 4  # centroids probed per query (the recall knob)
# deterministic fixed-seed codebook (c06c's structural twin); the
# trained path is train_ivf_codebook + c06d — same index structure
# and query path, data-fitted centroids.
_CENTROIDS = np.random.RandomState(23).standard_normal((N_CENTROIDS, _DIM))
_CENTROIDS /= np.linalg.norm(_CENTROIDS, axis=1, keepdims=True)


def ivf_assign_udf(n_nearest: int, centroids: np.ndarray | None = None):
    """pandas UDF: embedding batch -> array of the ``n_nearest``
    centroid ids by cosine (one numpy matmul per Arrow batch).
    ``centroids`` defaults to the fixed-seed codebook; pass a trained
    one (train_ivf_codebook) for the production path. The codebook
    rides into executors as a closure constant — model parameters, not
    data."""
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    cents = _CENTROIDS if centroids is None else centroids

    def _assign(emb):
        m = np.stack(emb.apply(lambda v: np.asarray(v, dtype=np.float64)))
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ cents.T  # (batch, k)
        top = np.argsort(-sims, axis=1)[:, :n_nearest]
        return pd.Series(top.tolist())

    _assign.__annotations__ = {"emb": pd.Series, "return": pd.Series}
    return pandas_udf(_assign, "array<int>")


IVF_TARGET_CELL = 2048  # auto-sizing target: mean vectors per cell


def auto_codebook_k(
    n_vectors: int, target_cell: int = IVF_TARGET_CELL
) -> int:
    """Codebook size for an ``n_vectors`` corpus: k ~ n/target_cell,
    floored at N_CENTROIDS and capped at n (r16 — VERDICT r15 item 4,
    enforcing the SCALE.md R15 guidance as the default). The R15
    decade probe measured why: an UNDERSIZED codebook (k=16 at 200k
    vectors) trips the C34_MAX_CELL_SIZE pair cap in every cell
    (1.256B->391M pairs), while sane sizing (k=64@20k, k=256@200k)
    leaves the cap inert — auto-sizing makes the cap
    belt-and-suspenders, not the primary defense."""
    if n_vectors <= 0:
        return N_CENTROIDS
    return max(1, min(n_vectors, max(N_CENTROIDS, n_vectors // target_cell)))


def train_ivf_codebook(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: "int | None" = None,
    iters: int = 3,
) -> np.ndarray:
    """Spherical-KMeans training for the IVF codebook, as DataFrame
    ops (Lloyd's iterations): the assignment step is the same
    Arrow-batched matmul the index uses (map-side only, no shuffle);
    the update step is ``posexplode -> groupBy(cell, pos).avg`` — the
    exchange carries k×dim averaged cells, never rows. The only driver
    materialization is the k×dim centroid matrix per iteration (model
    parameters, the same tiny-aggregate exemption as c18's convergence
    probe). Init is the first ``k`` vectors by ``id_col`` (deterministic;
    KMeans++ on a sample is the quality upgrade, not a structure
    change). Empty cells keep their previous centroid. Returns a
    unit-norm (k, dim) codebook.

    ``k=None`` (the default) AUTO-SIZES via ``auto_codebook_k`` —
    one count() of the training frame, then k ~ n/IVF_TARGET_CELL.
    Pass k explicitly to pin a size (gates and probes do).

    At 100 TB: train on a bounded sample (``df.sample(...)``) — one
    pass per iteration over the sample, centroids stay a broadcast
    closure; the corpus itself is only ever touched by the final
    assignment pass that writes the partition-key cell column.
    """
    if k is None:
        k = auto_codebook_k(df.count())
    # bounded: model parameters (k init vectors), not data
    init_rows = df.orderBy(id_col).limit(k).select(vec_col).collect()
    if not init_rows:
        raise ValueError(
            "train_ivf_codebook: cannot train on an empty frame"
        )
    cents = np.stack(
        [np.asarray(r[0], dtype=np.float64) for r in init_rows]
    )
    cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    for _ in range(iters):
        assigned = df.withColumn(
            "__cell", F.element_at(ivf_assign_udf(1, cents)(vec_col), 1)
        )
        means = (
            assigned.select(
                "__cell", F.posexplode(vec_col).alias("__pos", "__val")
            )
            .groupBy("__cell", "__pos")
            .agg(F.avg("__val").alias("__m"))
            .collect()  # bounded: model parameters (k x dim), not data
        )
        new = cents.copy()
        byc: dict[int, dict[int, float]] = {}
        for r in means:
            byc.setdefault(r["__cell"], {})[r["__pos"]] = r["__m"]
        for cell, dims in byc.items():
            v = np.array([dims[p] for p in range(len(dims))])
            n = np.linalg.norm(v)
            if n > 1e-12:
                new[cell] = v / n
        cents = new
    return cents


@query("c06c_ann_ivf_topk")  # approximate by design -> rows-only check
def c06c_ann_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """ANN top-k via IVF (inverted-file index): every vector is
    assigned to its nearest centroid (the posting list it lives in);
    a query probes only the N_PROBE nearest centroids' lists, then
    exact cosine ranks that candidate subset. The centroid id is a
    plain column — at 100 TB it becomes the partition key, so a probe
    reads N_PROBE partitions instead of the corpus (the IVF twin of
    the c06 LSH buckets; recall vs brute force asserted in tests)."""
    e = t(spark, sf, "embeddings").withColumn(
        "cell", F.element_at(ivf_assign_udf(1)("embedding"), 1)
    )
    q = (
        e.filter(F.col("vec_id") == 0)
        .select(
            F.col("embedding").alias("qvec"),
            F.explode(ivf_assign_udf(N_PROBE)("embedding")).alias("cell"),
        )
    )
    cand = e.filter(F.col("vec_id") != 0).join(F.broadcast(q), "cell")
    return (
        cand.select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("qvec")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(20)
    )


@query("c06d_ann_ivf_trained_topk")  # approximate by design -> rows-only
def c06d_ann_ivf_trained_topk(spark: SparkSession, sf: str) -> DataFrame:
    """c06c's IVF query path with a TRAINED codebook: spherical KMeans
    (train_ivf_codebook, 2 Lloyd's iterations as DataFrame ops)
    replaces the fixed-seed centroids, so posting lists follow the
    data's actual cluster structure — the production IVF recipe. Index
    build and probe are identical to c06c; only the model differs."""
    e = t(spark, sf, "embeddings")
    cb = train_ivf_codebook(e, iters=2)
    e = e.withColumn(
        "cell", F.element_at(ivf_assign_udf(1, cb)("embedding"), 1)
    )
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec"),
        F.explode(ivf_assign_udf(N_PROBE, cb)("embedding")).alias("cell"),
    )
    cand = e.filter(F.col("vec_id") != 0).join(F.broadcast(q), "cell")
    return (
        cand.select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("qvec")), 6).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(20)
    )


@query(
    "c13_dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]),
                 CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]),
          CAST(b.embedding AS DOUBLE[])) >= 0.3
    """,
)
def c13_dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.3 — calibrated to the synthetic embeddings' cosine range). Exact all-pairs
    here (oracle-checkable); at corpus scale the c06 LSH buckets gate
    the pair generation and this exact scoring runs per bucket — the
    composition is `bucket-join >> this`, both shapes are in the repo.
    """
    e = t(spark, sf, "embeddings")
    # r16: norms are per-VECTOR quantities — compute them once per side
    # before the pair join instead of re-folding both inside every
    # pair's cosine (the all-pairs stage then pays only the dot), and
    # the dot itself is the unrolled codegen expression rather than the
    # CodegenFallback HOF fold (see _unrolled_dot — bit-identical sums,
    # measured ~8x on this stage). Same physical join; values and
    # hashes unchanged.
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        _unrolled_norm("embedding").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        _unrolled_norm("embedding").alias("nb"),
    )
    cos = _unrolled_dot("ea", "eb") / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= 0.3)
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cos_sim"))
    )


@query("c13b_dedup_lsh_gated_cosine")  # hash family not SQL-reproducible
def c13b_dedup_lsh_gated_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """The scale-shaped composition c13's docstring promises: LSH
    buckets gate the pair generation, exact cosine verifies. Pairs are
    generated ONLY within a (table, bucket) posting list — quadratic in
    bucket size, never in corpus size — then scored exactly (threshold
    0.3, same as c13). Every emitted pair is exact (precision 1 vs
    c13); recall is the multi-table LSH knob, asserted in tests.

    At 100 TB: (table_id, bucket) is the shuffle key; embeddings ride
    the posting lists (the on-disk layout real vector indexes use), so
    the verify is map-side within each bucket partition — no second
    corpus join to re-fetch vectors. The bound that comes with it:
    8 tables x 3-bit buckets is at most 64 fold groups, each carrying
    about N/8 full embeddings (every vector once per table, so the
    fold exchange moves 8N embeddings), and the pair work per group is
    quadratic in its size.

    Banding is 8 tables x 3 bits (vs c06's 4x4): the 0.3-cosine target
    is a wide-angle pair (~73°, per-table collision 0.597^3≈0.21), so
    recall needs many short bands — 1-(1-0.21)^8 ≈ 0.85.

    r17 (guide §3.3, the restructure proven on c02/c04): the
    (table_id, bucket) SELF-JOIN emitted k^2 rows per bucket and
    filtered half away after the join; bucket members now fold into
    ONE vec_id-sorted posting list per bucket and the a<b pair stream
    is generated by codegen'd posexplode+slice — exactly k(k-1)/2
    rows, no join build, one exchange of the bucket rows instead of
    two join arms. Additionally the cosine is scored and thresholded
    INSIDE the per-bucket pair stream (map-side after the fold), so
    the cross-table dedup shuffles only the surviving
    (vec_a, vec_b, cos) scalars (guide §2.3: shuffle decisions, not
    payloads). Embeddings do ride the fold exchange above; only this
    dedup exchange is scalar-only. Same pairs, same arithmetic, same
    values."""
    buckets = lsh_buckets_udf(n_tables=8, bits=3, seed=31)
    e = t(spark, sf, "embeddings").withColumn("buckets", buckets("embedding"))
    tb = e.select(
        "vec_id",
        "embedding",
        # per-vector norm computed BEFORE the bucket fold (r16): the
        # verify stage then pays only the unrolled dot per pair
        _unrolled_norm("embedding").alias("nrm"),
        F.posexplode("buckets").alias("table_id", "bucket"),
    )
    # vec_id is unique and leads the struct, so array_sort orders by it
    # and the slice-generated pairs are exactly vec_a < vec_b
    posts = (
        tb.groupBy("table_id", "bucket")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("vec_id", "nrm", "embedding"))
            ).alias("vs")
        )
        .filter(F.size("vs") >= 2)
    )
    pairs = posts.select(F.posexplode("vs").alias("i", "a"), "vs").select(
        "a",
        F.explode(F.slice("vs", F.col("i") + 2, F.size("vs"))).alias("b"),
    )
    cos = _unrolled_dot("a.embedding", "b.embedding") / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        pairs.filter(cos >= 0.3)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cos_sim"),
        )
        .dropDuplicates(["vec_a", "vec_b"])  # pair may share >1 table
    )


@query(
    "c06b_knn_join_sampled",
    oracle="""
    WITH probes AS (SELECT vec_id AS qid, embedding AS qvec
                    FROM embeddings WHERE vec_id < 5)
    SELECT qid, vec_id AS nbr,
           ROUND(LIST_COSINE_SIMILARITY(CAST(e.embedding AS DOUBLE[]),
                CAST(p.qvec AS DOUBLE[])), 6) AS cos_sim
    FROM embeddings e CROSS JOIN probes p
    WHERE e.vec_id <> p.qid
    QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY cos_sim DESC, vec_id) <= 5
    """,
)
def c06b_knn_join_sampled(spark: SparkSession, sf: str) -> DataFrame:
    """k-NN *join* (5 query points x top-5): broadcast the probe set,
    window top-k per query — the batched retrieval shape (probe set
    broadcast, corpus never reshuffled)."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    e = t(spark, sf, "embeddings")
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    scored = (
        e.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            F.col("vec_id").alias("nbr"),
            F.round(cosine(F.col("embedding"), F.col("qvec")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("nbr"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


@query(
    "c06e_ann_ivf_verified_topk",
    oracle="""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id = 0),
         r AS (SELECT CAST(embedding AS DOUBLE[]) AS re
               FROM embeddings WHERE vec_id = 1),
         planted AS (
           SELECT 1000000 + i AS vec_id, -1 AS label,
                  list_transform(generate_series(1, 64),
                      j -> q.qe[j] + (i / 100.0) * r.re[j]) AS embedding
           FROM generate_series(1, 20) t(i), q, r
         ),
         corpus AS (
           SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS embedding
           FROM embeddings
           UNION ALL
           SELECT vec_id, label, embedding FROM planted
         )
    SELECT c.vec_id, c.label,
           ROUND(LIST_COSINE_SIMILARITY(c.embedding, q.qe), 6) AS cos_sim
    FROM corpus c, q
    WHERE c.vec_id <> 0
    ORDER BY cos_sim DESC, c.vec_id
    LIMIT 20
    """,
)
def c06e_ann_ivf_verified_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF probe as a HASH-GATED query (VERDICT r10 item 6): the full
    IVF machinery — cell assignment on every corpus row, probe-N_PROBE
    cell restriction, candidate equi-join, exact cosine re-rank with a
    deterministic tie-break — runs against a planted-neighbor episode
    whose true top-20 provably lives inside the probed cells, so the
    approximate index's VERIFIED output is exact by construction and a
    DuckDB brute-force oracle over the same corpus hash-gates it.

    The plant: 20 mixtures q + (i/100)·r (i=1..20) of two corpus
    vectors, built with the same elementwise double arithmetic on both
    engines. Their cosines to q descend smoothly 0.99995→0.98 — far
    above the natural corpus ceiling (~0.6 on the synthetic
    embeddings) — so brute-force top-20 = the 20 plants; and because
    each mixture is dominated by q, its nearest centroid is q's, which
    probe-4 always includes. If the assignment UDF, the probe
    restriction, or the re-rank drifted, plants would fall out of the
    candidate set and the hash gate would fail — this is the
    correctness pin for the c06c/c06d scale path, whose recall on
    natural (unplanted) queries stays the rows-only + measured story
    (tests + bench_results/ann_1m_r10.json).

    At 100 TB the shape is unchanged: `cell` is the partition key, the
    probe is a driver-known 4-cell filter (partition pruning), the
    plant union is a test fixture, not a production stage."""
    e = t(spark, sf, "embeddings").select(
        "vec_id",
        "label",
        # float32 -> double ONCE, before any arithmetic, so both
        # engines do identical elementwise double math on the plants
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    qrow = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    rrow = e.filter(F.col("vec_id") == 1).select(
        F.col("embedding").alias("re")
    )
    planted = (
        spark.range(1, 21)
        .crossJoin(F.broadcast(qrow))
        .crossJoin(F.broadcast(rrow))
        .select(
            (F.col("id") + 1000000).alias("vec_id"),
            F.lit(-1).alias("label"),
            F.zip_with(
                "qe",
                "re",
                lambda x, y: x + (F.col("id") / F.lit(100.0)) * y,
            ).alias("embedding"),
        )
    )
    corpus = e.unionByName(planted).withColumn(
        "cell", F.element_at(ivf_assign_udf(1)("embedding"), 1)
    )
    probe = (
        e.filter(F.col("vec_id") == 0)
        .select(
            F.col("embedding").alias("qvec"),
            F.explode(ivf_assign_udf(N_PROBE)("embedding")).alias("cell"),
        )
    )
    cand = corpus.filter(F.col("vec_id") != 0).join(F.broadcast(probe), "cell")
    return (
        cand.select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("qvec")), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(20)
    )

@query(
    "c34_semantic_dedup_cells",
    oracle="""
    WITH seeds AS (
      SELECT vec_id AS seed_id, embedding AS sv FROM embeddings
      WHERE vec_id < 8
    ),
    assign AS (
      SELECT e.vec_id, s.seed_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY LIST_COSINE_SIMILARITY(
                 CAST(e.embedding AS DOUBLE[]),
                 CAST(s.sv AS DOUBLE[])) DESC, s.seed_id) AS rn
      FROM embeddings e CROSS JOIN seeds s
    ),
    cells AS (
      SELECT vec_id, seed_id AS cell FROM assign WHERE rn = 1
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM cells a
      JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE LIST_COSINE_SIMILARITY(CAST(ea.embedding AS DOUBLE[]),
            CAST(eb.embedding AS DOUBLE[])) >= 0.3
    )
    SELECT c.vec_id, c.cell, d.vec_id IS NULL AS keep
    FROM cells c LEFT JOIN dropped d ON d.vec_id = c.vec_id
    """,
)
def c34_semantic_dedup_cells(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style SEMANTIC dedup (Abbas et al. 2023): assign every
    embedding to its nearest of K centroids, then drop, WITHIN each
    cell only, every vector with a smaller-id cell-mate above the
    cosine threshold (keep-first — the deterministic keeper rule c21
    also uses). The cell gate is the whole point at scale: pairwise
    work is quadratic in CELL size, never in corpus size, and the
    per-cell joins shuffle on the cell key exactly like the IVF probe
    (c06c shares the layout).

    Centroids here are the first K=8 vectors by id — DETERMINISTIC
    seeding, so the full pipeline (assignment argmax, cell gate,
    threshold, keeper rule) is hash-checkable against the DuckDB
    oracle, the same pattern that made the IVF probe gateable (c06e).
    The production variant swaps in train_ivf_codebook's k-means
    centroids (c06d) with identical plumbing: a broadcast k x dim
    matmul for assignment, cell-partitioned self-joins after.
    Threshold 0.3 matches c13 (calibrated to the synthetic
    embeddings' cosine range).

    Degenerate-codebook guard (r13 VERDICT item 2): pair work is
    quadratic in CELL size, and nothing in the assignment stops one
    cell from swallowing the corpus (a codebook whose other centroids
    sit in empty space). ``_cell_chunks`` bounds it: cells are
    sub-chunked to at most ``C34_MAX_CELL_SIZE`` vectors (contiguous
    vec_id ranks, so keep-first stays deterministic) and pairs only
    form within a chunk — worst-case pair work drops from n^2 to
    n * C34_MAX_CELL_SIZE. Cross-chunk pairs are skipped, the same
    recall-for-boundedness trade LSH banding (c02) and the c04 DF cap
    already make; under the cap the chunk id is 0 everywhere and the
    semantics (and the sf0.01 gate hash) are bit-identical to the
    unchunked join."""
    K, TAU = 8, 0.3
    e = t(spark, sf, "embeddings")
    seeds = e.filter(F.col("vec_id") < K).select(
        F.col("vec_id").alias("seed_id"), F.col("embedding").alias("sv")
    )
    from pyspark.sql.window import Window  # noqa: PLC0415

    w = Window.partitionBy("vec_id").orderBy(
        F.col("cs").desc(), F.col("seed_id")
    )
    cells = (
        e.crossJoin(F.broadcast(seeds))
        .withColumn("cs", cosine(F.col("embedding"), F.col("sv")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("seed_id").alias("cell"), "embedding")
    )
    return _semdedup_keep(cells, TAU)


def _semdedup_keep(cells: DataFrame, tau: float) -> DataFrame:
    """(vec_id, cell, keep) from an assigned (vec_id, cell, embedding)
    frame: within each cell (chunk-capped, ``_c34_pair_candidates``),
    drop every vector with a smaller-id cell-mate at cosine >= tau —
    keep-first, the deterministic SemDeDup keeper rule. Shared by the
    c34 gate episode and the production ``semantic_dedup``."""
    dropped = (
        _c34_pair_candidates(cells)
        .filter(cosine(F.col("ea"), F.col("eb")) >= tau)
        .select(F.col("vb").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(True))
    )
    return (
        cells.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce(~F.col("is_dropped"), F.lit(True)).alias("keep"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    tau: float = 0.3,
    k: "int | None" = None,
    iters: int = 3,
) -> DataFrame:
    """PRODUCTION SemDeDup (r16): train a spherical-KMeans codebook
    on the corpus — ``k=None`` auto-sizes via ``auto_codebook_k``, so
    cells stay ~IVF_TARGET_CELL vectors and the per-cell pair cap is
    belt-and-suspenders (SCALE.md R15/R16) — assign every vector to
    its nearest cell, and keep-first within cells at cosine >= tau.
    Returns (vec_id, cell, keep). The c34 gate episode is the
    hash-checkable twin with deterministic seed centroids; this is
    the entry point a pipeline calls.

    100 TB shape: training costs iters + 2 bounded passes (count,
    k-row init, one assign+fold per Lloyd iteration); the final
    assignment is one Arrow-batched map-side matmul whose output is
    PERSISTED here — ``_semdedup_keep`` reads the assigned frame in
    three join branches, and without the persist each branch would
    recompute the corpus-wide matmul. Callers evaluate the result
    then ``spark.catalog.clearCache()`` (or unpersist) when done.
    Pair work is bounded by cell size times the chunk cap, never
    corpus-quadratic. Empty input returns an empty frame."""
    if df.isEmpty():
        return (
            df.select(F.col(id_col).alias("vec_id"))
            .limit(0)
            .withColumn("cell", F.lit(None).cast("int"))
            .withColumn("keep", F.lit(True))
        )
    cb = train_ivf_codebook(
        df, vec_col=vec_col, id_col=id_col, k=k, iters=iters
    )
    cells = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
    ).withColumn(
        "cell", F.element_at(ivf_assign_udf(1, cb)("embedding"), 1)
    ).persist()
    return _semdedup_keep(cells, tau)


@query("c34b_semantic_dedup_trained")  # trained codebook -> rows-only
def c34b_semantic_dedup_trained(
    spark: SparkSession, sf: str
) -> DataFrame:
    """Gate wiring for ``semantic_dedup`` over ``embeddings`` with the
    AUTO-SIZED trained codebook (rows-only by design — Lloyd's float
    summation order varies with exchange merge order, like the c06
    family; the planted-duplicate contract is pytest-pinned)."""
    out = semantic_dedup(t(spark, sf, "embeddings"))
    return out.groupBy("keep").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("cell").alias("n_cells"),
    )


# Per-cell pair-work bound for c34 (r13 VERDICT item 2). Same blowup
# class C04_MAX_GRAM_DF caps for the gram join (dedup.py): one
# degenerate cell makes the within-cell self-join quadratic in corpus
# size. 4096 keeps a worst chunk at ~16.8M candidate pairs (seconds of
# executor work); every gate/sweep scale (<=2000 vectors total) sits
# far under it, so the guard is inert where hashes are pinned.
C34_MAX_CELL_SIZE = 4096


def _c34_pair_candidates(cells: DataFrame) -> DataFrame:
    """Within-cell candidate pairs (va < vb), bounded: each cell is
    chunked into contiguous-by-vec_id runs of at most
    ``C34_MAX_CELL_SIZE`` and the self-join keys on (cell, chunk).
    The rank window shuffles on the cell key once — the same exchange
    the join itself needs, so under the cap the plan cost is the sort,
    not an extra shuffle."""
    from pyspark.sql.window import Window  # noqa: PLC0415

    wc = Window.partitionBy("cell").orderBy("vec_id")
    chunked = cells.withColumn(
        "chunk",
        ((F.row_number().over(wc) - 1) / F.lit(C34_MAX_CELL_SIZE))
        .cast("long"),
    )
    a = chunked.select(
        F.col("vec_id").alias("va"), "cell", "chunk",
        F.col("embedding").alias("ea"),
    )
    b = chunked.select(
        F.col("vec_id").alias("vb"), "cell", "chunk",
        F.col("embedding").alias("eb"),
    )
    return a.join(b, ["cell", "chunk"]).filter(F.col("va") < F.col("vb"))
