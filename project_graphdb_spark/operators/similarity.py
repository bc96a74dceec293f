"""Similarity search over the ``embeddings`` table (array<float> column).

Training-data-pipeline surface (SURVEY.md §2.E): brute-force cosine
top-k as the exactness baseline, a k-NN join, a pairwise near-dup
operator, and an IVF (inverted-file) variant as the scale path.

All dot products are computed JVM-side with ``zip_with``/``aggregate``
folds over double-cast arrays — no Python UDFs. Determinism for the
oracle: similarity values are rounded to 6 decimals *before* ranking
and thresholding, and ranks tie-break on vec_id, so Spark and DuckDB
(``list_cosine_similarity`` over ``DOUBLE[]``) agree exactly.

Scale (100 TB): brute force is O(N·Q) — fine for a broadcast-able query
set (Q small), since the scan is embarrassingly parallel with no
shuffle. The IVF variant prunes the scan to nprobe clusters; the
cluster assignment is one narrow shuffle and the assignment table can
be written bucketed by cluster for repeated querying.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from project_graphdb_spark.io.tables import load_table
from project_graphdb_spark.workload import register

NEAR_DUP_THRESHOLD = 0.4  # test embeddings are random-ish; 0.4 yields pairs


def as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v"), "label"
    )


@register(
    "ann_cosine_top10",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT v FROM e WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id,
             round(list_cosine_similarity(e.v, q.v), 6) AS cos_sim
      FROM e, q WHERE e.vec_id <> 0
    )
    SELECT vec_id, cos_sim,
           ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS rnk
    FROM scored QUALIFY rnk <= 10 ORDER BY rnk
    """,
    description="brute-force cosine top-k for one query vector "
    "(exactness baseline for ANN)",
    headline=True,
)
def ann_cosine_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cos_sim"),
        )
    )
    # top-k via orderBy+limit (TakeOrderedAndProject — per-partition
    # heaps, no global sort shuffle); the rank window then runs over
    # just k rows. A global row_number window here would funnel every
    # row through one partition at scale.
    top = scored.orderBy(F.col("cos_sim").desc(), F.col("vec_id")).limit(10)
    w = W.orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return top.withColumn("rnk", F.row_number().over(w)).orderBy("rnk")


@register(
    "knn_join_top3",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
    scored AS (
      SELECT q.qid, e.vec_id,
             round(list_cosine_similarity(e.v, q.qv), 6) AS cos_sim
      FROM e, q WHERE e.vec_id <> q.qid
    )
    SELECT qid, vec_id, cos_sim,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY cos_sim DESC, vec_id) AS rnk
    FROM scored QUALIFY rnk <= 3 ORDER BY qid, rnk
    """,
    description="k-NN join: top-3 neighbors for each of a small query "
    "set (broadcast side), no shuffle on the big side",
)
def knn_join_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    # corpus-side norm below the join (r13, same bit-identical move as
    # embedding_near_dup_pairs): with |queries| scored rows per vector
    # the self-norm was re-folded per (vector, query) pair
    scored_emb = emb.select(
        "vec_id", "v", F.sqrt(dot(F.col("v"), F.col("v"))).alias("nv")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nq"),
    )
    scored = (
        scored_emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(
                dot(F.col("v"), F.col("qv"))
                / (F.col("nv") * F.col("nq")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("qid", "rnk")
    )


@register(
    "embedding_near_dup_pairs",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= {NEAR_DUP_THRESHOLD}
    ORDER BY vec_a, vec_b
    """,
    description="embedding-cosine near-duplicate pairs (brute-force "
    "tier: the recall ORACLE for embedding_near_dup_blocked — exact, "
    "O(n^2), test-scale only)",
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    # norms are projected BELOW the pair join (r13): cosine(va, vb)
    # recomputed sqrt(dot(x, x)) for both sides on every candidate row
    # — n(n-1)/2 redundant norm folds for n vectors. Computing each
    # vector's norm once on the join input is bit-identical (same
    # sqrt, same product, same division) and removes two of the three
    # per-pair dot products.
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nb"),
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= NEAR_DUP_THRESHOLD)
        .orderBy("vec_a", "vec_b")
    )


IVF_K = 8
IVF_NPROBE = 3
IVF_LLOYD_ITERS = 3

# Coarse-quantizer training sample (r9, SCALE.md): the quantizer is a
# fixed-size model — training it on the full corpus made each Lloyd
# round an O(corpus) scan (98% of ann_ivf_top10's sf10 wall time was
# the 200k-vector train). Standard IVF practice (e.g. the published
# FAISS guidance of ~39-256 training points per centroid) trains on a
# bounded sample; assignment stays full-corpus. 64 points/centroid
# scales the sample WITH k (k ~ sqrt(n) in the blocked paths, so a
# fixed cap would starve clusters as n grows); the 4096 floor keeps
# tiny-k quantizers (IVF_K=8) from under-sampling. Sampling only kicks
# in when it at least halves the scanned rows — below that (every
# sf <= 0.1 test fixture) training is bit-identical to the full-corpus
# form, so the recall ladder's small-SF assertions pin the same
# centroids as before.
IVF_TRAIN_POINTS_PER_CENTROID = 64
IVF_TRAIN_SAMPLE_MIN = 4096

_IVF_CACHE: dict[str, list[list[float]]] = {}


def _lit_vec(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def _rank_sim(sim: Column) -> Column:
    """6-dp rank key for centroid assignment, shared semantics with the
    Arrow path: ``sign(x) * floor(|x|*1e6 + 0.5)``.

    Deliberately NOT ``F.round``: ``round(double, 6)`` routes through
    BigDecimal.valueOf (shortest-decimal representation), whose HALF_UP
    boundary can disagree with any float-arithmetic emulation at the
    7th decimal — so the literal and Arrow paths could rank a
    boundary-value similarity differently. This elementary float
    formula is exactly what numpy evaluates in ``_probe_cids_arrow``;
    identical inputs rank identically on both paths, and inputs that
    differ only by float-summation noise coarsen to the same 1e-6 grid
    except within 1 ulp of a grid boundary (the documented
    approximate-parity contract). Used ONLY for internal ranking —
    reported ``cos_sim`` columns keep ``F.round`` to match the DuckDB
    oracle."""
    return F.signum(sim) * F.floor(F.abs(sim) * 1e6 + F.lit(0.5))


def _nearest_cid(cents: list[list[float]]) -> Column:
    """Argmax-by-cosine over driver-side centroids as ONE expression.

    Centroids are O(k·dim) — tiny at any data scale — so they ship as
    literal arrays inside the plan (the degenerate broadcast). The
    nearest-centroid pick is then a narrow map over the big side: no
    join, no per-vector window, no shuffle. Tie-break on the smallest
    cid via ``array_max(struct(sim, -cid))`` (largest -cid == smallest
    cid), matching the row_number ordering the previous formulation
    used.
    """
    sims = F.array(
        *[
            F.struct(
                _rank_sim(cosine(F.col("v"), _lit_vec(cv))).alias("s"),
                F.lit(-cid).alias("nc"),
            )
            for cid, cv in enumerate(cents)
        ]
    )
    return (-F.array_max(sims)["nc"]).alias("cid")


def lloyd_centroids(
    spark: SparkSession,
    emb: DataFrame,
    k: int = IVF_K,
    iters: int = IVF_LLOYD_ITERS,
) -> list[list[float]]:
    """Deterministic k-means coarse quantizer → k centroid vectors.

    Seeds with the ``k`` lowest-``vec_id`` vectors, then runs ``iters``
    Lloyd rounds: assign every vector to its nearest centroid by
    (rounded) cosine and recompute each centroid as the element-wise
    mean of its members. Centroid components round to 6 dp so the
    quantizer is bit-reproducible across partitionings; an emptied
    cluster keeps its previous centroid.

    Scale: the only driver-side materialization is the centroid list —
    O(k·dim) doubles per round, independent of data size (the same
    cadence Spark MLlib's KMeans uses). Each round is ONE Spark job:
    assignment is a literal-centroid argmax expression for
    ``k <= LITERAL_K_MAX`` (no join/window, see :func:`_nearest_cid`)
    and the Arrow probe kernel above it, fused into a (cid, pos) mean
    aggregation — a single narrow-map + one shuffle over the TRAINING SAMPLE, not
    the corpus: past ``2 * max(64*k, 4096)`` vectors, rounds iterate a
    persisted deterministic ``xxhash64(vec_id) % mod == 0`` sample (the
    quantizer is a fixed-size model; see IVF_TRAIN_POINTS_PER_CENTROID
    above). Assignment of the corpus to the trained centroids — the
    part whose output is per-vector — always remains full-corpus in the
    callers. The sample is deterministic given the corpus, so trained
    centroids stay reproducible across partitionings and sessions.
    """
    cents = [
        list(r["v"])
        for r in emb.filter(F.col("vec_id") < k).orderBy("vec_id").collect()
    ]
    if not cents:
        raise ValueError(
            "lloyd_centroids: no seed vectors (vec_id < k) in the "
            "embedding frame — cannot train a quantizer on empty input"
        )
    k = len(cents)  # fewer than k seeds → shrink k, don't crash
    train, sampled = emb, False
    if iters > 0:
        target = max(IVF_TRAIN_POINTS_PER_CENTROID * k, IVF_TRAIN_SAMPLE_MIN)
        n = emb.count()  # column-pruned: parquet row-count metadata scan
        if n > 2 * target:
            mod = n // target  # >= 2 by the guard above
            train = emb.filter(
                F.pmod(F.xxhash64("vec_id"), F.lit(mod)) == 0
            ).persist()
            sampled = True
    try:
        for _ in range(iters):
            assign = (
                _nearest_cid(cents)
                if k <= LITERAL_K_MAX
                else F.element_at(_probe_cids_arrow(cents, 1), 1).alias("cid")
            )
            means = (
                train.select(assign, "v")
                .select("cid", F.posexplode("v").alias("pos", "x"))
                .groupBy("cid", "pos")
                .agg(F.round(F.avg("x"), 6).alias("m"))
                .collect()
            )
            got: dict[int, dict[int, float]] = {}
            for r in means:
                got.setdefault(r["cid"], {})[r["pos"]] = r["m"]
            cents = [
                [got[i][p] for p in sorted(got[i])] if i in got else cents[i]
                for i in range(k)
            ]
    finally:
        if sampled:
            train.unpersist()
    return cents


def _ivf_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """Memoized trained quantizer per sf_dir — repeated calls (bench
    warm-up + timed pass) reuse the same centroids."""
    if sf_dir not in _IVF_CACHE:
        _IVF_CACHE[sf_dir] = lloyd_centroids(spark, _emb(spark, sf_dir))
    return _IVF_CACHE[sf_dir]


def _ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cid, v) nearest-centroid assignment frame, persisted
    per (session, sf_dir) — this IS the IVF index (same build-once
    convention as the PQ code frame in ``similarity_scale._pq_codes``).

    r8 re-assigned the entire corpus inside EVERY query plan; the
    assignment is per-vector state that depends only on the trained
    centroids, so recomputing it per query scaled each query by a full
    corpus pass (sf10: ~10 s of the measured 11.4 s warm query). At
    100 TB the equivalent is writing the assignment out partitioned /
    bucketed by ``cid`` so a probe reads only its ``nprobe`` buckets
    (cluster-pruned scan instead of full scan + filter); locally the
    persisted frame plays that role and the probe filter prunes
    in-memory batches.
    """
    from project_graphdb_spark.operators.dedup import _persisted_memo

    cents = _ivf_centroids(spark, sf_dir)

    def build() -> DataFrame:
        return _emb(spark, sf_dir).select("vec_id", "v", _nearest_cid(cents))

    return _persisted_memo(spark, sf_dir, "ivf_index", build)


@register(
    "ann_ivf_top10",
    oracle=None,  # approximate by construction; recall asserted in tests
    description="IVF-style ANN: k-means coarse quantizer (seeded "
    "deterministic Lloyd iterations), cluster assignment, nprobe=3 "
    "probe, brute force within probed clusters (the pruned-scan scale "
    "path)",
)
def ann_ivf_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    cents = _ivf_centroids(spark, sf_dir)
    # query = vec 0 (one tiny pruned-scan job); probe the 3 centroids
    # closest to it — k is driver-side, so the probe choice is too
    qrows = emb.filter(F.col("vec_id") == 0).collect()
    if not qrows:
        # query vector absent → empty result with the output schema,
        # matching the graceful degradation of the crossJoin form
        return emb.sparkSession.createDataFrame(
            [], "vec_id long, cos_sim double, rnk int"
        )
    qv = list(qrows[0]["v"])

    def _cos(a: list[float], b: list[float]) -> float:
        num = sum(x * y for x, y in zip(a, b))
        da = sum(x * x for x in a) ** 0.5
        db = sum(x * x for x in b) ** 0.5
        return round(num / (da * db), 6)

    probed = [
        cid
        for cid, _ in sorted(
            enumerate(cents), key=lambda c: (-_cos(c[1], qv), c[0])
        )[:IVF_NPROBE]
    ]
    # probe against the persisted assignment frame (the IVF index) —
    # the probe filter prunes to ~nprobe/k of the vectors before any
    # cosine against the query vector is computed, and the corpus-wide
    # assignment map is NOT re-executed per query
    w = W.orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        _ivf_index(spark, sf_dir)
        .filter(F.col("cid").isin(probed) & (F.col("vec_id") != 0))
        .select(
            "vec_id",
            F.round(cosine(F.col("v"), _lit_vec(qv)), 6).alias("cos_sim"),
        )
        # TakeOrdered top-k, then rank the 10 survivors
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
        .withColumn("rnk", F.row_number().over(w))
        .orderBy("rnk")
    )


BLOCK_NPROBE = 5

# Above this many centroids the literal-argmax expression stops being
# the right shape: the plan carries k·dim literals and k inlined
# 64-element cosine folds, so analysis/codegen cost grows O(k·dim)
# per query — fine for the fixed IVF_K=8, pathological for the
# k≈sqrt(n) blocking quantizer (k=142 at 20k vectors stalled codegen
# for minutes in the sf1 stress run). Past the cutoff, assignment
# switches to an Arrow-vectorized pandas_udf: centroids ride along as
# a numpy closure (O(k·dim) bytes broadcast once per task, not per
# plan node) and each batch is ONE (batch × dim)·(dim × k) matmul.
LITERAL_K_MAX = 16

_BLOCK_CENT_CACHE: dict[tuple[str, int], list[list[float]]] = {}


def _probe_cids(cents: list[list[float]], nprobe: int) -> Column:
    """Top-``nprobe`` nearest centroid ids for the row's vector ``v``
    as ONE narrow expression (the multi-probe generalization of
    :func:`_nearest_cid`): sort the (sim, -cid) structs descending —
    highest similarity first, ties on smallest cid — slice ``nprobe``,
    extract ids. No join, no window, no shuffle."""
    sims = F.array(
        *[
            F.struct(
                _rank_sim(cosine(F.col("v"), _lit_vec(cv))).alias("s"),
                F.lit(-cid).alias("nc"),
            )
            for cid, cv in enumerate(cents)
        ]
    )
    return F.transform(
        F.slice(F.sort_array(sims, asc=False), 1, nprobe),
        lambda x: -x["nc"],
    )


def _probe_cids_arrow(cents: list[list[float]], nprobe: int) -> Column:
    """Arrow-vectorized twin of :func:`_probe_cids` for large ``k``.

    Same contract (top-``nprobe`` cids by cosine rounded to 6 dp, ties
    on smallest cid — the stable argsort preserves ascending cid order
    for equal similarities) but computed as one numpy matmul per Arrow
    batch instead of k inlined expression folds. Still a narrow map:
    no join, no window, no shuffle; the centroid matrix is a task-side
    closure, O(k·dim) doubles regardless of data size.

    Value parity with the literal path (tested side by side in
    ``tests/test_llm_data_ops.py``): both paths rank by the SAME
    elementary formula ``sign(x)*floor(|x|*1e6+0.5)`` (see
    :func:`_rank_sim`), so identical inputs order identically; inputs
    differing by float-summation noise agree except within 1 ulp of a
    1e-6 grid boundary (approximate-parity contract). Degenerate
    inputs are where the paths intentionally differ: under ANSI mode
    the literal path's cosine raises DIVIDE_BY_ZERO on a zero-norm
    vector, while this path guards vector AND centroid norms so one
    bad row ranks deterministically (NaN->+inf pre-rank, ties to
    ascending cid) instead of killing a 100 TB job — the batch's
    healthy rows are unaffected.
    """
    from pyspark.sql.functions import pandas_udf

    cmat = np.asarray(cents, dtype="float64")
    cn = np.linalg.norm(cmat, axis=1, keepdims=True)
    np.maximum(cn, 1e-300, out=cn)
    cnorm = cmat / cn
    take = min(nprobe, len(cents))

    @pandas_udf("array<int>")
    def probes(vs: pd.Series) -> pd.Series:
        if not len(vs):
            return pd.Series([], dtype="object")
        vmat = np.array(vs.tolist(), dtype="float64")
        vn = np.linalg.norm(vmat, axis=1, keepdims=True)
        np.maximum(vn, 1e-300, out=vn)
        sims = (vmat / vn) @ cnorm.T
        # NaN (degenerate input) ranks first, as in Spark's desc sort
        np.copyto(sims, np.inf, where=np.isnan(sims))
        # the shared _rank_sim formula: sign(x)*floor(|x|*1e6+0.5)
        sims = np.sign(sims) * np.floor(np.abs(sims) * 1e6 + 0.5)
        order = np.argsort(-sims, axis=1, kind="stable")[:, :take]
        return pd.Series([row.tolist() for row in order.astype("int32")])

    return probes(F.col("v"))


def probe_cids(cents: list[list[float]], nprobe: int) -> Column:
    """Nearest-``nprobe`` centroid assignment, JVM expression for small
    k, Arrow-vectorized past ``LITERAL_K_MAX`` (same result contract)."""
    if len(cents) <= LITERAL_K_MAX:
        return _probe_cids(cents, nprobe)
    return _probe_cids_arrow(cents, nprobe)


def _block_centroids(
    spark: SparkSession, sf_dir: str, emb: DataFrame, k: int
) -> list[list[float]]:
    key = (sf_dir, k)
    if key not in _BLOCK_CENT_CACHE:
        _BLOCK_CENT_CACHE[key] = lloyd_centroids(spark, emb, k=k)
    return _BLOCK_CENT_CACHE[key]


def _blocked_candidates(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = BLOCK_NPROBE,
    a_sample_mod: int | None = None,
) -> tuple[DataFrame | None, int, int]:
    """(candidate-pair frame, n_vectors, k_centroids) for the blocked
    near-dup path: every vector lands in its top-``nprobe`` of
    ``k ~ sqrt(n)`` trained centroids; candidates are the distinct
    same-centroid (vec_a < vec_b) pairs from an equi-join on centroid
    id. The frame carries only ids — vectors join back later.

    ``a_sample_mod`` (telemetry only, never the operator path)
    restricts the LEFT side of the pair join to the deterministic
    1/mod hash-sample of vectors — the join cost scales by ~1/mod and
    each unordered pair survives iff its ``vec_a`` member is sampled,
    so ``count * mod`` is an unbiased estimate of the full candidate
    volume (xxhash64 sampling is independent of the id order that
    defines ``vec_a``)."""
    import math

    emb = _emb(spark, sf_dir)
    n = emb.count()
    if n == 0:
        return None, 0, 0
    k = max(IVF_K, math.isqrt(max(n - 1, 0)) + 1)  # ceil(sqrt(n)), >= 8
    cents = _block_centroids(spark, sf_dir, emb, k)
    probes = emb.select(
        "vec_id", F.explode(probe_cids(cents, nprobe)).alias("cid")
    )
    a_side = probes
    if a_sample_mod is not None and a_sample_mod > 1:
        a_side = probes.filter(
            F.pmod(F.xxhash64("vec_id"), F.lit(a_sample_mod)) == 0
        )
    a = a_side.alias("a")
    b = probes.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    return cand, n, k


def blocked_candidate_stats(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int = BLOCK_NPROBE,
    sample_mod: int | None = None,
) -> dict:
    """Measured vs predicted candidate volume for the blocked near-dup
    path — the observability hook the scale bench records so SCALE.md
    can track whether the P^2 * n^2 / k envelope actually holds as data
    grows (one count job over the id-only candidate frame; never part
    of the registered query's plan).

    At small SFs the count is exact. At the big SFs where a second full
    candidate generation would double a multi-minute job, pass
    ``sample_mod=m`` to count only the pairs whose ``vec_a`` falls in a
    deterministic 1/m hash-sample and report ``count * m`` — the join
    touches ~1/m of the a-side, bounding telemetry cost to a small
    fraction of the operator run while keeping the estimate unbiased
    (see :func:`_blocked_candidates`)."""
    cand, n, k = _blocked_candidates(
        spark, sf_dir, nprobe, a_sample_mod=sample_mod
    )
    raw = cand.count() if cand is not None else 0
    exact = sample_mod is None or sample_mod <= 1
    measured = raw if exact else raw * sample_mod
    predicted = nprobe * nprobe * n * n / k if k else 0.0
    out = {
        "n_vectors": n,
        "k_centroids": k,
        "nprobe": nprobe,
        "candidate_pairs": measured,
        "predicted_pairs": round(predicted, 1),
        "all_pairs": n * (n - 1) // 2,
    }
    if not exact:
        out["sample_mod"] = sample_mod
        out["sampled_pairs"] = raw
        out["estimated"] = True
    return out


@register(
    "embedding_near_dup_blocked",
    oracle=None,  # approximate by construction; recall >= 0.95 vs the
    # brute tier is asserted in tests/test_llm_data_ops.py
    description="embedding near-dup via IVF-centroid blocking: every "
    "vector lands in its top-5 nearest of ~sqrt(n) k-means centroids "
    "(multi-probe), candidate pairs come from an equi-join on centroid "
    "id, exact cosine verifies survivors (the 100 TB scale path; the "
    "all-pairs scan is demoted to recall oracle)",
)
def embedding_near_dup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked counterpart of :func:`embedding_near_dup_pairs`.

    Scale shape: with ``k ~ sqrt(n)`` centroids and a fixed probe count
    ``P``, expected candidate volume is ``P^2 * n^2 / k = P^2 * n^1.5``
    — sub-quadratic, and every stage is a narrow map or an equi-join
    (no cartesian / broadcast-nested-loop anywhere in the plan).
    Candidate generation carries only (vec_id, cid); vectors are joined
    back for the exact-cosine verify, mirroring the candidate-first
    LSH verify in ``operators/dedup.py``. Measured-vs-predicted
    candidate volume is observable via :func:`blocked_candidate_stats`.

    Honesty note: at the test threshold (0.4 — nearly random cosine on
    this synthetic data) blocking prunes little *locally*; the prune
    factor ``k / P^2`` only bites as n (and with it k) grows, or when
    near-dups are true duplicates (cos >= 0.85) as in a real corpus.
    Recall vs the brute tier at sf0.01 is ~0.98 (asserted >= 0.95).
    """
    cand, n, _k = _blocked_candidates(spark, sf_dir)
    if cand is None:
        return spark.createDataFrame(
            [], "vec_a long, vec_b long, cos_sim double"
        )
    emb = _emb(spark, sf_dir)
    # per-vector norms below the join (r13): the verify computed THREE
    # dot folds per candidate (pair dot + both self-norms) — with ~450
    # candidates per vector at sf0.1 that is ~900 redundant norm folds
    # per vector. Bit-identical (same sqrt, same product). Measured
    # same-session (3-rep medians, noop sink): full verify 7.62 s →
    # 3.66 s; candidate generation alone is 1.15 s of that.
    va = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("na"),
    )
    vb = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nb"),
    )
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(
                dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= NEAR_DUP_THRESHOLD)
        .orderBy("vec_a", "vec_b")
    )


@register(
    "emb_norm_stats",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           ROUND(sqrt(list_aggregate(
             list_transform(embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
             'sum')), 8) AS l2_norm,
           CAST(list_min(embedding) AS DOUBLE) AS min_c,
           CAST(list_max(embedding) AS DOUBLE) AS max_c
    FROM embeddings ORDER BY vec_id
    """,
    description="embedding hygiene stats: dimension, L2 norm, component "
    "range per vector (the pre-flight validation an embedding-similarity "
    "pipeline needs: catches unnormalized / truncated / NaN-polluted "
    "vectors before they poison ANN indexes). float32 components are "
    "widened to double before squaring (exact), so the only engine "
    "divergence is summation order — bounded ~1e-16, rounded to 8 dp "
    "on both sides",
)
def emb_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    sq_sum = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return (
        emb.select(
            "vec_id",
            F.size("embedding").cast("int").alias("dim"),
            F.round(F.sqrt(sq_sum), 8).alias("l2_norm"),
            F.array_min("embedding").cast("double").alias("min_c"),
            F.array_max("embedding").cast("double").alias("max_c"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Label-centroid outliers: mislabeled-example detection
# ---------------------------------------------------------------------------

CENTROID_OUTLIER_K = 3

#: enforced label-domain cap for the all-pairs centroid confusion audit
#: (r11): the guard raises if exceeded; the limit it licenses is what
#: makes the pair join STRUCTURALLY bounded in the executed plan.
CONFUSION_MAX_LABELS = 10_000
# exact-decimal centroid accumulation: embedding components are O(1)
# floats, 12 fractional digits of headroom; DECIMAL sums are
# bit-identical in Spark and DuckDB regardless of accumulation order,
# so the centroid VECTOR (not just the final score) matches across
# engines and the 6-dp rounded cosine can never straddle an engine gap
_CEN_DEC = "DECIMAL(28,12)"


def _label_centroids(emb: DataFrame) -> DataFrame:
    """(label, cv) — per-label centroid vectors via exact-DECIMAL
    element sums: the centroid VECTOR is engine-identical (not just a
    rounded score), which is what keeps both label-audit queries' 6-dp
    cosines from ever straddling an engine gap. Shared by
    emb_label_centroid_outliers and emb_label_confusion_pairs — the
    parity-critical kernel must have exactly one copy."""
    ex = emb.select("label", F.posexplode("v").alias("i", "x"))
    cen = ex.groupBy("label", "i").agg(
        (
            F.sum(F.col("x").cast(_CEN_DEC)).cast("double") / F.count("*")
        ).alias("c")
    )
    return cen.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))),
            lambda s: s["c"],
        ).alias("cv")
    )


@register(
    "emb_label_centroid_outliers",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ),
    ex AS (
      SELECT vec_id, label, generate_subscripts(v, 1) AS i, unnest(v) AS x
      FROM e
    ),
    cen AS (
      SELECT label, i,
             CAST(SUM(CAST(x AS {_CEN_DEC})) AS DOUBLE) / COUNT(*) AS c
      FROM ex GROUP BY label, i
    ),
    cvec AS (
      SELECT label, list(c ORDER BY i) AS cv FROM cen GROUP BY label
    ),
    scored AS (
      SELECT e.label, e.vec_id,
             round(list_cosine_similarity(e.v, cvec.cv), 6)
               AS cos_centroid
      FROM e JOIN cvec ON e.label = cvec.label
    )
    SELECT label, vec_id, cos_centroid,
           ROW_NUMBER() OVER (PARTITION BY label
                              ORDER BY cos_centroid ASC, vec_id) AS rnk
    FROM scored QUALIFY rnk <= {CENTROID_OUTLIER_K}
    ORDER BY label, rnk
    """,
    description=f"mislabeled-example detection: per-label embedding "
    f"centroid (exact-decimal element sums), then the "
    f"{CENTROID_OUTLIER_K} members least cosine-similar to their own "
    "label's centroid. Centroid frame is labels x dim (tiny, "
    "broadcast); the corpus side is one explode + one (label, i) "
    "shuffle + a label-partitioned window — linear at 100 TB",
)
def emb_label_centroid_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The embedding-space data-quality op a training pipeline runs
    before contrastive/classification training: members far from their
    label centroid are candidate label errors (Northcutt et al.'s
    confident-learning intuition, geometric form)."""
    from pyspark.sql import Window as W

    emb = _emb(spark, sf_dir)
    cvec = _label_centroids(emb)
    scored = emb.join(F.broadcast(cvec), "label").select(
        "label",
        "vec_id",
        F.round(cosine(F.col("v"), F.col("cv")), 6).alias("cos_centroid"),
    )
    w = W.partitionBy("label").orderBy(F.asc("cos_centroid"), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= CENTROID_OUTLIER_K)
        .orderBy("label", "rnk")
    )


@register(
    "emb_label_confusion_pairs",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ),
    ex AS (
      SELECT label, generate_subscripts(v, 1) AS i, unnest(v) AS x
      FROM e
    ),
    cen AS (
      SELECT label, i,
             CAST(SUM(CAST(x AS {_CEN_DEC})) AS DOUBLE) / COUNT(*) AS c
      FROM ex GROUP BY label, i
    ),
    cvec AS (
      SELECT label, list(c ORDER BY i) AS cv FROM cen GROUP BY label
    )
    SELECT a.label AS label_a, b.label AS label_b,
           round(list_cosine_similarity(a.cv, b.cv), 6) AS centroid_cos
    FROM cvec a JOIN cvec b ON a.label < b.label
    ORDER BY centroid_cos DESC, label_a, label_b
    """,
    description="label-confusion audit: cosine similarity between every "
    "pair of label centroids (exact-decimal element sums), most "
    "confusable first — near-identical centroids flag label-merge "
    "candidates / annotation drift. The label domain is capped by an "
    f"enforced CONFUSION_MAX_LABELS={CONFUSION_MAX_LABELS} guard "
    "(collect-as-guard), the pair domain is a literal frame (the "
    "non-equi join runs LocalTableScan-vs-LocalTableScan — "
    "structurally bounded to classify_bnlj), and centroids attach via "
    "two broadcast equi-joins; the corpus contributes one explode + "
    "one (label, dim) shuffle",
)
def emb_label_confusion_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Companion to :func:`emb_label_centroid_outliers`: the outliers
    query asks "which MEMBERS don't belong"; this asks "which LABELS
    overlap" — the all-pairs form is safe here precisely because it
    runs on the centroid frame (|labels| rows), never the corpus.

    r11 (VERDICT r10 ask #2): "|labels| is small" is now ENFORCED, not
    assumed — the co-occurrence basket-cap lesson applied to the label
    domain. The distinct labels are collected to the driver (bounded
    state by construction: the collect IS the guard, raising past
    ``CONFUSION_MAX_LABELS`` — an all-pairs audit over more labels is
    mis-posed anyway, its own output would be |labels|²-sized) and the
    pair domain re-enters the plan as a literal frame. The non-equi
    ``label_a < label_b`` join therefore runs LocalTableScan-vs-
    LocalTableScan — the bounded-evidence class ``classify_bnlj``
    recognizes structurally, and one AQE can never re-optimize away
    (the first r11 cut used a guarded ``limit()`` on the broadcast
    build side; AQE's re-optimization correctly eliminated the
    GlobalLimit once runtime stats proved the frame small, taking the
    bounded evidence with it) — and the centroid attachment becomes
    two broadcast EQUI-joins of the cap-bounded centroid frame. The
    sweep's zero-tolerance ``bnlj_unbounded`` signal no longer carries
    a hand-adjudicated exception."""
    emb = _emb(spark, sf_dir)
    labels = sorted(
        r["label"] for r in emb.select("label").distinct().collect()
    )
    if len(labels) > CONFUSION_MAX_LABELS:
        raise ValueError(
            f"emb_label_confusion_pairs: {len(labels)} distinct labels "
            f"exceed the enforced all-pairs cap CONFUSION_MAX_LABELS="
            f"{CONFUSION_MAX_LABELS}; an all-pairs centroid audit over "
            "a domain this size is mis-posed — raise the cap knowingly "
            "or pre-filter the label domain"
        )
    if not all(isinstance(l, int) for l in labels):
        raise TypeError(
            "emb_label_confusion_pairs expects an integral label "
            f"domain, got {sorted({type(l).__name__ for l in labels})}"
        )
    ltype = emb.schema["label"].dataType.simpleString()
    if not labels:
        # `FROM VALUES  AS t(...)` is a parse error; an empty label
        # domain has no pairs to audit
        return spark.createDataFrame(
            [], f"label_a {ltype}, label_b {ltype}, centroid_cos double"
        )
    # literal frames via VALUES => LocalRelation/LocalTableScan leaves
    # (createDataFrame-from-list scans as ExistingRDD, which carries no
    # structural bounded evidence for classify_bnlj)
    values = ",".join(f"({int(l)})" for l in labels)
    la = spark.sql(
        f"SELECT CAST(label_a AS {ltype}) AS label_a "
        f"FROM VALUES {values} AS t(label_a)"
    )
    lb = spark.sql(
        f"SELECT CAST(label_b AS {ltype}) AS label_b "
        f"FROM VALUES {values} AS t(label_b)"
    )
    pairs = la.join(
        F.broadcast(lb), F.col("label_a") < F.col("label_b")
    )
    cvec = _label_centroids(emb)
    a = cvec.select(F.col("label").alias("label_a"), F.col("cv").alias("va"))
    b = cvec.select(F.col("label").alias("label_b"), F.col("cv").alias("vb"))
    # the centroid frame is |labels|-bounded by the guard above —
    # broadcasting it is the degenerate-dimension case, not a forced
    # broadcast of an SF-scaled table
    return (
        pairs.join(F.broadcast(a), "label_a")
        .join(F.broadcast(b), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias(
                "centroid_cos"
            ),
        )
        .orderBy(F.desc("centroid_cos"), "label_a", "label_b")
    )
