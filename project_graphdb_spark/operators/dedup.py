"""Deduplication operators over the ``documents`` table.

Training-data-pipeline surface (SURVEY.md §2.E): exact dedup, exact
n-gram Jaccard near-dup, MinHash+LSH, and SimHash. The reference's only
dedup is keyed ``drop_duplicates`` during graph load (B4, reference:
final/inject_node.py:406-411); these are the corpus-level operators a
100 TB text pipeline needs.

Scale story:

* **exact** — hash + groupBy: one shuffle on the fingerprint, linear.
* **ngram_jaccard** — exact pairwise verification via a shingle
  self-join. Correct but quadratic in hot shingles; it is the *oracle
  path* used to verify the approximate operators at test SF.
* **minhash_lsh** — the 100 TB path: per-doc signatures (one narrow
  shuffle), banding, bucket join (only collisions materialize), then
  exact verification on the (tiny) candidate set.
* **simhash** — 64-bit signatures; chunk-PAIR pigeonhole blocking
  (C(8,2)=28 16-bit keys, Manku 2007) turns hamming<=6 search into
  bucketed equi-joins whose buckets stay small as the corpus grows.
* **winnowing** — rolling md5 gram hashes, window minima kept (MOSS);
  the overlap join touches only the winnowed sample.
* **clustering / keep-lists** — connected components over a pair frame
  plus a canonical or quality-ranked keep decision; each has an exact
  tier and an LSH-fed tier (the 100 TB path).

Every tier — including MinHash/LSH and SimHash — is exactly
reproducible in DuckDB and hash-checked against a chained-CTE oracle:
base hashes are md5-derived (``md5_int60``) and the MinHash
permutations are ``(a·x + b) mod 2^31−1`` int64 arithmetic, identical
in both engines. xxhash64 survives only as an internal band-bucket
join-key compaction (see ``lsh_candidate_pairs``).

Everything is built-in expressions (md5, conv, bit ops, array ops),
except the MinHash signature kernel, which is an Arrow-batched
``pandas_udf`` (vectorized numpy int64 — measured 2.7× over the
interpreted higher-order-function form; bit-identical values, see
``minhash_signature_arrays``). No row-at-a-time Python UDFs anywhere.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from project_graphdb_spark.io.tables import load_table
from project_graphdb_spark.operators.text_fns import (
    QUALITY_SCORE_SQL,
    quality_score,
    sliding_grams,
    tokens,
)
from project_graphdb_spark.workload import register

SHINGLE_K = 3  # word n-gram size
NUM_PERM = 64  # minhash permutations
LSH_BANDS = 16  # bands of NUM_PERM // LSH_BANDS rows each
JACCARD_THRESHOLD = 0.5


def lsh_params(
    threshold: float, num_perm: int = NUM_PERM
) -> tuple[int, int]:
    """Derive ``(bands, rows_per_band)`` from a target Jaccard threshold.

    Standard LSH s-curve analysis (Mining of Massive Datasets §3.4): a
    pair with Jaccard similarity ``s`` collides in at least one of ``b``
    bands of ``r`` rows with probability ``1 - (1 - s^r)^b``, and the
    inflection of that curve sits at approximately ``(1/b)^(1/r)``.
    Pick, among the divisor pairs ``b*r = num_perm``, the one whose
    inflection is closest to ``threshold`` — pairs above the threshold
    become overwhelmingly likely candidates, pairs below overwhelmingly
    unlikely, which is exactly the prune/recall trade the banding knob
    exists for.

    The module defaults (``NUM_PERM=64``, ``LSH_BANDS=16`` → r=4,
    inflection ``(1/16)^(1/4) = 0.5``) are this function's output for
    the default ``JACCARD_THRESHOLD=0.5`` — the constants are one
    instantiation, not magic.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    best: tuple[float, int, int] | None = None
    for rows in range(1, num_perm + 1):
        if num_perm % rows:
            continue
        bands = num_perm // rows
        inflection = (1.0 / bands) ** (1.0 / rows)
        gap = abs(inflection - threshold)
        if best is None or gap < best[0]:
            best = (gap, bands, rows)
    assert best is not None
    return best[1], best[2]


# MinHash permutation family: h_i(x) = (a_i·x + b_i) mod P over the
# md5-derived 60-bit shingle hash reduced mod P. P = 2^31 − 1 keeps
# every product a_i·x < 2^62 — exact int64 arithmetic in BOTH Spark and
# DuckDB, which (together with the md5 base hash) is what makes the
# whole MinHash/LSH stack reproducible as a chained-CTE SQL oracle:
# the same engine-portability move the winnowing tier made with md5
# grams (see _WINNOW_SEL_CTES). The a/b constants come from a fixed
# Knuth LCG (public constants, no RNG library state) so the oracle SQL
# inlines the identical values.
MINHASH_PRIME = 2_147_483_647  # 2^31 − 1 (Mersenne)


def _perm_constants(n: int) -> tuple[list[int], list[int]]:
    s = 0x5EED5EED
    draws = []
    for _ in range(2 * n):
        s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        draws.append(s >> 33)
    a = [1 + v % (MINHASH_PRIME - 1) for v in draws[:n]]
    b = [v % MINHASH_PRIME for v in draws[n:]]
    return a, b


MINHASH_A, MINHASH_B = _perm_constants(NUM_PERM)


def md5_int60(col: str | Column) -> Column:
    """First 15 hex chars of md5 as a non-negative 60-bit bigint —
    bit-identical to DuckDB's ``('0x' || substr(md5(x), 1, 15))::BIGINT``
    (verified by the dedup oracles). 60 bits keeps the unsigned value
    inside int64 range in both engines."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def _md5_int60_sql(expr: str) -> str:
    """DuckDB twin of :func:`md5_int60`."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def _perm_hash(x: Column, i: int) -> Column:
    """Permutation i applied to an md5-derived shingle hash."""
    return (
        F.lit(MINHASH_A[i]) * (x % MINHASH_PRIME) + F.lit(MINHASH_B[i])
    ) % MINHASH_PRIME


def _perm_hash_sql(expr: str, i: int) -> str:
    return (
        f"({MINHASH_A[i]} * (({expr}) % {MINHASH_PRIME}) + {MINHASH_B[i]})"
        f" % {MINHASH_PRIME}"
    )


def shingle_array(col: str | Column, k: int = SHINGLE_K) -> Column:
    """Distinct word k-gram shingles of a text column (JVM-side,
    zip-of-slices construction — see ``text.sliding_structs``)."""
    return F.array_distinct(sliding_grams(tokens(col), k))


def hashed_shingle_array(col: str | Column, k: int = SHINGLE_K) -> Column:
    """Distinct word k-gram shingles as md5-derived 60-bit hashes.

    md5 (not an engine-local hash like xxhash64) so a DuckDB oracle
    reproduces every value byte-for-byte; Jaccard over 60-bit hashes ==
    Jaccard over shingle strings (collisions negligible). Gram strings
    are deduped BEFORE hashing (md5 is the expensive step — measured 2×
    on prose, whose grams repeat); the outer array_distinct only guards
    the astronomically-rare 60-bit collision so sizes match the
    oracle's ``DISTINCT (doc_id, g)`` exactly. One md5 per distinct
    gram — the 64 MinHash permutations downstream are pure int64
    arithmetic on this base value, not 64 separate string hashes."""
    grams = F.transform(
        F.array_distinct(sliding_grams(tokens(col), k)), md5_int60
    )
    return F.array_distinct(grams)


def doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) exploded + distinct.

    Repartitions by doc_id first: shingling is CPU-bound, and a
    compactly-written corpus (few parquet files) would otherwise pin it
    to a handful of input partitions. One narrow shuffle of the raw text
    buys full-cluster parallelism for the transform + the downstream
    per-doc aggregations, which are already co-partitioned after it.
    The partition count is explicit (``repartition_for_cpu``) so AQE
    cannot coalesce the byte-small shuffle back to one CPU.
    """
    from project_graphdb_spark.spark_util import repartition_for_cpu

    return (
        repartition_for_cpu(docs, "doc_id")
        .select("doc_id", F.explode(shingle_array("text")).alias("shingle"))
        .distinct()
    )


def _pair_jaccard(sh: DataFrame, candidates: DataFrame | None = None) -> DataFrame:
    """Exact jaccard for doc pairs sharing ≥1 shingle.

    ``candidates`` (doc_a, doc_b) restricts the computation (the LSH
    verify step); None means all co-shingled pairs (the exact operator).
    """
    if candidates is not None:
        # candidate-first: fan each (doc_a, doc_b) pair out to doc_a's
        # shingles, then equi-join doc_b's on (doc_b, shingle). Work is
        # O(candidates × shingles-per-doc) — never the quadratic
        # co-shingle blowup a hot shingle causes in the exact path.
        a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
        b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
        inter = (
            candidates.join(a, "doc_a")
            .join(b, ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_common"))
        )
    else:
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(b, F.col("a.shingle") == F.col("b.shingle"))
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_common"))
        )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("sz", "sz_a")
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "sz", "sz_b"
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# 1. Exact dedup: fingerprint hash + canonical assignment
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT doc_id, md5(text) AS fingerprint,
           min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
           count(*) OVER (PARTITION BY md5(text)) AS n_copies
    FROM documents ORDER BY doc_id
    """,
    description="exact dedup: hash-groupBy canonical assignment",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = W.partitionBy("fingerprint")
    return (
        docs.select("doc_id", F.md5("text").alias("fingerprint"))
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("n_copies", F.count("*").over(w))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# 2. Exact n-gram Jaccard near-dup (the verification-grade operator)
# ---------------------------------------------------------------------------


# Shared CTE block: exact word-3-gram Jaccard pairs >= threshold.
# Used by the dedup_ngram_jaccard oracle and as the edge set of the
# dedup_clusters oracle.
_EXACT_PAIRS_CTES = f"""toks AS MATERIALIZED (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w,
             generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS i
      FROM documents
    ), sh AS MATERIALIZED (
      SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS shingle
      FROM toks a
      JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      JOIN toks c ON a.doc_id = c.doc_id AND c.i = a.i + 2
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ), pairs AS MATERIALIZED (
      SELECT doc_a, doc_b,
             CAST(n_common AS DOUBLE) / (s1.sz + s2.sz - n_common) AS jaccard
      FROM inter
      JOIN sizes s1 ON doc_a = s1.doc_id
      JOIN sizes s2 ON doc_b = s2.doc_id
      WHERE CAST(n_common AS DOUBLE) / (s1.sz + s2.sz - n_common)
            >= {JACCARD_THRESHOLD}
    )"""


def _lsh_pairs_ctes(threshold: float = JACCARD_THRESHOLD) -> str:
    """Chained-CTE DuckDB twin of :func:`lsh_verified_pairs`, ending in
    a CTE named ``pairs`` (doc_a, doc_b, jaccard).

    Reproduces the WHOLE pipeline — md5-based 60-bit gram hashes, the
    64 ``(a·x + b) mod P`` permutation minima, threshold-derived
    banding, band-collision candidates, exact Jaccard verify — with
    the identical constants, so the Spark output is hash-checkable.
    (The 3-way token self-join mirrors ``_EXACT_PAIRS_CTES``; both
    hardcode SHINGLE_K=3.)
    """
    assert SHINGLE_K == 3, "oracle CTE hardcodes 3-token shingles"
    bands, rows = lsh_params(threshold)
    sig_cols = ",\n             ".join(
        f"MIN({_perm_hash_sql('g', i)}) AS h{i}" for i in range(NUM_PERM)
    )
    band_arms = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {b} AS band, concat_ws(',', {cols}) AS bk "
        "FROM msig".format(
            b=b, cols=", ".join(f"h{b * rows + j}" for j in range(rows))
        )
        for b in range(bands)
    )
    jac = "CAST(i.n_common AS DOUBLE) / (s1.sz + s2.sz - i.n_common)"
    return f"""mtoks AS MATERIALIZED (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w,
             generate_subscripts(string_split_regex(trim(text), '\\s+'), 1)
               AS i
      FROM documents
    ), msh AS MATERIALIZED (
      SELECT DISTINCT a.doc_id,
             {_md5_int60_sql("a.w || ' ' || b.w || ' ' || c.w")} AS g
      FROM mtoks a
      JOIN mtoks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      JOIN mtoks c ON a.doc_id = c.doc_id AND c.i = a.i + 2
    ), msig AS MATERIALIZED (
      SELECT doc_id,
             {sig_cols}
      FROM msh GROUP BY doc_id
    ), mband AS MATERIALIZED (
      {band_arms}
    ), mcand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM mband a JOIN mband b
        ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
    ), msz AS (
      SELECT doc_id, COUNT(*) AS sz FROM msh GROUP BY doc_id
    ), minter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM mcand c
      JOIN msh x ON x.doc_id = c.doc_a
      JOIN msh y ON y.doc_id = c.doc_b AND y.g = x.g
      GROUP BY 1, 2
    ), pairs AS MATERIALIZED (
      SELECT i.doc_a, i.doc_b, {jac} AS jaccard
      FROM minter i
      JOIN msz s1 ON i.doc_a = s1.doc_id
      JOIN msz s2 ON i.doc_b = s2.doc_id
      WHERE {jac} >= {threshold}
    )"""


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_EXACT_PAIRS_CTES}
    SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b
    """,
    description="exact word-3-gram Jaccard near-duplicate pairs",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = doc_shingles(docs)
    return (
        _pair_jaccard(sh)
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# 3. MinHash + LSH (the 100 TB near-dup path)
# ---------------------------------------------------------------------------


def minhash_signatures(sh: DataFrame, num_perm: int = NUM_PERM) -> DataFrame:
    """(doc_id, h0..h{num_perm-1}) — min of permutation i over the
    hashed ``shingle`` column (md5-derived 60-bit values).

    One shuffle (groupBy doc_id); signature width is fixed and narrow.
    Kept for parity tests; the operator path uses the shuffle-free
    :func:`minhash_signature_arrays` (identical values).
    """
    aggs = [
        F.min(_perm_hash(F.col("shingle"), i)).alias(f"h{i}")
        for i in range(num_perm)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_signature_arrays_jvm(
    doc_arrs: DataFrame, num_perm: int = NUM_PERM
) -> DataFrame:
    """(doc_id, h0..h{num_perm-1}) straight from the per-doc shingle
    array: ``array_min(transform(sh_arr, s -> (a_i·s + b_i) mod P))``.

    Same hash values as :func:`minhash_signatures` but a NARROW map —
    the explode + 64-way groupBy shuffle disappears entirely. Kept as
    the pure-JVM reference implementation (parity tests); the operator
    path is :func:`minhash_signature_arrays`: higher-order-function
    lambdas fall out of whole-stage codegen into interpreted evaluation
    (the same pathology as SCALE.md finding 9), and 64 interpreted
    permutation scans measured 1.57 s vs 0.58 s for the Arrow-batched
    numpy form at sf0.1 — 2.7× — with bit-identical int64 output.
    """
    xm = F.transform(F.col("sh_arr"), lambda s: s % MINHASH_PRIME)
    cols = [
        F.array_min(
            F.transform(
                F.col("__xm"),
                lambda x: (F.lit(MINHASH_A[i]) * x + F.lit(MINHASH_B[i]))
                % MINHASH_PRIME,
            )
        ).alias(f"h{i}")
        for i in range(num_perm)
    ]
    # docs shorter than the shingle width have an empty sh_arr; their
    # signature would be all-null and every such doc would collide in
    # every LSH band (O(m²) candidate blowup among short docs). The
    # explode path emits no rows for them, so drop them here too.
    return (
        doc_arrs.filter(F.size("sh_arr") > 0)
        .select("doc_id", xm.alias("__xm"))
        .select("doc_id", *cols)
    )


@functools.lru_cache(maxsize=4)
def _sig_udf(num_perm: int):
    """Arrow-batched MinHash signature kernel: per document,
    ``min((a_i·(x mod P) + b_i) mod P)`` over its hashed-shingle array
    for all ``num_perm`` permutations at once, vectorized in numpy.

    Exact int64 arithmetic, no floats: ``a_i < P ≈ 2^31`` and
    ``x mod P < 2^31`` keep every product below 2^62, so the values are
    bit-identical to the JVM form and to the DuckDB oracle (asserted in
    tests). The per-document loop is deliberate — it bounds the
    ``(num_perm × n_shingles)`` intermediate to one document's worth
    (~100 KB) instead of a whole Arrow batch's (~1 GB at 10k docs),
    which is what makes this safe on executors at 100 TB.
    """
    from pyspark.sql import types as T

    a = np.array(MINHASH_A[:num_perm], dtype=np.int64)[:, None]
    b = np.array(MINHASH_B[:num_perm], dtype=np.int64)[:, None]

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(sh: pd.Series) -> pd.Series:
        out = []
        for arr in sh:
            x = np.asarray(arr, dtype=np.int64) % MINHASH_PRIME
            out.append((a * x[None, :] + b).__mod__(MINHASH_PRIME).min(axis=1))
        return pd.Series(out)

    return sig


def minhash_signature_arrays(
    doc_arrs: DataFrame, num_perm: int = NUM_PERM
) -> DataFrame:
    """(doc_id, h0..h{num_perm-1}) from the per-doc shingle array via
    the Arrow-vectorized kernel (:func:`_sig_udf`) — the operator path.

    Still a NARROW map (no explode, no 64-way groupBy shuffle): one
    Arrow round-trip carries the shingle array out and the 64-value
    signature back, and the wide ``h0..h{n}`` layout downstream banding
    expects is recovered with codegen-cheap ``element_at`` projections.
    Empty-array docs are dropped for the same candidate-blowup reason
    as the JVM form.
    """
    sig = _sig_udf(num_perm)
    return (
        doc_arrs.filter(F.size("sh_arr") > 0)
        .select("doc_id", sig("sh_arr").alias("__hs"))
        .select(
            "doc_id",
            *[
                F.element_at("__hs", i + 1).alias(f"h{i}")
                for i in range(num_perm)
            ],
        )
    )


def lsh_candidate_pairs(
    sig: DataFrame, bands: int = LSH_BANDS, num_perm: int = NUM_PERM
) -> DataFrame:
    """Band the signature, bucket-join per band, union distinct pairs.

    The bucket stays xxhash64 — it is a join-key COMPACTION, not part
    of the result semantics: equal band tuples always hash equal, and a
    64-bit collision between unequal tuples can only add a candidate,
    which still has to pass the exact-Jaccard verify to be emitted
    (probability of one such pair surviving anywhere ≈ 2^-64 per
    band-pair — not a reproducibility concern for the md5-based
    oracle, which defines candidates by band-tuple equality)."""
    rows_per_band = num_perm // bands
    # one scan of sig: array of per-band bucket hashes, exploded —
    # not a bands-wide union that would rescan the signature frame
    bucket_arr = F.array(
        *[
            F.xxhash64(
                F.lit(band),
                *[
                    F.col(f"h{band * rows_per_band + j}")
                    for j in range(rows_per_band)
                ],
            )
            for band in range(bands)
        ]
    )
    all_buckets = sig.select(
        "doc_id", F.posexplode(bucket_arr).alias("band", "bucket")
    )
    a = all_buckets.alias("a")
    b = all_buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


_PERSIST_CACHE: dict[tuple[int, str, str], tuple[DataFrame, set[int]]] = {}


def _live_persistent_ids(spark: SparkSession) -> set[int]:
    from project_graphdb_spark.spark_util import persistent_rdd_ids

    return persistent_rdd_ids(spark.sparkContext)


def _persisted_memo(spark: SparkSession, sf_dir: str, kind: str, build):
    """Build-once persisted frame per (session, sf_dir, kind).

    Memoized so repeated calls (bench warm-up + timed pass, agent
    re-runs) share ONE cached copy instead of stacking identical
    persists — no CacheManager "already cached" warnings, no unbounded
    cache growth. ``clear_shingle_cache`` releases everything.

    Self-healing against FOREIGN block eviction: a harness that sweeps
    ``sc.getPersistentRDDs()*.unpersist()`` between queries (the scale
    bench runners do, to stop checkpoint blocks taxing the next query)
    kills the cached blocks but leaves the CacheManager entry
    registered with a dead builder — after which every plan reference
    to the frame silently recomputes its full lineage with no
    re-caching. Measured at sf1: 5 s with live cache, 86 s after such
    a sweep. So each lookup verifies the persistent-RDD ids captured
    at build time are still live and rebuilds the entry when not.
    """
    key = (id(spark), sf_dir, kind)
    if key in _PERSIST_CACHE:
        df, ids = _PERSIST_CACHE[key]
        if ids <= _live_persistent_ids(spark):
            return df
        df.unpersist()  # drop the stale CacheManager entry, then rebuild
        del _PERSIST_CACHE[key]
    before = _live_persistent_ids(spark)
    df = build().persist()
    df.count()  # materialize now so the captured block ids are real
    _PERSIST_CACHE[key] = (df, _live_persistent_ids(spark) - before)
    return df


def _shingle_arrays_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh_arr) per-doc hashed-shingle arrays, persisted once
    per (session, sf_dir) — see :func:`_persisted_memo`. All three plan
    references (signature build + both verify sides) read this one
    cached copy."""
    from project_graphdb_spark.spark_util import repartition_for_cpu

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text"
        )
        return repartition_for_cpu(docs, "doc_id").select(
            "doc_id", hashed_shingle_array("text").alias("sh_arr")
        )

    return _persisted_memo(spark, sf_dir, "shingles", build)


def _signature_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h0..h63) MinHash signatures, persisted once per
    (session, sf_dir) — the signature store a production dedup pipeline
    materializes anyway (signatures are re-read by every banding
    layout: the 0.5-threshold and 0.8-strict tiers share this frame).

    Persisting is also load-bearing for the plan shape: the band
    bucket join is a SELF-join of the banded signature frame, and with
    the Arrow signature kernel inline the two sides stop qualifying
    for exchange reuse — the kernel would run twice (measured +0.5 s
    at sf0.1, and 2× signature CPU at any scale). A ~num_perm-ints-
    per-doc cached frame makes both sides a cache scan.
    """
    # ensure the shingle frame is live FIRST so its block ids are not
    # captured as part of the signature entry (each heals separately)
    arrs = _shingle_arrays_persisted(spark, sf_dir)
    return _persisted_memo(
        spark, sf_dir, "minhash_sig", lambda: minhash_signature_arrays(arrs)
    )


def clear_shingle_cache() -> None:
    """Unpersist and drop every memoized dedup frame (shingle arrays
    and MinHash signatures)."""
    for df, _ids in _PERSIST_CACHE.values():
        df.unpersist()
    _PERSIST_CACHE.clear()


def lsh_verified_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """(doc_a, doc_b, jaccard) near-dup pairs at ``threshold`` via the
    full MinHash+LSH pipeline, unordered (callers sort or consume).

    Per-doc hashed-shingle arrays feed the signature build AND both
    sides of the verify join — persisted once (on a cluster this is the
    natural dataset-checkpoint boundary). Jaccard over 64-bit shingle
    hashes == Jaccard over shingle strings (collisions negligible),
    and keeping shingles as per-doc arrays makes the signature build
    a narrow map and the verify an array_intersect — the only
    shuffles left are the band bucket join and the two candidate
    equi-joins.

    The banding layout is *derived* from the threshold via
    :func:`lsh_params` (MMDS s-curve inflection), so a stricter gate
    automatically gets fewer/steeper bands and a smaller candidate set.
    """
    bands, _rows = lsh_params(threshold)
    arrs = _shingle_arrays_persisted(spark, sf_dir)
    sig = _signature_persisted(spark, sf_dir)
    candidates = lsh_candidate_pairs(sig, bands=bands)
    a = arrs.select(F.col("doc_id").alias("doc_a"), F.col("sh_arr").alias("sa"))
    b = arrs.select(F.col("doc_id").alias("doc_b"), F.col("sh_arr").alias("sb"))
    n_common = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                n_common.cast("double")
                / (F.size("sa") + F.size("sb") - n_common)
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_lsh_pairs_ctes(JACCARD_THRESHOLD)}
    SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b
    """,
    description="MinHash(64)+LSH(16 bands) near-dup: shingle→signature→"
    "band buckets→candidate join→exact verify (scale path); md5-based "
    "permutation family makes the full pipeline hash-checkable against "
    "a chained-CTE DuckDB oracle (recall vs the exact operator is "
    "additionally asserted in tests/test_llm_data_ops.py)",
    headline=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_verified_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


STRICT_THRESHOLD = 0.8


@register(
    "dedup_minhash_lsh_strict",
    oracle=f"""
    WITH {_lsh_pairs_ctes(STRICT_THRESHOLD)}
    SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b
    """,
    description="MinHash(64)+LSH near-dup at a strict 0.8 Jaccard gate: "
    "lsh_params(0.8) derives 8 bands of 8 rows (steeper s-curve, far "
    "smaller candidate set than the 0.5 default) — the banding knob is "
    "load-bearing, not fixed; hash-checked against the same chained-CTE "
    "oracle family at its own banding",
)
def dedup_minhash_lsh_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_verified_pairs(spark, sf_dir, STRICT_THRESHOLD).orderBy(
        "doc_a", "doc_b"
    )


# ---------------------------------------------------------------------------
# 4. SimHash (64-bit) near-dup via pigeonhole chunk blocking
# ---------------------------------------------------------------------------


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — classic 64-bit simhash over distinct tokens.

    bit_i(simhash) = 1 iff sum over tokens of ±1 (by bit_i of the token
    hash) is positive. Entirely JVM bit arithmetic. The 64 token-hash
    bits come from md5 (bits 0-59 from hex chars 1-15, bits 60-63 from
    chars 17-31) so a DuckDB oracle reproduces the signatures exactly —
    same portability move as the MinHash tier.
    """
    from project_graphdb_spark.spark_util import repartition_for_cpu

    tok = repartition_for_cpu(docs, "doc_id").select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    )
    lo = md5_int60("tok")
    hi = F.conv(F.substring(F.md5("tok"), 17, 15), 16, 10).cast("bigint")
    bit_sums = [
        F.sum(
            F.when(
                (
                    F.shiftright(lo, i) if i < 60 else F.shiftright(hi, i - 60)
                ).bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    sums = tok.groupBy("doc_id").agg(*bit_sums)
    packed = functools.reduce(
        lambda a, b: a.bitwiseOR(b),
        [
            F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("bigint"), i))
            .otherwise(F.lit(0).cast("bigint"))
            for i in range(64)
        ],
    )
    return sums.select("doc_id", packed.alias("simhash"))


SIMHASH_MAX_HAMMING = 6


def _simhash_ctes() -> str:
    """DuckDB twin of :func:`simhash_signatures`, ending in ``spack``
    (doc_id, plo, phi) — bits 0-59 packed in ``plo``, 60-63 in ``phi``
    (split keeps every packed value positive, dodging signed-shift
    pitfalls). Hamming then = bit_count(xor(plo)) + bit_count(xor(phi)).
    The oracle joins all pairs (fine at sf0.01); the Spark operator's
    pigeonhole blocking is exact (6 flips cannot touch all 8 chunks),
    so both produce the identical pair set."""
    sums = ",\n             ".join(
        "SUM(CASE WHEN ({src} >> {sh}) & 1 = 1 THEN 1 ELSE -1 END)"
        " AS b{i}".format(
            src="lo" if i < 60 else "hi",
            sh=i if i < 60 else i - 60,
            i=i,
        )
        for i in range(64)
    )
    plo = " | ".join(
        f"(CASE WHEN b{i} > 0 THEN (1::BIGINT << {i}) ELSE 0 END)"
        for i in range(60)
    )
    phi = " | ".join(
        f"(CASE WHEN b{60 + j} > 0 THEN (1::BIGINT << {j}) ELSE 0 END)"
        for j in range(4)
    )
    return f"""stok AS MATERIALIZED (
      SELECT doc_id,
             unnest(list_distinct(string_split_regex(trim(text), '\\s+')))
               AS tok
      FROM documents
    ), shh AS (
      SELECT doc_id, {_md5_int60_sql("tok")} AS lo,
             ('0x' || substr(md5(tok), 17, 15))::BIGINT AS hi
      FROM stok
    ), ssum AS (
      SELECT doc_id,
             {sums}
      FROM shh GROUP BY doc_id
    ), spack AS MATERIALIZED (
      SELECT doc_id, {plo} AS plo, {phi} AS phi FROM ssum
    )"""


@register(
    "dedup_simhash",
    oracle=f"""
    WITH {_simhash_ctes()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.plo, b.plo))
                + bit_count(xor(a.phi, b.phi)) AS INTEGER) AS hamming
    FROM spack a JOIN spack b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.plo, b.plo)) + bit_count(xor(a.phi, b.phi))
          <= {SIMHASH_MAX_HAMMING}
    ORDER BY doc_a, doc_b
    """,
    description="SimHash-64 near-dup pairs (hamming<=6) with chunk-PAIR "
    "pigeonhole blocking (C(8,2)=28 16-bit keys, Manku 2007 — 6 flips "
    "leave >=2 of 8 chunks intact, so some pair matches exactly; "
    "buckets stay small as the corpus grows where single-chunk keys "
    "saturate); md5-derived token-hash bits make the signatures "
    "engine-portable, so the pair set is hash-checked against an "
    "all-pairs DuckDB oracle",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via chunk-PAIR pigeonhole blocking.

    8 chunks of 8 bits; hamming ≤ 6 flips touch at most 6 chunks, so at
    least TWO chunks survive intact — some chunk pair (i, j) matches
    exactly. Keying the bucket join on all C(8,2) = 28 chunk pairs
    (16-bit keys; the block-combination blocking of Manku, Jain & Das
    Sarma 2007, "Detecting Near-Duplicates for Web Crawling") keeps the
    guarantee EXACT while shrinking bucket population quadratically vs
    single-chunk keys: with 256-value chunks a 500k-doc corpus packs
    ~2,000 docs per single-chunk bucket (candidate volume went
    quadratic — measured 14→159 s sf3→sf10) but ~8 per pair bucket.
    Cost: 28 explode rows per doc instead of 8 — linear, and the join
    is the dominant term at every scale that matters.
    """
    import itertools

    # NOT persisted, unlike the MinHash signature store: this
    # signature plan is pure JVM, so the chunk-pair bucket SELF-join's
    # two identical sides qualify for exchange reuse and the
    # token-explode + md5 + 64-bit-sum aggregation runs once. (The
    # MinHash frame needed the persist only because its Arrow kernel
    # disqualifies the sides from reuse. Measured at sf1: persisting
    # here is net-negative cold — the cache read re-shuffles both
    # sides where the reused exchange is read in place.)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sig = simhash_signatures(docs)
    chunks = [
        F.shiftright(F.col("simhash"), c * 8).bitwiseAND(F.lit(0xFF))
        for c in range(8)
    ]
    pair_keys = F.array(
        *[
            chunks[i] * 256 + chunks[j]
            for i, j in itertools.combinations(range(8), 2)
        ]
    )
    blocked = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(pair_keys).alias("pair_id", "chunk2"),
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    # Canonical-bucket dedup (r13): a pair at hamming h has 8-h intact
    # chunks and therefore matches in C(8-h, 2) of the 28 buckets — an
    # exact duplicate surfaces 28 times. The old shape emitted every
    # occurrence and paid a `.distinct()` shuffle over the multiplied
    # candidate set (measured sf0.1: ~29M candidate rows into the
    # distinct for a 1.27M-pair result — 23x duplication). Both
    # signatures ride the join row already, so the FIRST intact chunk
    # pair is computable from their XOR: keep the candidate only in
    # that one bucket and every pair is emitted exactly once — no
    # distinct, no candidate-multiplied shuffle. Isolated sf0.1 twins
    # (run_scale_bench --only, fresh session each): 7.38 s before vs
    # 4.00 / 3.83 s after (calib 0.85 / 0.87 / 0.87 — comparable
    # hosts), identical 1,265,637-row output.
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    intact = [
        F.shiftright(xor, k * 8).bitwiseAND(F.lit(0xFF)) == 0
        for k in range(8)
    ]
    first = F.when(intact[0], 0)
    for k in range(1, 8):
        first = first.when(intact[k], k)
    # first intact index strictly greater than `first` (built inside
    # one when-chain: the k-th branch fires only when k > first)
    second = F.when((F.lit(1) > F.col("__first")) & intact[1], 1)
    for k in range(2, 8):
        second = second.when((F.lit(k) > F.col("__first")) & intact[k], k)
    # combinations(range(8), 2) index of (i, j) in emission order:
    # idx = i*(15-i)/2 + (j-i-1); i*(15-i) is even for all i in 0..7
    canon = (
        (F.lit(15) - F.col("__first")) * F.col("__first") / F.lit(2)
    ).cast("int") + (F.col("__second") - F.col("__first") - F.lit(1))
    pairs = (
        a.join(
            b,
            (F.col("a.pair_id") == F.col("b.pair_id"))
            & (F.col("a.chunk2") == F.col("b.chunk2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .withColumn("__first", first)
        .withColumn("__second", second)
        .filter(F.col("a.pair_id") == canon)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(xor).alias("hamming"),
        )
    )
    return pairs.filter(F.col("hamming") <= SIMHASH_MAX_HAMMING).orderBy(
        "doc_a", "doc_b"
    )


# ---------------------------------------------------------------------------
# 5. Duplicate clustering: pairs -> connected components -> keep-list
# ---------------------------------------------------------------------------


def _cluster_ctes(
    iters: int = 16, pairs_block: str | None = None
) -> tuple[str, str]:
    """(CTE block, final-level name) for min-label propagation over a
    near-dup pair graph (same CTE-chain technique as the
    galg_connected_components oracle). ``pairs_block`` is any CTE chain
    ending in ``pairs`` (doc_a, doc_b, …) — exact-Jaccard by default,
    or :func:`_lsh_pairs_ctes` for the LSH-fed tiers. ``iters`` must
    exceed the diameter of the largest duplicate cluster; near-dup
    clusters are near-cliques, so 16 is far beyond safe. Shared by the
    dedup_clusters[_lsh] and dedup_keep_best[_lsh] oracles."""
    if pairs_block is None:
        pairs_block = _EXACT_PAIRS_CTES
    ctes = ["l0 AS MATERIALIZED (SELECT id, id AS comp FROM verts)"]
    for k in range(1, iters + 1):
        ctes.append(
            f"""l{k} AS MATERIALIZED (
      SELECT t.id, MIN(t.c) AS comp FROM (
        SELECT id, comp AS c FROM l{k - 1}
        UNION ALL
        SELECT s.dst AS id, l.comp AS c
        FROM sym s JOIN l{k - 1} l ON l.id = s.src
      ) t GROUP BY t.id
    )"""
        )
    block = f"""{pairs_block},
    sym AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    verts AS MATERIALIZED (SELECT DISTINCT src AS id FROM sym),
    {','.join(ctes)}"""
    return block, f"l{iters}"


def _clusters_oracle(
    iters: int = 16, pairs_block: str | None = None
) -> str:
    block, last = _cluster_ctes(iters, pairs_block)
    return f"""
    WITH {block}
    SELECT id AS doc_id, comp AS cluster_id,
           COUNT(*) OVER (PARTITION BY comp) AS cluster_size,
           id = comp AS is_canonical
    FROM {last} ORDER BY doc_id
    """


def cluster_assignments(pairs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, cluster_size, is_canonical) from a near-dup
    pair frame (doc_a, doc_b): transitive closure of the pair relation
    via min-id label propagation (graph.algorithms.connected_components
    on the pair graph), canonical = min doc_id per cluster.

    The pair frame is typically the result of a multi-stage join; edges,
    verts AND pregel's initial state all read it — checkpoint once so
    the upstream plan runs once.
    """
    from project_graphdb_spark.graph.algorithms import connected_components

    from project_graphdb_spark.spark_util import lingering_checkpoint

    pairs = lingering_checkpoint(pairs)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    cc = connected_components(vertices=verts, edges=edges)
    return (
        cc.select(
            F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
        )
        .withColumn(
            "cluster_size", F.count("*").over(W.partitionBy("cluster_id"))
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
        .orderBy("doc_id")
    )


@register(
    "dedup_clusters",
    oracle=_clusters_oracle(),
    description="duplicate clustering: exact-Jaccard pairs -> connected "
    "components -> canonical keep-list. The exact pair tier makes this "
    "hash-checkable against DuckDB — it is the equivalence ORACLE for "
    "dedup_clusters_lsh, which is the form that runs at 100 TB",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-tier clustering: pairs from the quadratic shingle self-join
    (test-scale verification operator), clusters via
    :func:`cluster_assignments`.

    This is what turns pairwise dedup output into actions a pipeline can
    take (keep one representative per cluster). Reference has no corpus
    dedup at all (SURVEY §2.E); pairs here are the exact oracle-tier
    ones so the whole operator is hash-checkable against DuckDB.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = _pair_jaccard(doc_shingles(docs)).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    return cluster_assignments(pairs)


@register(
    "dedup_clusters_lsh",
    oracle=_clusters_oracle(pairs_block=_lsh_pairs_ctes()),
    description="duplicate clustering over MinHash+LSH verified pairs: "
    "connected components + canonical keep-list with NO all-pairs join "
    "anywhere in the plan — the 100 TB composition; md5-based LSH "
    "makes even this tier hash-checkable (min-label-propagation CTEs "
    "over the LSH pair chain), and cluster-pair agreement vs the "
    "exact-fed dedup_clusters is additionally asserted in tests",
)
def dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-tier clustering: same decision layer as
    :func:`dedup_clusters`, but the edge set comes from
    :func:`lsh_verified_pairs` — signatures, banded bucket join,
    candidate verify — so the whole composition is sub-quadratic: the
    only pair-shaped frames ever materialized are band-bucket
    collisions, never the co-shingle blowup. Clusters agree with the
    exact-fed form wherever LSH recall holds (near-dup clusters are
    near-cliques, so a single recalled edge usually suffices to keep a
    cluster connected).
    """
    return cluster_assignments(lsh_verified_pairs(spark, sf_dir))


def _keep_best_oracle(
    iters: int = 16, pairs_block: str | None = None
) -> str:
    block, last = _cluster_ctes(iters, pairs_block)
    return f"""
    WITH {block},
    cl AS (
      SELECT id AS doc_id, comp AS cluster_id,
             COUNT(*) OVER (PARTITION BY comp) AS cluster_size
      FROM {last}
    ), q AS (
      SELECT doc_id, {QUALITY_SCORE_SQL} AS quality_score
      FROM (
        SELECT doc_id, length(text) AS n_chars,
               len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
               len(list_distinct(string_split_regex(trim(text), '\\s+')))
                 AS n_distinct
        FROM documents
      )
    ), allrows AS (
      SELECT q.doc_id,
             COALESCE(cl.cluster_id, q.doc_id) AS cluster_id,
             COALESCE(cl.cluster_size, 1) AS cluster_size,
             q.quality_score
      FROM q LEFT JOIN cl ON q.doc_id = cl.doc_id
    )
    SELECT doc_id, cluster_id,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           quality_score,
           ROW_NUMBER() OVER (
             PARTITION BY cluster_id
             ORDER BY quality_score DESC, doc_id
           ) = 1 AS keep
    FROM allrows ORDER BY doc_id
    """


@register(
    "dedup_keep_best",
    oracle=_keep_best_oracle(),
    description="quality-aware dedup keep-list over the whole corpus: "
    "duplicate clusters keep their highest-quality member (ties to the "
    "lowest doc_id), singletons keep themselves. The ranking window "
    "runs only on the pair-graph-sized cluster frame; the corpus side "
    "is a narrow quality map plus one join against that tiny frame",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn duplicate clusters into the decision a real pipeline ships:
    one kept representative per cluster, chosen by quality score rather
    than min doc_id (a crawl usually contains one clean copy and many
    truncated/boilerplate-wrapped ones — keeping the min id keeps an
    arbitrary one). Exact pair tier, so the whole operator is
    hash-checkable; dedup_keep_best_lsh is the 100 TB composition.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = _pair_jaccard(doc_shingles(docs)).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    return keep_best_decision(docs, pairs)


@register(
    "dedup_keep_best_lsh",
    oracle=_keep_best_oracle(pairs_block=_lsh_pairs_ctes()),
    description="quality-aware keep-list over MinHash+LSH verified "
    "pairs: the dedup_keep_best decision layer with NO all-pairs join "
    "anywhere in the plan — the 100 TB composition; md5-based LSH "
    "makes the full composition hash-checkable (keep-set agreement vs "
    "the exact-fed form is additionally asserted in tests)",
)
def dedup_keep_best_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return keep_best_decision(docs, lsh_verified_pairs(spark, sf_dir))


def keep_best_decision(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Whole-corpus keep/drop decision from a near-dup pair frame:
    clusters keep their highest-quality member (ties to lowest doc_id),
    singletons keep themselves.

    The ranking window runs only on the pair-graph-sized cluster frame
    (near-dup docs are a small fraction of any corpus), so the corpus
    side stays a narrow quality map plus one join against that tiny —
    typically broadcast — frame. No corpus-wide window anywhere, and
    the full-corpus quality expression (tokenize + distinct) is
    evaluated exactly once: cluster members get their score from the
    post-join tiny frame, not a second corpus-wide pass.
    """
    # both joins broadcast the cluster-frame side explicitly: it comes
    # out of the iterative CC pass as a checkpointed frame whose size
    # estimate Catalyst treats as unknown-large, so the planner would
    # fall back to shuffling the corpus side into a sort-merge join —
    # the pair graph is orders of magnitude smaller than the corpus,
    # which is exactly the broadcast case
    cl = cluster_assignments(pairs).select(
        "doc_id", "cluster_id", "cluster_size"
    )
    clustered = (
        docs.join(F.broadcast(cl), "doc_id")
        .withColumn("quality_score", quality_score("text"))
        .withColumn(
            "keep",
            F.row_number().over(
                W.partitionBy("cluster_id").orderBy(
                    F.col("quality_score").desc(), "doc_id"
                )
            )
            == 1,
        )
        .select("doc_id", "cluster_id", "cluster_size", "keep")
    )
    qual = docs.select(
        "doc_id", quality_score("text").alias("quality_score")
    )
    return (
        qual.join(F.broadcast(clustered), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
            F.coalesce("cluster_size", F.lit(1))
            .cast("bigint")
            .alias("cluster_size"),
            "quality_score",
            F.coalesce("keep", F.lit(True)).alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# 6. Winnowing: rolling-hash fingerprints + MOSS-style overlap detection
# ---------------------------------------------------------------------------

WINNOW_K = 4  # tokens per gram
WINNOW_W = 4  # grams per winnowing window
WINNOW_MIN_SHARED = 3  # shared fingerprints to flag a pair

# Shared CTE block: per-doc winnowed fingerprint selection. The gram
# hash is the first 8 hex chars of md5 — identical in Spark and DuckDB,
# which is what makes the whole winnowing stack EXACTLY oracle-able
# (the move the MinHash/SimHash tiers later adopted via md5_int60).
# Window minima compare lexicographically on the hex string: a total
# order both engines share byte-for-byte.
_WINNOW_SEL_CTES = f"""wtoks AS MATERIALIZED (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents
    ), wstarts AS (
      SELECT doc_id, t,
             unnest(generate_series(0, len(t) - {WINNOW_K}, 1)) AS s
      FROM wtoks WHERE len(t) >= {WINNOW_K}
    ), wgrams AS (
      SELECT doc_id, s,
             substr(md5(array_to_string(t[s + 1 : s + {WINNOW_K}], ' ')),
                    1, 8) AS h
      FROM wstarts
    ), wwin AS (
      SELECT doc_id, s,
             MIN(h) OVER (
               PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING
             ) AS sel,
             COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
      FROM wgrams
    ), wsel AS MATERIALIZED (
      SELECT DISTINCT doc_id, n_grams, sel
      FROM wwin
      WHERE s <= GREATEST(n_grams - {WINNOW_W}, 0)
    )"""


def _winnow_sels(docs: DataFrame) -> DataFrame:
    """(doc_id, n_grams, fp) — the winnowed fingerprint set per doc:
    hash every K-token gram, slide a W-gram window, keep each window's
    minimum hash, dedup. Density ≈ 2/(W+1) of the gram count, so any
    downstream join touches a small, content-stable sample of the doc
    (MOSS winnowing, Schleimer et al. 2003, simplified to value-level
    dedup of the selected minima).

    Repartitions by doc_id first for the same reason ``doc_shingles``
    does: the per-gram md5 work is CPU-bound, and a compactly-written
    corpus would otherwise pin it to the input's few partitions. The
    partition count is explicit (``repartition_for_cpu``) because AQE
    coalesces a count-unspecified repartition of byte-small input back
    to one partition — optimizing for data volume exactly when the
    cost is CPU per row (measured at sf0.1: 3.95 s coalesced vs
    0.78 s at explicit parallelism).

    PROJECTION-SHAPE WARNING (measured r9): this must stay EXACTLY two
    levels — one Project computing the gram array ``gh``, one
    Generate/Project consuming it. An r9 attempt to split a reusable
    (doc_id, n_grams, sels-array) projection out of it added a third
    level, and CollapseProject then inlined the md5-per-gram array
    into every reference across the merged projections: the optimized
    plan carried 4 copies of md5() and 36 of split(), and this frame's
    count went 3.6 s → 38.5 s at sf0.1 (~11×). Spark only suppresses
    alias inlining one level at a time; don't re-stack projections
    over ``gh``."""
    from project_graphdb_spark.spark_util import repartition_for_cpu

    docs = repartition_for_cpu(docs, "doc_id")
    grams = F.transform(
        sliding_grams(tokens("text"), WINNOW_K),
        lambda g: F.substring(F.md5(g), 1, 8),
    )
    gh = docs.select("doc_id", grams.alias("gh"))
    n_grams = F.size("gh")
    sels = F.when(
        n_grams > 0,
        F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(0), F.greatest(n_grams - WINNOW_W, F.lit(0))
                ),
                lambda i: F.array_min(F.slice(F.col("gh"), i + 1, WINNOW_W)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return gh.select(
        "doc_id",
        n_grams.cast("bigint").alias("n_grams"),
        F.explode(sels).alias("fp"),
    )


@register(
    "doc_winnow_fingerprints",
    oracle=f"""
    WITH {_WINNOW_SEL_CTES},
    perdoc AS (
      SELECT doc_id,
             MAX(n_grams) AS n_grams,
             COUNT(*) AS n_fps,
             md5(string_agg(sel, '' ORDER BY sel)) AS sketch
      FROM wsel GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(p.n_fps, 0) AS BIGINT) AS n_fps,
           COALESCE(p.sketch, md5('')) AS sketch
    FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
    ORDER BY d.doc_id
    """,
    description=f"winnowed rolling-hash document fingerprints (MOSS, "
    f"Schleimer et al. 2003): hash every {WINNOW_K}-token gram, keep "
    f"each {WINNOW_W}-gram window's minimum, per-doc sketch = md5 of "
    "the sorted selection. Pure narrow map, and exactly oracle-able "
    "because the gram hash is md5 (identical in both engines)",
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode + groupBy + reinstating join, DELIBERATELY (r9
    measured): an array-direct per-doc form (size + md5 of the sorted
    selection array, no second exchange) was built and measured — the
    twin bench showed the exchange it removes is not the cost owner
    (261 MB over ~55 s; the md5 gram map CPU is), the wall-time win
    was noise-level (54.6 → 53.8 s at sf10), and stacking another
    projection over the gram array trips CollapseProject alias
    inlining in the SHARED _winnow_sels helper (see its
    projection-shape warning: ~11× regression). Keep-explode is the
    measured decision, not an oversight."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    per_doc = (
        _winnow_sels(docs)
        .groupBy("doc_id")
        .agg(
            F.max("n_grams").alias("n_grams"),
            F.count("*").cast("bigint").alias("n_fps"),
            F.md5(
                F.concat_ws(
                    "", F.sort_array(F.collect_list("fp"))
                )
            ).alias("sketch"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_fps", F.lit(0)).cast("bigint").alias("n_fps"),
            F.coalesce("sketch", F.md5(F.lit(""))).alias("sketch"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_winnow",
    oracle=f"""
    WITH {_WINNOW_SEL_CTES}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM wsel a JOIN wsel b
      ON a.sel = b.sel AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
    ORDER BY doc_a, doc_b
    """,
    description=f"near-dup pairs via winnowed fingerprints (the MOSS "
    f"overlap join): docs sharing >= {WINNOW_MIN_SHARED} selected "
    "fingerprints. The join touches only the winnowed sample "
    f"(~2/{WINNOW_W + 1} of grams), never the full gram set — a "
    "mid-tier between exact shingle Jaccard (quadratic) and "
    "MinHash+LSH (probabilistic); exactly oracle-able end to end",
)
def dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # checkpoint the selection: it is tiny by design (~2/(W+1) of the
    # gram count) but expensive to derive (md5 per gram), and the
    # self-join would otherwise recompute it for both sides — the
    # cluster_assignments trade, the opposite of the spans frame
    from project_graphdb_spark.spark_util import lingering_checkpoint

    # the 8-hex-char string fingerprint is the join key (an integer key
    # measured no faster: SCALE.md finding 33)
    sels = lingering_checkpoint(_winnow_sels(docs).select("doc_id", "fp"))
    a = sels.select(F.col("doc_id").alias("doc_a"), "fp")
    b = sels.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )


def _winnow_sels_fast(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) token-hash-fold winnowed fingerprints — the scale
    tier of :func:`_winnow_sels` (r10, VERDICT r9 ask #5, SCALE.md
    finding 24 + its r10 correction). Never builds gram strings: each
    token is xxhash64-ed ONCE, and a gram's fingerprint is a shift-xor
    fold of its K consecutive token hashes (pure long arithmetic — bit
    ops, so no ANSI overflow surface) computed by the UNROLLED
    zip-of-slices kernel (``sliding_fold_hashes``) — the original
    ``transform(sequence, aggregate(slice(...)))`` fold was re-measured
    isolated at sf10 as a REGRESSION vs the md5 face (50.6 vs 40.7 s;
    the per-element lambda-aggregate pays interpreted slice
    allocations, finding 9's cost class), while the unrolled zip fold
    lands at 39.6 s. The tier's real 100 TB value is the JOIN KEY:
    8 bytes instead of an md5 hex string halves the overlap join's
    shuffle width. Selection positions differ from the md5 face
    (different hash, different window minima), so near-dup agreement
    is asserted STATISTICALLY against the oracle-checked md5 face
    (test_dedup_winnow_fast_agreement), the LSH md5-permutation
    pattern. The optimized plan carries exactly one xxhash64/split,
    pinned by test_winnow_fast_kernels_not_duplicated (the finding-22
    guard)."""
    from project_graphdb_spark.spark_util import repartition_for_cpu

    docs = repartition_for_cpu(docs, "doc_id")
    toks_h = F.transform(tokens("text"), lambda t: F.xxhash64(t))
    gh_arr = docs.select("doc_id", toks_h.alias("th"))
    from project_graphdb_spark.operators.text_fns import (
        sliding_fold_hashes,
    )

    gh = gh_arr.select(
        "doc_id",
        sliding_fold_hashes(F.col("th"), WINNOW_K).alias("gh"),
    )
    ng = F.size("gh")
    sels = F.when(
        ng > 0,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(ng - WINNOW_W, F.lit(0))),
                lambda i: F.array_min(F.slice(F.col("gh"), i + 1, WINNOW_W)),
            )
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return gh.select("doc_id", F.explode(sels).alias("fp"))


@register(
    "dedup_winnow_fast",
    description=f"scale tier of dedup_winnow: identical MOSS overlap "
    f"join (>= {WINNOW_MIN_SHARED} shared winnowed fingerprints) with "
    "gram fingerprints computed as a shift-xor fold of per-token "
    "xxhash64 via the unrolled zip-of-slices fold (SCALE.md finding "
    "27 corrected the original sequence-aggregate kernel: it measured "
    "+24% vs the md5 face; the unrolled fold lands at wall-clock "
    "parity, 39.6 vs 40.7 s sf10, and the tier's scale value is the "
    "8-byte overlap-join key replacing an md5 hex string). No oracle "
    "by construction (engine-local hash) — pair-set agreement vs the "
    "oracle-checked md5 face is pytest-asserted, the LSH "
    "md5-permutation pattern",
)
def dedup_winnow_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    from project_graphdb_spark.spark_util import lingering_checkpoint

    sels = lingering_checkpoint(_winnow_sels_fast(docs))
    a = sels.select(F.col("doc_id").alias("doc_a"), "fp")
    b = sels.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
        .orderBy("doc_a", "doc_b")
    )


INCR_MIN_SHARED = WINNOW_MIN_SHARED


@register(
    "dedup_incremental_winnow",
    oracle=f"""
    WITH {_WINNOW_SEL_CTES},
    basef AS (SELECT doc_id, sel FROM wsel WHERE doc_id % 2 = 0),
    incf AS (SELECT doc_id, sel FROM wsel WHERE doc_id % 2 = 1),
    hits AS (
      SELECT i.doc_id AS doc_id, b.doc_id AS base_doc,
             COUNT(*) AS n_shared
      FROM incf i JOIN basef b ON i.sel = b.sel
      GROUP BY 1, 2 HAVING COUNT(*) >= {INCR_MIN_SHARED}
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_base_matches,
           CAST(MIN(base_doc) AS BIGINT) AS first_base_match
    FROM hits GROUP BY doc_id ORDER BY doc_id
    """,
    description="incremental dedup: flag docs of a new increment "
    "(odd doc_ids) that near-duplicate the existing corpus (even "
    "doc_ids) by shared winnowed fingerprints — the daily-crawl "
    "dedup-against-the-store pass. Join cost is proportional to the "
    "increment's fingerprint sample, never all-pairs against the "
    "corpus; in production the base side is a precomputed fingerprint "
    "store, exactly the frame this query derives",
)
def dedup_incremental_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The base-corpus fingerprints would be read from a store in a
    real pipeline; deriving them inline keeps the query hermetic and
    the oracle exact (md5-based winnowing, engine-identical)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sels = _winnow_sels(docs).select("doc_id", "fp")
    base = sels.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("base_doc"), "fp"
    )
    inc = sels.filter(F.col("doc_id") % 2 == 1)
    hits = (
        inc.join(base, "fp")
        .groupBy("doc_id", "base_doc")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= INCR_MIN_SHARED)
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_base_matches"),
            F.min("base_doc").cast("bigint").alias("first_base_match"),
        )
        .orderBy("doc_id")
    )
