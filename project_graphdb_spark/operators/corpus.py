"""Corpus-preparation operators: contamination detection, token-window
chunking, and PII scrubbing over the ``documents`` table.

Training-data-pipeline surface (SURVEY.md §2.E) beyond dedup/quality:
the steps that sit between "cleaned corpus" and "training samples" in a
real 100 TB pipeline. The reference has no corpus tooling at all; these
are built entirely from Spark array/string expressions (no Python UDFs).

Scale story:

* **contamination** — benchmark n-grams are a *tiny* frame (benchmarks
  are thousands of docs, not billions), so the n-gram join broadcasts
  the benchmark side; the corpus side is one narrow explode with no
  pre-shuffle. Corpus-side aggregation is one groupBy on doc_id.
* **chunking** — pure narrow map (sequence → filter → posexplode →
  slice); zero shuffles, parallel in the input partitioning.
* **pii scrub** — chained ``regexp_replace``, narrow, whole-stage
  codegen.
* **sequence packing** — running-sum window PARTITIONED BY lang (no
  global sort funnel); at 100 TB the same shape packs within
  (lang, shard) partitions.
* **duplicate-span scrub** — the fixed-window rendition of
  suffix-array ExactSubstr dedup (Lee et al. 2021, "Deduplicating
  Training Data Makes Language Models Better"): a W-token span that
  appears verbatim in ≥2 documents is duplicated corpus-wide, and every
  token any duplicated span covers is removed. One shuffle counts
  distinct docs per span, one join maps duplicated spans back to their
  positions, the removal itself is a narrow array map. At 100 TB the
  span key is ``xxhash64`` of the window (8 bytes/span instead of the
  string); here the string itself is the key so the DuckDB oracle can
  reproduce the result exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from project_graphdb_spark.io.tables import load_table
from project_graphdb_spark.operators.text_fns import (
    MIX_M,
    mix32,
    mix32_sql,
    tokens,
)
from project_graphdb_spark.workload import register

# every doc_id divisible by 29 plays the role of a held-out benchmark
# document; the contamination check scans the rest of the corpus for
# verbatim n-gram overlap with them (the decontamination step an LLM
# training pipeline runs against eval sets)
BENCHMARK_MOD = 29
CONTAM_NGRAM = 8  # overlap window (test docs are 10-99 words)

CHUNK_SIZE = 32  # tokens per training chunk
CHUNK_STRIDE = 24  # overlap = CHUNK_SIZE - CHUNK_STRIDE


def _ngram_array(col, n: int):
    """Distinct word n-gram strings of a text column (JVM-side,
    zip-of-slices construction — see ``text.sliding_structs``)."""
    from project_graphdb_spark.operators.text_fns import sliding_grams

    return F.array_distinct(sliding_grams(tokens(col), n))


@register(
    "doc_contamination_check",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents
    ), starts AS (
      SELECT doc_id, t,
             unnest(generate_series(0, len(t) - {CONTAM_NGRAM}, 1)) AS s
      FROM toks WHERE len(t) >= {CONTAM_NGRAM}
    ), grams AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             array_to_string(t[s + 1 : s + {CONTAM_NGRAM}], ' ') AS gram
      FROM starts
    ),
    bench AS (SELECT doc_id, gram FROM grams WHERE doc_id % {BENCHMARK_MOD} = 0),
    corpus AS (SELECT doc_id, gram FROM grams WHERE doc_id % {BENCHMARK_MOD} <> 0)
    SELECT c.doc_id,
           COUNT(DISTINCT c.gram) AS n_contaminated_ngrams,
           COUNT(DISTINCT b.doc_id) AS n_benchmark_docs,
           CAST(MIN(b.doc_id) AS BIGINT) AS first_benchmark_doc
    FROM corpus c JOIN bench b ON c.gram = b.gram
    GROUP BY c.doc_id ORDER BY c.doc_id
    """,
    description="benchmark-contamination check: corpus docs sharing any "
    f"verbatim {CONTAM_NGRAM}-gram with the held-out benchmark subset "
    "(decontamination pass of an LLM training pipeline); benchmark "
    "n-gram frame broadcasts, corpus side is one narrow explode",
)
def doc_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    grams = docs.select(
        "doc_id",
        F.explode(_ngram_array("text", CONTAM_NGRAM)).alias("gram"),
    )
    is_bench = F.col("doc_id") % BENCHMARK_MOD == 0
    bench = grams.filter(is_bench).select(
        F.col("doc_id").alias("bench_doc"), "gram"
    )
    corpus = grams.filter(~is_bench)
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("gram").alias("n_contaminated_ngrams"),
            F.count_distinct("bench_doc").alias("n_benchmark_docs"),
            F.min("bench_doc").alias("first_benchmark_doc"),
        )
        .orderBy("doc_id")
    )


@register(
    "doc_chunk_windows",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents
    ), starts AS (
      SELECT doc_id, t,
             unnest(generate_series(0, len(t) - 1, {CHUNK_STRIDE})) AS s
      FROM toks
    )
    SELECT doc_id,
           CAST(s / {CHUNK_STRIDE} AS INT) AS chunk_id,
           array_to_string(t[s + 1 : s + {CHUNK_SIZE}], ' ') AS chunk_text,
           CAST(LEAST({CHUNK_SIZE}, len(t) - s) AS INT) AS n_tokens
    FROM starts
    WHERE s = 0 OR s - {CHUNK_STRIDE} + {CHUNK_SIZE} < len(t)
    ORDER BY doc_id, chunk_id
    """,
    description=f"training-sample chunking: sliding {CHUNK_SIZE}-token "
    f"windows, stride {CHUNK_STRIDE} (overlap "
    f"{CHUNK_SIZE - CHUNK_STRIDE}); a window is emitted only if the "
    "previous one did not already reach the end of the doc. Pure "
    "narrow map — sequence/filter/posexplode/slice, zero shuffles",
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens("text")
    n = F.size(toks)
    starts = F.filter(
        F.sequence(F.lit(0), n - 1, F.lit(CHUNK_STRIDE)),
        lambda s: (s == 0) | (s - CHUNK_STRIDE + CHUNK_SIZE < n),
    )
    return (
        docs.select("doc_id", toks.alias("t"), F.explode(starts).alias("s"))
        .select(
            "doc_id",
            (F.col("s") / CHUNK_STRIDE).cast("int").alias("chunk_id"),
            F.concat_ws(
                " ", F.slice(F.col("t"), F.col("s") + 1, CHUNK_SIZE)
            ).alias("chunk_text"),
            F.least(F.lit(CHUNK_SIZE), F.size("t") - F.col("s"))
            .cast("int")
            .alias("n_tokens"),
        )
        .orderBy("doc_id", "chunk_id")
    )


# shared between Spark and the oracle verbatim (Java and DuckDB RE2-ish
# dialects agree on this subset: classes, +, {m,}, alternation)
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_LONGNUM_RE = "[0-9]{6,}"


@register(
    "doc_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_LONGNUM_RE}', '<NUM>', 'g') AS scrubbed,
           len(regexp_extract_all(text, '{_EMAIL_RE}'))
             + len(regexp_extract_all(text, '{_LONGNUM_RE}'))
             AS n_redactions
    FROM documents ORDER BY doc_id
    """,
    description="PII scrubbing: redact email addresses and long digit "
    "runs with typed placeholders, count redactions per doc (chained "
    "regexp_replace — narrow, whole-stage codegen; the regexes are "
    "shared verbatim with the oracle)",
)
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
        _LONGNUM_RE,
        "<NUM>",
    )
    n_red = F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE))) + F.size(
        F.regexp_extract_all("text", F.lit(_LONGNUM_RE))
    )
    return docs.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        n_red.cast("bigint").alias("n_redactions"),
    ).orderBy("doc_id")


DUP_SPAN_N = 8  # span window for corpus-wide duplicate detection

# Frames persisted by a builder but consumed by the RETURNED lazy plan
# (dup, keep_stats) cannot be unpersisted inside the builder — yet a
# long-lived session running many queries back-to-back (the driver's
# 50-query correctness gate never calls free_all_persistent, unlike
# the bench tools) would accumulate one cached frame set per call.
# One-slot rolling window: each top-level dup-span/pipeline call first
# releases the PREVIOUS call's lingering frames, so at most one stale
# set survives at any time. Unpersisting a frame a caller still holds
# is always safe — the plan recomputes (ADVICE r8 low #2).
#
# CONSTRAINT (ADVICE r9): at most ONE outstanding dup-span/pipeline
# PLAN per process. Building a second plan (doc_dup_span_profile,
# doc_dup_span_scrub, pipeline_clean_pack) before materializing the
# first unpersists frames the first plan still reads — the first plan
# stays CORRECT (Spark recomputes evicted cache) but its dup-span
# stages fully recompute, distorting any timing. Every harness in this
# repo (driver gate, bench.py, scale/twin benches) builds+materializes
# one query at a time, satisfying this by construction.
#
# r10: the window itself moved to spark_util (the persist-leak gate
# found the same pattern in five more families); these aliases keep
# the r8/r9 call sites and tests stable.
from project_graphdb_spark.spark_util import (  # noqa: E402
    linger as _linger,
    release_lingering as _release_lingering,
)


def _span_grams(col, n: int):
    """Positional word n-grams of a text column: index i of the result
    array is the 0-based token start of that span (unlike
    ``_ngram_array`` this keeps duplicates and positions)."""
    from project_graphdb_spark.operators.text_fns import sliding_grams

    return sliding_grams(tokens(col), n)


#: dup-span build shape: "docfilter" (default since r11, MEASURED —
#: SCALE.md finding 31: narrow hash-only DISK cache + string re-explode
#: restricted to candidate DOCS; pipeline_clean_pack −10/−15% in both
#: interleaved sf10 reps) vs "strcache" (the finding-26 r10 optimum —
#: full span STRING frame cached DISK_ONLY, pass 2 a cache scan), kept
#: runnable by the same harness. Env-gated per the finding-27a
#: measure-before-landing rule; row-identity pinned by
#: tests/test_corpus_ops.py::test_dup_span_docfilter_shape_equivalent.
_DUPSPAN_SHAPE_ENV = "SPARK_GRAFT_DUPSPAN_SHAPE"


def _dup_span_frames_posjoin(docs: DataFrame, n: int):
    """r14 candidate-POSITION shape of :func:`_dup_span_frames` (same
    returned frames, row-identical — VERDICT r13 ask #5):

    The docfilter shape re-runs the full gram pipeline (tokenize →
    sliding_structs → concat transform → explode → xxhash64) over every
    position of every candidate DOC in pass 2, then throws away the
    non-candidate positions via the hash semi-join. But pass 1's narrow
    DISK_ONLY cache already knows the candidate POSITIONS exactly —
    ``(doc_id, s, gh)`` semi-joined on the candidate hashes — so pass 2
    here rebuilds gram strings ONLY at those positions: one tokenize
    per candidate doc, then ``concat_ws(' ', slice(toks, s+1, n))`` per
    candidate position. String construction is paid once per FINAL
    candidate row instead of once per candidate-doc position, and the
    second explode + re-hash disappear.

    Equivalence: position s's gram is concat_ws(' ', toks[s+1..s+n])
    by the sliding_structs contract (same separator, same slice), and
    the kept set {(doc_id, s): gh ∈ candidate hashes} is exactly the
    docfilter semi-join's set because gh was computed as
    xxhash64(gram) from the identical string in pass 1 — pinned by
    tests/test_corpus_ops.py::test_dup_span_posjoin_shape_equivalent.

    The join carries each candidate doc's token array to its candidate
    positions; SMJ buffers one doc row per key and the projection
    fuses, so the array is never shuffled per position row.

    MEASURED AND REJECTED as the default (r14 A/B,
    measurements/r14/ab_dupspan_posjoin_sf1.json — same-session
    interleaved, anchored, sf1): profile 12.1 s docfilter vs 21.0 s
    posjoin, scrub 14.6 vs 24.3 (+70% both consumers). The synthetic
    corpora are duplication-dense enough that candidate positions are
    a large share of candidate-doc positions, so per-position
    slice+concat (plus shipping the token array through the join) costs
    more than one vectorized sliding_grams pass over candidate docs —
    the same density regime that decided finding 40. Kept runnable for
    duplicate-sparse corpora where the trade reverses."""
    from pyspark import StorageLevel

    hs = docs.select(
        "doc_id",
        F.posexplode(_span_grams("text", n)).alias("s", "gram"),
    ).select(
        "doc_id", "s", F.xxhash64("gram").alias("gh")
    ).persist(StorageLevel.DISK_ONLY)
    cand_hashes = (
        hs.select("gh", "doc_id")
        .groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    ).persist()
    n_cand = cand_hashes.count()
    ch = (
        F.broadcast(cand_hashes) if n_cand <= 2_000_000 else cand_hashes
    )
    cand_pos = hs.join(ch, "gh", "left_semi").select("doc_id", "s")
    cand_toks = docs.join(
        cand_pos.select("doc_id").distinct(), "doc_id", "left_semi"
    ).select("doc_id", tokens("text").alias("__toks"))
    cand_spans = _linger(
        cand_pos.join(cand_toks, "doc_id")
        .select(
            "doc_id",
            "s",
            F.concat_ws(
                " ", F.slice("__toks", F.col("s") + 1, n)
            ).alias("gram"),
        )
        .persist()
    )
    dup = _linger(
        cand_spans.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
        .persist()
    )
    n_dup = dup.count()  # materializes cand_spans' cache too
    cand_hashes.unpersist()
    hs.unpersist()
    if n_dup <= 500_000:
        dup = F.broadcast(dup)
    return cand_spans, dup


def _dup_span_frames_docfilter(docs: DataFrame, n: int):
    """The r11 candidate-doc-prefilter shape of :func:`_dup_span_frames`
    (same returned frames, row-identical):

    1. ONE narrow pass: explode positional grams, keep only
       (doc_id, s, xxhash64(gram)) — the 8-byte-key frame cached
       DISK_ONLY is ~5x slimmer than the string frame (gram strings
       are built transiently for hashing and never stored);
    2. candidate hashes (>=2 distinct docs) from the narrow cache;
    3. candidate DOCS = docs holding at least one candidate position —
       only these re-explode with gram STRINGS in pass 2, so string
       construction is paid twice only for the duplicate-bearing slice
       of the corpus, and the full-width span frame is never written.

    Wins when the candidate-doc fraction is well under 1 (duplicate
    spans concentrate in few docs); loses when duplication is corpus-
    wide, where re-constructing most strings costs more than the
    finding-26 disk round-trip. Decided by the sf10 A/B in SCALE.md.
    """
    from pyspark import StorageLevel

    hs = docs.select(
        "doc_id",
        F.posexplode(_span_grams("text", n)).alias("s", "gram"),
    ).select(
        "doc_id", "s", F.xxhash64("gram").alias("gh")
    ).persist(StorageLevel.DISK_ONLY)
    cand_hashes = (
        hs.select("gh", "doc_id")
        .groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    ).persist()
    n_cand = cand_hashes.count()
    ch = (
        F.broadcast(cand_hashes) if n_cand <= 2_000_000 else cand_hashes
    )
    cand_docs = (
        hs.join(ch, "gh", "left_semi").select("doc_id").distinct()
    )
    respans = docs.join(cand_docs, "doc_id", "left_semi").select(
        "doc_id",
        F.posexplode(_span_grams("text", n)).alias("s", "gram"),
    )
    cand_spans = _linger(
        respans.join(
            ch, F.xxhash64("gram") == F.col("gh"), "left_semi"
        ).persist()
    )
    dup = _linger(
        cand_spans.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
        .persist()
    )
    n_dup = dup.count()  # materializes cand_spans' cache too
    cand_hashes.unpersist()
    hs.unpersist()
    if n_dup <= 500_000:
        dup = F.broadcast(dup)
    return cand_spans, dup


def _dup_span_frames(docs: DataFrame, n: int = DUP_SPAN_N):
    """(cand_spans, dup) shared by the duplicate-span operators:
    cand_spans is (doc_id, s, gram) restricted to spans whose gram
    HASH occurs in ≥2 distinct documents (a superset of true dups —
    rare 64-bit collisions only add rows), persisted; dup the exactly
    verified grams occurring in ≥2 distinct docs (cross-document
    duplication only — a span repeated inside one doc is that doc's
    own business).

    Two corpus tokenize/explode passes TOTAL (r9, VERDICT r8 ask #4;
    was three):

    1. hashed candidate detection — the naive groupBy(gram) shuffles
       the FULL exploded frame on the ~n-token STRING key (~120 B/row,
       measured 152 s for the profile at sf10); aggregating on
       xxhash64(gram) shuffles 8-byte keys. Nothing persisted: the
       full span frame is ~doc_len× the corpus, caching it costs more
       than the narrow scan+explode it saves (measured r8).
    2. candidate extraction — re-explode with strings, semi-join the
       (measured-count broadcast) candidate hashes, and PERSIST the
       surviving (doc_id, s, gram) rows: true-duplicate sets are small
       in real corpora, and every downstream consumer (exact verify,
       profile's dup counts, scrub's dup positions) now reads this
       small cached frame instead of re-exploding the corpus — the r8
       shape paid a third full tokenize/explode pass here.

    The returned gram set stays EXACT: flags are verified on gram
    strings; a hash collision costs a few extra candidate rows, never
    a wrong flag.
    """
    # r10 (SCALE.md finding 26): the exploded span STRING frame is
    # persisted for the build's duration — r8 measured caching as a
    # loss against the THEN-shape (3 explode passes, string keys
    # everywhere); re-measured against the r9 2-pass shape, the cache
    # turns pass 2 into a cache scan and wins 30% at sf10 (184-203 s ->
    # 130-143 s profile). DISK_ONLY, deliberately: the frame is
    # corpus-sized, and at 16 g heap a memory-tier cache competes with
    # the candidate aggregate's execution memory (the MEMORY_AND_DISK
    # first cut OOMed the composed pipeline at sf10) — the cache exists
    # to avoid a second tokenize+gram-construction pass, not to hold
    # the corpus in RAM, and a sequential local-disk scan is exactly
    # the 100 TB story too. Lifetime is bounded IN-SCOPE: released
    # right after the candidate frame materializes (below), never
    # lingering. Dropping `.persist()` restores the recompute trade.
    from pyspark import StorageLevel

    shape = os.environ.get(_DUPSPAN_SHAPE_ENV, "docfilter")
    if shape == "posjoin":
        return _dup_span_frames_posjoin(docs, n)
    if shape == "docfilter":
        return _dup_span_frames_docfilter(docs, n)

    spans = docs.select(
        "doc_id",
        F.posexplode(_span_grams("text", n)).alias("s", "gram"),
    ).persist(StorageLevel.DISK_ONLY)
    gh = F.xxhash64("gram").alias("gh")
    cand_hashes = (
        spans.select(gh, "doc_id")
        .groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    ).persist()
    # finding-14 shape: the aggregate's size ESTIMATE inherits the
    # exploded input's, so Catalyst plans the probe as an SMJ that
    # shuffles the full ~120 B/row span frame — measured at sf10 even
    # with the hash key. Decide from the MEASURED duplicate count
    # instead: true-duplicate sets are small in real corpora; fall back
    # to the shuffle join only in a pathological all-duplicates regime.
    n_cand = cand_hashes.count()
    ch = (
        F.broadcast(cand_hashes) if n_cand <= 2_000_000 else cand_hashes
    )
    cand_spans = _linger(
        spans.join(
            ch,
            F.xxhash64("gram") == F.col("gh"),
            "left_semi",
        ).persist()
    )
    dup = _linger(
        cand_spans.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
        .persist()
    )
    n_dup = dup.count()  # also materializes cand_spans' cache
    # the candidate hash set fed only the semi-join above — release it;
    # the big span cache dies with it (cand_spans is materialized)
    cand_hashes.unpersist()
    spans.unpersist()
    if n_dup <= 500_000:  # ~60 MB of gram strings — broadcastable
        dup = F.broadcast(dup)
    return cand_spans, dup


def dup_span_profile(docs: DataFrame, n: int = DUP_SPAN_N) -> DataFrame:
    """Per-doc duplicate-span counts over a (doc_id, text) frame.

    ``n_spans`` is arithmetic, not a third explode: the positional
    gram count of a doc is exactly ``max(0, n_tokens - n + 1)``
    (sliding_structs contract), so the total-span side needs only a
    narrow per-doc token count; the dup side reads the small persisted
    candidate frame."""
    cand_spans, dup = _dup_span_frames(docs, n)
    n_spans = F.when(
        F.size(tokens("text")) >= n, F.size(tokens("text")) - F.lit(n - 1)
    ).otherwise(F.lit(0))
    nd = (
        cand_spans.join(dup, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_spans"))
    )
    return (
        docs.select("doc_id", n_spans.cast("bigint").alias("n_spans"))
        .join(nd, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0))
            .cast("bigint")
            .alias("n_dup_spans"),
            F.round(
                F.coalesce(
                    F.col("n_dup_spans") / F.col("n_spans"), F.lit(0.0)
                ),
                6,
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


def dup_span_scrub(docs: DataFrame, n: int = DUP_SPAN_N) -> DataFrame:
    """Remove every token covered by a cross-document duplicated span
    and re-assemble the text (ExactSubstr dedup, fixed windows).

    The sorted duplicate-span starts fold into disjoint MERGED
    ``[lo, hi]`` intervals first (linear in starts). The removal phase
    is then RANGE-based (r10, SCALE.md finding 25): ``n_removed`` is
    pure interval arithmetic and ``clean_text`` splices the gaps
    between intervals — no per-token membership test anywhere, so even
    a pathological boilerplate-spam doc costs O(intervals), never
    O(doc_len × dup_starts).
    """
    cand_spans, dup = _dup_span_frames(docs, n)
    # dup ⊆ candidate grams by construction, so the dup positions are
    # recoverable from the small persisted candidate frame — no third
    # corpus explode (r9, VERDICT r8 ask #4)
    dup_starts = (
        cand_spans.join(dup, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("s")).alias("dup_starts"))
    )
    toks = tokens("text")
    joined = docs.join(dup_starts, "doc_id", "left").withColumn(
        "dup_starts",
        F.coalesce("dup_starts", F.array().cast("array<int>")),
    )
    # a start s covers tokens [s, s + n - 1]; fold the ASCENDING starts
    # into disjoint intervals, merging when the next span overlaps or
    # abuts the open interval (s <= hi + 1 -- abutting ranges cover the
    # same token set merged or not)
    empty = F.array().cast("array<struct<lo:int,hi:int>>")
    intervals = F.aggregate(
        F.col("dup_starts"),
        empty,
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (s <= F.element_at(acc, -1)["hi"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["lo"].alias("lo"),
                        (s + F.lit(n - 1)).alias("hi"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        s.alias("lo"), (s + F.lit(n - 1)).alias("hi")
                    )
                ),
            )
        ),
    )
    joined = joined.withColumn("__toks", toks).withColumn(
        "__dup_iv", intervals
    )
    toks_col = F.col("__toks")
    iv = F.col("__dup_iv")
    ntok = F.size(toks_col)
    # r10 (SCALE.md finding 25): the removal phase is RANGE-based, not
    # per-token. The merged intervals are disjoint and clamped (a span
    # start s satisfies s <= n_tok - n, so hi = s+n-1 < n_tok), which
    # makes both outputs derivable without a per-token membership test:
    #
    # * n_removed = sum(hi - lo + 1) over the intervals — pure
    #   arithmetic. This is what lets the composed pipeline (which
    #   consumes ONLY n_removed; clean_text prunes away) skip the
    #   token-filter pass entirely: sf1 pipeline 53.6 -> 20.7 s (-61%)
    #   in the same-harness A/B.
    # * clean_text = the GAPS between intervals, spliced by array
    #   slices (one slice per interval + the tail) instead of the old
    #   per-token exists() filter — O(intervals) slice headers instead
    #   of O(tokens x intervals) predicate evaluations.
    #
    # slice() is 1-based: the gap before interval i is
    # [pos, i.lo] 1-based-exclusive -> slice(toks, pos, i.lo+1-pos);
    # disjointness guarantees every length >= 0.
    n_removed = F.aggregate(
        iv, F.lit(0), lambda acc, i: acc + i["hi"] - i["lo"] + 1
    )
    acc0 = F.struct(
        F.lit(1).cast("int").alias("pos"),
        F.array().cast("array<array<string>>").alias("parts"),
    )
    spliced = F.aggregate(
        iv,
        acc0,
        lambda acc, i: F.struct(
            (i["hi"] + 2).cast("int").alias("pos"),
            F.concat(
                acc["parts"],
                F.array(
                    F.slice(toks_col, acc["pos"], i["lo"] + 1 - acc["pos"])
                ),
            ).alias("parts"),
        ),
        lambda acc: F.concat_ws(
            " ",
            F.flatten(
                F.concat(
                    acc["parts"],
                    F.array(
                        F.slice(toks_col, acc["pos"], ntok + 1 - acc["pos"])
                    ),
                )
            ),
        ),
    )
    clean = F.when(
        F.size(iv) == 0, F.concat_ws(" ", toks_col)
    ).otherwise(spliced)
    return joined.select(
        "doc_id",
        clean.alias("clean_text"),
        n_removed.cast("bigint").alias("n_removed"),
    ).orderBy("doc_id")


def _dup_span_ctes_from(source: str) -> str:
    """The duplicate-span CTE block over an arbitrary (doc_id, text)
    relation — ``documents`` for the standalone operators, the
    quality-kept subset for the composed pipeline."""
    return f"""toks AS MATERIALIZED (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM {source}
    ), starts AS (
      SELECT doc_id, t,
             unnest(generate_series(0, len(t) - {DUP_SPAN_N}, 1)) AS s
      FROM toks WHERE len(t) >= {DUP_SPAN_N}
    ), grams AS MATERIALIZED (
      SELECT doc_id, s, array_to_string(t[s + 1 : s + {DUP_SPAN_N}], ' ')
               AS gram
      FROM starts
    ), dup AS (
      SELECT gram FROM grams GROUP BY gram
      HAVING COUNT(DISTINCT doc_id) >= 2
    )"""


_DUP_SPAN_CTES = "\n    WITH " + _dup_span_ctes_from("documents") + "\n"


@register(
    "doc_dup_span_profile",
    oracle=_DUP_SPAN_CTES
    + """
    , prof AS (
      SELECT g.doc_id, COUNT(*) AS n_spans, COUNT(d.gram) AS n_dup_spans
      FROM grams g LEFT JOIN dup d ON g.gram = d.gram
      GROUP BY g.doc_id
    )
    SELECT tk.doc_id,
           CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           ROUND(COALESCE(p.n_dup_spans * 1.0 / NULLIF(p.n_spans, 0),
                          0), 6) AS dup_frac
    FROM toks tk LEFT JOIN prof p ON tk.doc_id = p.doc_id
    ORDER BY tk.doc_id
    """,
    description=f"cross-document duplicate-span profile: per doc, how "
    f"many of its {DUP_SPAN_N}-token windows appear verbatim in other "
    "docs (the measurement half of ExactSubstr dedup, Lee et al. 2021). "
    "One shuffle counts distinct docs per span, one join flags them",
)
def doc_dup_span_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    _release_lingering()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dup_span_profile(docs)


@register(
    "doc_dup_span_scrub",
    oracle=_DUP_SPAN_CTES
    + f"""
    , dupstarts AS (
      SELECT DISTINCT g.doc_id, g.s
      FROM grams g JOIN dup d ON g.gram = d.gram
    ), tokpos AS (
      SELECT doc_id, unnest(t) AS tok,
             generate_subscripts(t, 1) - 1 AS j
      FROM toks
    ), flags AS (
      SELECT tp.doc_id, tp.j, tp.tok,
             CASE WHEN d.s IS NOT NULL THEN 1 ELSE 0 END AS dupflag
      FROM tokpos tp LEFT JOIN dupstarts d
        ON d.doc_id = tp.doc_id AND d.s = tp.j
    ), cov AS (
      SELECT doc_id, j, tok,
             MAX(dupflag) OVER (
               PARTITION BY doc_id ORDER BY j
               RANGE BETWEEN {DUP_SPAN_N - 1} PRECEDING AND CURRENT ROW
             ) AS covered
      FROM flags
    )
    SELECT doc_id,
           COALESCE(string_agg(tok, ' ' ORDER BY j)
                      FILTER (WHERE covered = 0), '') AS clean_text,
           CAST(COUNT(*) FILTER (WHERE covered = 1) AS BIGINT)
             AS n_removed
    FROM cov GROUP BY doc_id ORDER BY doc_id
    """,
    description=f"cross-document duplicate-span scrub (ExactSubstr "
    f"dedup, fixed {DUP_SPAN_N}-token windows): every token covered by "
    "a span that appears verbatim in ≥2 docs is removed and the doc "
    "re-assembled. Dup positions collect per doc (tiny frame), the "
    "removal is a narrow array filter — no token-level shuffle",
)
def doc_dup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    _release_lingering()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dup_span_scrub(docs)


SHUFFLE_SHARDS = 16  # training shards for the deterministic shuffle
# shard = HIGH bits of the mix (mix // this), never the low bits: the
# quality of multiplicative hashing lives in the high bits — and
# MIX_A ≡ 1 (mod 16), so low-bit bucketing would degenerate to
# round-robin on sequential ids (observed before this divisor landed)
_MIX_SHARD_DIV = MIX_M // SHUFFLE_SHARDS


@register(
    "doc_shuffle_shards",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             {mix32_sql("doc_id")} AS mix
      FROM documents
    )
    SELECT doc_id,
           CAST(mix // {_MIX_SHARD_DIV} AS INT) AS shard_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY mix // {_MIX_SHARD_DIV} ORDER BY mix, doc_id
           ) AS INT) AS shard_pos
    FROM m ORDER BY doc_id
    """,
    description=f"deterministic corpus shuffle into {SHUFFLE_SHARDS} "
    "training shards: multiplicative-hash mix -> shard bucket -> "
    "per-shard position window. The SGD-ready global shuffle WITHOUT "
    "a global ORDER BY funnel — ordering is established per shard, "
    "shards are independent (the doc_pack_bins pattern)",
)
def doc_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-random but fully deterministic corpus shuffle — the step
    that turns a crawl-ordered corpus into i.i.d.-looking training
    input. A naive ORDER BY rand() is a global sort through one task
    tier AND non-reproducible; here a multiplicative hash of doc_id
    assigns (shard, intra-shard order), so the only wide op is the
    per-shard window and a re-run (or a failed-stage retry) lands every
    doc in exactly the same place. The arithmetic mixer is shared
    verbatim with the oracle (``text.mix32``, overflow-safe for any
    bigint doc_id); a production run would swap in ``F.xxhash64``
    (better dispersion, engine-local determinism is all a pipeline
    needs — the arithmetic form exists so DuckDB can replicate it).
    """
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    mix = mix32(F.col("doc_id"))
    w = W.partitionBy("shard_id").orderBy("mix", "doc_id")
    return (
        docs.select("doc_id", mix.alias("mix"))
        .withColumn(
            "shard_id",
            F.floor(F.col("mix") / _MIX_SHARD_DIV).cast("int"),
        )
        .select(
            "doc_id",
            "shard_id",
            F.row_number().over(w).cast("int").alias("shard_pos"),
            "mix",
        )
        .drop("mix")
        .orderBy("doc_id")
    )


PACK_BUDGET = 256  # token budget per training bin


def _pack_oracle_tail(rel: str) -> str:
    """runs CTE + final packing select over an arbitrary
    (doc_id, lang, n_tokens) relation — shared by the doc_pack_bins
    oracle and the composed-pipeline oracle."""
    return f"""runs AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS run_total
      FROM {rel}
    )
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(FLOOR((run_total - n_tokens) / {PACK_BUDGET}) AS BIGINT)
             AS bin_id
    FROM runs ORDER BY doc_id"""


def pack_bins(counts: DataFrame) -> DataFrame:
    """Per-language fixed-boundary packing of a (doc_id, lang,
    n_tokens) frame — the Spark twin of :func:`_pack_oracle_tail`,
    shared by ``doc_pack_bins`` and ``pipeline_clean_pack``."""
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        counts.withColumn("run_total", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "lang",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.floor(
                (F.col("run_total") - F.col("n_tokens")) / PACK_BUDGET
            )
            .cast("bigint")
            .alias("bin_id"),
        )
        .orderBy("doc_id")
    )


@register(
    "doc_pack_bins",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens
      FROM documents
    ),
    {_pack_oracle_tail("toks")}
    """,
    description=f"sequence packing: assign docs to ~{PACK_BUDGET}-token "
    "training bins, packing contiguously in doc_id order WITHIN each "
    "language partition (fixed-boundary packing). The window is "
    "partitioned by lang — no global sort funnel; at 100 TB the same "
    "shape packs within (lang, shard) partitions",
)
def doc_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    return pack_bins(
        docs.select(
            "doc_id", "lang", F.size(tokens("text")).alias("n_tokens")
        )
    )


@register(
    "doc_lm_score",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
      FROM documents
    ), freq AS (
      SELECT w, COUNT(*) AS n FROM tok GROUP BY w
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(log10(f.n)), 6) AS avg_log_freq
    FROM tok t JOIN freq f ON t.w = f.w
    GROUP BY t.doc_id ORDER BY t.doc_id
    """,
    description="unigram LM quality proxy: score each doc by the mean "
    "log10 corpus frequency of its tokens (low = rare/garbled text, "
    "the cheap first-pass perplexity stand-in an LLM pipeline uses "
    "before a real LM). Two shuffles: one vocab count, one per-doc "
    "aggregation; the vocab join is a plain equi-join Catalyst can "
    "broadcast when the vocabulary fits",
)
def doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(tokens("text")).alias("w")
    )
    freq = tok.groupBy("w").agg(F.count("*").alias("n"))
    return (
        tok.join(freq, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.round(F.avg(F.log10("n")), 6).alias("avg_log_freq"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Bigram language model: train from the corpus, score docs under it
# ---------------------------------------------------------------------------

BIGRAM_TOP_N = 50  # model rows surfaced by the training query

# shared CTE: (doc_id, w1, w2) consecutive-token bigrams + the MLE
# model counts. Conditioning counts come from the bigram table itself
# (count of w1 as a left context), so P(w2|w1) sums to 1 per context.
_BIGRAM_CTES = """btoks AS MATERIALIZED (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w,
             generate_subscripts(string_split_regex(trim(text), '\\s+'), 1)
               AS i
      FROM documents
    ), bg AS MATERIALIZED (
      SELECT a.doc_id, a.w AS w1, b.w AS w2
      FROM btoks a JOIN btoks b
        ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ), cnt2 AS MATERIALIZED (
      SELECT w1, w2, COUNT(*) AS n FROM bg GROUP BY w1, w2
    ), cnt1 AS MATERIALIZED (
      SELECT w1, COUNT(*) AS n1 FROM bg GROUP BY w1
    )"""


def _bigram_frames(docs: DataFrame):
    """(bg, model): exploded bigram rows and the MLE conditional model.
    The model frame is bounded by the distinct-bigram count — driven by
    vocabulary (Heaps' law), far below corpus row count but NOT
    constant: an open-vocabulary 100 TB corpus prunes the model with a
    min-count threshold before shipping it, and the join strategy is
    left to size-based planning rather than a forced broadcast. The
    explode is CPU-spread explicitly (SCALE.md finding 8)."""
    from project_graphdb_spark.spark_util import repartition_for_cpu

    docs = repartition_for_cpu(docs, "doc_id")
    from project_graphdb_spark.operators.text_fns import sliding_structs

    bg = docs.select(
        "doc_id", F.explode(sliding_structs(tokens("text"), 2)).alias("b")
    ).select(
        "doc_id",
        F.col("b.t0").alias("w1"),
        F.col("b.t1").alias("w2"),
    )
    # one pass over the exploded bigrams: context counts derive FROM
    # the bigram counts (sum of n per w1 == count of w1 as a left
    # context), and the bigram-count frame is checkpointed — it is
    # model-sized while every un-checkpointed consumer would re-run
    # the corpus-sized explode (measured at sf1: 39 s -> ~14 s for
    # the model, one explode instead of two-plus)
    from project_graphdb_spark.spark_util import lingering_checkpoint

    cnt2 = lingering_checkpoint(
        bg.groupBy("w1", "w2").agg(F.count("*").alias("n"))
    )
    cnt1 = cnt2.groupBy("w1").agg(F.sum("n").alias("n1"))
    model = cnt2.join(cnt1, "w1")
    return bg, model


@register(
    "corpus_bigram_lm",
    oracle=f"""
    WITH {_BIGRAM_CTES}
    SELECT c2.w1, c2.w2, CAST(c2.n AS BIGINT) AS n,
           ROUND(c2.n * 1.0 / c1.n1, 6) AS p
    FROM cnt2 c2 JOIN cnt1 c1 ON c2.w1 = c1.w1
    ORDER BY c2.n DESC, c2.w1, c2.w2 LIMIT {BIGRAM_TOP_N}
    """,
    description=f"bigram LM training: MLE conditional probabilities "
    f"P(w2|w1) from consecutive-token counts, top {BIGRAM_TOP_N} by "
    "frequency. Two shuffles (bigram + context counts); model size is "
    "distinct-bigram-bounded (Heaps' law — prune by min count at "
    "open-vocabulary scale)",
)
def corpus_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    _, model = _bigram_frames(docs)
    return (
        model.select(
            "w1",
            "w2",
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("n1"), 6).alias("p"),
        )
        .orderBy(F.desc("n"), "w1", "w2")
        .limit(BIGRAM_TOP_N)
    )


@register(
    "doc_bigram_logprob",
    oracle=f"""
    WITH {_BIGRAM_CTES},
    score AS (
      SELECT g.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             ROUND(AVG(log10(c2.n * 1.0 / c1.n1)), 6) AS avg_logprob
      FROM bg g
      JOIN cnt2 c2 ON g.w1 = c2.w1 AND g.w2 = c2.w2
      JOIN cnt1 c1 ON g.w1 = c1.w1
      GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           s.avg_logprob
    FROM documents d LEFT JOIN score s ON d.doc_id = s.doc_id
    ORDER BY d.doc_id
    """,
    description="per-doc mean log10 P(w2|w1) under the corpus-trained "
    "bigram LM — the upgrade over the unigram doc_lm_score proxy "
    "(fluency, not just token rarity). The model join strategy is "
    "left to size-based planning (the model grows with vocabulary, "
    "not corpus rows — broadcast when it fits, shuffle when it "
    "doesn't); scoring the training corpus itself means no unseen "
    "bigrams, so MLE needs no smoothing",
)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bg, model = _bigram_frames(docs)
    score = (
        bg.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(F.avg(F.log10(F.col("n") / F.col("n1"))), 6).alias(
                "avg_logprob"
            ),
        )
    )
    return (
        docs.select("doc_id")
        .join(score, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0))
            .cast("bigint")
            .alias("n_bigrams"),
            "avg_logprob",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# BPE merge training: tokenizer learning as an iterative DataFrame job
# ---------------------------------------------------------------------------

BPE_MERGES = 12
BPE_MIN_FREQ = 2


def bpe_train(
    docs: DataFrame,
    n_merges: int = BPE_MERGES,
    min_freq: int = BPE_MIN_FREQ,
    keep_vocab: bool = True,
):
    """Learn byte-pair-encoding merges from a corpus.

    Classic BPE (Sennrich et al. 2016) trains on the WORD-FREQUENCY
    table, not the corpus: after one corpus-wide aggregation the state
    is a vocabulary-bounded frame (word, count, symbol array), so every
    merge round — count weighted adjacent symbol pairs, pick the most
    frequent, rewrite the arrays — runs on a frame whose size is
    independent of corpus size. The per-round top-1 collect pulls ONE
    row to the driver (the learned merge, a model artifact — same
    contract as the Lloyd centroids in the IVF quantizer).

    The pair rewrite is a left-to-right fold (``F.aggregate``): merging
    (a, b) consumes its operands, so overlapping occurrences like
    ``a a a`` merge once — the reference BPE behavior. Returns
    ``(merges, vocab)``: the ordered merge table rows and the final
    segmented vocabulary frame.

    Each round's checkpoint supersedes the previous one, which the
    ``graph.algorithms.Supersteps`` driver frees immediately — without
    that, ``n_merges`` vocabulary frames stay pinned in the block
    manager for the life of the session. A caller that only needs the
    merge table passes ``keep_vocab=False`` so the FINAL round's
    checkpoint is freed too (the merges frame is built from
    driver-collected rows and does not depend on it); otherwise the
    last vocab frame stays pinned for the life of the session.
    """
    from project_graphdb_spark.graph.algorithms import Supersteps
    from project_graphdb_spark.operators.text_fns import sliding_structs

    spark = docs.sparkSession
    merges: list[tuple[int, str, str, str, int]] = []
    with Supersteps("bpe_train", spark) as run:
        vocab = run.checkpoint(
            docs.select(F.explode(tokens("text")).alias("word"))
            .filter(F.col("word") != "")
            .groupBy("word")
            .agg(F.count("*").alias("n"))
            .withColumn("sym", F.split("word", "")),
            "vocab",
        )
        for r in run.supersteps(n_merges):
            pairs = vocab.select(
                "n", F.explode(sliding_structs(F.col("sym"), 2)).alias("p")
            )
            top = (
                pairs.groupBy(
                    F.col("p.t0").alias("a"), F.col("p.t1").alias("b")
                )
                .agg(F.sum("n").alias("cnt"))
                .orderBy(F.desc("cnt"), "a", "b")
                .limit(1)
                .collect()
            )
            if not top or top[0]["cnt"] < min_freq:
                break
            a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
            merged = a + b
            merges.append((r, a, b, merged, cnt))
            fold = F.aggregate(
                F.col("sym"),
                F.array().cast("array<string>"),
                lambda acc, s: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(a))
                    & (s == F.lit(b)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.lit(merged)),
                    ),
                ).otherwise(F.concat(acc, F.array(s))),
            )
            vocab = run.checkpoint(vocab.withColumn("sym", fold), "vocab")
        if not keep_vocab:
            run.free("vocab")
            vocab = None
    merges_df = spark.createDataFrame(
        merges,
        "rank int, left string, right string, merged string, "
        "pair_count bigint",
    )
    return merges_df, vocab


_BPE_US = "\x1f"


def _bpe_cte_chain(n_merges: int) -> list[str]:
    """The fixed-round BPE CTE blocks shared by the training and
    encoding oracles: ``vocab0 .. vocab{n}`` (delimited-string
    symbolizations) and ``top0 .. top{n-1}`` (the per-round winning
    pair) — see :func:`_bpe_oracle` for the delimiter trick."""
    us = _BPE_US
    d = us + us
    ctes = [
        f"""wtoks AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents
    ), words AS MATERIALIZED (
      SELECT word, COUNT(*) AS n FROM wtoks WHERE word <> ''
      GROUP BY word
    ), vocab0 AS (
      SELECT word, n,
             '{us}' || array_to_string(string_split(word, ''), '{d}')
               || '{us}' AS s
      FROM words
    )"""
    ]
    for r in range(n_merges):
        ctes.append(
            f"""sy{r} AS (
      SELECT word, n,
             unnest(string_split(trim(s, '{us}'), '{d}')) AS c,
             generate_subscripts(string_split(trim(s, '{us}'), '{d}'), 1)
               AS i
      FROM vocab{r}
    ), top{r} AS MATERIALIZED (
      SELECT x.c AS a, y.c AS b, SUM(x.n) AS cnt
      FROM sy{r} x JOIN sy{r} y ON x.word = y.word AND y.i = x.i + 1
      GROUP BY x.c, y.c ORDER BY cnt DESC, a, b LIMIT 1
    ), vocab{r + 1} AS (
      SELECT v.word, v.n,
             replace(v.s, '{us}' || t.a || '{d}' || t.b || '{us}',
                     '{us}' || t.a || t.b || '{us}') AS s
      FROM vocab{r} v CROSS JOIN top{r} t
    )"""
        )
    return ctes


def _bpe_oracle(
    n_merges: int = BPE_MERGES, min_freq: int = BPE_MIN_FREQ
) -> str:
    """Fixed-round BPE training as one DuckDB statement: the same
    chained-CTE technique as the connected-components oracle
    (``dedup.py`` ``l0..l16``), one CTE block per merge round.

    Key trick: a word's symbolization is carried as ONE delimited
    string — every symbol wrapped in unit separators, so the string is
    ``US s1 US US s2 US … US sk US`` — and the greedy left-to-right
    non-overlapping merge fold (``F.aggregate`` on the Spark side) is
    exactly SQL ``replace()`` of ``US a US US b US`` with
    ``US ab US``: ``replace`` scans left to right and resumes AFTER
    each substitution, so ``a a a`` under merge (a,a) becomes
    ``aa a`` on both engines. The double-separator framing makes a
    match align to whole symbols only (a suffix of one symbol plus a
    prefix of the next can never contain ``US a US US b US``).
    Precondition: no word contains the 0x1f byte (true of
    whitespace-tokenized text; a production corpus would pre-filter
    control bytes in the quality gate anyway).

    The ``min_freq`` early-stop is a prefix filter at the end
    (cumulative min of pair counts ≥ threshold): rounds the Spark loop
    never ran are computed but not emitted, and since emission stops
    at the first below-threshold round the extra rounds cannot differ
    on any emitted row.
    """
    ctes = _bpe_cte_chain(n_merges)
    unions = "\n      UNION ALL ".join(
        f'SELECT {i} AS "rank", a, b, cnt FROM top{i}'
        for i in range(n_merges)
    )
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + f""",
    m AS ({unions})
    SELECT CAST("rank" AS INTEGER) AS "rank", a AS "left", b AS "right",
           a || b AS merged, CAST(cnt AS BIGINT) AS pair_count
    FROM m
    QUALIFY MIN(cnt) OVER (ORDER BY "rank" ROWS BETWEEN UNBOUNDED
                           PRECEDING AND CURRENT ROW) >= {min_freq}
    ORDER BY "rank"
    """
    )


@register(
    "corpus_bpe_merges",
    oracle=_bpe_oracle(),
    description=f"BPE tokenizer training: learn {BPE_MERGES} merges "
    "from the corpus word-frequency table (Sennrich et al. 2016). "
    "One corpus aggregation, then every round runs on the "
    "vocabulary-bounded frame; per-round driver pull is one row (the "
    "learned merge). Oracle = the full fixed-round loop as chained "
    "DuckDB CTEs (delimited-string replace == the greedy merge fold)",
)
def corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("text")
    merges, _ = bpe_train(docs, keep_vocab=False)
    return merges.orderBy("rank")


def _bpe_encode_oracle(
    n_merges: int = BPE_MERGES, min_freq: int = BPE_MIN_FREQ
) -> str:
    """Encoding oracle: run the vocab chain WITH the trainer's
    early-stop, then join every corpus word position against the FINAL
    segmented vocabulary and aggregate per-doc token counts.

    The early-stop is replicated by a freeze: each round's rewrite is a
    LEFT JOIN against its winning pair filtered to ``cnt >= min_freq``
    — an empty or below-threshold round leaves the symbolization
    unchanged (COALESCE back to the previous string), and a frozen
    vocabulary recomputes the same below-threshold argmax every
    following round, so it stays frozen — exactly ``bpe_train``'s
    ``break``. (The fixed-round chain without this guard would keep
    merging cnt=1 pairs the trainer never learned, or go EMPTY on a
    zero-pair round via its CROSS JOIN.)"""
    us = _BPE_US
    d = us + us
    # base block only (wtoks/words/vocab0) — the freeze chain below
    # replaces the fixed-round chain entirely
    ctes = ",\n    ".join(_bpe_cte_chain(0))
    freeze = ",\n    ".join(
        f"""fvocab{r + 1} AS (
      SELECT v.word, v.n,
             COALESCE(replace(v.s, '{us}' || t.a || '{d}' || t.b || '{us}',
                              '{us}' || t.a || t.b || '{us}'), v.s) AS s
      FROM fvocab{r} v LEFT JOIN (
        SELECT f.a, f.b FROM ftop{r} f WHERE f.cnt >= {min_freq}
      ) t ON TRUE
    ), fsy{r + 1} AS (
      SELECT word, n,
             unnest(string_split(trim(s, '{us}'), '{d}')) AS c,
             generate_subscripts(string_split(trim(s, '{us}'), '{d}'), 1)
               AS i
      FROM fvocab{r + 1}
    ), ftop{r + 1} AS MATERIALIZED (
      SELECT x.c AS a, y.c AS b, SUM(x.n) AS cnt
      FROM fsy{r + 1} x JOIN fsy{r + 1} y
        ON x.word = y.word AND y.i = x.i + 1
      GROUP BY x.c, y.c ORDER BY cnt DESC, a, b LIMIT 1
    )"""
        for r in range(n_merges - 1)
    )
    return f"""
    WITH {ctes},
    fvocab0 AS (SELECT * FROM vocab0),
    fsy0 AS (
      SELECT word, n,
             unnest(string_split(trim(s, '{us}'), '{d}')) AS c,
             generate_subscripts(string_split(trim(s, '{us}'), '{d}'), 1)
               AS i
      FROM fvocab0
    ), ftop0 AS MATERIALIZED (
      SELECT x.c AS a, y.c AS b, SUM(x.n) AS cnt
      FROM fsy0 x JOIN fsy0 y ON x.word = y.word AND y.i = x.i + 1
      GROUP BY x.c, y.c ORDER BY cnt DESC, a, b LIMIT 1
    ),
    {freeze},
    fvocab{n_merges} AS (
      SELECT v.word, v.n,
             COALESCE(replace(v.s,
                              '{us}' || t.a || '{d}' || t.b || '{us}',
                              '{us}' || t.a || t.b || '{us}'), v.s) AS s
      FROM fvocab{n_merges - 1} v LEFT JOIN (
        SELECT f.a, f.b FROM ftop{n_merges - 1} f
        WHERE f.cnt >= {min_freq}
      ) t ON TRUE
    ),
    dwords AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(text), '\\s+')) AS word
      FROM documents
    ), seg AS (
      SELECT w.doc_id,
             len(string_split(trim(v.s, '{us}'), '{d}')) AS n_sym
      FROM dwords w JOIN fvocab{n_merges} v ON w.word = v.word
      WHERE w.word <> ''
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(n_sym) AS DOUBLE) / COUNT(*) AS tokens_per_word
    FROM seg GROUP BY doc_id ORDER BY doc_id
    """


@register(
    "doc_bpe_encode",
    oracle=_bpe_encode_oracle(),
    description=f"BPE tokenizer APPLICATION: encode every document "
    f"with the {BPE_MERGES} merges learned by corpus_bpe_merges — "
    "per-doc word count, BPE token count, and tokens/word. Encoding "
    "is a word-level join against the trained segmented vocabulary "
    "(each distinct word segmented once, not once per occurrence); "
    "the join is left size-based — the vocabulary is "
    "distinct-word-bounded, so AQE broadcasts it at test scale and "
    "falls back to a shuffle join when a 100 TB corpus's vocabulary "
    "outgrows broadcast. Oracle = the training CTE chain + the same "
    "vocab join",
)
def doc_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the trained BPE merges.

    Classic-BPE property: segmentation is a function of the WORD, so
    the corpus-side work is one tokenize + one join with the segmented
    vocabulary (`bpe_train`'s final state) — the merge fold never runs
    per occurrence. At 100 TB the corpus side is a narrow explode and
    the vocabulary side is bounded by distinct words.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    _merges, vocab = bpe_train(docs.select("text"))
    words = docs.select(
        "doc_id", F.explode(tokens("text")).alias("word")
    ).filter(F.col("word") != "")
    seg = words.join(vocab.select("word", F.size("sym").alias("n_sym")), "word")
    return (
        seg.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("n_sym").cast("bigint").alias("n_bpe_tokens"),
            (
                F.sum("n_sym").cast("double") / F.count("*")
            ).alias("tokens_per_word"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Composed pipeline: quality gate -> duplicate-span scrub -> packing
# ---------------------------------------------------------------------------


def _pipeline_oracle() -> str:
    from project_graphdb_spark.operators.text_fns import (
        QUALITY_GATE_PRED_SQL,
        quality_ctes_from,
    )

    return f"""
    WITH {quality_ctes_from("documents")},
    keepids AS MATERIALIZED (
      SELECT doc_id FROM qd WHERE {QUALITY_GATE_PRED_SQL}
    ), kept AS MATERIALIZED (
      SELECT d.doc_id, d.lang, d.text
      FROM documents d JOIN keepids k ON d.doc_id = k.doc_id
    ),
    {_dup_span_ctes_from("kept")},
    dupstarts AS (
      SELECT DISTINCT g.doc_id, g.s
      FROM grams g JOIN dup USING (gram)
    ), tokpos AS (
      SELECT doc_id, generate_subscripts(t, 1) - 1 AS j FROM toks
    ), cov AS (
      SELECT tp.doc_id, tp.j,
             MAX(CASE WHEN d.s IS NOT NULL THEN 1 ELSE 0 END) OVER (
               PARTITION BY tp.doc_id ORDER BY tp.j
               RANGE BETWEEN {DUP_SPAN_N - 1} PRECEDING AND CURRENT ROW
             ) AS covered
      FROM tokpos tp LEFT JOIN dupstarts d
        ON d.doc_id = tp.doc_id AND d.s = tp.j
    ), cleaned AS (
      SELECT cv.doc_id, k.lang,
             COUNT(*) FILTER (WHERE cv.covered = 0) AS n_tokens
      FROM cov cv JOIN kept k ON cv.doc_id = k.doc_id
      GROUP BY cv.doc_id, k.lang
    ),
    {_pack_oracle_tail("cleaned")}
    """


@register(
    "pipeline_clean_pack",
    oracle=_pipeline_oracle(),
    description="composed cleaning pipeline in one plan: quality gate "
    "(length/diversity/repetition) -> cross-document duplicate-span "
    "scrub AMONG THE KEPT DOCS -> per-language sequence packing of "
    "the scrubbed token counts. Proves the operators compose — the "
    "oracle chains the same three stages as CTEs",
)
def pipeline_clean_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end shape a real corpus-prep job runs, as ONE lazy
    plan: no intermediate materialization between stages, so Catalyst
    prunes the text column after the scrub stage and the only wide ops
    are the ones the component operators already own. Each stage is the
    SHARED core of its standalone operator (quality_gate_stats,
    dup_span_scrub, pack_bins) — no duplicated logic."""
    from project_graphdb_spark.operators.text_fns import quality_gate_stats

    _release_lingering()
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    # the keep list is consumed three times (kept-semi here, n0 join
    # below, and the scrub recomputes spans over `kept` twice) — persist
    # the narrow (doc_id, n_tokens) stats once and BROADCAST the id
    # list (8 B/doc; measured-count guard), so no downstream consumer
    # re-tokenizes the corpus or shuffles the text column for the semi.
    # _linger: released by the NEXT top-level call, not here — the
    # returned plan still reads it (see _release_lingering)
    keep_stats = _linger(
        quality_gate_stats(docs.select("doc_id", "text"))
        .filter("keep")
        .select("doc_id", "n_tokens")
        .persist()
    )
    n_keep = keep_stats.count()
    keep_ids = keep_stats.select("doc_id")
    if n_keep <= 20_000_000:  # ~160 MB of ids
        keep_ids = F.broadcast(keep_ids)
    kept = docs.join(keep_ids, "doc_id", "left_semi")
    scrubbed = dup_span_scrub(kept.select("doc_id", "text"))
    n_clean = (
        keep_stats.select("doc_id", F.col("n_tokens").alias("n0"))
        .join(scrubbed.select("doc_id", "n_removed"), "doc_id")
        .join(docs.select("doc_id", "lang"), "doc_id")  # narrow cols only
        .select(
            "doc_id",
            "lang",
            (F.col("n0") - F.col("n_removed")).alias("n_tokens"),
        )
    )
    return pack_bins(n_clean)
