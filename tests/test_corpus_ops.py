"""Unit tests for the duplicate-span scrub family and the JSONL source.

The registered sf0.01 forms are oracle-gated in test_workload_oracle;
these tests pin the semantics on handcrafted corpora where the expected
output is computable by hand, plus the JSONL corrupt-line quarantine.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from project_graphdb_spark.io.jsonl import (
    read_jsonl,
    split_corrupt,
    write_jsonl,
)
from project_graphdb_spark.operators.corpus import (
    dup_span_profile,
    dup_span_scrub,
)

DOCS = [
    (1, "a b c d e f"),  # shares "a b c" with doc 2
    (2, "x y a b c z"),
    (3, "p q r"),  # unique
    (4, "m n"),  # shorter than the window — no spans at all
    (5, "a b c d a b c"),  # two overlapping covered regions
    (6, "a b c"),  # fully covered — scrubs to empty
]


def _docs_df(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_dup_span_scrub_handcrafted(spark):
    out = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in dup_span_scrub(_docs_df(spark), n=3).collect()
    }
    # doc 1 shares "a b c" AND "b c d" with doc 5, so its covered
    # region is [0..3]; doc 5's dup starts {0, 1, 4} cover everything
    assert out == {
        1: ("e f", 4),
        2: ("x y z", 3),
        3: ("p q r", 0),
        4: ("m n", 0),
        5: ("", 7),
        6: ("", 3),
    }


def test_dup_span_profile_handcrafted(spark):
    out = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_frac"])
        for r in dup_span_profile(_docs_df(spark), n=3).collect()
    }
    assert out[1] == (4, 2, 0.5)  # "a b c" and "b c d" both shared
    assert out[2] == (4, 1, 0.25)
    assert out[3] == (1, 0, 0.0)
    assert out[4] == (0, 0, 0.0)  # no spans → frac 0, not null
    assert out[5] == (5, 3, 0.6)
    assert out[6] == (1, 1, 1.0)


def test_dup_span_scrub_idempotent(spark):
    """Scrubbing an already-scrubbed corpus removes nothing more."""
    once = dup_span_scrub(_docs_df(spark), n=3).select(
        "doc_id", "clean_text"
    )
    twice = dup_span_scrub(
        once.withColumnRenamed("clean_text", "text"), n=3
    )
    assert twice.filter("n_removed > 0").count() == 0


def test_jsonl_roundtrip_and_corrupt_quarantine(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, "hello"), (2, "world")], schema=schema
    )
    path = str(tmp_path / "shards")
    write_jsonl(df, path)
    back = read_jsonl(spark, path, schema)
    assert back.schema == schema
    assert sorted((r.doc_id, r.text) for r in back.collect()) == [
        (1, "hello"),
        (2, "world"),
    ]

    # add a shard with a malformed line: the default scan DROPS the
    # bad row at the parser (no all-null phantom rows), while
    # keep_corrupt=True quarantines the raw line via split_corrupt
    with open(tmp_path / "shards" / "bad-shard.json", "w") as f:
        f.write('{"doc_id": oops not json\n')
    dropped = read_jsonl(spark, path, schema)
    assert dropped.count() == 2
    assert dropped.filter("doc_id IS NULL").count() == 0
    good, bad, parsed = split_corrupt(
        read_jsonl(spark, path, schema, keep_corrupt=True)
    )
    assert good.count() == 2
    assert bad.count() == 1
    assert "oops" in bad.collect()[0][0]
    parsed.unpersist()


def test_jsonl_write_shards_by_partition(spark, tmp_path):
    df = spark.range(100).selectExpr("id AS doc_id", "'t' AS text")
    path = str(tmp_path / "sharded")
    write_jsonl(df.repartition(4), path)
    parts = [
        p for p in os.listdir(path) if p.startswith("part-")
    ]
    assert len(parts) == 4


def test_doc_shuffle_shards_deterministic_and_dispersed(spark, sf_dir):
    """The shuffle is reproducible across input partitionings (a
    failed-stage retry must land every doc in the same place) and the
    shard assignment actually scrambles crawl order rather than
    degenerating to round-robin."""
    from project_graphdb_spark.operators.corpus import (
        SHUFFLE_SHARDS,
        doc_shuffle_shards,
    )

    out = doc_shuffle_shards(spark, sf_dir)
    rows = {(r.doc_id, r.shard_id, r.shard_pos) for r in out.collect()}
    shards = {s for _, s, _ in rows}
    assert shards <= set(range(SHUFFLE_SHARDS))
    # consecutive doc_ids spread across shards, not doc_id % N
    assert any(s != d % SHUFFLE_SHARDS for d, s, _ in rows)
    # per-shard positions are a clean 1..k sequence
    by_shard: dict = {}
    for _, s, p in rows:
        by_shard.setdefault(s, []).append(p)
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))


def test_bigram_model_is_valid_distribution(spark, sf_dir):
    """P(w2|w1) sums to 1 within each context in the unrounded model."""
    from pyspark.sql import functions as F

    from project_graphdb_spark.io.tables import load_table
    from project_graphdb_spark.operators.corpus import _bigram_frames

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    _, model = _bigram_frames(docs)
    sums = (
        model.groupBy("w1")
        .agg(F.sum(F.col("n") / F.col("n1")).alias("total_p"))
        .collect()
    )
    assert sums
    for r in sums:
        assert abs(r.total_p - 1.0) < 1e-9, r


def test_mix_rebalance_respects_target(spark, oracle_sf_dir):
    """Sources at/below their target share keep every doc; sources
    above are downsampled to ~frac of their rows."""
    from project_graphdb_spark.operators.text import doc_mix_rebalance

    from project_graphdb_spark.io.tables import load_table

    src_counts = {
        r.source: r.n
        for r in load_table(spark, oracle_sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    rows = doc_mix_rebalance(spark, oracle_sf_dir).collect()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r.sample_frac)
    for src, fracs in by_src.items():
        frac = fracs[0]
        if len(src) % 2 == 0:  # double-weighted stratum
            assert frac == 1.0, (src, frac)
            assert len(fracs) == src_counts[src]  # kept whole
        else:
            assert frac < 1.0
            assert len(fracs) < src_counts[src]


def test_mix32_no_int64_overflow_on_huge_ids(spark):
    """The shared mixer must equal (id * A) mod 2^32 computed in
    arbitrary precision for ids past the int64 wrap point (~3.49e9),
    on BOTH engines — the corpus scale the shuffle docs advertise."""
    import duckdb

    from project_graphdb_spark.operators.text import (
        MIX_A,
        MIX_M,
        mix32,
        mix32_sql,
    )

    ids = [0, 1, 3_490_000_000, 2**32 - 1, 2**32, 2**40 + 123, 2**62]
    exp = {i: (i * MIX_A) % MIX_M for i in ids}
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r.doc_id: r.m
        for r in df.select(
            "doc_id", mix32(F.col("doc_id")).alias("m")
        ).collect()
    }
    assert got == exp
    con = duckdb.connect()
    duck = dict(
        con.sql(
            f"SELECT doc_id, {mix32_sql('doc_id')} AS m "
            f"FROM (SELECT unnest({ids}) AS doc_id)"
        ).fetchall()
    )
    assert duck == exp


def _ref_bpe(words: dict, n_merges: int, min_freq: int):
    """Pure-Python reference BPE (Sennrich et al. 2016): count all
    adjacent symbol positions (overlaps included), pick max count with
    lexicographic tie-break, apply a left-to-right consuming merge."""
    vocab = {w: list(w) for w in words}
    merges = []
    for r in range(n_merges):
        counts: dict = {}
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + words[w]
        if not counts:
            break
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if cnt < min_freq:
            break
        merges.append((r, a, b, a + b, cnt))
        for w, syms in vocab.items():
            out: list = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            vocab[w] = out
    return merges


def test_bpe_train_matches_python_reference(spark, sf_dir):
    """The distributed trainer reproduces the reference merge sequence
    on the real test corpus."""
    from collections import Counter

    from project_graphdb_spark.io.tables import load_table
    from project_graphdb_spark.operators.corpus import bpe_train

    docs = load_table(spark, sf_dir, "documents").select("text")
    words = Counter(
        w
        for r in docs.collect()
        for w in r.text.strip().split()
        if w
    )
    expected = _ref_bpe(dict(words), 12, 2)
    merges, _ = bpe_train(docs, n_merges=12, min_freq=2)
    got = [
        (r.rank, r.left, r.right, r.merged, r.pair_count)
        for r in merges.orderBy("rank").collect()
    ]
    assert got == expected


def test_bpe_train_overlap_and_ties(spark):
    """Overlapping pairs merge left-to-right consuming their operands
    ('aaaa' -> 'aa','aa'), and ties break lexicographically."""
    from project_graphdb_spark.operators.corpus import bpe_train

    docs = spark.createDataFrame(
        [("aaaa aaaa",), ("bc bc bc",)], ["text"]
    )
    merges, vocab = bpe_train(docs, n_merges=2, min_freq=2)
    rows = [
        (r.left, r.right, r.pair_count)
        for r in merges.orderBy("rank").collect()
    ]
    # 'a a' appears 3 positions x 2 copies = 6; 'b c' = 3
    assert rows[0] == ("a", "a", 6)
    segs = {
        r.word: list(r.sym) for r in vocab.collect()
    }
    assert segs["aaaa"] == ["aa", "aa"]


def test_bpe_train_frees_superseded_checkpoints(spark, sf_dir):
    """Each merge round's checkpoint supersedes the previous one, which
    must be freed — only the returned vocab frame may stay pinned."""
    from project_graphdb_spark.io.tables import load_table
    from project_graphdb_spark.operators.corpus import bpe_train
    from project_graphdb_spark.spark_util import (
        free_all_persistent,
        persistent_rdd_ids,
    )

    free_all_persistent(spark, run_jvm_gc=False)
    docs = load_table(spark, sf_dir, "documents").select("text")
    before = persistent_rdd_ids(spark.sparkContext)
    bpe_train(docs)
    leaked = persistent_rdd_ids(spark.sparkContext) - before
    assert len(leaked) <= 1, f"superseded checkpoints leaked: {leaked}"
    # a merges-only caller must leave NOTHING pinned
    free_all_persistent(spark, run_jvm_gc=False)
    before = persistent_rdd_ids(spark.sparkContext)
    bpe_train(docs, keep_vocab=False)
    leaked = persistent_rdd_ids(spark.sparkContext) - before
    assert not leaked, f"keep_vocab=False leaked checkpoints: {leaked}"


def test_dup_span_scrub_all_duplicate_doc(spark):
    """Pathological boilerplate case: every window duplicated. The
    merged-interval filter must scrub everything without the
    O(doc_len^2) raw-starts blowup, and the result is exactly empty."""
    from project_graphdb_spark.operators.corpus import dup_span_scrub

    text = " ".join(f"t{i % 7}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, text), (2, text)], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in dup_span_scrub(docs).collect()}
    for d in (1, 2):
        assert out[d].clean_text == ""
        assert out[d].n_removed == 200


def test_dup_span_persists_do_not_accumulate(spark, sf_dir):
    """ADVICE r8 low #2: cand_hashes/dup/keep_stats were persist()ed
    and never released, so a long-lived session running many queries
    (the driver's 50-query gate) accumulated cached frames. Now the
    candidate hash set is unpersisted as soon as the dup frame's cache
    is materialized, and each top-level call releases the previous
    call's lingering frames — so repeated calls hold a CONSTANT number
    of persisted RDDs, not a growing one."""
    from project_graphdb_spark import workload
    from project_graphdb_spark.spark_util import persistent_rdd_ids

    workload._ensure_loaded()
    fn = workload.REGISTRY["doc_dup_span_profile"].fn

    fn(spark, sf_dir).collect()
    after_first = len(persistent_rdd_ids(spark.sparkContext))
    for _ in range(3):
        fn(spark, sf_dir).collect()
    after_fourth = len(persistent_rdd_ids(spark.sparkContext))
    assert after_fourth <= after_first, (
        f"persisted RDDs grew {after_first} -> {after_fourth}"
    )
