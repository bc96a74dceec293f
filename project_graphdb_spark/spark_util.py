"""Shared block-manager/persistence helpers.

One home for the py4j snippets that inspect or free persistent RDD
state and read stage statistics from the application status store,
used by `graph/algorithms.py`, `operators/dedup.py` and the harnesses.
"""

from __future__ import annotations

import threading

# Serializes the before/diff/after window of tracked checkpoints
# (see graph.algorithms._ckpt): without it, two threads checkpointing
# concurrently on one session could each capture the other's fresh RDD
# ids and later free blocks still in use. It cannot protect against
# arbitrary user persists racing the window, but it makes the library's
# own iterative algorithms safe to run concurrently on a shared session.
CKPT_LOCK = threading.Lock()


def persistent_rdd_ids(sc) -> set[int]:
    """Ids of every RDD currently registered with the block manager.

    Accepts a SparkContext (callers inside algorithm loops) — pass
    ``spark.sparkContext`` when holding a session.
    """
    return {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}


def unpersist_ids(sc, ids: set[int], blocking: bool = False) -> None:
    """Free the given block-manager RDD ids."""
    jmap = sc._jsc.getPersistentRDDs()
    for i in ids:
        rdd = jmap.get(i)
        if rdd is not None:
            rdd.unpersist(blocking)


def free_all_persistent(spark, run_jvm_gc: bool = True) -> None:
    """Unpersist EVERY registered RDD, then (optionally) force a
    driver-JVM GC.

    The GC matters for long sessions: Spark's ContextCleaner reclaims
    shuffle files, broadcast blocks and accumulator state only when the
    JVM garbage-collects the corresponding driver-side references —
    with a 16 g heap that can be never during a multi-query run, and
    the accumulated state measurably drags later queries (Spark's own
    ``spark.cleaner.periodicGC.interval`` defaults to 30 min for the
    same reason). Used by the bench runners between queries.
    """
    sc = spark.sparkContext
    unpersist_ids(sc, persistent_rdd_ids(sc), blocking=True)
    if run_jvm_gc:
        sc._jvm.System.gc()


def stage_shuffle_bytes(spark) -> dict[tuple[int, int], tuple[int, int]]:
    """``(stage id, attempt) -> (shuffle read bytes, shuffle write
    bytes)`` for every stage the application status store holds.

    The store is kept with ``spark.ui.enabled=false`` and holds the
    last ``spark.ui.retainedStages`` (1000) stages. The stages a run
    added are the keys missing before it. The listener bus is drained
    first, so the stages of a job that just returned are in the list.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jvm = sc._jvm
    # stageList(statuses, details, withSummaries, quantiles, taskStatus):
    # an empty status list selects every stage
    stages = jsc.statusStore().stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    out = {}
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        out[(s.stageId(), s.attemptId())] = (
            s.shuffleReadBytes(),
            s.shuffleWriteBytes(),
        )
    return out


# ---------------------------------------------------------------------------
# Shared lingering-persist window (r10, VERDICT r9 ask #7)
# ---------------------------------------------------------------------------
# Frames persisted/checkpointed by a builder but consumed by the
# RETURNED lazy plan cannot be released inside the builder — the
# pattern corpus.py solved locally in r9 (its dup-span `_LINGERING`)
# and the r10 persist-leak gate (tests/test_persist_gate.py) found in
# SIX more families: the Pregel algorithms' final superstep
# checkpoints, both BFS's level blocks, the winnow fingerprint frame,
# the bigram model, and the roundtrip sinks' checkpointed results.
# One shared rolling window: every registered query releases the
# PREVIOUS query's lingering entries when it starts (workload.register
# wraps each fn), so at most one query's frames outlive their
# materialization. Releasing a frame a caller still holds is always
# safe — the plan recomputes from lineage.
#
# CONSTRAINT: at most ONE outstanding lingering-family PLAN per
# process. Building a second such query before materializing the first
# releases blocks the first still reads — correct but a full
# recompute. Every harness in this repo builds+materializes one query
# at a time.
_LINGERING: list = []  # ("df", DataFrame) | ("ids", sc, set[int])
_LINGER_LOCK = threading.Lock()


def linger(df):
    """Register a persisted DataFrame for deferred release (the next
    registered query's start, or an explicit release_lingering())."""
    with _LINGER_LOCK:
        _LINGERING.append(("df", df))
    return df


def linger_ids(sc, ids: set[int]) -> None:
    """Register raw block-manager RDD ids (checkpoint blocks) for
    deferred release."""
    if ids:
        with _LINGER_LOCK:
            _LINGERING.append(("ids", sc, set(ids)))


def release_lingering() -> None:
    with _LINGER_LOCK:
        items, _LINGERING[:] = _LINGERING[:], []
    for item in items:
        if item[0] == "df":
            item[1].unpersist()
        else:
            unpersist_ids(item[1], item[2])


def lingering_checkpoint(df):
    """Eager localCheckpoint whose blocks are registered in the
    lingering window (localCheckpoint pins its blocks until the RDD is
    GC'd — on a 16g driver heap that can be never, see
    free_all_persistent). CKPT_LOCK serializes the id-capture window
    against concurrent checkpointers on the same session."""
    sc = df.sparkSession.sparkContext
    with CKPT_LOCK:
        before = persistent_rdd_ids(sc)
        out = df.localCheckpoint(eager=True)
        linger_ids(sc, persistent_rdd_ids(sc) - before)
    return out


def repartition_for_cpu(df, *cols):
    """Repartition with an EXPLICIT partition count (the cluster's
    default parallelism), for narrow maps whose cost is CPU per row.

    A count-unspecified ``repartition(col)`` is AQE-optimizable: when
    the input is byte-small, AQE coalesces the shuffle back toward one
    partition — optimizing for data volume exactly when the cost is
    per-row CPU (shingling, per-gram hashing), serializing the map.
    An explicit count is exempt from AQE coalescing. Measured on the
    winnowing gram map at sf0.1: 3.95 s coalesced vs 0.78 s spread.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *cols)


# measured values (row counts, edge fan-ins), keyed by (what was
# measured, session id, analyzed-plan semantic hash). Bounded: cleared
# wholesale past 512 entries (a handful per query; this never fires in
# practice, it only caps a pathological registry-wide sweep).
_MEASURED_MEMO: dict[tuple[str, int, int], object] = {}


def _est_row_bytes(schema) -> int:
    """Conservative per-row byte estimate from a StructType: fixed
    widths for primitives, pessimistic constants for variable-width
    types. Used to turn adaptive_broadcast's row guard into a BYTES
    guard — a row-count-only guard would force-broadcast a just-under-
    guard slice of a WIDE table (hundreds of MB/executor, the OOM
    class the no-forced-broadcast policy exists for)."""
    fixed = {
        "boolean": 1, "byte": 1, "short": 2, "integer": 4, "long": 8,
        "float": 4, "double": 8, "date": 4, "timestamp": 8,
        "timestamp_ntz": 8,
    }
    total = 0
    for f in schema.fields:
        t = f.dataType.typeName()
        if t in fixed:
            total += fixed[t]
        elif t.startswith("decimal"):
            total += 16
        elif t == "string":
            total += 32  # this corpus's names/comments average under this
        elif t in ("array", "map", "binary", "struct"):
            total += 256  # embeddings/payloads: pessimistic, var-width
        else:
            total += 32
    return max(total, 8)


def adaptive_broadcast(
    df, max_rows: int = 2_000_000, max_bytes: int = 128 << 20
):
    """Measured-count broadcast decision for SF-scaled-but-filtered
    frames (the corpus.py finding-14 pattern, shared).

    Catalyst's static size estimate for a filtered/joined slice
    inherits the unfiltered input's, so the planner picks an SMJ that
    shuffles the FACT side on the slice's key even when the slice is
    tiny (measured on Q7 at sf10: full lineitem shuffled on l_suppkey
    against an 8k-row supplier slice — 1.4 GB of the query's 1.8 GB
    exchange volume). A FORCED broadcast hint would OOM once the slice
    outgrows executor memory at some SF (the repo's
    no-forced-broadcast-of-SF-scaled-tables policy), so decide from
    the MEASURED row count: one narrow count job over the slice, hint
    only under the guard, shuffle-join fallback above it.

    Two guards, both required (ADVICE r9): ``max_rows`` bounds the
    hash-relation entry count, ``max_bytes`` bounds its estimated size
    (measured rows x schema-derived row width, `_est_row_bytes`) so a
    just-under-guard slice of a WIDE table is never forced onto every
    executor.

    The measured count is MEMOIZED per (session, analyzed-plan
    semantic hash): query builders that call this (Q7 runs two per
    build) launch ONE narrow count job per distinct slice per session,
    not one per ``fn()`` call — plan-shape tests and ``plan_facts``
    consumers that rebuild the same query repay nothing after the
    first build (ADVICE r9). The first build's count job is accepted
    and documented: it is the price of a measurement the planner
    cannot make statically.
    """
    from pyspark.sql import functions as F

    n = memoized_count(df)
    if n <= max_rows and n * _est_row_bytes(df.schema) <= max_bytes:
        return F.broadcast(df)
    return df


def memoized_measure(df, what: str, measure):
    """``measure(df)`` memoized per (what, session, analyzed-plan
    semantic hash): one measuring job per distinct frame per session,
    however often a builder or compiler rebuilds the same plan."""
    # session key = JVM identity hash (a py4j proxy's Python id() is
    # NOT stable across attribute accesses)
    key = (
        what,
        df.sparkSession._jsparkSession.hashCode(),
        df._jdf.queryExecution().analyzed().semanticHash(),
    )
    if key not in _MEASURED_MEMO:
        if len(_MEASURED_MEMO) > 512:
            _MEASURED_MEMO.clear()
        _MEASURED_MEMO[key] = measure(df)
    return _MEASURED_MEMO[key]


def memoized_count(df) -> int:
    """``df.count()`` memoized per session and plan — the measurement
    primitive behind ``adaptive_broadcast``."""
    return memoized_measure(df, "count", lambda d: d.count())


def classify_bnlj(df) -> dict:
    """Classify every nested-loop join in the EXECUTED plan by whether
    its broadcast build side is structurally bounded (r10, VERDICT r9
    nit #5: a 1-row BroadcastNestedLoopJoin — min-ts derivation, a
    global-scalar cutoff, a literal-keyed probe — is not a cartesian
    regression, and lumping them under one ``cartesian`` flag forced
    manual adjudication every round).

    Bounded evidence, found anywhere in the build-side subtree:

    * an Aggregate with NO grouping keys (global 1-row aggregate);
    * a Limit / TakeOrdered node;
    * a LocalTableScan (driver-literal rows);
    * a Filter comparing an attribute against pure literals
      (``attr#NN = <lit>``, ``IN (<lits>)``, or a literal range bound —
      no ``#`` on the value side): a literal-keyed/ranged probe side is
      an intentionally bounded build (the named brute-force ANN tiers
      select a handful of query vectors this way), unlike a genuine
      cross product whose build side carries no literal filter at all.

    Returns {"cartesian": bool, "bnlj_bounded": n, "bnlj_unbounded": n}
    where ``cartesian`` is True only for a CartesianProduct node or a
    BNLJ with NO bounded evidence — the trustworthy regression signal.
    """
    import re

    out = {"cartesian": False, "bnlj_bounded": 0, "bnlj_unbounded": 0}

    def children(node):
        got = [
            node.children().apply(i)
            for i in range(node.children().size())
        ]
        if not got:  # AQE query stages hide their subtree
            for meth in ("plan", "executedPlan"):
                try:
                    got = [getattr(node, meth)()]
                    break
                except Exception:
                    continue
        return got

    def bounded(node) -> bool:
        name = node.nodeName()
        if "Aggregate" in name:
            try:
                if node.groupingExpressions().isEmpty():
                    return True
            except Exception:
                pass
        if "Limit" in name or "TakeOrdered" in name:
            return True
        if name == "LocalTableScan":
            return True
        if name == "Filter":
            try:
                cond = node.condition().toString()
            except Exception:
                cond = ""
            if re.search(
                r"#\d+L? (?:=|<|<=|>|>=) [^#()]+\)", cond
            ) or re.search(r"#\d+L? IN \([^#]*\)", cond):
                return True
        return any(bounded(c) for c in children(node))

    def walk(node):
        name = node.nodeName()
        if name == "CartesianProduct":
            out["cartesian"] = True
        elif name == "BroadcastNestedLoopJoin":
            kids = children(node)
            build = [
                c for c in kids if "Broadcast" in c.nodeName()
            ] or kids
            if any(bounded(b) for b in build):
                out["bnlj_bounded"] += 1
            else:
                out["bnlj_unbounded"] += 1
                out["cartesian"] = True
        for c in children(node):
            walk(c)

    walk(df._jdf.queryExecution().executedPlan())
    return out


def materialize(df) -> int:
    """Execute a DataFrame fully, computing EVERY output column, and
    return its row count (counted executor-side during the same pass).

    ``df.count()`` is NOT a faithful benchmark materializer: it wraps
    the plan in a new row-count aggregate and Catalyst's column pruning
    then deletes every aggregate expression the count doesn't reference
    — measured r8 on ``ev_daily_active_users``, where count() shuffled
    280 records (distinct days only) while the real query shuffles
    ~981k (day, user) pairs. The noop sink forces full column
    computation with zero driver collection.

    The row total rides along in the SAME pass via ``df.observe``
    (a ``CollectMetrics`` node above the final plan — rows flow through
    it to the sink with every column intact, and the count is an
    executor-side metric, not a second execution). r8 used a trailing
    ``df.count()`` here, which re-executed the (pruned) plan inside the
    callers' timed windows — near-doubling iterative-algorithm timings
    and polluting the twin bench's cold-run stage attribution.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    (
        df.observe(obs, F.count(F.lit(1)).alias("rows"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return int(obs.get["rows"])
