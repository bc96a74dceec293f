"""Fixed calibration micro-workload (r12, VERDICT r11 ask #5).

The measured noise model (bench.py ``noise_model``) says cross-session
host drift reaches ±40%, which makes raw cross-round per-query deltas
nearly information-free; the interleaved pinned-checkout A/B
(tools/run_bench_ab.py) is the definitive instrument but costs two
checkouts and an idle host. This module is the cheap standing anchor:
a PINNED parquet scan+aggregate over a deterministic generated dataset
(same bytes every session — ``spark.range`` + hash columns, no RNG, no
dependence on the driver's testdata) runs FIRST in every bench /
scale-bench session and its median wall-time is recorded as
``calib_sec`` in the artifact. Per-query times are then reported raw
AND calibration-normalized (query_sec / calib_sec): a host running 30%
slow inflates both numerator and denominator, so the normalized series
is comparable across sessions to first order. The anchor exercises the
same execution layers the workload does — parquet scan with a pushed
filter, whole-stage codegen arithmetic, one hash-aggregate shuffle,
a sort — so host effects on I/O, JVM, and shuffle all load onto it.

Validation against a past drift episode lives in SCALE.md (finding 32):
the r10 BENCH total read +42% vs r9 on identical-speed code; an anchor
run in both sessions would have read ~+40% too, normalizing the episode
away — which is exactly what the interleaved A/B later proved.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from project_graphdb_spark.spark_util import materialize

#: bump when the dataset FORMULA or the workload shape changes — a new
#: version starts a new comparable series (old calib_sec values do not
#: compare across versions)
CALIB_VERSION = "v1"
CALIB_ROWS = 8_000_000
CALIB_KEYS = 9973  # prime, so pmod(xxhash64) spreads evenly

#: Minimum KEPT anchor reps (beyond the segregated warmup rep) before a
#: median is trusted (r13, VERDICT r12 ask #2): the r12 galg-subset
#: artifact normalized against a median of TWO reps spreading 5.5x —
#: the protocol's "one rep per 8 sweep queries" stride degenerates on
#: short harnesses. ``summary()`` now pads back-to-back reps (sampling
#: end-of-window host state) until this floor is met.
CALIB_MIN_REPS = 5

#: Kept-rep spread (max/min) beyond which the anchor self-flags
#: ``calib_unstable`` and normalized columns must not be trusted.
#: Band provenance: the largest spread ever observed on a healthy
#: many-rep anchor is 3.76x (r12 main sf10 sweep, 9 reps across a
#: 25-minute window of heavy load — adjudicated trustworthy), while
#: the broken galg anchor read 5.58x on 2 reps. 4.0 separates them.
CALIB_SPREAD_BAND = 4.0


def _calib_path() -> str:
    base = os.environ.get(
        "SPARK_GRAFT_CALIB_DIR",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".calib",
        ),
    )
    return os.path.join(base, f"calib_{CALIB_VERSION}_{CALIB_ROWS}.parquet")


def ensure_calib_dataset(spark: SparkSession) -> str:
    """Write the frozen dataset if absent; content is a pure function
    of (CALIB_VERSION, CALIB_ROWS) — ``spark.range`` ids through
    xxhash64, no randomness, no wall-clock — so a regenerated copy is
    row-identical to the original and anchors stay comparable.

    r13 (ADVICE r12): the row count is embedded in the path (a stale
    dataset written under different CALIB_ROWS can never be silently
    reused), and the write goes to a temp dir renamed into place — two
    sessions racing past the exists-check no longer overwrite the same
    live path; the rename loser discards its (row-identical) copy."""
    path = _calib_path()
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.tmp-{os.getpid()}"
        (
            spark.range(CALIB_ROWS)
            .select(
                F.col("id"),
                F.pmod(F.xxhash64("id"), F.lit(CALIB_KEYS)).alias("k"),
                (
                    F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1_000_000))
                    / F.lit(1000.0)
                ).alias("x"),
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        try:
            os.rename(tmp, path)
        except OSError:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return path


def _calib_query(spark: SparkSession, path: str):
    df = spark.read.parquet(path)
    return (
        df.filter(F.col("x") > 50.0)  # pushed to the scan
        .groupBy("k")
        .agg(
            F.sum("x").alias("sx"),
            F.avg("x").alias("ax"),
            F.count("*").alias("n"),
            F.max("id").alias("mid"),
        )
        .orderBy(F.desc("sx"), "k")
    )


class CalibAnchor:
    """Interleaved anchor (r12 measured design): host state drifts
    WITHIN a session too — same-code anchor reps minutes apart on an
    idle host read 1.0 s and 3.3 s in the r12 validation experiment —
    so a point-in-time anchor at session start misattributes any drift
    that arrives after it. The harnesses therefore take one anchor rep
    per bench pass (or every few sweep queries), sampling host state
    across the SAME window the queries are timed in; ``calib_sec`` is
    the median of those interleaved reps. (A two-face experiment —
    throughput-bound scan+agg vs a many-small-stage latency shape —
    moved in lockstep under synthetic load, ratio 1.10-1.14 across a
    3x host swing, so one face carries the signal.)"""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._path = ensure_calib_dataset(spark)
        self._reps: list[float] = []

    def rep(self) -> float:
        t0 = time.perf_counter()
        materialize(_calib_query(self._spark, self._path))
        dt = time.perf_counter() - t0
        self._reps.append(dt)
        return dt

    def summary(self) -> dict:
        """Anchor contract v2 (r13, VERDICT r12 ask #2): the FIRST rep
        is the warmup — timed and reported (``calib_warmup_rep``) but
        excluded from the median (the r12 galg anchor's first rep read
        11.16 s vs 2.00 s, cold calib dataset / page cache, and a
        2-element median split the difference). If the harness's pass
        structure produced fewer than ``CALIB_MIN_REPS`` kept reps,
        back-to-back padding reps are taken here — they sample
        end-of-window host state, which is strictly better than
        trusting a 1-2 element median. Kept-rep spread above
        ``CALIB_SPREAD_BAND`` self-flags ``calib_unstable``: consumers
        must not read ``sec_norm`` columns from an unstable anchor."""
        while len(self._reps) < CALIB_MIN_REPS + 1:
            self.rep()
        kept = self._reps[1:]
        spread = max(kept) / min(kept)
        return {
            "calib_sec": round(statistics.median(kept), 4),
            "calib_reps": [round(t, 4) for t in self._reps],
            "calib_warmup_rep": round(self._reps[0], 4),
            "calib_kept_reps": len(kept),
            "calib_rep_spread": round(spread, 2),
            "calib_unstable": bool(spread > CALIB_SPREAD_BAND),
            "calib_version": CALIB_VERSION,
            "calib_rows": CALIB_ROWS,
            "calib_protocol": "v2-interleaved: one rep per bench pass /"
            " sweep stride, first rep segregated as warmup, padded to "
            f">={CALIB_MIN_REPS} kept reps; median over kept reps",
        }

