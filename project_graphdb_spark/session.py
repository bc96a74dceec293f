"""SparkSession factory tuned for both local testing and cluster scale.

Local mode is a single JVM with N threads (tests run ``local[32]``), but
every config here is chosen to also be correct on a real multi-executor
cluster at ~100 TB scale:

* AQE on (runtime partition coalescing, skew-join splitting, dynamic
  broadcast) — replaces the reference's hand-rolled adaptive batching and
  contention analysis (reference: final/inject_node.py:41-72,
  final/inject_relationship.py:108-213).
* Shuffle partitions sized by env (``SPARK_GRAFT_CPUS``) locally; on a
  cluster AQE coalesces from a high initial count, so the static number
  matters little.
* Session timezone pinned to UTC so timestamp semantics match columnar
  files and the DuckDB oracle.
* Arrow enabled for the few Pandas-UDF operators (similarity, multimodal).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "project_graphdb_spark"

# Broadcast policy (shared with io.tables.ensure_engine_conf): the
# STATIC threshold trusts scan-size estimates, which lie for
# column-pruned fact tables (SCALE.md finding 10) — keep it
# conservative; the ADAPTIVE threshold decides on actual post-shuffle
# bytes and carries the generous value.
STATIC_BROADCAST_THRESHOLD = 16 * 1024 * 1024
ADAPTIVE_BROADCAST_THRESHOLD = 64 * 1024 * 1024


def local_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` (default 32): the local thread count and the
    shuffle-partition count. Anything but a positive integer raises
    here, naming the variable, rather than later as a master or conf
    error."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if not (raw.isdecimal() and int(raw) > 0):
        raise ValueError(
            f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}"
        )
    return int(raw)


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    Any config may be overridden via ``extra_conf``. Honors
    ``SPARK_GRAFT_CPUS`` for local parallelism (default 32).
    """
    cpus = str(local_cpus())
    if master is None:
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # -- heap: local[N] packs driver+executors into ONE JVM, whose
        # default 1g heap is sized for a cluster driver, not for N=32
        # worker threads; only effective before the JVM starts ---------
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        # -- parallelism / shuffle --------------------------------------
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        # -- adaptive query execution (runtime re-planning) -------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # -- timestamps must be UTC end-to-end ---------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # -- Arrow for pandas_udf / mapInPandas operators ----------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # -- read TIMESTAMP(NANOS) parquet (events.ts) as long ----------
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # -- NTZ-annotated micros surface as plain TIMESTAMP (UTC) ------
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # -- quieter local runs -----------------------------------------
        .config("spark.ui.enabled", "false")
        # Broadcast policy: the STATIC threshold trusts the parquet
        # scan-size estimate, which for a column-pruned fact table is
        # compressed bytes of one column — at sf10 it rated the 15M-row
        # orders key column broadcastable and the build cost 6.7× the
        # query (g_revenue_by_brand 2.8→18.8 s, while the same join as
        # SMJ ran 2× faster). So the static threshold stays conservative
        # (16 MB, true dims only) and the ADAPTIVE threshold — which
        # decides on the ACTUAL post-shuffle bytes AQE measured — is the
        # generous one (64 MB): mid-size dims still get runtime BHJ
        # conversion, mis-estimated fact columns do not.
        .config(
            "spark.sql.autoBroadcastJoinThreshold",
            str(STATIC_BROADCAST_THRESHOLD),
        )
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(ADAPTIVE_BROADCAST_THRESHOLD),
        )
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
