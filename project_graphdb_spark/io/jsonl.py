"""JSONL (newline-delimited JSON) corpus ingest/egress.

Real pretraining corpora ship as JSONL shards — one JSON object per
line (Common Crawl derivatives, RedPajama, Dolma, The Pile all use this
layout). The reference has no JSONL surface (its interchange format is
header CSV, final/inject_node.py:376); an engine positioned as its
training-data pipeline needs one.

Scale rules baked into this module:

* **The scan REQUIRES an explicit schema.** ``spark.read.json`` without
  one runs a full inference pass over the input before the real read
  even starts — at 100 TB that is a second complete scan, and the
  inferred schema drifts with whichever shard happened to be sampled.
  Requiring ``StructType`` up front makes both failure modes
  impossible (same rule as the CSV scan in ``io/csv.py``).
* **Malformed lines are quarantined, not fatal.** PERMISSIVE mode with
  ``columnNameOfCorruptRecord`` keeps a billion-line ingest alive when
  one shard is truncated; callers split good/bad rows and route the
  corrupt ones to a dead-letter sink instead of crashing the job.
* **Writes shard by partition.** One output file per task — the
  natural parallel layout — written uncompressed so the files stay
  inspectable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def _with_corrupt_col(schema: T.StructType) -> T.StructType:
    return T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    keep_corrupt: bool = False,
) -> DataFrame:
    """Schema-first JSONL scan.

    ``keep_corrupt=True`` appends a ``_corrupt_record`` string column
    holding the raw line for rows that failed to parse (PERMISSIVE
    mode — feed the result to :func:`split_corrupt`). With the default
    ``False`` malformed lines are dropped by the parser itself
    (DROPMALFORMED): merely dropping the corrupt COLUMN would leave the
    corrupt ROWS behind as all-null phantoms in every downstream
    aggregate.
    """
    if keep_corrupt:
        return (
            spark.read.schema(_with_corrupt_col(schema))
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", CORRUPT_COL)
            .json(path)
        )
    return (
        spark.read.schema(schema).option("mode", "DROPMALFORMED").json(path)
    )


def split_corrupt(
    df: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(good, bad, parsed) split of a ``keep_corrupt=True`` scan — bad
    rows go to a dead-letter sink, good rows continue with a clean
    schema.

    ``parsed`` is the cached parse both splits read from: Spark refuses
    queries that reference only the corrupt-record column of a raw JSON
    scan (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and
    operationally you want both streams served from ONE parse pass
    anyway, not a re-read per sink. Call ``parsed.unpersist()`` once
    both splits are consumed — otherwise each ingest batch pins a
    corpus-sized cache for the life of the session.
    """
    df = df.cache()
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull()).select(CORRUPT_COL)
    return good, bad, df


def write_jsonl(df: DataFrame, path: str) -> None:
    """Write one uncompressed JSONL shard per partition
    (``part-*.json`` files), replacing whatever is at ``path``."""
    df.write.mode("overwrite").json(path)
