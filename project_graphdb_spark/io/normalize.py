"""Type normalization rules for relational ingestion.

Re-expresses the reference's SQLite-affinity coercion pipeline
(reference: final/sqlite_to_csv.py:44-81) as declarative Spark casts:

* CHAR/VARCHAR/TEXT        -> string
* INT/SMALLINT/NUMERIC     -> nullable bigint (coerce-to-null via try_cast)
* DECIMAL/REAL/FLOAT       -> double
* BLOB                     -> binary passthrough
* DATE/TIME*-declared cols -> exploded into six nullable-int component
  columns ``{col}_year .. {col}_second`` (reference drops the original;
  we keep it as a proper timestamp column too — a strict superset).

The explode rule fires on the *declared* type, not the column name,
matching the reference (a TEXT-declared date string survives as string).
All casts are built-in Catalyst expressions — whole-stage codegen, no
Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_COMPONENTS = (
    ("year", F.year),
    ("month", F.month),
    ("day", F.dayofmonth),
    ("hour", F.hour),
    ("minute", F.minute),
    ("second", F.second),
)


def affinity_of(declared_type: str) -> str:
    """Map a declared SQL type string to an affinity class.

    Mirrors the reference's substring matching (final/sqlite_to_csv.py:44-62).
    """
    t = (declared_type or "").upper()
    if any(k in t for k in ("DATE", "TIME")):
        return "timestamp"
    if any(k in t for k in ("CHAR", "TEXT", "CLOB", "VARCHAR", "STRING")):
        return "string"
    if any(k in t for k in ("INT", "NUMERIC", "BOOL")):
        return "bigint"
    if any(k in t for k in ("DECIMAL", "REAL", "FLOA", "DOUB")):
        return "double"
    if "BLOB" in t or "BINARY" in t:
        return "binary"
    return "string"


def normalize_table(
    df: DataFrame, declared_types: dict[str, str]
) -> DataFrame:
    """Apply affinity casts + timestamp explosion to a raw table.

    ``declared_types`` maps column name -> declared SQL type (as read from
    the source catalog, e.g. SQLite ``PRAGMA table_info``). Columns not
    listed pass through untouched. A timestamp-affinity column gains its
    six ``{col}_year .. {col}_second`` components and is itself kept,
    cast to a timestamp.
    """
    out = df
    for col, declared in declared_types.items():
        if col not in df.columns:
            continue
        affinity = affinity_of(declared)
        if affinity == "timestamp":
            ts = F.to_timestamp(F.col(col))
            for suffix, extract in _COMPONENTS:
                out = out.withColumn(
                    f"{col}_{suffix}", extract(ts).cast("bigint")
                )
            out = out.withColumn(col, ts)
        elif affinity == "bigint":
            # coerce-to-null like pd.to_numeric(errors="coerce")
            out = out.withColumn(col, F.col(col).try_cast("bigint"))
        elif affinity == "double":
            out = out.withColumn(col, F.col(col).try_cast("double"))
        elif affinity == "binary":
            pass  # passthrough
        else:
            out = out.withColumn(col, F.col(col).cast("string"))
    return out

