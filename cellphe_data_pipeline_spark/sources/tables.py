"""Parquet table sources for the driver's synthetic star schema.

Columnar Parquet replaces the reference's CSV interchange at every stage
boundary (main.nf:157,201,216,233,249 → SURVEY §2.1 S6): predicate
pushdown + column pruning reach the scan, so a 2-column projection reads
2 columns, not the whole row — the difference between touching 100 TB
and touching 2 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cellphe_data_pipeline_spark.schemas import TEST_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Columns that MAY be stored as Parquet TIMESTAMP(NANOS), which Spark
#: cannot read natively. Under legacy.parquet.nanosAsLong such a column
#: surfaces as bigint; conversion to a microsecond timestamp applies
#: ONLY in that case (checked against the actual read dtype below) —
#: testdata generations that already write micros pass through as-is.
NANOS_TIMESTAMP_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table. Schema comes from parquet footers
    (already explicit/typed — written by the driver); no inference pass.

    Sets ``nanosAsLong`` at runtime too so a caller-provided session (the
    driver's own) can read `events` without our builder config, and pins
    the session timezone to UTC: parquet timestamps are naive instants
    and the DuckDB oracle treats them as such — any other session TZ
    would shift date_trunc/day boundaries (incl. DST) and break oracle
    equality.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in NANOS_TIMESTAMP_COLS.get(name, ()):
        # Only TIMESTAMP(NANOS) footers surface as bigint under
        # nanosAsLong; micro/milli footers arrive as a native timestamp
        # already, so convert conditionally on the read type.
        if dict(df.dtypes).get(col) == "bigint":
            # integer nanos -> floor-divide to micros; always positive so
            # `div` truncation == floor == DuckDB's nanos->micros result.
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    # Parquet written with isAdjustedToUTC=false reads as TIMESTAMP_NTZ,
    # which streaming watermarks and numeric casts reject. The session TZ
    # is pinned UTC above, so casting NTZ -> TIMESTAMP is a pure relabel
    # (identical wall-clock instants, identical DuckDB-oracle semantics).
    # Scope: TOP-LEVEL columns only — the driver's star schema is flat;
    # an NTZ nested inside a struct/array would need a recursive schema
    # walk here if a nested table is ever added.
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz})
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TEST_TABLES}
