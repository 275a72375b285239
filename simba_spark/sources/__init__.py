"""Source helpers.

The reference inherits every Spark 2.1 format and adds no connectors
(ref: SimbaSession.scala:40-41); likewise we pass through
``spark.read.*``. This module adds only convenience loaders for the
driver's test tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-generated parquet table (TESTDATA.md)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols,
    num_buckets: int,
    sort_cols=None,
    mode: str = "overwrite",
) -> None:
    """Persist `df` as a bucketed (and optionally sorted) Parquet table.

    Bucketing is the co-located-join lever at the 100 TB design point:
    two tables bucketed on the same key with the same bucket count
    equi-join with ZERO shuffle on either side (and zero sort when
    sort-bucketed) — the one-time write cost is amortized over every
    subsequent join, the same trade the layout registry makes for
    spatial scans. Uses the session catalog (`saveAsTable`) because
    bucket metadata lives in the metastore, not in the files.
    """
    cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    w = df.write.format("parquet").mode(mode).bucketBy(int(num_buckets), *cols)
    if sort_cols:
        scols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        w = w.sortBy(*scols)
    w.saveAsTable(table)


def file_stats(df: DataFrame, stat_cols=None) -> DataFrame:
    """Per-input-file row counts (plus optional min/max per stat
    column) for the files feeding a scan — the SMALL-FILES /
    compaction diagnostic: at 100 TB, a table fragmented into
    million-row-free part files wrecks scan parallelism and the
    driver's file-listing phase long before any operator runs.
    Returns ``(file_name, n_rows[, <c>_min, <c>_max ...])``, one row
    per concrete file (basename only — engine/scheme-neutral).

    Scale: one combine-friendly groupBy over ``input_file_name()``;
    output is file-count-sized. Pair with
    ``df.repartition(ceil(total/target)).write`` to compact.

    pytest-only by design: the DuckDB oracle's SQL strings are static
    while the parquet directory is a runtime parameter, so the parity
    check lives in tests (Spark vs ``read_parquet(..., filename=
    true)`` over the same directory).
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in stat_cols or []:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
    return df.groupBy(
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file_name")
    ).agg(*aggs)
