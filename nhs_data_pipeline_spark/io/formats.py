"""Columnar / semi-structured lake formats beyond parquet.

The reference ingests CSV/Excel and emits CSV (SURVEY §2.1); canonical
engine storage is parquet. Real lakes also carry ORC (warehouse
interop) and JSONL (event feeds, API dumps), so the engine exposes both
natively — same predicate-pushdown/column-pruning contract as parquet
for ORC, schema-pinned reads for JSONL.

Scale notes:
- ORC is Spark-native columnar: pushdown + pruning work exactly as for
  parquet (`spark.read.orc` → OrcScan with PushedFilters/ReadSchema).
- JSONL MUST be read with an explicit schema at scale: schema inference
  is a full extra pass over the data (and non-deterministic under
  corrupt rows). ``read_jsonl`` therefore takes the schema from the
  caller, or samples a bounded number of FILES (not the whole dataset)
  to pin one.
- ``columnNameOfCorruptRecord`` rows are preserved, not dropped —
  a 100 TB feed always has malformed lines and silent drops poison
  downstream counts.

Both sinks replace their previous output through
``io.writers.publish``: a failed or crashed write leaves the last good
output, never a missing or half-written one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType, StringType

from nhs_data_pipeline_spark.io.writers import publish


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    compression: str = "zstd",
) -> str:
    """ORC sink (hive-partitionable, zstd by default)."""
    w = df.write.option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    return publish(path, w.orc)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — native columnar source with the same pushdown/pruning
    behavior as parquet (locked by tests/test_io.py plan assertions)."""
    return spark.read.orc(path)


def write_jsonl(df: DataFrame, path: str, compression: str | None = "gzip") -> str:
    """JSON-lines sink: one JSON object per row, splittable-unfriendly
    when gzipped (one stream per task output file — fine, file count
    carries the parallelism)."""
    w = df.write
    if compression:
        w = w.option("compression", compression)
    return publish(path, w.json)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    sample_files: int = 1,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Schema-pinned JSONL scan.

    With ``schema``: one pass, malformed lines land in ``corrupt_col``
    (PERMISSIVE mode) instead of vanishing. Without: the schema is
    inferred from the first ``sample_files`` files only — bounded work
    — then the full read runs against that pinned schema, so inference
    never scans the whole dataset twice at scale."""
    if schema is None:
        import glob as _glob
        import os as _os

        candidates = sorted(
            p
            for p in _glob.glob(_os.path.join(path, "*"))
            if not _os.path.basename(p).startswith(("_", "."))
        ) or [path]
        # A LIST of paths — a comma-joined string is treated as one
        # (nonexistent) path and PATH_NOT_FOUNDs for sample_files >= 2.
        schema = spark.read.json(candidates[:sample_files]).schema
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if corrupt_col not in schema.fieldNames():
        schema = StructType(list(schema.fields) + [StructField(corrupt_col, StringType())])
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def split_corrupt(
    df: DataFrame, corrupt_col: str = "_corrupt_record"
) -> tuple[DataFrame, DataFrame]:
    """Partition a PERMISSIVE jsonl read into (good, quarantine).

    Spark refuses queries that reference *only* the internal corrupt
    column on the lazy source (SPARK-26108: the pruned scan would have
    nothing to parse), so the split materializes the parse once via
    cache — an explicit, documented eager step. ``cache()`` marks the
    INPUT DataFrame object itself: once both halves are consumed, call
    ``df.unpersist()`` on the frame you passed in to release the
    storage memory."""
    from pyspark.sql import functions as F

    cached = df.cache()
    good = cached.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = cached.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    )
    return good, bad
