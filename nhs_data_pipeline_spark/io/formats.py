"""JSONL source: schema-pinned reads of JSON-lines feeds.

The reference ingests CSV/Excel and emits CSV (SURVEY §2.1); canonical
engine storage is parquet. JSONL carries event feeds and API dumps.

Scale notes:
- JSONL MUST be read with an explicit schema at scale: schema inference
  is a full extra pass over the data (and non-deterministic under
  corrupt rows). ``read_jsonl`` therefore takes the schema from the
  caller, or samples a bounded number of FILES (not the whole dataset)
  to pin one.
- ``columnNameOfCorruptRecord`` rows are preserved, not dropped —
  a 100 TB feed always has malformed lines and silent drops poison
  downstream counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType, StringType


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

