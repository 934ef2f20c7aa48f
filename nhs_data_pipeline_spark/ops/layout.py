"""Storage-layout maintenance: small-file compaction and z-order
clustering.

Neither exists in the reference (its outputs are single CSVs —
SURVEY §2.1 S9); both are table-maintenance operations a 100 TB
parquet lake needs continuously:

- **Compaction**: incremental appends and per-partition
  overwrites leave thousands of KB-sized files; each costs a scan
  task + a footer read, so scan latency degrades linearly in file
  count. ``compact_parquet`` rewrites a directory into
  size-targeted files.
- **Z-ordering**: multi-dimensional data-skipping. Parquet stores
  per-file/row-group min-max stats; a sort on one column gives
  perfect pruning on it and none on others. Interleaving the bits of
  several rank-scaled columns (a Morton / z-curve key) and
  range-partitioning on that key gives every z-ordered column
  locality in every file, so predicates on ANY of them prune files.

Both are pure-DataFrame rewrites — no driver-side data paths; the
driver only reads file sizes and quantile boundaries (KB-scale
metadata).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nhs_data_pipeline_spark.io.writers import publish, recover


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**"), recursive=True)
        if os.path.isfile(p)
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within: list[str] | None = None,
) -> int:
    """Rewrite a parquet directory into ``ceil(size / target)`` files
    (128 MB default — the classic HDFS-block / scan-task sweet spot).

    The rewrite goes through ``io.writers.publish``: it writes a
    staging directory beside ``path`` and swaps it in, so a failed or
    crashed compaction leaves the old layout, never a half-written
    directory (same-filesystem renames; true atomicity needs a
    transactional table format). ``sort_within`` additionally sorts
    rows inside each output file so min-max stats tighten on those
    columns. Returns the output file count."""
    # a crash of an earlier publish may have left the data aside
    path = recover(path)
    n_files = max(1, -(-_dir_bytes(path) // target_file_bytes))
    out = spark.read.parquet(path).repartition(n_files)
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    publish(path, out.write.parquet)
    return len(glob.glob(os.path.join(path, "part-*.parquet")))


def zorder_key(df: DataFrame, cols: list[str], bits_per_col: int = 16) -> Column:
    """Morton (z-curve) key over ``cols``: each column is min-max
    scaled to ``bits_per_col`` bits (one tiny driver-side agg for the
    bounds — KB of metadata, broadcast as literals), then the bits are
    interleaved LSB-first into one long.

    The expression is a constant-size native tree (bits x cols
    shift/or terms, whole-stage codegen) — no UDF, no shuffle of its
    own. Column count x bits must stay <= 63 to fit a long."""
    if bits_per_col * len(cols) > 63:
        raise ValueError("bits_per_col * len(cols) must fit in a signed long")
    bounds = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{c}") for c in cols],
    ).first()
    top = (1 << bits_per_col) - 1
    key = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        mn, mx = bounds[f"mn_{c}"], bounds[f"mx_{c}"]
        span = (mx - mn) or 1.0
        scaled = F.least(
            F.lit(top),
            F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * (top + 1)),
        ).cast("long")
        for b in range(bits_per_col):
            key = key.bitwiseOR(
                F.shiftleft(
                    F.shiftright(scaled, b).bitwiseAND(F.lit(1)),
                    b * len(cols) + ci,
                )
            )
    return key


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int,
    bits_per_col: int = 16,
) -> str:
    """Write ``df`` z-ordered on ``cols`` into ``n_files`` parquet
    files: range-partition on the Morton key (contiguous z-ranges per
    file => compact multi-dimensional min-max envelopes), sort within
    partitions so row groups tighten too, drop the key before writing.

    After this, a predicate on ANY z-ordered column prunes files via
    parquet min-max stats instead of scanning everything — the
    multi-column analogue of ``compact_parquet(sort_within=...)``.
    Published through ``io.writers.publish``."""
    keyed = df.withColumn("__zkey", zorder_key(df, cols, bits_per_col))
    return publish(
        path,
        keyed.repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.parquet,
    )
