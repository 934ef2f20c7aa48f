"""Sinks.

Default sink is parquet (partitioned, predicate-pushdown-friendly); the
single-file CSV sink exists for golden-file parity with the reference's
``write.csv`` outputs (S9 — build_datasets_wait_times.R:558-567).

Every path sink publishes through :func:`publish`: stage beside the
target, rename the old output aside, rename the new one in, drop the
aside copy. A failed write leaves the last good output; a crash between
the renames leaves it aside, and the next write restores it first. So
no sink overwrites its last good output in place. ``write_single_csv``
replaces its file with one ``os.replace``; ``overwrite_partitions`` and
``write_bucketed_table`` update in place by design. The staging and
the renames are local-filesystem operations, so these sinks take local
paths only: a URI (``file:``, ``hdfs:``, ``s3a:`` ...) raises
``ValueError`` before anything is written.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

_STAGING, _ASIDE = "__tmp", ".old"
_URI = re.compile(r"[A-Za-z][A-Za-z0-9+.-]+:")


def recover(path: str) -> str:
    """Undo a crash inside :func:`publish`: restore the aside copy if
    the target is missing, else drop a stale one. Returns ``path``
    without trailing slashes."""
    base = path.rstrip("/")
    if os.path.exists(base):
        shutil.rmtree(base + _ASIDE, ignore_errors=True)
    elif os.path.exists(base + _ASIDE):
        os.rename(base + _ASIDE, base)
    return base


@contextmanager
def _staging(path: str) -> Iterator[str]:
    """A fresh staging path beside ``path``, removed when the block
    exits, whether it succeeded or failed. A URI raises ``ValueError``:
    Spark would write the staging directory, but ``os.rename`` and
    ``shutil.rmtree`` could neither publish nor remove it."""
    if _URI.match(path):
        raise ValueError(
            f"sink path {path!r} is a URI; path sinks stage and rename on "
            "the local filesystem, so pass a local path"
        )
    tmp = path.rstrip("/") + _STAGING
    shutil.rmtree(tmp, ignore_errors=True)  # left by a crashed write
    try:
        yield tmp
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def publish(path: str, write: Callable[[str], object]) -> str:
    """Replace the directory output at ``path`` with what ``write``
    writes, e.g. ``publish(path, df.write.parquet)``: ``write`` gets the
    staging path, and the new output is swapped in only once it is
    complete. Single writer per path."""
    base = recover(path)
    with _staging(base) as tmp:
        write(tmp)
        if os.path.exists(base):
            os.rename(base, base + _ASIDE)
        os.rename(tmp, base)
    shutil.rmtree(base + _ASIDE, ignore_errors=True)
    return path


def write_single_csv(
    df: DataFrame,
    path: str,
    order_by: list[str] | None = None,
    null_value: str = "",
) -> str:
    """Write one headered CSV file at ``path`` (reference parity:
    ``to_csv(index=False)``, scripts/build_datasets_main.py:289).

    ``coalesce(1)`` is correct *only* for reference-sized outputs (tens
    of thousands of rows); large results should use ``write_parquet``.
    An optional sink-time sort reproduces the reference's ordered CSVs
    (O1 — ``arrange(org_code, year, quarter)``); it sorts the one
    partition in its single task, so it needs no range-sampling job or
    shuffle, and any narrow work upstream of the sink runs in that task
    too. ``null_value="NA"`` reproduces R ``write.csv``'s NA rendering.
    """
    df = df.coalesce(1)
    if order_by:
        df = df.sortWithinPartitions(*order_by)
    with _staging(path) as tmp:
        (df.write.option("header", True)
           .option("nullValue", null_value).option("emptyValue", "")
           .csv(tmp))
        # one atomic replace of the last good file, once the new one exists
        os.replace(glob.glob(os.path.join(tmp, "part-*.csv"))[0], path)
    return path


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> str:
    """Canonical sink: parquet, optionally hive-partitioned so downstream
    readers get partition pruning for free. Published through
    :func:`publish`."""
    w = df.write
    if partition_by:
        w = w.partitionBy(*partition_by)
    return publish(path, w.parquet)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> str:
    """Bucketed managed-table sink: co-locates rows by hash(bucket_cols)
    at WRITE time so every later equi-join or aggregation on those
    columns skips its shuffle (Exchange) entirely.

    The scale play: fact tables that are repeatedly joined on the same
    key (lineitem/orders on orderkey; panels on org_code) pay one
    bucketed write, then every downstream join is exchange-free on both
    sides when bucket counts match. ``sort_cols`` additionally makes
    the join sort-free (SortMergeJoin reads pre-sorted buckets).
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)
    return table


def overwrite_partitions(
    df: DataFrame, path: str, partition_by: list[str]
) -> str:
    """Incremental refresh sink: dynamic partition overwrite — only the
    partitions present in ``df`` are replaced; everything else on disk
    is untouched.

    This is the monthly-release production shape: a new NHS quarter
    lands, the pipeline recomputes that (year, quarter) slice, and the
    sink rewrites one partition instead of 100 TB. Requires partitioned
    layout (see ``write_parquet(partition_by=...)``)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")  # this write only, not the session
        .partitionBy(*partition_by)
        .parquet(path)
    )
    return path


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    num_shards: int,
    id_col: str,
    compression: str | None = "gzip",
) -> str:
    """Training-data export sink: JSON-Lines shards, the interchange
    format LLM data pipelines exchange corpora in.

    Shard membership is *deterministic* (md5-bucket of ``id_col``, the
    same portable bucketing the samplers use), not round-robin: re-runs
    of the export place every document in the same ``shard=k``
    directory, so downstream consumers can diff/refresh shards
    incrementally instead of re-downloading the corpus. One exchange
    (repartition on the shard key) co-locates each shard into one task
    -> one file per shard directory; compression defaults to gzip
    (splittable-at-shard granularity, which is the unit consumers read
    anyway). Published through :func:`publish`."""
    from pyspark.sql import functions as F

    from nhs_data_pipeline_spark.llm.dedup import _MD5_H60

    # NULL ids hash via a NUL sentinel: a NULL shard value would route
    # the row to shard=__HIVE_DEFAULT_PARTITION__, OUTSIDE the
    # shard=0..N-1 layout consumers iterate — silent data loss.
    key = f"coalesce(cast({id_col} as string), '\\u0000')"
    shard = F.expr(f"pmod({_MD5_H60.format(x=key)}, {num_shards})")
    w = (
        df.withColumn("shard", shard)
        .repartition(num_shards, "shard")
        # In-shard row order would otherwise be shuffle-fetch order —
        # nondeterministic across runs. Sorting by id makes each
        # shard's CONTENT byte-stable across re-runs (part filenames
        # still embed a per-run UUID), which is what "diff/refresh
        # incrementally" requires, not just stable membership.
        .sortWithinPartitions(id_col)
        .write.partitionBy("shard")
    )
    if compression:
        w = w.option("compression", compression)
    return publish(path, w.json)
