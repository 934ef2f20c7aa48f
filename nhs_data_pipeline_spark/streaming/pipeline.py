"""Structured Streaming mirror of the batch ingest + rollup.

The reference is batch-only (SURVEY §2.11) — this module is the
additive streaming surface: the same declarative transforms run under
``readStream`` with watermarked event-time windows, so a file-arrival
pipeline (new monthly NHS releases, or an event firehose) incrementally
maintains the same rollups the batch engine computes.

Design: transforms are shared ``DataFrame -> DataFrame`` functions —
the *same* ``windowed_rollup`` is applied to a batch frame in
``queries.events_hourly_rollup`` and to a stream here; Structured
Streaming's incrementalization is exactly Spark's intended reuse path.
``trigger(availableNow=True)`` gives reproducible catch-up runs (and
testability without a live source).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nhs_data_pipeline_spark.io.writers import publish, recover


def _stream_identity(checkpoint: str, spark: SparkSession | None = None) -> str:
    """Stable identity of a streaming query: the query id Spark pins in
    the checkpoint's ``metadata`` file (survives restarts AND moving/
    copying the checkpoint — it IS the stream; the runId changes per
    restart). Remote checkpoints (hdfs://, s3a://, ...) are read
    through the Hadoop FileSystem API when a session is supplied —
    without it, a remote path would silently degrade to the raw path
    string, and relocating the checkpoint would defeat the replay
    guard. Falls back to the checkpoint path before the metadata file
    exists."""
    import json
    import os

    path = checkpoint
    for prefix in ("file://", "file:"):
        if path.startswith(prefix):
            path = path[len(prefix):]
            break
    try:
        with open(os.path.join(path, "metadata")) as fh:
            return str(json.load(fh)["id"])
    except (OSError, ValueError, KeyError):
        pass
    if spark is not None:
        try:
            jvm = spark._jvm
            p = jvm.org.apache.hadoop.fs.Path(
                checkpoint.rstrip("/") + "/metadata"
            )
            fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
            if fs.exists(p):
                stream = fs.open(p)
                try:
                    text = jvm.org.apache.commons.io.IOUtils.toString(
                        stream, "UTF-8"
                    )
                finally:
                    stream.close()
                return str(json.loads(text)["id"])
        except Exception:  # noqa: BLE001 — fall back to the path key
            pass
    return checkpoint


def _read_store_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a parquet state store, returning None ONLY when the path
    doesn't exist yet (first batch). Any other failure — corrupt
    footer, permission error, schema mismatch — re-raises: silently
    treating a damaged store as 'first batch' would reset all
    accumulated state. Existence is asked of the path's Hadoop
    FileSystem, not probed with a read: a read of a missing path makes
    Spark log a warning with a full stack trace."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p):
        return None
    return spark.read.parquet(path)


def stream_files(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-arrival source: each new file in ``path`` becomes a
    micro-batch (the streaming twin of the reference's 'download new
    monthly release, re-run' loop)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def windowed_rollup(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    keys: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Event-time tumbling-window aggregate with late-data watermark.

    On a batch frame the watermark is a no-op and this computes the
    exact batch rollup; on a stream it bounds state so the aggregation
    runs indefinitely at scale. One shuffle on (window, keys)."""
    keys = keys or ["event_type"]
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return (
        df.groupBy(F.window(ts_col, window).alias("w"), *keys)
        .agg(F.count("*").alias("n"), F.round(F.sum(value_col), 2).alias("value_sum"))
        .select(F.col("w.start").alias("window_start"), *keys, "n", "value_sum")
    )


def dedup_stream(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact dedup, batch or stream, from one function.

    On a stream: ``dropDuplicatesWithinWatermark`` — duplicates whose
    first occurrence is within the watermark horizon are dropped, and
    the dedup state is EVICTED once the watermark passes, so state
    stays bounded on an infinite stream (plain ``dropDuplicates`` on a
    stream grows state forever — the classic 100-TB streaming-dedup
    failure mode). On a batch frame: plain ``dropDuplicates(keys)``,
    the exact twin."""
    if df.isStreaming:
        return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return df.dropDuplicates(keys)


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "1 hour",
    upper: str = "15 minutes",
) -> DataFrame:
    """Stream-stream inner join on ``key`` where the right event lands
    in ``[left_ts, left_ts + upper]`` — the enrichment shape (match a
    response/settlement event to its trigger within a bounded horizon).

    Both sides carry watermarks and the join condition bounds the two
    event times against each other, which is exactly what Structured
    Streaming needs to size and EVICT join state; without the time
    bound a stream-stream join buffers both streams forever. Works
    unchanged on batch frames (watermark is skipped; the condition is
    an ordinary range predicate → Spark picks a broadcast/hash join
    with the range as a post-filter).

    Output schema is CLEAN: the left columns keep their names, the
    shared join key appears once, and right-side columns that collide
    with a left name come back suffixed ``_r`` — no duplicate column
    names for downstream selects/sinks to trip on."""
    lw = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    rw = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper}"))
    )
    joined = lw.alias("l").join(rw.alias("r"), cond, "inner")
    out = [F.col(f"l.{c}") for c in lw.columns]
    for c in rw.columns:
        if c == key:
            continue
        out.append(
            F.col(f"r.{c}").alias(f"{c}_r" if c in lw.columns else c)
        )
    return joined.select(*out)


def run_stream_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "append"
) -> None:
    """Run a streaming frame to completion (availableNow) into an
    in-memory table named ``query_name`` — deterministic catch-up
    processing; results then queryable via spark.table(query_name)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    key: str,
    dim_cols: list[str] | None = None,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of ``events``
    joins the static dimension ``dim`` (re-read per batch, so a
    slowly-changing dimension table picks up updates between
    triggers). The dimension is explicitly broadcast — a stream-static
    join must never shuffle the unbounded stream side against a lookup
    table; at cluster scale the dimension ships once per executor and
    the stream stays partition-local. Works unchanged on batch
    frames."""
    cols = dim.select(key, *dim_cols) if dim_cols else dim
    return events.join(F.broadcast(cols), key, how)


def _run_catch_up(rows: DataFrame, process, checkpoint: str):
    """Start ``process`` as the foreachBatch sink of ``rows`` under
    ``checkpoint`` with the availableNow trigger (runs to catch-up,
    then stops). Returns the started StreamingQuery."""
    return (
        rows.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream_against_store(
    docs: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Ingest-time exact dedup of a document STREAM against a persistent
    fingerprint store — the production arrival loop: every micro-batch
    is deduped within itself (min-id representative per fingerprint),
    anti-joined against all fingerprints ever admitted, and the
    survivors' documents + fingerprints are appended to ``out_path`` /
    ``store_path``.

    Scale shape: the store holds one 32-hex fingerprint row per unique
    document ever seen — never text — so the per-batch anti-join
    shuffles |store| fingerprints at worst; AQE broadcasts the (small)
    batch side instead. Each batch re-reads the store, so fingerprints
    admitted by batch N are visible to batch N+1 — cross-batch dedup
    works without driver-side state.

    Delivery: exactly-once for the STREAM bookkeeping (checkpointed
    source offsets), at-least-once for the two parquet appends (a crash
    between them can leave a batch's docs without fingerprints or vice
    versa — production would sink both into one transactional table
    format; plain parquet keeps this module dependency-free).

    Returns the started StreamingQuery (availableNow trigger — runs to
    catch-up, then stops)."""
    from nhs_data_pipeline_spark.llm.text import fingerprint_md5

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = (
            batch_df.select(F.col(id_col), F.col(text_col))
            .withColumn("fp", fingerprint_md5(F.col(text_col)))
        )
        reps = batch.groupBy("fp").agg(F.min(id_col).alias(id_col))
        store = _read_store_or_none(spark, store_path)
        seen = store.select("fp") if store is not None else None
        fresh = reps.join(seen, "fp", "left_anti") if seen is not None else reps
        # Join back on BOTH (id, fp): an id-only semi join would admit
        # every batch row sharing the representative's id — including
        # exact duplicate deliveries and same-id rows whose fingerprint
        # is already in the store. dropDuplicates collapses identical
        # (id, fp) copies to one row (normalization-identical text; the
        # surviving copy is arbitrary among byte-variants that
        # normalize the same).
        survivors = (
            batch.dropDuplicates([id_col, "fp"])
            .join(fresh, [id_col, "fp"], "left_semi")
            .persist()
        )
        survivors.count()  # eager: both appends below reuse one computation
        survivors.write.mode("append").parquet(out_path)
        survivors.select("fp").write.mode("append").parquet(store_path)
        survivors.unpersist()

    return _run_catch_up(docs, _process, checkpoint)


def near_dedup_stream_against_store(
    docs: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 8,
    shingle_k: int = 5,
    shingle_sample_mod: int = 4,
    seed: int = 42,
    hash_fn: str = "xxhash64",
):
    """Ingest-time NEAR-dup dedup of a document stream against a
    persistent MinHash band-table store — the streaming twin of
    ``llm/dedup.lsh_incremental_screen`` and the near-dup upgrade of
    :func:`dedup_stream_against_store`: every micro-batch is screened
    within itself (a doc is rejected when a smaller-id batch doc
    shares any LSH band — mirroring the exact store's min-id
    representative rule, so a group whose representative dies with the
    store dies whole) and against every band ever admitted; admitted
    documents append to ``out_path`` and their bands to
    ``store_path``.

    Scale shape: the store holds ``bands`` small rows per ADMITTED
    document — never text, never signatures of rejected docs — so the
    per-batch screen is one equi-join on (band_idx, band_hash); only
    the batch is shingled. Each batch re-reads the store, so bands
    admitted by batch N screen batch N+1 without driver-side state.
    Admission uses the same s-curve as the batch ops (shared
    ``_minhash_sig``/``_banded_from_sig`` pipeline), and the admitted
    set is always pairwise band-disjoint.

    Delivery: exactly-once stream bookkeeping; at-least-once for the
    two appends (the dedup_stream_against_store contract — a
    transactional table format would close the gap in production)."""
    from nhs_data_pipeline_spark.llm.dedup import (
        _banded_from_sig,
        _minhash_sig,
    )

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select(F.col(id_col), F.col(text_col)).dropDuplicates(
            [id_col]
        ).persist()
        batch.count()
        bands_df = _banded_from_sig(
            _minhash_sig(batch, text_col, id_col, num_hashes, shingle_k,
                         shingle_sample_mod, seed, hash_fn),
            id_col, num_hashes, bands, hash_fn,
        ).persist()
        bands_df.count()
        # in-batch rule first (mirrors the exact store's min-id rep):
        # a doc dies when any SMALLER-id batch doc shares a band,
        # regardless of that doc's own fate against the store
        a = bands_df.select(
            F.col(id_col).alias("__ia"), "band_idx", "band_hash"
        )
        b = bands_df.select(
            F.col(id_col).alias("__ib"), "band_idx", "band_hash"
        )
        beaten = (
            a.join(b, ["band_idx", "band_hash"])
            .filter(F.col("__ia") < F.col("__ib"))
            .select(F.col("__ib").alias(id_col))
            .distinct()
        )
        store = _read_store_or_none(spark, store_path)
        hit = (
            bands_df.join(
                store.select("band_idx", "band_hash"),
                ["band_idx", "band_hash"],
                "left_semi",
            ).select(id_col).distinct()
            if store is not None
            else None
        )
        rejected = beaten if hit is None else beaten.unionByName(hit)
        admitted_ids = (
            batch.select(id_col).join(rejected, id_col, "left_anti")
        )
        survivors = batch.join(admitted_ids, id_col, "left_semi").persist()
        survivors.count()  # eager: both appends reuse one computation
        survivors.write.mode("append").parquet(out_path)
        bands_df.join(admitted_ids, id_col, "left_semi").write.mode(
            "append"
        ).parquet(store_path)
        survivors.unpersist()
        bands_df.unpersist()
        batch.unpersist()

    return _run_catch_up(docs, _process, checkpoint)


def _load_guarded_store(
    spark: SparkSession, store_path: str, stream_key: str, batch_id: int
):
    """Read a guarded store for a foreachBatch merge: restore the store
    first if a mid-swap crash left it aside (``io.writers.recover``),
    and apply the replay guard — a batch is a replay only when the stored
    ``stream_key`` matches this query AND ``batch_id`` does not advance
    past ``last_batch_id`` (batch ids are only monotonic within one
    checkpoint; an unkeyed guard would drop a fresh checkpoint's first
    batches as "replays"). Returns ``(old_df_without_guard_cols | None,
    is_replay)``. Called only by :func:`_fold_into_store`, which every
    store maintainer goes through — ONE definition so their replay
    semantics can never drift."""
    old = _read_store_or_none(spark, recover(store_path))
    if old is not None and "last_batch_id" in old.columns:
        # One driver action for the whole guard (stream_key is a
        # per-store constant, so max() reads it exactly).
        has_key = "stream_key" in old.columns
        row = old.agg(
            F.max("last_batch_id").alias("b"),
            (F.max("stream_key") if has_key else F.lit(None)).alias("k"),
        ).first()
        same_stream = has_key and row["k"] == stream_key
        if same_stream and row["b"] is not None and batch_id <= row["b"]:
            return None, True  # replayed batch: already folded in
        old = old.drop("last_batch_id", "stream_key")
    return old, False


def _fold_into_store(
    rows: DataFrame, store_path: str, checkpoint: str, fold, after=None
):
    """Run the guarded-store protocol over ``rows``: per micro-batch,
    read the store through the replay guard (a replay returns at
    once), swap in ``fold(batch_df, old)`` (``old`` is None on the
    first batch) with the guard columns stamped, then call
    ``after(spark, batch_id)`` if given. The stream identity is
    resolved once per query, on its first batch: the checkpoint's
    query id is fixed for the query's lifetime.

    The swap is ``io.writers.publish``. A plain overwrite-in-place
    deletes the old files first, so a crash mid-write would leave NO
    readable store and the next run would silently treat it as the
    first batch; the staged swap leaves either the old store or the
    new one, and the next read restores an old store left aside.
    Single-writer assumption, as for any foreachBatch parquet sink.
    Returns the started StreamingQuery (availableNow trigger)."""
    stream_key = None

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal stream_key
        spark = batch_df.sparkSession
        if stream_key is None:
            stream_key = _stream_identity(checkpoint, spark)
        old, is_replay = _load_guarded_store(spark, store_path, stream_key, batch_id)
        if is_replay:
            return  # replayed batch: already folded into the store
        merged = fold(batch_df, old).withColumns(
            {"last_batch_id": F.lit(batch_id), "stream_key": F.lit(stream_key)}
        )
        publish(store_path, merged.write.parquet)
        if after is not None:
            after(spark, batch_id)

    return _run_catch_up(rows, _process, checkpoint)


def _merge_fold(build, merge):
    """The fold of every mergeable store: build the micro-batch's own
    table, union it with the old store and re-aggregate with ``merge``
    (the batch op's own merge, so store and batch semantics cannot
    drift). Union + re-aggregation groups NULL keys together, which a
    full-outer join on ``==`` never does."""

    def fold(batch_df: DataFrame, old: DataFrame | None) -> DataFrame:
        new = build(batch_df)
        if old is None:
            return new
        return merge(new.unionByName(old.select(*new.columns)))

    return fold


def fingerprint_stream_into_store(
    rows: DataFrame,
    store_path: str,
    checkpoint: str,
    cols: list[str],
    group_by: list[str],
):
    """Incrementally maintain per-group content fingerprints over a
    STREAM — the integrity handshake (ops/quality.py:content_fingerprint)
    kept current without ever rescanning history, because the XOR fold
    is incremental: new_fp = old_fp XOR batch_fp, new_n = old_n +
    batch_n.

    Each micro-batch computes its own per-group (n_rows, fingerprint)
    aggregate (one tiny shuffle over group keys), unions it with the
    store and re-aggregates by ``sum(n_rows)`` and
    ``bit_xor(content_fingerprint)`` per group, and atomically swaps
    the store (write new -> replace). The store holds one row per
    group — dimension-sized — so the re-aggregation's shuffle moves
    only group-cardinality rows, never the raw stream; NULL group keys
    merge into one row, exactly as a batch ``content_fingerprint``
    over all rows groups them.

    Delivery: effectively exactly-once. foreachBatch is at-least-once,
    so a crash after the store swap but before the checkpoint commit
    replays the batch — and a replayed XOR would CANCEL the batch's
    fingerprint contribution and double-count n_rows. The store
    therefore carries the last applied ``last_batch_id`` plus a
    ``stream_key`` (the query id Spark pins in the checkpoint's
    metadata — stable across restarts and checkpoint moves): a batch
    is skipped as a replay only when BOTH the key matches and
    batch_id <= the stored id. Keying on the stream matters because
    foreachBatch batch ids are only monotonic within one checkpoint —
    a fresh checkpoint over a new source pointed at the same store
    restarts at 0, and an unkeyed guard would silently drop its first
    batches as "replays".

    The swap is ``io.writers.publish`` (write staging -> store aside
    to .old -> staging into place -> drop .old) and the reader restores
    ``.old`` when the store path is mid-swap missing, so a crash at any
    point leaves a readable pre-batch store and the replayed batch
    applies cleanly (single-writer assumption, same as any foreachBatch
    parquet sink here).

    Returns the started StreamingQuery (availableNow trigger).
    """
    from nhs_data_pipeline_spark.ops.quality import content_fingerprint

    fold = _merge_fold(
        lambda b: content_fingerprint(b, cols, group_by=group_by),
        lambda u: u.groupBy(*group_by).agg(
            F.sum("n_rows").alias("n_rows"),
            F.bit_xor("content_fingerprint").alias("content_fingerprint"),
        ),
    )
    return _fold_into_store(rows, store_path, checkpoint, fold)


def cm_sketch_stream_into_store(
    rows: DataFrame,
    key_col: str,
    store_path: str,
    checkpoint: str,
    d: int = 3,
    w: int = 256,
):
    """Incrementally maintain a count-min sketch over a STREAM — live
    heavy-hitter / frequency tracking without ever rescanning history,
    because count-min cells are additively mergeable: new_cnt =
    old_cnt + batch_cnt per (row, bucket).

    Each micro-batch builds its own d*w sketch (ops/sketch.cm_sketch —
    one tiny shuffle), unions it with the store and re-aggregates with
    ``cm_merge`` (cell-wise addition), and atomically swaps the store.
    The store is d*w rows FOREVER, regardless of stream volume — the
    sketch property that makes unbounded-cardinality frequency state
    feasible where an exact per-key count table would grow without
    bound. Point-query it any time with ops/sketch.cm_estimate.

    Delivery: effectively exactly-once via the shared replay guard +
    rename swap (``_fold_into_store`` — cell addition is NOT
    idempotent, so replayed batches must be skipped, exactly like the
    XOR fingerprint store). availableNow trigger.
    """
    from nhs_data_pipeline_spark.ops.sketch import cm_merge, cm_sketch

    fold = _merge_fold(lambda b: cm_sketch(b, key_col, d=d, w=w), cm_merge)
    return _fold_into_store(rows, store_path, checkpoint, fold)


def agg_stream_into_store(
    rows: DataFrame,
    store_path: str,
    checkpoint: str,
    keys: list[str],
    count_col: str = "n_rows",
    sum_cols: dict[str, str] | None = None,
):
    """Incrementally maintain an exact per-group (count, integer sums)
    aggregate table over a STREAM — the live twin of the batch
    ``ops/merge.incremental_agg_merge``, and it literally REUSES that
    operator for the merge so the streaming store and a batch rebuild
    can never drift semantically (every arriving row is an op=+1
    change).

    Each micro-batch aggregates itself key-granularly (one map-side-
    combined shuffle over the batch only — history is never
    rescanned), merges into the store via the batch op's full-outer
    NULL-safe key join, and atomically swaps the store. The store is
    group-cardinality-sized; measures must be exact integers (the
    caller quantizes — the repo's decimal-cents discipline).

    Delivery: effectively exactly-once via the shared replay guard +
    rename swap (``_fold_into_store`` — count addition is NOT
    idempotent, so replayed batches must be skipped, exactly like the
    XOR fingerprint store). availableNow trigger.
    """
    from nhs_data_pipeline_spark.ops.merge import incremental_agg_merge

    sum_cols = sum_cols or {}

    def fold(batch_df: DataFrame, old: DataFrame | None) -> DataFrame:
        if old is None:
            return batch_df.groupBy(*keys).agg(
                F.count("*").cast("bigint").alias(count_col),
                *[
                    F.sum(F.col(src)).cast("bigint").alias(dst)
                    for dst, src in sum_cols.items()
                ],
            )
        return incremental_agg_merge(
            old.select(*keys, count_col, *sum_cols.keys()),
            batch_df.withColumn("__op", F.lit(1)),
            keys,
            count_col=count_col,
            sum_cols=sum_cols,
        )

    return _fold_into_store(rows, store_path, checkpoint, fold)


def hll_stream_into_store(
    rows: DataFrame,
    key_col: str,
    store_path: str,
    checkpoint: str,
    p: int = 10,
):
    """Incrementally maintain a portable-HLL register store over a
    STREAM — live distinct-count state in at most 2^p rows, point-
    queryable any time with ops/sketch.hll_estimate.

    Merge is per-bucket MAX (HLL mergeability). MAX is idempotent, so
    unlike the XOR/count stores a replayed batch could not corrupt the
    registers — the shared replay guard is still applied for uniform
    store semantics (and to keep last_batch_id meaningful for
    monitoring). availableNow trigger.
    """
    from nhs_data_pipeline_spark.ops.sketch import hll_merge, hll_register_table

    fold = _merge_fold(lambda b: hll_register_table(b, key_col, p=p), hll_merge)
    return _fold_into_store(rows, store_path, checkpoint, fold)


def histogram_stream_into_store(
    rows: DataFrame,
    value_col: str,
    store_path: str,
    checkpoint: str,
    lo: float,
    hi: float,
    bins: int = 64,
):
    """Incrementally maintain a fixed-grid histogram over a STREAM —
    live quantile/distribution state in at most ``bins`` rows,
    estimable any time with ops/sketch.histogram_quantiles (pass a
    one-row bounds frame built from the same lo/hi).

    The grid bounds are CALLER-FIXED, not data-derived: per-batch
    min/max grids cannot be cell-merged (each batch would bin on a
    different ruler — the reason mergeable quantile structures like
    t-digest exist). A fixed [lo, hi) grid makes per-bin counts
    purely additive like count-min cells; values outside the range
    clamp into the edge bins (documented, monitoring-style
    semantics). Same shared replay guard + atomic swap (addition is
    not idempotent). availableNow trigger."""
    from nhs_data_pipeline_spark.ops.sketch import grid_bin, histogram_merge

    if not hi > lo:
        raise ValueError("hi must be > lo")
    if bins < 1:
        raise ValueError("bins must be >= 1")
    v = F.col(value_col).cast("double")
    # shared binning (ops/sketch.grid_bin): NaN -> NULL (excluded
    # below), inf/overflow clamp BEFORE the int cast, bins
    # validated — hand-rolled copies drifted (review finding)
    bin_idx = grid_bin(v, F.lit(float(lo)), F.lit(float(hi)), bins)

    def build(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.filter(v.isNotNull())
            .select(bin_idx.alias("bin"))
            .filter(F.col("bin").isNotNull())
            .groupBy("bin")
            .agg(F.count("*").alias("cnt"))
        )

    fold = _merge_fold(build, histogram_merge)
    return _fold_into_store(rows, store_path, checkpoint, fold)


def bloom_stream_into_store(
    rows: DataFrame,
    key_col: str,
    store_path: str,
    checkpoint: str,
    k: int = 3,
    m_bits: int = 1024,
):
    """Incrementally maintain a portable Bloom bitmap store over a
    STREAM — live membership state in at most ``m_bits / 32`` rows,
    usable any time as the build side of ops/sketch.bloom_prefilter
    (e.g. "have we ever seen this join key" pruning for incremental
    loads).

    Merge is word-wise bit OR (Bloom mergeability). OR is idempotent,
    so like the HLL registers a replayed batch could not corrupt the
    bitmap — the shared replay guard is still applied for uniform
    store semantics. availableNow trigger.
    """
    from nhs_data_pipeline_spark.ops.sketch import bloom_build, bloom_merge

    fold = _merge_fold(
        lambda b: bloom_build(b, key_col, k=k, m_bits=m_bits), bloom_merge
    )
    return _fold_into_store(rows, store_path, checkpoint, fold)


def bitmap_stream_into_store(
    rows: DataFrame,
    key_col: str,
    store_path: str,
    checkpoint: str,
):
    """Incrementally maintain an EXACT distinct-count bitmap store
    over a STREAM (ops/sketch.bitmap_build semantics: non-negative
    integer keys, bit key%32 of word key//32). Word-wise OR merge is
    idempotent, so replays cannot corrupt the store — the shared
    guard still applies for uniform semantics. The store answers
    exact "distinct keys ever seen" at any time via
    ops/sketch.bitmap_distinct, and OR-merges with batch-built
    bitmaps from other shards. availableNow trigger."""
    from nhs_data_pipeline_spark.ops.sketch import bitmap_build, bitmap_merge

    fold = _merge_fold(lambda b: bitmap_build(b, key_col), bitmap_merge)
    return _fold_into_store(rows, store_path, checkpoint, fold)


def psi_stream_monitor(
    rows: DataFrame,
    baseline_counts: DataFrame,
    value_int_col: str,
    store_path: str,
    checkpoint: str,
    log_path: str,
    bucket_width: int = 1 << 16,
):
    """Streaming drift monitor: maintain cumulative fixed-width bucket
    counts of an arriving integer value and, after every micro-batch,
    append ``(batch_id, n_a, n_b, n_buckets, psi)`` — the PSI of the
    cumulative stream against a FIXED baseline — to a monitor log.
    The model-monitoring loop a 100 TB feature pipeline runs live:
    the log row crossing 0.25 is the drift alarm.

    ``baseline_counts`` is the reference bucket table from
    ``ops/analytics.psi_bucket_counts(baseline_df, value_int_col,
    bucket_width)`` (columns ``__b, __ca``) — computed once, tiny,
    read on the driver per batch. The PSI itself is computed by the
    SAME ``psi_from_bucket_counts`` core as the batch ``psi_report``,
    so the live metric and a batch rebuild can never drift
    semantically (the agg-store precedent).

    State is bucket-cardinality-sized. Count addition is NOT
    idempotent: the shared replay guard + rename swap give the store
    effectively-exactly-once semantics; a replayed batch also appends
    no duplicate log row (the guard returns before the log write).
    The log append itself is at-least-once only on a crash BETWEEN
    swap and append (one missing-then-absent log row, never a wrong
    store). availableNow trigger."""
    from nhs_data_pipeline_spark.ops.analytics import psi_from_bucket_counts

    def build(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.filter(F.col(value_int_col).isNotNull())
            .select(
                F.expr(f"{value_int_col} div {int(bucket_width)}").alias("__b")
            )
            .groupBy("__b")
            .agg(F.count("*").cast("bigint").alias("__cb"))
        )

    def merge(counts: DataFrame) -> DataFrame:
        return counts.groupBy("__b").agg(F.sum("__cb").cast("bigint").alias("__cb"))

    def log_psi(spark: SparkSession, batch_id: int) -> None:
        cur = spark.read.parquet(store_path).select("__b", "__cb")
        psi_row = psi_from_bucket_counts(baseline_counts, cur).select(
            F.lit(batch_id).cast("bigint").alias("batch_id"),
            "n_a",
            "n_b",
            "n_buckets",
            "psi",
        )
        psi_row.coalesce(1).write.mode("append").parquet(log_path)

    return _fold_into_store(
        rows, store_path, checkpoint, _merge_fold(build, merge), after=log_psi
    )
