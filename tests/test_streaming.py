"""Structured Streaming mirror: the streaming rollup over a file source
equals the batch rollup over the same data."""

from __future__ import annotations

import datetime

from pyspark.sql import types as T

import pytest

from nhs_data_pipeline_spark.streaming import (
    run_stream_to_memory,
    stream_files,
    windowed_rollup,
)

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _rows():
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    out = []
    for i in range(100):
        out.append(
            (base + datetime.timedelta(minutes=7 * i), f"t{i % 3}", float(i))
        )
    return out


@pytest.mark.slow
def test_stream_matches_batch(spark, tmp_path):
    batch = spark.createDataFrame(_rows(), SCHEMA)
    src = str(tmp_path / "stream_src")
    # two files -> two micro-batches with maxFilesPerTrigger=1
    batch.limit(50).coalesce(1).write.parquet(src)
    batch.exceptAll(batch.limit(50)).coalesce(1).write.mode("append").parquet(src)

    stream = stream_files(spark, src, SCHEMA, max_files_per_trigger=1)
    assert stream.isStreaming
    rolled = windowed_rollup(stream, window="30 minutes", watermark="1 hour")
    # complete mode: append would hold back windows the watermark hasn't
    # passed yet, so the final windows of a finite run never emit
    run_stream_to_memory(rolled, "rollup_test", output_mode="complete")

    got = {
        (r.window_start, r.event_type): (r.n, r.value_sum)
        for r in spark.table("rollup_test").collect()
    }
    expected = {
        (r.window_start, r.event_type): (r.n, r.value_sum)
        for r in windowed_rollup(batch, window="30 minutes").collect()
    }
    assert got == expected


@pytest.mark.slow
def test_dedup_stream_matches_batch(spark, tmp_path):
    import datetime

    from nhs_data_pipeline_spark.streaming import dedup_stream

    base = datetime.datetime(2024, 1, 1)
    # duplicate rows are FULL duplicates so "which copy survived" is
    # unobservable and stream/batch results are set-comparable
    rows = [
        (base + datetime.timedelta(minutes=m), k, float(v))
        for m, k, v in [
            (0, "a", 1), (5, "a", 1), (0, "a", 1),   # a twice at t0 + near-dup at t5
            (1, "b", 2), (1, "b", 2),                  # b duplicated
            (9, "c", 3),
        ]
    ]
    ev = spark.createDataFrame(rows, SCHEMA)
    src = str(tmp_path / "dedup_src")
    ev.coalesce(1).write.parquet(src)

    stream = stream_files(spark, src, SCHEMA)
    deduped = dedup_stream(stream, ["ts", "event_type", "value"], watermark="1 hour")
    run_stream_to_memory(deduped, "dedup_test", output_mode="append")
    got = {(r.ts, r.event_type, r.value) for r in spark.table("dedup_test").collect()}

    batch = dedup_stream(ev, ["ts", "event_type", "value"])
    exp = {(r.ts, r.event_type, r.value) for r in batch.collect()}
    assert len(exp) == 4
    assert got == exp


@pytest.mark.slow
def test_interval_join_stream_matches_batch(spark, tmp_path):
    import datetime

    from nhs_data_pipeline_spark.streaming import interval_join_streams

    base = datetime.datetime(2024, 1, 1)
    trig_rows = [
        (base + datetime.timedelta(minutes=m), k, 0.0)
        for m, k in [(0, "a"), (10, "b"), (40, "a")]
    ]
    resp_rows = [
        (base + datetime.timedelta(minutes=m), k, 1.0)
        for m, k in [(5, "a"), (12, "b"), (30, "a"), (41, "a"), (400, "a")]
    ]
    # sentinel far-future rows on both sides advance the watermark so
    # all real matches emit during the availableNow run
    far = base + datetime.timedelta(days=30)
    trig_rows.append((far, "zz", 0.0))
    resp_rows.append((far, "zz", 1.0))

    trig = spark.createDataFrame(trig_rows, SCHEMA)
    resp = spark.createDataFrame(resp_rows, SCHEMA)
    tsrc, rsrc = str(tmp_path / "trig"), str(tmp_path / "resp")
    trig.coalesce(1).write.parquet(tsrc)
    resp.coalesce(1).write.parquet(rsrc)

    js = interval_join_streams(
        stream_files(spark, tsrc, SCHEMA),
        stream_files(spark, rsrc, SCHEMA),
        key="event_type",
        watermark="1 hour",
        upper="15 minutes",
    ).selectExpr("ts AS lts", "ts_r AS rts", "event_type AS k")
    run_stream_to_memory(js, "ij_test", output_mode="append")
    got = {(r.lts, r.rts, r.k) for r in spark.table("ij_test").collect()}

    jb = interval_join_streams(
        trig, resp, key="event_type", upper="15 minutes"
    ).selectExpr("ts AS lts", "ts_r AS rts", "event_type AS k")
    exp = {(r.lts, r.rts, r.k) for r in jb.collect()}
    # expected: a@0 matches resp@5; b@10 matches resp@12; a@40 matches
    # resp@41; the zz sentinels match each other; resp@30/@400 match nothing
    assert len(exp) == 4
    assert got == exp


@pytest.mark.slow
def test_sessionize_stream_matches_batch(spark, tmp_path):
    import datetime

    from pyspark.sql import functions as F

    from nhs_data_pipeline_spark.streaming.sessionize import (
        sessionize_batch,
        sessionize_stream,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = []
    # user 1: two sessions separated by a 2-hour gap; user 2: one session
    for m in [0, 5, 10, 130, 135]:
        rows.append((base + datetime.timedelta(minutes=m), 1, 1.0))
    for m in [0, 20]:
        rows.append((base + datetime.timedelta(minutes=m), 2, 2.0))
    # user 3: fractional-second spacings straddling the 1800s gap —
    # 1800.000001s (new session) and 1799.999999s (same session). Both
    # paths must compare at microsecond resolution; a whole-second
    # truncation on either side sessionizes these differently.
    rows.append((base, 3, 3.0))
    rows.append((base + datetime.timedelta(seconds=1800, microseconds=1), 3, 3.0))
    rows.append(
        (
            base
            + datetime.timedelta(seconds=1800, microseconds=1)
            + datetime.timedelta(seconds=1799, microseconds=999999),
            3,
            3.0,
        )
    )
    # sentinel far-future event per user advances the watermark so all
    # real sessions close during the availableNow run
    for u in (1, 2, 3):
        rows.append((base + datetime.timedelta(days=30), u, 0.0))
    ev = spark.createDataFrame(rows, "ts timestamp, user_id long, value double")

    src = str(tmp_path / "sess_src")
    ev.coalesce(1).write.parquet(src)
    schema = ev.schema
    stream = stream_files(spark, src, schema)
    sessions = sessionize_stream(stream.withWatermark("ts", "0 seconds"), gap_seconds=1800)
    run_stream_to_memory(sessions, "sessions_test", output_mode="append")
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.value_sum)
        for r in spark.table("sessions_test").collect()
    }

    batch = sessionize_batch(ev, gap_seconds=1800)
    exp = {
        (r.user_id, r.session_start, r.session_end, r.n_events, r.value_sum)
        for r in batch.collect()
        # the sentinel sessions never close in the stream; exclude them
        if r.session_start < base + datetime.timedelta(days=1)
    }
    assert len(exp) == 5  # users 1+3: two sessions each; user 2: one
    assert got == exp


@pytest.mark.slow
def test_sessionize_stream_survives_late_batches(spark, tmp_path):
    """A later micro-batch carrying BELOW-WATERMARK events must not
    kill the query (unclamped setTimeoutTimestamp raised
    INVALID_TIMEOUT_TIMESTAMP on multi-file availableNow replay, where
    file order is not time order) and must not corrupt open sessions:
    late rows are DROPPED per the watermark contract — folding them in
    would rewind an open session's clock and emit end < start."""
    import datetime

    from nhs_data_pipeline_spark.streaming.sessionize import (
        sessionize_stream,
    )

    base = datetime.datetime(2024, 1, 1)
    ev1 = spark.createDataFrame(
        [(base + datetime.timedelta(days=10), 1, 1.0)],
        "ts timestamp, user_id long, value double",
    )
    # batch 2: user 2's events are 10 days BEHIND the watermark batch 1
    # advanced to (minus the 0s delay); user 1 gets one too
    ev2 = spark.createDataFrame(
        [
            (base, 2, 2.0),
            (base + datetime.timedelta(minutes=5), 2, 2.0),
            (base, 1, 9.0),  # late for a user WITH an open session
            # sentinel far-future event closes everything
            (base + datetime.timedelta(days=30), 1, 0.0),
        ],
        "ts timestamp, user_id long, value double",
    )
    src = str(tmp_path / "late_src")
    ev1.coalesce(1).write.parquet(src)
    ev2.coalesce(1).write.mode("append").parquet(src)

    stream = stream_files(spark, src, ev1.schema, max_files_per_trigger=1)
    sessions = sessionize_stream(
        stream.withWatermark("ts", "0 seconds"), gap_seconds=1800
    )
    run_stream_to_memory(sessions, "late_sessions", output_mode="append")
    rows = spark.table("late_sessions").collect()
    got = {
        (r.user_id, r.n_events): r.value_sum for r in rows
    }
    # user 1's day-10 session closed by the sentinel, UNPOLLUTED by the
    # dropped late event (n=1, sum=1.0, no end < start anywhere)
    assert got.get((1, 1)) == 1.0
    assert all(r.session_end >= r.session_start for r in rows), rows
    # user 2's below-watermark events were dropped entirely
    assert not any(r.user_id == 2 for r in rows), rows


def test_enrich_stream_matches_batch(spark, tmp_path):
    """Stream-static broadcast enrichment: per-micro-batch join against
    a static dimension equals the batch join, and unmatched keys
    survive (left join)."""
    from nhs_data_pipeline_spark.streaming import enrich_stream

    batch = spark.createDataFrame(_rows(), SCHEMA)
    dim = spark.createDataFrame(
        [("t0", "alpha"), ("t1", "beta")], ["event_type", "label"]
    )  # t2 deliberately missing
    src = str(tmp_path / "enrich_src")
    batch.limit(50).coalesce(1).write.parquet(src)
    batch.exceptAll(batch.limit(50)).coalesce(1).write.mode("append").parquet(src)

    stream = stream_files(spark, src, SCHEMA, max_files_per_trigger=1)
    enriched = enrich_stream(stream, dim, "event_type")
    run_stream_to_memory(enriched, "enriched_mem")

    got = {
        (r.ts, r.event_type): r.label for r in spark.table("enriched_mem").collect()
    }
    want = {
        (r.ts, r.event_type): r.label
        for r in enrich_stream(batch, dim, "event_type").collect()
    }
    assert got == want
    assert len(got) == 100
    assert all(v is None for (_, et), v in got.items() if et == "t2")


@pytest.mark.slow
def test_dedup_stream_against_store_cross_batch(spark, tmp_path):
    """foreachBatch store-backed dedup: in-batch dups collapse to the
    min-id representative, cross-batch dups are dropped via the
    persistent fingerprint store, and a second RUN (new stream, same
    store) admits nothing it has seen before."""
    import time as _time

    from nhs_data_pipeline_spark.streaming import dedup_stream_against_store
    from nhs_data_pipeline_spark.streaming.pipeline import stream_files

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = str(tmp_path / "src")
    # batch 1: one in-batch dup (ids 1,2 same text)
    b1 = spark.createDataFrame(
        [(1, "alpha beds"), (2, "alpha beds"), (3, "beta wards")], doc_schema
    )
    b1.coalesce(1).write.parquet(src)
    _time.sleep(1.1)  # distinct mtimes => deterministic file order
    # batch 2: one cross-batch dup (text of id 3) + one new doc
    b2 = spark.createDataFrame(
        [(10, "beta wards"), (11, "gamma clinics")], doc_schema
    )
    b2.coalesce(1).write.mode("append").parquet(src)

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    stream = stream_files(spark, src, doc_schema, max_files_per_trigger=1)
    q = dedup_stream_against_store(
        stream, store, out, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    got = {r.doc_id: r.fp for r in spark.read.parquet(out).collect()}
    assert set(got) == {1, 3, 11}  # 2 in-batch dup, 10 cross-batch dup
    assert spark.read.parquet(store).count() == 3

    # second arrival run, entirely seen before -> nothing admitted
    src2 = str(tmp_path / "src2")
    spark.createDataFrame([(20, "alpha beds"), (21, "gamma clinics")], doc_schema)\
        .coalesce(1).write.parquet(src2)
    stream2 = stream_files(spark, src2, doc_schema, max_files_per_trigger=1)
    q2 = dedup_stream_against_store(
        stream2, store, out, checkpoint=str(tmp_path / "ckpt2")
    )
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == 3
    assert spark.read.parquet(store).count() == 3


@pytest.mark.slow
def test_near_dedup_stream_against_store(spark, tmp_path):
    """Streaming near-dup store (r8): exact re-submissions AND near
    duplicates of admitted docs are rejected cross-batch via the band
    store; within a batch the min-id doc of a colliding pair wins;
    novel docs are admitted; the store holds bands only for admitted
    docs; and the admitted set matches the batch screen
    (lsh_incremental_screen) on the same corpus/batch split."""
    import time as _time

    from nhs_data_pipeline_spark.llm.dedup import lsh_incremental_screen
    from nhs_data_pipeline_spark.streaming.pipeline import (
        near_dedup_stream_against_store,
        stream_files,
    )

    base_text = (
        "the national health service publishes monthly bed occupancy "
        "statistics for every acute trust in england covering winter "
        "pressures and escalation capacity across all regions"
    )
    other = (
        "completely different corpus text about spark shuffles and "
        "partitions with broadcast joins and adaptive query execution"
    )
    novel = (
        "gardening notes on tomato soil acidity herb rotation and "
        "greenhouse ventilation schedules for late summer harvests"
    )
    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = str(tmp_path / "nd_src")
    # batch 1: two distinct docs + an in-batch exact pair (30 beats 31)
    b1 = spark.createDataFrame(
        [(1, base_text), (4, other), (30, novel), (31, novel)], doc_schema
    )
    b1.coalesce(1).write.parquet(src)
    _time.sleep(1.1)
    # batch 2: exact re-submit of 1, a NEAR dup of 1, and a novel doc
    b2 = spark.createDataFrame(
        [
            (100, base_text),
            (101, base_text.replace("winter", "summer")),
            (102, "entirely new material on orchestra rehearsal "
                  "schedules woodwind tuning and concert hall acoustics"),
        ],
        doc_schema,
    )
    b2.coalesce(1).write.mode("append").parquet(src)

    store = str(tmp_path / "nd_store")
    out = str(tmp_path / "nd_out")
    q = near_dedup_stream_against_store(
        stream_files(spark, src, doc_schema, max_files_per_trigger=1),
        store, out, checkpoint=str(tmp_path / "nd_ckpt"),
    )
    q.awaitTermination()

    admitted = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert admitted == {1, 4, 30, 102}
    # store holds exactly 8 bands per admitted doc, none for rejected
    st = spark.read.parquet(store)
    assert st.count() == 4 * 8
    assert {r.doc_id for r in st.select("doc_id").distinct().collect()} == (
        admitted
    )
    # stream == batch: the batch screen over (admitted-so-far, batch 2)
    # must reject/admit the same batch-2 docs
    corpus = spark.createDataFrame(
        [(1, base_text), (4, other), (30, novel)], doc_schema
    )
    newb = spark.createDataFrame(
        [(100, base_text),
         (101, base_text.replace("winter", "summer")),
         (102, "entirely new material on orchestra rehearsal "
               "schedules woodwind tuning and concert hall acoustics")],
        doc_schema,
    )
    screen = {r.doc_id: r.admitted
              for r in lsh_incremental_screen(corpus, newb).collect()}
    assert screen == {100: False, 101: False, 102: True}


@pytest.mark.slow
def test_fingerprint_stream_matches_batch(spark, tmp_path):
    """Incremental XOR fingerprint store over a 2-batch stream must end
    exactly equal to the one-shot batch content_fingerprint of the
    union — the algebraic property the op banks on."""
    import time as _time

    from nhs_data_pipeline_spark.ops.quality import content_fingerprint
    from nhs_data_pipeline_spark.streaming.pipeline import (
        fingerprint_stream_into_store,
        stream_files,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("src", T.StringType()),
        ]
    )
    src = str(tmp_path / "fp_src")
    b1 = spark.createDataFrame(
        [(1, "alpha", "a"), (2, "beta", "a"), (3, "gamma", "b")], schema
    )
    b1.coalesce(1).write.parquet(src)
    _time.sleep(1.1)
    b2 = spark.createDataFrame(
        [(4, "delta", "b"), (5, "epsilon", "c")], schema
    )
    b2.coalesce(1).write.mode("append").parquet(src)

    store = str(tmp_path / "fp_store")
    stream = stream_files(spark, src, schema, max_files_per_trigger=1)
    q = fingerprint_stream_into_store(
        stream,
        store,
        checkpoint=str(tmp_path / "fp_ckpt"),
        cols=["doc_id", "text"],
        group_by=["src"],
    )
    q.awaitTermination()

    got = {
        r["src"]: (r["n_rows"], r["content_fingerprint"])
        for r in spark.read.parquet(store).collect()
    }
    want = {
        r["src"]: (r["n_rows"], r["content_fingerprint"])
        for r in content_fingerprint(
            b1.unionByName(b2), ["doc_id", "text"], group_by=["src"]
        ).collect()
    }
    assert got == want and set(got) == {"a", "b", "c"}

    # Replay idempotency: foreachBatch is at-least-once. Simulate the
    # real crash window — store swapped but checkpoint commit lost — by
    # cloning the checkpoint (same pinned query id = same stream; a
    # fresh dir sidesteps Spark's same-JVM commit-log cache) with the
    # newest commit marker removed: the last batch is re-delivered with
    # the same batch_id. An unguarded XOR merge would CANCEL that
    # batch's contribution and double-count n_rows; the
    # (stream_key, last_batch_id) guard skips it.
    import os
    import shutil as _sh

    q.stop()
    ckpt = tmp_path / "fp_ckpt"
    replay_ckpt = tmp_path / "fp_ckpt_replayed"
    _sh.copytree(ckpt, replay_ckpt)
    commits = sorted(
        p
        for p in (replay_ckpt / "commits").iterdir()
        if not p.name.startswith(".")
    )
    os.remove(commits[-1])
    # drop the stale checksum twin too — a leftover .N.crc makes the
    # local filesystem's atomic re-create throw FileAlreadyExists,
    # which Spark misreports as a concurrent query on the checkpoint
    crc = commits[-1].parent / f".{commits[-1].name}.crc"
    if crc.exists():
        os.remove(crc)
    q2 = fingerprint_stream_into_store(
        stream_files(spark, src, schema, max_files_per_trigger=1),
        store,
        checkpoint=str(replay_ckpt),
        cols=["doc_id", "text"],
        group_by=["src"],
    )
    q2.awaitTermination()
    replayed = {
        r["src"]: (r["n_rows"], r["content_fingerprint"])
        for r in spark.read.parquet(store).collect()
    }
    assert replayed == want

    # A FRESH checkpoint over the same store is a NEW stream, not a
    # replay (batch ids restart at 0 legitimately): its batches must
    # APPLY, not be skipped — an unkeyed batch-id guard would silently
    # drop them as replays. Re-delivering identical data doubles every
    # group's n_rows and XOR-cancels the fingerprints to 0.
    q3 = fingerprint_stream_into_store(
        stream_files(spark, src, schema, max_files_per_trigger=1),
        store,
        checkpoint=str(tmp_path / "fp_ckpt_new_stream"),
        cols=["doc_id", "text"],
        group_by=["src"],
    )
    q3.awaitTermination()
    doubled = {
        r["src"]: (r["n_rows"], r["content_fingerprint"])
        for r in spark.read.parquet(store).collect()
    }
    assert doubled == {
        s: (2 * n, 0) for s, (n, _) in want.items()
    }


@pytest.mark.slow
def test_dedup_stream_same_id_duplicates(spark, tmp_path):
    """Regression: the survivor join must key on (id, fp), not id alone.
    Exact duplicate deliveries of one row collapse to a single admitted
    copy, and a same-id row whose fingerprint is already in the store
    is NOT re-admitted."""
    import time as _time

    from nhs_data_pipeline_spark.streaming import dedup_stream_against_store
    from nhs_data_pipeline_spark.streaming.pipeline import stream_files

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    src = str(tmp_path / "src")
    # batch 1 seeds the store with 'seen text'
    spark.createDataFrame([(0, "seen text")], doc_schema).coalesce(1).write.parquet(src)
    _time.sleep(1.1)
    # batch 2: the same row delivered twice + a same-id row whose text
    # is already fingerprinted in the store
    spark.createDataFrame(
        [(1, "alpha x"), (1, "alpha x"), (1, "seen text")], doc_schema
    ).coalesce(1).write.mode("append").parquet(src)

    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    q = dedup_stream_against_store(
        stream_files(spark, src, doc_schema, max_files_per_trigger=1),
        store, out, checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    rows = [(r.doc_id, r.text) for r in spark.read.parquet(out).collect()]
    assert sorted(rows) == [(0, "seen text"), (1, "alpha x")]  # each ONCE
    assert spark.read.parquet(store).count() == 2


def test_fingerprint_store_recovers_from_mid_swap_state(spark, tmp_path):
    """Regression for the swap ordering: when a previous run crashed
    between rename(base, .old) and rename(tmp, base), the next batch
    must merge from .old (never deleting it before the new store is in
    place) and restore a consolidated base store."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from nhs_data_pipeline_spark.ops.quality import content_fingerprint
    from nhs_data_pipeline_spark.streaming.pipeline import (
        fingerprint_stream_into_store,
        stream_files,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.LongType()),
        ]
    )
    store = str(tmp_path / "store")

    src1 = str(tmp_path / "s1")
    spark.createDataFrame(
        [("a", 1), ("a", 2), (None, 5)], schema
    ).coalesce(1).write.parquet(src1)
    q = fingerprint_stream_into_store(
        stream_files(spark, src1, schema),
        store, str(tmp_path / "ck1"), cols=["k", "v"], group_by=["k"],
    )
    q.awaitTermination()
    baseline = {
        r.k: (r.n_rows, r.content_fingerprint)
        for r in spark.read.parquet(store).collect()
    }
    assert baseline["a"][0] == 2

    # Simulate the mid-swap crash window: base renamed aside, new store
    # never landed, plus a stale half-written tmp lying around.
    os.rename(store, store + ".old")
    os.makedirs(store + ".batch99", exist_ok=True)

    src2 = str(tmp_path / "s2")
    spark.createDataFrame(
        [("a", 3), ("b", 4), (None, 6)], schema
    ).coalesce(1).write.parquet(src2)
    q2 = fingerprint_stream_into_store(
        stream_files(spark, src2, schema),
        store, str(tmp_path / "ck2"), cols=["k", "v"], group_by=["k"],
    )
    q2.awaitTermination()

    stored = spark.read.parquet(store).collect()
    got = {r.k: (r.n_rows, r.content_fingerprint) for r in stored}
    assert got["a"][0] == 3 and got["b"][0] == 1  # merged, not reset
    # NULL group keys merge into one row, as the batch fingerprint
    # of both sources groups them
    assert [r.k for r in stored].count(None) == 1
    both = spark.read.parquet(src1).unionByName(spark.read.parquet(src2))
    want = content_fingerprint(both, ["k", "v"], group_by=["k"]).filter(
        F.col("k").isNull()
    ).first()
    assert got[None] == (want.n_rows, want.content_fingerprint)
    assert not os.path.exists(store + ".old")  # recovery copy retired
    shutil.rmtree(store + ".batch99", ignore_errors=True)


def test_sessionize_batch_malformed_rows(spark):
    """Batch twin matches the stream's malformed-row contract: NULL
    timestamps are dropped; NULL/NaN values sum as 0."""
    import datetime

    from nhs_data_pipeline_spark.streaming.sessionize import sessionize_batch

    base = datetime.datetime(2024, 1, 1)
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    rows = [
        (base, 1, 1.0),
        (base + datetime.timedelta(seconds=10), 1, float("nan")),
        (base + datetime.timedelta(seconds=20), 1, None),
        (None, 1, 99.0),  # invalid event: dropped entirely
    ]
    out = sessionize_batch(spark.createDataFrame(rows, schema)).collect()
    assert len(out) == 1
    assert out[0].n_events == 3  # null-ts row gone
    assert out[0].value_sum == 1.0  # NaN and NULL contribute 0


def test_sessionize_stream_rejects_non_utc_session(spark):
    import pytest as _pytest

    from nhs_data_pipeline_spark.streaming.sessionize import sessionize_stream

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame([], schema)
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Europe/London")
    try:
        with _pytest.raises(ValueError, match="timeZone"):
            sessionize_stream(df)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_read_store_or_none_missing_vs_damaged(spark, tmp_path):
    """A store that does not exist yet is the first batch (None); a
    store directory holding a file that is not parquet is damaged and
    must raise, never pass for an empty store."""
    from nhs_data_pipeline_spark.streaming.pipeline import _read_store_or_none

    assert _read_store_or_none(spark, str(tmp_path / "absent")) is None
    store = tmp_path / "store"
    store.mkdir()
    (store / "part-00000.parquet").write_text("not a parquet file")
    with pytest.raises(Exception, match="not a Parquet file"):
        _read_store_or_none(spark, str(store))


@pytest.mark.slow
def test_cm_sketch_stream_matches_batch(spark, tmp_path):
    """Incremental count-min store over a 2-batch stream must equal the
    one-shot batch sketch of the union (cell-wise additivity), and
    point estimates from the streamed store must match true counts on
    a collision-free configuration."""
    import time as _time

    from nhs_data_pipeline_spark.ops.sketch import cm_estimate, cm_sketch
    from nhs_data_pipeline_spark.streaming.pipeline import (
        cm_sketch_stream_into_store,
        stream_files,
    )

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("term", T.StringType())]
    )
    src = str(tmp_path / "cm_src")
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "alpha"), (3, "beta")], schema
    )
    b1.coalesce(1).write.parquet(src)
    _time.sleep(1.1)
    b2 = spark.createDataFrame([(4, "alpha"), (5, "gamma")], schema)
    b2.coalesce(1).write.mode("append").parquet(src)

    store = str(tmp_path / "cm_store")
    stream = stream_files(spark, src, schema, max_files_per_trigger=1)
    q = cm_sketch_stream_into_store(
        stream, "term", store, checkpoint=str(tmp_path / "cm_ckpt"), d=3, w=512
    )
    q.awaitTermination()

    streamed = (
        spark.read.parquet(store).drop("last_batch_id", "stream_key")
    )
    direct = cm_sketch(b1.unionByName(b2), "term", d=3, w=512)
    assert sorted(map(tuple, streamed.collect())) == \
           sorted(map(tuple, direct.collect()))

    cand = spark.createDataFrame(
        [("alpha",), ("beta",), ("gamma",), ("never",)], ["term"]
    )
    est = {r.term: r.est_n
           for r in cm_estimate(streamed, cand, "term", d=3, w=512).collect()}
    assert est == {"alpha": 3, "beta": 1, "gamma": 1, "never": 0}


@pytest.mark.slow
def test_hll_stream_matches_batch(spark, tmp_path):
    """Incremental HLL register store over a 2-batch stream must equal
    the one-shot batch register table of the union (per-bucket MAX
    mergeability), and the estimate from the streamed store must match
    the batch estimate exactly."""
    import time as _time

    from nhs_data_pipeline_spark.ops.sketch import (
        hll_estimate,
        hll_merge,
        hll_register_table,
    )
    from nhs_data_pipeline_spark.streaming.pipeline import (
        hll_stream_into_store,
        stream_files,
    )

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("user", T.StringType())]
    )
    src = str(tmp_path / "hll_src")
    b1 = spark.createDataFrame(
        [(i, f"u{i % 40}") for i in range(100)], schema
    )
    b1.coalesce(1).write.parquet(src)
    _time.sleep(1.1)
    b2 = spark.createDataFrame(
        [(i, f"u{i % 70}") for i in range(100, 200)], schema
    )
    b2.coalesce(1).write.mode("append").parquet(src)

    store = str(tmp_path / "hll_store")
    stream = stream_files(spark, src, schema, max_files_per_trigger=1)
    q = hll_stream_into_store(
        stream, "user", store, checkpoint=str(tmp_path / "hll_ckpt"), p=10
    )
    q.awaitTermination()

    streamed = spark.read.parquet(store).drop("last_batch_id", "stream_key")
    direct = hll_register_table(b1.unionByName(b2), "user", p=10)
    assert sorted(map(tuple, streamed.collect())) == \
           sorted(map(tuple, direct.collect()))
    est_s = hll_estimate(hll_merge(streamed), p=10).collect()[0].hll_estimate
    est_d = hll_estimate(hll_merge(direct), p=10).collect()[0].hll_estimate
    assert est_s == est_d
    assert abs(est_s - 70) < 7  # 70 true distinct users, ~3.3% stderr


def test_histogram_stream_matches_batch(spark, tmp_path):
    """Fixed-grid histogram over a 2-batch stream must equal the
    one-shot histogram of the union (per-bin additivity), including
    out-of-range clamping into the edge bins."""
    import time as _time

    from nhs_data_pipeline_spark.streaming.pipeline import (
        histogram_stream_into_store,
        stream_files,
    )

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    src = str(tmp_path / "hg_src")
    b1 = spark.createDataFrame(
        [(i, float(i)) for i in range(50)] + [(98, -5.0)], schema
    )
    b1.coalesce(1).write.parquet(src)
    _time.sleep(1.1)
    b2 = spark.createDataFrame(
        [(i, float(i)) for i in range(50, 100)] + [(99, 500.0), (100, None)],
        schema,
    )
    b2.coalesce(1).write.mode("append").parquet(src)

    store = str(tmp_path / "hg_store")
    stream = stream_files(spark, src, schema, max_files_per_trigger=1)
    q = histogram_stream_into_store(
        stream, "v", store, checkpoint=str(tmp_path / "hg_ckpt"),
        lo=0.0, hi=100.0, bins=10,
    )
    q.awaitTermination()

    got = {r.bin: r.cnt for r in
           spark.read.parquet(store).drop("last_batch_id", "stream_key").collect()}
    # 100 uniform values -> 10 per bin; -5 clamps into bin 0, 500 into
    # bin 9; the NULL row is excluded
    assert got[0] == 11 and got[9] == 11
    assert all(got[b] == 10 for b in range(1, 9))
    assert sum(got.values()) == 102


def test_histogram_stream_survives_dirty_values(spark, tmp_path):
    """NaN and +/-inf must not kill the query or corrupt bins: NaN is
    excluded (like NULL), infinities clamp to the edge bins (ANSI cast
    of an overflowed floor would otherwise throw mid-batch)."""
    from nhs_data_pipeline_spark.streaming.pipeline import (
        histogram_stream_into_store,
        stream_files,
    )

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    src = str(tmp_path / "hd_src")
    spark.createDataFrame(
        [(1, 5.0), (2, float("nan")), (3, float("inf")),
         (4, float("-inf")), (5, 1e300), (6, None)],
        schema,
    ).coalesce(1).write.parquet(src)

    store = str(tmp_path / "hd_store")
    q = histogram_stream_into_store(
        stream_files(spark, src, schema), "v", store,
        checkpoint=str(tmp_path / "hd_ckpt"), lo=0.0, hi=10.0, bins=10,
    )
    q.awaitTermination()
    got = {r.bin: r.cnt for r in
           spark.read.parquet(store).drop("last_batch_id", "stream_key").collect()}
    assert got == {5: 1, 9: 2, 0: 1}  # 5.0 -> bin 5; inf & 1e300 -> 9; -inf -> 0


def test_histogram_stream_rejects_bad_bins(spark, tmp_path):
    import pytest as _pytest
    from nhs_data_pipeline_spark.streaming.pipeline import (
        histogram_stream_into_store,
        stream_files,
    )
    schema = T.StructType([T.StructField("v", T.DoubleType())])
    src = str(tmp_path / "bb_src")
    spark.createDataFrame([(1.0,)], schema).coalesce(1).write.parquet(src)
    stream = stream_files(spark, src, schema)
    with _pytest.raises(ValueError):
        histogram_stream_into_store(
            stream, "v", str(tmp_path / "s"), str(tmp_path / "c"),
            lo=0.0, hi=1.0, bins=0,
        )
    with _pytest.raises(ValueError):
        histogram_stream_into_store(
            stream, "v", str(tmp_path / "s"), str(tmp_path / "c"),
            lo=1.0, hi=1.0, bins=8,
        )


def test_bloom_stream_matches_batch_and_prefilters(spark, tmp_path):
    """Incremental Bloom bitmap store over a 2-batch stream must equal
    the one-shot batch bitmap of the union (word-wise OR
    mergeability), and prefiltering with the streamed store must pass
    every seen key."""
    import time as _time

    from nhs_data_pipeline_spark.ops.sketch import bloom_build, bloom_prefilter
    from nhs_data_pipeline_spark.streaming.pipeline import (
        bloom_stream_into_store,
        stream_files,
    )

    schema = T.StructType([T.StructField("key", T.LongType())])
    src = str(tmp_path / "bloom_src")
    b1 = spark.createDataFrame([(i * 3,) for i in range(60)], schema)
    b1.coalesce(1).write.parquet(src)
    _time.sleep(1.1)
    b2 = spark.createDataFrame([(i * 5,) for i in range(60)], schema)
    b2.coalesce(1).write.mode("append").parquet(src)

    store = str(tmp_path / "bloom_store")
    stream = stream_files(spark, src, schema, max_files_per_trigger=1)
    q = bloom_stream_into_store(
        stream, "key", store, checkpoint=str(tmp_path / "bloom_ckpt"),
        k=3, m_bits=512,
    )
    q.awaitTermination()

    streamed = spark.read.parquet(store).drop("last_batch_id", "stream_key")
    direct = bloom_build(b1.unionByName(b2), "key", k=3, m_bits=512)
    assert sorted(map(tuple, streamed.collect())) == \
           sorted(map(tuple, direct.collect()))
    # every streamed-in key passes the prefilter built from the store
    from pyspark.sql import functions as SF

    seen = b1.unionByName(b2).distinct()
    flagged = bloom_prefilter(seen, "key", streamed, k=3, m_bits=512)
    assert flagged.filter(~SF.col("bloom_pass")).count() == 0


@pytest.mark.slow
def test_agg_stream_matches_batch_rebuild(spark, tmp_path):
    """Incremental (count, sum) aggregate store over a 3-batch stream
    must equal a from-scratch GROUP BY of the union — the streaming
    twin of ops/merge.incremental_agg_merge, which it reuses for the
    merge."""
    import time as _time

    from nhs_data_pipeline_spark.streaming.pipeline import (
        agg_stream_into_store,
        stream_files,
    )

    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    src = str(tmp_path / "agg_src")
    batches = [
        [("a", 10), ("a", 20), ("b", 5)],
        [("b", 7), ("c", 100), (None, 3)],
        [("a", 1), (None, 4)],
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("append" if i else "overwrite").parquet(src)
        _time.sleep(1.1)

    store = str(tmp_path / "agg_store")
    stream = stream_files(spark, src, schema, max_files_per_trigger=1)
    q = agg_stream_into_store(
        stream, store, checkpoint=str(tmp_path / "agg_ckpt"),
        keys=["k"], count_col="n_rows", sum_cols={"total": "v"},
    )
    q.awaitTermination()

    streamed = {
        r.k: (r.n_rows, r.total)
        for r in spark.read.parquet(store)
        .drop("last_batch_id", "stream_key")
        .collect()
    }
    allrows = [r for b in batches for r in b]
    exp = {}
    for k, v in allrows:
        n, t = exp.get(k, (0, 0))
        exp[k] = (n + 1, t + v)
    assert streamed == exp
    assert None in streamed  # NULL group survives the eqNullSafe merge


def test_agg_stream_replay_guard(spark, tmp_path):
    """A re-delivered batch (cloned checkpoint, last commit marker
    removed) must NOT double-count into the aggregate store; a FRESH
    checkpoint over the same store is a new stream and MUST apply."""
    import os
    import shutil as _sh
    import time as _time

    from nhs_data_pipeline_spark.streaming.pipeline import (
        agg_stream_into_store,
        stream_files,
    )

    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    src = str(tmp_path / "agr_src")
    spark.createDataFrame([("a", 1), ("b", 2)], schema).coalesce(1).write.parquet(src)
    _time.sleep(1.1)
    spark.createDataFrame([("a", 10)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    store = str(tmp_path / "agr_store")
    ckpt = tmp_path / "agr_ckpt"
    q = agg_stream_into_store(
        stream_files(spark, src, schema, max_files_per_trigger=1),
        store, checkpoint=str(ckpt), keys=["k"], sum_cols={"total": "v"},
    )
    q.awaitTermination()
    q.stop()
    want = {"a": (2, 11), "b": (1, 2)}
    got = {
        r.k: (r.n_rows, r.total)
        for r in spark.read.parquet(store)
        .drop("last_batch_id", "stream_key").collect()
    }
    assert got == want

    replay_ckpt = tmp_path / "agr_ckpt_replay"
    _sh.copytree(ckpt, replay_ckpt)
    commits = sorted(
        p for p in (replay_ckpt / "commits").iterdir()
        if not p.name.startswith(".")
    )
    os.remove(commits[-1])
    crc = commits[-1].parent / f".{commits[-1].name}.crc"
    if crc.exists():
        os.remove(crc)
    q2 = agg_stream_into_store(
        stream_files(spark, src, schema, max_files_per_trigger=1),
        store, checkpoint=str(replay_ckpt), keys=["k"],
        sum_cols={"total": "v"},
    )
    q2.awaitTermination()
    replayed = {
        r.k: (r.n_rows, r.total)
        for r in spark.read.parquet(store)
        .drop("last_batch_id", "stream_key").collect()
    }
    assert replayed == want  # guard skipped the re-delivered batch

    q3 = agg_stream_into_store(
        stream_files(spark, src, schema, max_files_per_trigger=1),
        store, checkpoint=str(tmp_path / "agr_ckpt_new"), keys=["k"],
        sum_cols={"total": "v"},
    )
    q3.awaitTermination()
    doubled = {
        r.k: (r.n_rows, r.total)
        for r in spark.read.parquet(store)
        .drop("last_batch_id", "stream_key").collect()
    }
    assert doubled == {k: (2 * n, 2 * t) for k, (n, t) in want.items()}


@pytest.mark.slow
def test_psi_stream_monitor_matches_batch_psi(spark, tmp_path):
    """The monitor's FINAL log row must equal a from-scratch batch
    psi_report(baseline, all streamed rows) — stream == batch through
    the shared psi_from_bucket_counts core — and the log must carry
    one row per real batch with PSI growing as the stream drifts."""
    import time as _time

    from nhs_data_pipeline_spark.ops.analytics import (
        psi_bucket_counts,
        psi_report,
    )
    from nhs_data_pipeline_spark.streaming.pipeline import (
        psi_stream_monitor,
        stream_files,
    )

    schema = T.StructType([T.StructField("v", T.LongType())])
    W = 100
    baseline_df = spark.createDataFrame(
        [(v,) for v in (10, 20, 110, 120, 210, 220)], schema
    )
    baseline = psi_bucket_counts(baseline_df, "v", W, out="__ca")
    src = str(tmp_path / "psi_src")
    batches = [
        [(15,), (115,), (215,)],          # matches the baseline shape
        [(915,), (925,), (935,), (945,)],  # drifts into a new bucket
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("append" if i else "overwrite").parquet(src)
        _time.sleep(1.1)

    q = psi_stream_monitor(
        stream_files(spark, src, schema, max_files_per_trigger=1),
        baseline,
        "v",
        store_path=str(tmp_path / "psi_store"),
        checkpoint=str(tmp_path / "psi_ckpt"),
        log_path=str(tmp_path / "psi_log"),
        bucket_width=W,
    )
    q.awaitTermination()

    log = {r.batch_id: r for r in spark.read.parquet(
        str(tmp_path / "psi_log")).collect()}
    assert len(log) == 2
    final = log[max(log)]
    allrows = spark.createDataFrame(
        [r for b in batches for r in b], schema
    )
    exp = psi_report(baseline_df, allrows, "v", W).collect()[0]
    assert (final.n_a, final.n_b, final.n_buckets, final.psi) == (
        exp.n_a, exp.n_b, exp.n_buckets, exp.psi
    )
    # drift direction: the second batch pushes mass into an unseen
    # bucket, so PSI must strictly increase
    assert final.psi > log[min(log)].psi


@pytest.mark.slow
def test_psi_stream_monitor_new_bucket_accumulates(spark, tmp_path):
    """Regression (r8, ADVICE high): a bucket first seen AFTER batch 1
    that then receives data in two consecutive batches must accumulate
    into ONE store row. The old _ns_join(how='full') merge kept only
    the left key copy, so such a bucket was stored as __b=NULL and each
    later batch appended another NULL row instead of summing — the live
    PSI diverged from a batch rebuild."""
    import time as _time

    from nhs_data_pipeline_spark.ops.analytics import (
        psi_bucket_counts,
        psi_report,
    )
    from nhs_data_pipeline_spark.streaming.pipeline import (
        psi_stream_monitor,
        stream_files,
    )

    schema = T.StructType([T.StructField("v", T.LongType())])
    W = 100
    baseline_df = spark.createDataFrame(
        [(v,) for v in (10, 20, 110, 120)], schema
    )
    baseline = psi_bucket_counts(baseline_df, "v", W, out="__ca")
    src = str(tmp_path / "psi2_src")
    batches = [
        [(15,), (115,)],            # baseline-shaped
        [(915,), (925,)],           # NEW bucket 9 appears (batch 2)
        [(935,), (945,), (955,)],   # bucket 9 again (batch 3)
    ]
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("append" if i else "overwrite").parquet(src)
        _time.sleep(1.1)

    store = str(tmp_path / "psi2_store")
    q = psi_stream_monitor(
        stream_files(spark, src, schema, max_files_per_trigger=1),
        baseline,
        "v",
        store_path=store,
        checkpoint=str(tmp_path / "psi2_ckpt"),
        log_path=str(tmp_path / "psi2_log"),
        bucket_width=W,
    )
    q.awaitTermination()

    kept = {
        r.__getitem__("__b"): r.__getitem__("__cb")
        for r in spark.read.parquet(store).select("__b", "__cb").collect()
    }
    assert None not in kept  # no NULL-keyed store rows
    assert kept == {0: 1, 1: 1, 9: 5}  # bucket 9 accumulated 2+3

    log = {r.batch_id: r for r in spark.read.parquet(
        str(tmp_path / "psi2_log")).collect()}
    final = log[max(log)]
    allrows = spark.createDataFrame(
        [r for b in batches for r in b], schema
    )
    exp = psi_report(baseline_df, allrows, "v", W).collect()[0]
    assert (final.n_a, final.n_b, final.n_buckets, final.psi) == (
        exp.n_a, exp.n_b, exp.n_buckets, exp.psi
    )
