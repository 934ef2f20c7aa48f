"""JSONL ingest/export (io/formats.read_jsonl, io/writers.write_jsonl_shards)."""

import glob
import hashlib
import json
import os

from nhs_data_pipeline_spark.io.formats import read_jsonl
from nhs_data_pipeline_spark.io.writers import write_jsonl_shards

ROWS = [
    {"doc_id": i, "text": f"document number {i}", "source": f"src{i % 3}"}
    for i in range(40)
]


def test_shard_write_read_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(ROWS)
    out = str(tmp_path / "corpus")
    write_jsonl_shards(df, out, num_shards=4, id_col="doc_id")
    back = read_jsonl(spark, out)
    got = sorted(
        (r["doc_id"], r["text"], r["source"])
        for r in back.select("doc_id", "text", "source").collect()
    )
    assert got == sorted((r["doc_id"], r["text"], r["source"]) for r in ROWS)
    # Hive-style shard dirs, gzip files inside.
    dirs = sorted(os.listdir(out + "/"))
    assert [d for d in dirs if d.startswith("shard=")] == [
        f"shard={k}" for k in range(4)
    ]
    assert glob.glob(out + "/shard=0/*.json.gz")


def test_shard_membership_is_deterministic_md5(spark, tmp_path):
    df = spark.createDataFrame(ROWS)
    out = str(tmp_path / "corpus2")
    write_jsonl_shards(df, out, num_shards=4, id_col="doc_id", compression=None)
    for k in range(4):
        for f in glob.glob(out + f"/shard={k}/*.json"):
            for line in open(f):
                rec = json.loads(line)
                expect = (
                    int(
                        hashlib.md5(str(rec["doc_id"]).encode()).hexdigest()[:15],
                        16,
                    )
                    % 4
                )
                assert expect == k


def test_corrupt_records_quarantined_not_fatal(spark, tmp_path):
    p = tmp_path / "dirty.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok"}\n'
        "this is not json at all\n"
        '{"doc_id": 2, "text": "also ok"}\n'
        '{"doc_id": "NaNsense}\n'
    )
    rows = read_jsonl(spark, str(p), schema="doc_id bigint, text string").collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    assert sorted((r["doc_id"], r["text"]) for r in good) == [
        (1, "ok"),
        (2, "also ok"),
    ]
    raw = sorted(r["_corrupt_record"] for r in rows if r["_corrupt_record"] is not None)
    assert raw == ["this is not json at all", '{"doc_id": "NaNsense}']


def test_schema_enforced_read_is_typed(spark, tmp_path):
    p = tmp_path / "typed.jsonl"
    p.write_text('{"doc_id": 7, "text": "x"}\n')
    df = read_jsonl(spark, str(p), schema="doc_id bigint, text string")
    types = dict(df.drop("_corrupt_record").dtypes)
    assert types == {"doc_id": "bigint", "text": "string"}


def test_sample_files_multi_inference(spark, tmp_path):
    d = tmp_path / "feed"
    d.mkdir()
    (d / "a.jsonl").write_text('{"doc_id": 1, "text": "x"}\n')
    (d / "b.jsonl").write_text('{"doc_id": 2, "text": "y", "extra": 5}\n')
    # Regression: sample paths must be passed as a LIST — a comma-join
    # was treated as one nonexistent path (PATH_NOT_FOUND).
    df = read_jsonl(spark, str(d), sample_files=2)
    assert "extra" in df.columns
    assert df.count() == 2


def test_null_id_rows_stay_inside_numbered_shards(spark, tmp_path):
    df = spark.createDataFrame(
        [(None, "orphan"), (1, "a"), (2, "b")], "doc_id long, text string"
    )
    out = str(tmp_path / "nulls")
    write_jsonl_shards(df, out, num_shards=2, id_col="doc_id", compression=None)
    dirs = sorted(os.listdir(out))
    assert not any("HIVE_DEFAULT" in d for d in dirs)
    got = []
    for f in glob.glob(out + "/shard=*/*.json"):
        got.extend(json.loads(line) for line in open(f))
    assert len(got) == 3  # the NULL-id row is exported, not lost
