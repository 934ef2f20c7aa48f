"""Ingest/sink tests: messy CSV with preamble + header-in-data,
sentinels, filename metadata, single-file CSV sink."""

from __future__ import annotations

import csv
import os

import pytest
from pyspark.errors import NumberFormatException

from nhs_data_pipeline_spark.io import (
    detect_header_row,
    read_messy_csv,
    read_messy_excel,
    read_messy_excel_multi,
    with_filename_metadata,
    write_single_csv,
)
from nhs_data_pipeline_spark.io.writers import write_jsonl_shards, write_parquet
from nhs_data_pipeline_spark.ops.layout import zorder_write


def _write_messy(tmp_path, name="Theatres_Quarter_2_2013_14.csv"):
    p = tmp_path / name
    rows = [
        ["NHS England Statistics", "", "", ""],
        ["Release: quarterly", "", "", ""],
        ["SHA", "OrgID", "Name", "Number of Operating Theatres"],
        ["Q30", "RX1", "SOME TRUST", "12"],
        ["Q30", "RX2", "OTHER TRUST", "-"],
        ["Q30", "", "England (Including Independent Sector)", "3001"],
    ]
    with open(p, "w", newline="") as f:
        csv.writer(f).writerows(rows)
    return str(p)


def test_read_messy_csv_detects_header_and_sentinels(spark, tmp_path):
    path = _write_messy(tmp_path)
    df = read_messy_csv(spark, path)
    assert df.columns == [
        "_row_idx", "_source_file", "sha", "orgid", "name",
        "number_of_operating_theatres",
    ]
    rows = df.orderBy("_row_idx").collect()
    assert len(rows) == 3
    assert rows[0].number_of_operating_theatres == "12"
    assert rows[1].number_of_operating_theatres is None  # '-' sentinel
    assert rows[1].orgid == "RX2"
    assert rows[2].orgid is None  # empty string -> null


def test_read_messy_csv_marker_mode(spark, tmp_path):
    path = _write_messy(tmp_path)
    df = read_messy_csv(spark, path, marker="Operating Theatres")
    assert "number_of_operating_theatres" in df.columns
    assert df.count() == 3


def test_missing_header_marker_raises_naming_the_file(spark, tmp_path):
    with pytest.raises(ValueError, match="Occupied Beds"):
        detect_header_row([["preamble", None], ["a", "b"]], marker="Occupied Beds")
    path = _write_messy(tmp_path)
    with pytest.raises(ValueError, match="Occupied Beds") as err:
        read_messy_csv(spark, path, marker="Occupied Beds")
    assert path in str(err.value)
    beds = str(tmp_path / "beds.csv")
    with open(beds, "w", newline="") as f:
        csv.writer(f).writerows([["Occupied Beds", "Org"], ["1", "RX1"]])
    with pytest.raises(ValueError, match="Occupied Beds") as err:
        read_messy_csv(spark, [beds, path], marker="Occupied Beds")
    assert path in str(err.value)
    xlsx = _write_xlsx(tmp_path / "beds.xlsx", [("S1", [["preamble"], ["Org Code", "Beds"]])])
    with pytest.raises(ValueError, match="Occupied Beds") as err:
        read_messy_excel(spark, xlsx, marker="Occupied Beds")
    assert xlsx in str(err.value)


def test_empty_release_raises_naming_the_file(spark, tmp_path):
    # a zero-byte release, and a skip past the last row, have no header
    # row to promote, whether it is detected or given
    empty = tmp_path / "empty_release.csv"
    empty.write_text("")
    path = _write_messy(tmp_path)
    for p, kwargs in ((str(empty), {}), (str(empty), {"header": 0}),
                      (path, {"skip": 6}), (path, {"skip": 6, "header": 0})):
        with pytest.raises(ValueError, match="no header row") as err:
            read_messy_csv(spark, p, **kwargs)
        assert p in str(err.value)
    xlsx = _write_xlsx(tmp_path / "empty.xlsx", [("S1", [])])
    with pytest.raises(ValueError, match="no header row") as err:
        read_messy_excel(spark, xlsx)
    assert xlsx in str(err.value)


def test_non_utf8_release_raises_naming_the_file(spark, tmp_path):
    # a Windows-1252 release stores the pound sign as the single byte
    # 0xa3; the offset counts from the file's first byte, BOM included
    cp1252 = tmp_path / "cp1252_release.csv"
    cp1252.write_bytes("Org,Cost\nRX1,\u00a312\n".encode("cp1252"))
    bom = tmp_path / "bom_release.csv"
    bom.write_bytes(b"\xef\xbb\xbf" + cp1252.read_bytes())
    for p, offset in ((str(cp1252), 13), (str(bom), 16)):
        with pytest.raises(ValueError, match=f"0xa3 at offset {offset}") as err:
            read_messy_csv(spark, p)
        assert p in str(err.value)


def test_read_messy_csv_fixed_skip(spark, tmp_path):
    path = _write_messy(tmp_path)
    df = read_messy_csv(spark, path, skip=2, header=0)
    assert df.count() == 3


def test_row_idx_is_stable_file_order(spark, tmp_path):
    path = _write_messy(tmp_path)
    df = read_messy_csv(spark, path)
    idx = [r._row_idx for r in df.orderBy("_row_idx").collect()]
    assert idx == [0, 1, 2]


def test_with_filename_metadata(spark, tmp_path):
    path = _write_messy(tmp_path)
    df = with_filename_metadata(read_messy_csv(spark, path))
    r = df.first()
    assert r.file_year == 2013
    assert r.file_quarter == "Q2"
    assert r.file_pathway is None


def test_detect_header_row_heuristic():
    rows = [["title only", None, None], [None, None, None], ["a", "b", "c"], ["1", "2", "3"]]
    assert detect_header_row(rows) == 2


def _write_xlsx(path, sheets):
    """Hand-built minimal xlsx (a zip of XML): ``sheets`` is
    [(name, rows)] with rows as lists of cell values (None = gap).
    Strings go through sharedStrings (first sheet) or inline strings
    (later sheets) so both code paths get exercised; numbers are stored
    as numeric cells."""
    import zipfile

    shared: list[str] = []

    def cell_xml(r, c, v, use_shared):
        ref = f"{chr(ord('A') + c)}{r + 1}"
        if v is None:
            return ""
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        if use_shared:
            if v not in shared:
                shared.append(v)
            return f'<c r="{ref}" t="s"><v>{shared.index(v)}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>'

    sheet_xmls = []
    for si, (name, rows) in enumerate(sheets):
        body = "".join(
            f'<row r="{ri + 1}">'
            + "".join(cell_xml(ri, ci, v, si == 0) for ci, v in enumerate(row))
            + "</row>"
            for ri, row in enumerate(rows)
        )
        sheet_xmls.append(
            '<?xml version="1.0"?><worksheet xmlns='
            '"http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f"<sheetData>{body}</sheetData></worksheet>"
        )
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    wb = (
        f'<?xml version="1.0"?><workbook xmlns="{ns}" xmlns:r="{rns}"><sheets>'
        + "".join(
            f'<sheet name="{n}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
            for i, (n, _) in enumerate(sheets)
        )
        + "</sheets></workbook>"
    )
    rels = (
        '<?xml version="1.0"?><Relationships xmlns='
        '"http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" Type="{rns}/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(sheets))
        )
        + "</Relationships>"
    )
    sst = (
        f'<?xml version="1.0"?><sst xmlns="{ns}" count="{len(shared)}" '
        f'uniqueCount="{len(shared)}">'
        + "".join(f"<si><t>{s}</t></si>" for s in shared)
        + "</sst>"
    )
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/sharedStrings.xml", sst)
        for i, x in enumerate(sheet_xmls):
            zf.writestr(f"xl/worksheets/sheet{i + 1}.xml", x)
    return str(path)


def test_excel_stdlib_end_to_end(spark, tmp_path):
    """S5 on the stdlib zip+XML parser: raw rows -> preamble
    skip -> header detection/promotion -> NA sentinels -> _row_idx."""
    path = _write_xlsx(
        tmp_path / "beds 2013-14 Q2.xlsx",
        [
            (
                "Providers",
                [
                    ["NHS England publication", None, None],
                    [None, None, None],
                    ["Org Code", "Org Name", "Beds"],
                    ["RX1", "Alpha Trust", 120],
                    ["RX2", "NA", 95],
                    ["RX3", "Gamma Trust", None],
                ],
            ),
            ("Notes", [["ignore me"]]),
        ],
    )
    df = read_messy_excel(spark, path, sheet_regex=r"^providers?$")
    rows = df.orderBy("_row_idx").collect()
    assert df.columns[:2] == ["_row_idx", "_source_file"]
    assert "org_code" in df.columns and "beds" in df.columns
    assert [r.org_code for r in rows] == ["RX1", "RX2", "RX3"]
    assert rows[1].org_name is None  # "NA" sentinel -> NULL
    assert rows[2].beds is None  # sparse cell -> NULL
    assert rows[0].beds == "120"


def test_excel_multi_sheet_union(spark, tmp_path):
    """S6: regex-matched sheets (era variants with differing columns)
    union by name with NULL fill + _source_sheet provenance."""
    path = _write_xlsx(
        tmp_path / "multi.xlsx",
        [
            ("Data 2019", [["Code", "Value"], ["A", 1]]),
            ("Data 2020", [["Code", "Value", "Flag"], ["B", 2, "y"]]),
            ("Summary", [["Code"], ["Z"]]),
        ],
    )
    df = read_messy_excel_multi(spark, path, sheet_regex=r"^data")
    got = {(r.code, r.value, r.flag, r._source_sheet) for r in df.collect()}
    assert got == {("A", "1", None, "Data 2019"), ("B", "2", "y", "Data 2020")}


def test_excel_sheet_by_index_and_skip(spark, tmp_path):
    path = _write_xlsx(
        tmp_path / "skip.xlsx",
        [
            ("S1", [["junk"], ["x", "y"], ["1", "2"]]),
        ],
    )
    df = read_messy_excel(spark, path, sheet=0, skip=1, header=0)
    assert set(df.columns) >= {"x", "y"}
    assert df.count() == 1


def test_write_single_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(2, "b"), (1, "a")], ["id", "v"])
    out = str(tmp_path / "out.csv")
    write_single_csv(df, out, order_by=["id"])
    assert os.path.isfile(out)
    with open(out) as f:
        lines = [line.strip() for line in f]
    assert lines == ["id,v", "1,a", "2,b"]


def test_write_single_csv_sorts_in_one_task(spark, tmp_path):
    # the single partition is sorted in place: a shuffle stage for the
    # repartitioned input, then the write, and no range-sampling job
    df = spark.createDataFrame(
        [(i * 7 % 40, f"v{i}") for i in range(40)], ["id", "v"]
    ).repartition(8)
    out = str(tmp_path / "out.csv")
    sc = spark.sparkContext
    sc.setJobGroup("single-csv-sort", "write_single_csv")
    try:
        write_single_csv(df, out, order_by=["id"])
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert len(sc.statusTracker().getJobIdsForGroup("single-csv-sort")) == 2
    with open(out) as f:
        lines = [line.strip() for line in f]
    assert lines[0] == "id,v"
    assert [int(line.split(",")[0]) for line in lines[1:]] == list(range(40))


def test_write_single_csv_failed_write_keeps_previous_file(spark, tmp_path):
    # the new file replaces the old one by rename, so a write that fails
    # while executing leaves the last good output, and no staging dir
    out = str(tmp_path / "out.csv")
    write_single_csv(spark.createDataFrame([(1, "a")], ["id", "v"]), out)
    with open(out, "rb") as f:
        before = f.read()
    bad = spark.createDataFrame([("x0",)], ["s"]).selectExpr("cast(s as int) AS n")
    with pytest.raises(NumberFormatException, match="x0"):
        write_single_csv(bad, out)
    with open(out, "rb") as f:
        assert f.read() == before
    assert os.listdir(tmp_path) == ["out.csv"]


_PATH_SINKS = {  # name -> (write(df, path), read-back format)
    "write_parquet": (lambda df, p: write_parquet(df, p, partition_by=["year"]), "parquet"),
    "write_parquet_trailing_slash": (
        lambda df, p: write_parquet(df, p + "/", partition_by=["year"]), "parquet"),
    "write_jsonl_shards": (
        lambda df, p: write_jsonl_shards(df, p, num_shards=2, id_col="org"), "json"),
    "zorder_write": (lambda df, p: zorder_write(df, p, ["year"], n_files=1), "parquet"),
}


@pytest.mark.parametrize("sink", list(_PATH_SINKS))
def test_write_parquet_failed_write_keeps_previous_output(spark, tmp_path, sink):
    # every path sink replaces its output by rename, so a write that
    # fails while executing leaves the last good output, and no staging
    # dir; the next good write replaces it
    write, fmt = _PATH_SINKS[sink]
    out = str(tmp_path / "panel")

    def rows():
        back = spark.read.format(fmt).load(out)
        return sorted((r.org, r.n, r.year) for r in back.collect())

    good = spark.createDataFrame([(2023, "RX1", 1), (2024, "RX2", 2)], ["year", "org", "n"])
    write(good, out)
    bad = spark.createDataFrame([(2023, "RX1", "x0")], ["year", "org", "s"]).selectExpr(
        "year", "org", "cast(s as int) AS n"
    )
    with pytest.raises(NumberFormatException, match="x0"):
        write(bad, out)
    assert rows() == [("RX1", 1, 2023), ("RX2", 2, 2024)]
    assert os.listdir(tmp_path) == ["panel"]
    write(good.filter("org = 'RX2'"), out)
    assert rows() == [("RX2", 2, 2024)]
    assert os.listdir(tmp_path) == ["panel"]


def test_write_parquet_recovers_from_sink_killed_mid_write(spark, tmp_path):
    # the state a kill between the two renames leaves: the last good
    # output renamed aside and a half-written staging directory
    out = str(tmp_path / "panel")

    def crash_state():
        os.rename(out, out + ".old")
        os.makedirs(out + "__tmp")
        with open(os.path.join(out + "__tmp", "part-00000.parquet"), "wb") as f:
            f.write(b"PAR1 half-written")

    write_parquet(spark.createDataFrame([(2023, "RX1")], ["year", "org"]), out)
    crash_state()
    # the next write restores the old output before it starts, so a
    # write that then fails still leaves it in place
    bad = spark.createDataFrame([(2024, "x0")], ["year", "s"]).selectExpr(
        "year", "cast(s as int) AS org"
    )
    with pytest.raises(NumberFormatException, match="x0"):
        write_parquet(bad, out)
    assert [tuple(r) for r in spark.read.parquet(out).collect()] == [(2023, "RX1")]
    assert os.listdir(tmp_path) == ["panel"]
    crash_state()
    write_parquet(spark.createDataFrame([(2024, "RX2")], ["year", "org"]), out)
    assert [tuple(r) for r in spark.read.parquet(out).collect()] == [(2024, "RX2")]
    assert os.listdir(tmp_path) == ["panel"]


def test_path_sinks_reject_uri_before_writing(spark, tmp_path):
    # staging and the swap renames are local-filesystem operations: a
    # URI raises the same ValueError on every call and leaves nothing
    # behind (no staging directory to trip the next write)
    df = spark.createDataFrame([(2023, "RX1")], ["year", "org"])
    uri = "file:" + str(tmp_path / "panel")
    errors = []
    for _ in range(2):
        with pytest.raises(ValueError, match="is a URI") as exc:
            write_parquet(df, uri)
        errors.append(str(exc.value))
    assert errors[0] == errors[1]
    with pytest.raises(ValueError, match="is a URI"):
        write_single_csv(df, "file:" + str(tmp_path / "out.csv"))
    assert os.listdir(tmp_path) == []


def test_file_level_skip_predicate(spark, tmp_path):
    import csv as _csv

    p = tmp_path / "adjusted_release.csv"
    with open(p, "w", newline="") as f:
        _csv.writer(f).writerows(
            [["This file uses the Adjusted methodology", ""],
             ["org", "value"], ["RX1", "3"]]
        )
    assert read_messy_csv(spark, str(p), skip_markers=["adjusted"]) is None
    assert read_messy_csv(spark, [str(p), str(p)], skip_markers=["adjusted"]) is None
    ok = read_messy_csv(spark, str(p), skip_markers=["the 18 weeks rules"])
    assert ok is not None and ok.count() >= 1


def test_read_messy_csv_many_paths_is_their_union(spark, tmp_path):
    from nhs_data_pipeline_spark.ops.core import union_by_name

    a = _write_messy(tmp_path)
    b = str(tmp_path / "Theatres_Quarter_3_2014_15.csv")
    with open(b, "w", newline="") as f:
        csv.writer(f).writerows(
            [["Org Code", "Number of Operating Theatres", "Region"],
             ["RX3", "7", "Y56"], ["RX4", "-", ""]]
        )
    got = read_messy_csv(spark, [a, b])
    want = union_by_name([read_messy_csv(spark, a), read_messy_csv(spark, b)])
    assert got.dtypes == want.dtypes
    order = ["_source_file", "_row_idx"]
    rows = got.orderBy(*order).collect()
    assert rows == want.orderBy(*order).collect()
    # _row_idx restarts at 0 for each file
    assert sorted((r._source_file, r._row_idx) for r in rows) == sorted(
        [(a, 0), (a, 1), (a, 2), (b, 0), (b, 1)]
    )


def test_read_messy_csv_narrow_preamble_row(spark, tmp_path):
    # a one-field title line, a blank line, then a 3-column header
    p = tmp_path / "release.csv"
    p.write_text("Bed availability\n\nOrg Code,Org Name,Beds\nRX1,ONE,5\nRX2,,-\n")
    df = read_messy_csv(spark, str(p))
    assert df.columns == ["_row_idx", "_source_file", "org_code", "org_name", "beds"]
    assert [tuple(r)[2:] for r in df.orderBy("_row_idx").collect()] == [
        ("RX1", "ONE", "5"), ("RX2", None, None),
    ]


def test_read_messy_csv_bom_crlf_release_matches_plain(spark, tmp_path):
    # one release, written plain (LF) and with a UTF-8 BOM + CRLF; the
    # BOM lands on the header row, so it would prefix the first name
    lines = ["Org Code,Org Name,Beds", "RX1,ONE,5", "RX2,TWO,-"]
    plain, bom = tmp_path / "plain.csv", tmp_path / "bom.csv"
    plain.write_bytes("\n".join(lines).encode() + b"\n")
    bom.write_bytes(b"\xef\xbb\xbf" + "\r\n".join(lines).encode() + b"\r\n")
    a, b = (read_messy_csv(spark, str(p), marker="Org Code") for p in (plain, bom))
    assert a.columns == b.columns == [
        "_row_idx", "_source_file", "org_code", "org_name", "beds",
    ]
    rows_a, rows_b = (
        [r[:1] + r[2:] for r in d.orderBy("_row_idx").collect()] for d in (a, b)
    )
    assert rows_a == rows_b == [(0, "RX1", "ONE", "5"), (1, "RX2", "TWO", None)]
    cells = b.columns + [v for r in b.collect() for v in r if isinstance(v, str)]
    assert not any("\ufeff" in c or "\r" in c for c in cells)


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    import contextlib
    import io as _io

    from pyspark.sql import functions as F

    from nhs_data_pipeline_spark.io.writers import write_bucketed_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try:
        left = spark.range(0, 1000).withColumnRenamed("id", "k").withColumn(
            "lv", F.col("k") * 2
        )
        right = spark.range(0, 1000).withColumnRenamed("id", "k").withColumn(
            "rv", F.col("k") + 1
        )
        write_bucketed_table(left, "bk_left", ["k"], num_buckets=8, sort_cols=["k"])
        write_bucketed_table(right, "bk_right", ["k"], num_buckets=8, sort_cols=["k"])
        joined = spark.table("bk_left").join(spark.table("bk_right"), "k")
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain()
        plan = buf.getvalue()
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


def test_filename_metadata_distributed_path(spark, tmp_path):
    """S8 on the distributed read path: metadata regexes applied to
    F.input_file_name() instead of the driver-side _source_file."""
    import csv as _csv

    d = tmp_path / "Theatres_Quarter_3_2015_16"
    d.mkdir()
    p = d / "Theatres_Quarter_3_2015_16.csv"
    with open(p, "w", newline="") as f:
        _csv.writer(f).writerows([["org", "v"], ["RX1", "1"], ["RX2", "2"]])

    from pyspark.sql import functions as F

    df = (
        spark.read.option("header", True)
        .csv(str(d))
        .withColumn("_source_file", F.input_file_name())
    )
    out = with_filename_metadata(df)
    rows = out.collect()
    assert all(r.file_year == 2015 and r.file_quarter == "Q3" for r in rows)


def test_overwrite_partitions_is_incremental(spark, tmp_path):
    from nhs_data_pipeline_spark.io.writers import overwrite_partitions, write_parquet

    p = str(tmp_path / "panel")
    base = spark.createDataFrame(
        [(2023, "Q1", "RX1", 1.0), (2023, "Q2", "RX1", 2.0)],
        "year int, quarter string, org string, v double",
    )
    write_parquet(base, p, partition_by=["year", "quarter"])
    # refresh ONLY Q2 with a corrected value
    fix = spark.createDataFrame(
        [(2023, "Q2", "RX1", 99.0)], "year int, quarter string, org string, v double"
    )
    overwrite_partitions(fix, p, ["year", "quarter"])
    got = {(r.quarter): r.v for r in spark.read.parquet(p).collect()}
    assert got == {"Q1": 1.0, "Q2": 99.0}  # Q1 untouched, Q2 replaced


def test_jsonl_roundtrip_and_corrupt_line_preserved(spark, tmp_path):
    """JSONL scan: roundtrip is lossless; a malformed line lands in
    _corrupt_record instead of silently dropping."""
    from nhs_data_pipeline_spark.io.formats import read_jsonl

    src = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None)], "id bigint, s string, v double"
    )
    p = str(tmp_path / "feed")
    src.write.json(p)
    back = read_jsonl(spark, p, schema="id bigint, s string, v double")
    got = {r.id: (r.s, r.v) for r in back.collect()}
    assert got == {1: ("a", 1.5), 2: ("b", None)}

    # corrupt line: preserved, not dropped
    bad = tmp_path / "feed" / "zz_bad.json"
    bad.write_text('{"id": 3, "s": "c", "v": 2.0}\n{not json at all\n')
    back2 = read_jsonl(spark, str(tmp_path / "feed"), schema="id bigint, s string, v double")
    rows = back2.collect()
    assert len(rows) == 4
    corrupt = [r for r in rows if r._corrupt_record is not None]
    assert len(corrupt) == 1 and "not json" in corrupt[0]._corrupt_record


def test_jsonl_schema_inference_is_bounded_and_pinned(spark, tmp_path):
    """Without a caller schema, read_jsonl infers from the first N files
    only, then reads everything against that pinned schema."""
    from nhs_data_pipeline_spark.io.formats import read_jsonl

    d = tmp_path / "feed"
    d.mkdir()
    (d / "a.json").write_text('{"id": 1, "s": "x"}\n')
    # later file has an extra field the pinned schema must NOT pick up
    (d / "b.json").write_text('{"id": 2, "s": "y", "extra": true}\n')
    back = read_jsonl(spark, str(d), sample_files=1)
    assert "extra" not in back.columns
    assert {r.id for r in back.collect()} == {1, 2}


def test_read_messy_csv_header_only_file(spark, tmp_path):
    # A just-published empty release: preamble + header row, no data.
    p = tmp_path / "empty_release.csv"
    p.write_text("Some preamble text,,\nOrg Code,Org Name,Beds\n")
    df = read_messy_csv(spark, str(p))
    assert df.count() == 0
    assert "org_code" in df.columns  # header still promoted


def test_extract_links_relative_href_resolution():
    from nhs_data_pipeline_spark.io.download import extract_links

    html = (
        '<a href="files/data_2019.csv">Provider data</a>'
        '<a href="../archive/old.xls">Old</a>'
    )
    items = extract_links(html, base_url="https://example.org/stats/page.html")
    urls = {i.url for i in items}
    assert "https://example.org/stats/files/data_2019.csv" in urls
    assert "https://example.org/archive/old.xls" in urls


def test_xlsx_row_without_r_attribute_follows_previous(tmp_path):
    """Spec: a <row> with no r attribute continues after the last seen
    row. The old fallback (len(rows)+1) misplaced — and could
    overwrite — rows when earlier rows were sparse."""
    import zipfile

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    sheet = (
        f'<?xml version="1.0"?><worksheet xmlns="{ns}"><sheetData>'
        '<row r="1"><c r="A1" t="inlineStr"><is><t>h1</t></is></c></row>'
        '<row r="5"><c r="A5" t="inlineStr"><is><t>row5</t></is></c></row>'
        "<row><c t=\"inlineStr\"><is><t>anon</t></is></c></row>"
        "</sheetData></worksheet>"
    )
    wb = (
        f'<?xml version="1.0"?><workbook xmlns="{ns}" xmlns:r="{rns}">'
        '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    rels = (
        '<?xml version="1.0"?><Relationships xmlns='
        '"http://schemas.openxmlformats.org/package/2006/relationships">'
        f'<Relationship Id="rId1" Type="{rns}/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>'
    )
    p = tmp_path / "rless.xlsx"
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)

    from nhs_data_pipeline_spark.io.readers import _read_xlsx_stdlib

    col = [r[0] for r in _read_xlsx_stdlib(str(p))]
    # h1 at row 0, row5 at row 4, anon at row 5 (AFTER row5, not at
    # index 2 where len(rows)+1 would have put it).
    assert col[0] == "h1" and col[4] == "row5" and col[5] == "anon"


def test_cluster_conf_profile_is_consistent(spark):
    """The documented 100 TB conf profile: shuffle partitions are the
    max of fleet-core headroom (2x for AQE coalescing) and the count
    needed so a full-target_tb shuffle fits the 128 MiB advisory
    partition size; AQE + skew split on, UTC pinned, and it splats
    cleanly into get_spark's extra_conf contract (string values)."""
    from nhs_data_pipeline_spark.session import cluster_conf

    adv = 128 * 1024 * 1024
    c = cluster_conf(target_tb=100.0, executors=1000, cores_per_executor=4)
    # at 100 TB the data term dominates: ceil(100 TiB / 128 MiB) = 819200
    assert c["spark.sql.shuffle.partitions"] == str(
        max(1000 * 4 * 2, -(-(100 * (1 << 40)) // adv))
    )
    assert c["spark.sql.adaptive.enabled"] == "true"
    assert c["spark.sql.adaptive.skewJoin.enabled"] == "true"
    assert c["spark.sql.session.timeZone"] == "UTC"
    assert c["spark.python.sql.dataFrameDebugging.enabled"] == "false"
    assert all(isinstance(v, str) for v in c.values())
    # at small targets the fleet-core floor dominates
    small = cluster_conf(target_tb=0.001, executors=10, cores_per_executor=8)
    assert small["spark.sql.shuffle.partitions"] == str(10 * 8 * 2)


def test_partitioned_store_prunes_partitions(spark, tmp_path):
    """Partition-pruning rehearsal (r9 verdict ask #5): SCALE.md
    prescribes partitionBy(day) layouts for the 100 TB event store —
    prove a date-predicate query over a write_parquet(partition_by=)
    store actually prunes at PLAN level. Writes sf0.001 events
    hive-partitioned by day, then asserts the formatted plan of (a) an
    equality, (b) a range, and (c) an IN-list day predicate each shows
    a non-empty PartitionFilters entry AND that fewer partition
    directories than the total are scanned (the equality case reads
    exactly one)."""
    import re

    from pyspark.sql import functions as F

    from nhs_data_pipeline_spark.io.writers import write_parquet
    from nhs_data_pipeline_spark.queries import _events

    ev = _events(spark, "/root/testdata/sf0.001").withColumn(
        "day", F.to_date("ts")
    )
    store = str(tmp_path / "events_by_day")
    write_parquet(ev, store, partition_by=["day"])
    back = spark.read.parquet(store)
    days = sorted(r[0] for r in back.select("day").distinct().collect())
    assert len(days) > 3  # the rehearsal needs something to prune

    def pruned_plan(df) -> str:
        plan = df._jdf.queryExecution().executedPlan().toString()
        # formatted mode hides PartitionFilters detail on some paths;
        # the executed FileSourceScanExec string always carries it
        assert "PartitionFilters: [" in plan, plan[:2000]
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m and m.group(1).strip(), plan[:2000]
        return plan

    # (a) equality: exactly one partition survives
    q_eq = back.filter(F.col("day") == F.lit(days[1])).groupBy(
        "event_type"
    ).count()
    pruned_plan(q_eq)
    rows_one_day = q_eq.agg(F.sum("count")).collect()[0][0]
    total = back.count()
    assert rows_one_day < total  # the predicate is selective
    # (b) range: day BETWEEN days[1] and days[2]
    q_rng = back.filter(
        (F.col("day") >= F.lit(days[1])) & (F.col("day") <= F.lit(days[2]))
    ).groupBy("day").count()
    pruned_plan(q_rng)
    assert q_rng.count() == 2
    # (c) IN-list
    q_in = back.filter(F.col("day").isin([days[0], days[-1]])).select(
        "day"
    ).distinct()
    pruned_plan(q_in)
    assert {r[0] for r in q_in.collect()} == {days[0], days[-1]}
    # runtime proof for the equality case: Spark's partition-pruned
    # scan reads one directory — its input rows equal that day's rows
    one = back.filter(F.col("day") == F.lit(days[1]))
    assert one.count() == rows_one_day


def test_session_pins_parquet_inference_confs(spark):
    """get_spark pins the two confs that change what parquet schema
    inference lands on (the query registry caches inferred schemas):
    no query has to set them first."""
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_table_catalog_keys_on_file_identity(spark, sf_dir, tmp_path):
    """queries._t caches each table's schema per (path, mtime_ns,
    size), never per name: rewriting a table in place with drifted
    physical types (o_orderdate -> DATE, events.ts -> TIMESTAMP(NANOS),
    as tools/drift_drill.py rehearses) is picked up within one session
    and the results do not change. A missing table raises naming it."""
    import re
    import shutil
    from collections import Counter

    import pyarrow as pa
    from pyspark.sql import functions as F

    from nhs_data_pipeline_spark.queries import QUERIES, _t
    from tools.drift_drill import _rewrite

    sf = str(tmp_path)
    for name in ("orders", "events"):
        shutil.copyfile(os.path.join(sf_dir, f"{name}.parquet"),
                        tmp_path / f"{name}.parquet")

    def results():
        w8 = QUERIES["w8_rolling_revenue"](spark, sf)
        w8 = w8.withColumn("o_orderdate", F.col("o_orderdate").cast("date"))
        j5 = QUERIES["j5_asof_join"](spark, sf)
        return Counter(w8.collect()), Counter(j5.collect())

    before = results()
    assert dict(_t(spark, sf, "orders").dtypes)["o_orderdate"] == "timestamp_ntz"
    for name, casts in (("orders", {"o_orderdate": pa.date32()}),
                        ("events", {"ts": pa.timestamp("ns")})):
        p = tmp_path / f"{name}.parquet"
        _rewrite(p, p, casts)
    assert dict(_t(spark, sf, "orders").dtypes)["o_orderdate"] == "date"
    assert dict(_t(spark, sf, "events").dtypes)["ts"] == "bigint"
    assert results() == before

    missing = re.escape(str(tmp_path / "missing.parquet"))
    with pytest.raises(FileNotFoundError, match=missing):
        _t(spark, sf, "missing")
