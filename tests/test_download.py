"""Acquisition-layer tests (S1-S4, O2): link scan, manifest, directory
scan, latest-file pick — the driver-side edge of the engine."""

from __future__ import annotations

import os
import time

from nhs_data_pipeline_spark.io import (
    download_manifest,
    extract_links,
    latest_file,
    list_raw_files,
    sanitize_filename,
)

HTML = """
<html><body>
<a href="/stats/theatres_Q1_2013.xls">Provider level Q1</a>
<a href="https://x.nhs.uk/beds.xlsx?rev=2">Beds by provider</a>
<a href="/ignore/page.html">A page link</a>
<a href="/stats/national_summary.csv">National summary</a>
</body></html>
"""


def test_extract_links_filters_extensions():
    items = extract_links(HTML, base_url="https://nhs.uk")
    urls = [i.url for i in items]
    assert "https://nhs.uk/stats/theatres_Q1_2013.xls" in urls
    assert "https://x.nhs.uk/beds.xlsx?rev=2" in urls
    assert not any("page.html" in u for u in urls)


def test_extract_links_text_filter():
    items = extract_links(HTML, base_url="https://nhs.uk", text_filter="provider")
    assert {i.filename for i in items} == {"theatres_Q1_2013.xls", "beds.xlsx"}


def test_sanitize_filename():
    assert sanitize_filename("a b/c%d.xls?raw=1") == "a_b_c_d.xls"


def test_download_manifest(spark):
    items = extract_links(HTML, base_url="https://nhs.uk")
    df = download_manifest(spark, items)
    assert df.columns == ["url", "filename", "text"]
    assert df.count() == 3


def test_list_raw_files_regex(tmp_path):
    for n in ["a_2013.csv", "b_2014.csv", "b_adjusted_2014.csv", "notes.txt"]:
        (tmp_path / n).write_text("x")
    got = list_raw_files(str(tmp_path), "**/*.csv", name_regex=r"201\d",
                         name_antiregex="adjusted")
    assert [os.path.basename(p) for p in got] == ["a_2013.csv", "b_2014.csv"]


def test_latest_file(tmp_path):
    p1 = tmp_path / "old.csv"
    p1.write_text("1")
    time.sleep(0.05)
    p2 = tmp_path / "new.csv"
    p2.write_text("2")
    assert latest_file([str(p1), str(p2)]) == str(p2)
    assert latest_file([]) is None

