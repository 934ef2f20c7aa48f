"""Driver-side acquisition utilities (S1, S2, S4, O2).

The reference's extraction layer scrapes NHS statistics pages and
downloads raw releases (scripts/extract_supporting_facilities_main.py).
These are inherently driver-side, network-bound utilities — not Spark
operators — so the engine ships them as a manifest-producing toolkit:
scan pages -> manifest DataFrame -> idempotent downloader. The manifest
(not the loop) is the Spark-facing surface; at scale the download fan-
out runs via ``foreachPartition`` over the manifest.

Network libraries are import-gated (this container has none); the
manifest/selection logic is pure and tested.
"""

from __future__ import annotations

import glob as _glob
import os
import re
import time
from dataclasses import dataclass

DOWNLOADABLE_EXTENSIONS = (".pdf", ".xls", ".xlsx", ".csv")


@dataclass(frozen=True)
class LinkItem:
    """One discovered raw-release link (S1 output row)."""

    url: str
    filename: str
    text: str


def extract_links(
    html: str,
    base_url: str = "",
    text_filter: str | None = None,
    extensions: tuple[str, ...] = DOWNLOADABLE_EXTENSIONS,
) -> list[LinkItem]:
    """HTML link scan (S1): collect ``<a href>`` targets ending in a
    downloadable extension, optionally filtering on link text
    (``"provider" in text`` — extract_wait_times_main.py:126-139).

    Pure-regex parser so it needs no bs4; good enough for the anchor
    scan the reference performs.
    """
    items: list[LinkItem] = []
    for m in re.finditer(
        r"<a\b[^>]*href=[\"']([^\"']+)[\"'][^>]*>(.*?)</a>", html, re.I | re.S
    ):
        href, text = m.group(1), re.sub(r"<[^>]+>", "", m.group(2)).strip()
        if not href.lower().split("?")[0].endswith(extensions):
            continue
        if text_filter is not None and text_filter.lower() not in text.lower():
            continue
        # urljoin resolves relative hrefs against the PAGE url (incl.
        # '../x' and 'files/x' forms) — hand-concatenation turned every
        # relative link into a broken root-relative path.
        from urllib.parse import urljoin

        url = href if re.match(r"^https?://", href) else urljoin(base_url, href)
        items.append(LinkItem(url=url, filename=sanitize_filename(os.path.basename(href)), text=text))
    return items


def sanitize_filename(name: str) -> str:
    """Scrub characters the reference strips from saved filenames
    (extract_supporting_facilities_main.py:36-46)."""
    name = name.split("?")[0]
    return re.sub(r"[^A-Za-z0-9._-]+", "_", name)


def download_manifest(spark, items: list[LinkItem]):
    """Manifest DataFrame ``(url, filename, text)`` — the Spark-facing
    output of the scan stage."""
    from pyspark.sql.types import StructType

    from nhs_data_pipeline_spark.ops.core import local_frame

    return local_frame(
        spark,
        [(i.url, i.filename, i.text) for i in items],
        StructType.fromDDL("url string, filename string, text string"),
    )


def download_file(
    url: str,
    dest: str,
    skip_if_exists: bool = True,
    politeness_delay_s: float = 1.0,
    timeout_s: float = 60.0,
) -> bool:
    """HTTP download with skip-if-exists idempotency and the
    reference's 1 s politeness delay (S2;
    extract_supporting_facilities_main.py:69-94,183). Import-gated on
    ``requests``."""
    if skip_if_exists and os.path.exists(dest):
        return True
    try:
        import requests
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise ImportError(
            "download_file needs the requests library; in airgapped "
            "environments stage raw files into the raw dir directly"
        ) from exc
    time.sleep(politeness_delay_s)  # pragma: no cover
    resp = requests.get(url, timeout=timeout_s)  # pragma: no cover
    resp.raise_for_status()  # pragma: no cover
    os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)  # pragma: no cover
    with open(dest, "wb") as f:  # pragma: no cover
        f.write(resp.content)
    return True  # pragma: no cover


def list_raw_files(
    root: str,
    pattern: str = "**/*",
    name_regex: str | None = None,
    name_antiregex: str | None = None,
) -> list[str]:
    """Recursive directory scan with regex include/exclude on the
    filename (S4 — ``list.files(recursive=TRUE)`` + grepl subsets,
    build_datasets_wait_times.R:61-62,236-243). Sorted for determinism.
    """
    files = sorted(
        p for p in _glob.glob(os.path.join(root, pattern), recursive=True)
        if os.path.isfile(p)
    )
    if name_regex is not None:
        files = [p for p in files if re.search(name_regex, os.path.basename(p))]
    if name_antiregex is not None:
        files = [p for p in files if not re.search(name_antiregex, os.path.basename(p))]
    return files


def latest_file(paths: list[str]) -> str | None:
    """Latest-file pick by ctime (O2 — ``max(files, key=getctime)``,
    extract_supporting_facilities_main.py:57-66)."""
    return max(paths, key=os.path.getctime) if paths else None
