"""Ingest: messy small-file readers and filename metadata.

The reference's raw edge is small Excel/CSV releases with preamble rows,
header rows *inside* the data, era-variant sheets, and sentinel missing
tokens (SURVEY §1.3, §2.1). That edge is inherently driver-side — the
files are KB-to-MB sized and positional (row order matters), which a
distributed shuffle would destroy. The engine therefore:

- reads each raw file on the driver into raw rows (lists of strings,
  empty cells None), CSV through stdlib ``csv`` and xlsx through a
  stdlib zip+XML parser, so a file reads the same in every environment;
- runs header detection / promotion on those rows *before* creating the
  DataFrame, so downstream Spark code sees a canonical, statically-typed
  schema;
- converts sentinel tokens to real NULLs at this edge only, attaching a
  stable ``_row_idx`` (per-file row position) and ``_source_file``;
- ships every file of one call to Spark as one Arrow table, unioned by
  column name, in a single ``createDataFrame`` (``read_messy_csv`` takes
  one path or a sequence).

The 100 TB path never touches this code — canonical storage is parquet
read natively by Spark with full predicate pushdown.

Parity citations (into /root/reference/):
- header-in-data detection: scripts/build_datasets_main.py:105-113;
  janitor row_to_names(find_header): build_datasets_wait_times.R:126-128
- skip=N preamble + na= tokens: build_datasets_critical_care_beds.R:46-58
- sheet by name/regex/index: build_datasets_wait_times.R:66-70
- filename year/quarter/month/pathway: scripts/build_datasets_main.py:62-92
"""

from __future__ import annotations

import csv
import io
import itertools
import re
import xml.etree.ElementTree as ET
import zipfile
from typing import Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nhs_data_pipeline_spark.functions import (
    NA_TOKENS,
    extract_pathway,
    extract_quarter,
    extract_year,
)
from nhs_data_pipeline_spark.ops.core import clean_name, dedupe_positional

Rows = list[list[str | None]]  # one raw file: rows of string cells, None = empty

HEADER_SCAN_ROWS = 30  # rows searched for the header row
SKIP_SCAN_ROWS = 10  # rows searched for a file-level skip marker


def detect_header_row(rows: Rows, marker: str | None = None) -> int:
    """Find the header row among the first ``HEADER_SCAN_ROWS`` of a
    file's raw rows.

    With ``marker``: first row containing the marker string in any cell
    (case-insensitive) — scripts/build_datasets_main.py:105-113; raises
    ``ValueError`` when no scanned row has it, so a preamble row never
    silently becomes the header.
    Without: first row where every non-null cell is non-numeric text and
    at least half the columns are populated (janitor ``find_header``
    heuristic, build_datasets_wait_times.R:126-128), else row 0.
    """
    n = min(HEADER_SCAN_ROWS, len(rows))
    width = max(map(len, rows), default=0)
    for i, row in enumerate(rows[:n]):
        cells = [v for v in row if v is not None and v.strip() != ""]
        if marker is not None:
            if any(marker.lower() in c.lower() for c in cells):
                return i
            continue
        if len(cells) >= max(2, width // 2) and not any(
            re.fullmatch(r"-?\d+(\.\d+)?", c) for c in cells
        ):
            return i
    if marker is not None:
        raise ValueError(f"no header row contains the marker {marker!r} in the first {n} rows")
    return 0


def _apply_header(
    rows: Rows, header: str | int | None, marker: str | None, path: str
) -> tuple[list[str], Rows]:
    """(column names, data rows): promote the detected
    (``header='detect'``) or given header row to names and drop it with
    the preamble (R3 — scripts/build_datasets_main.py:258-266); any other
    ``header`` keeps every row, columns named by position. A missing
    ``marker`` or a header row past the last row raises naming the file."""
    if header == "detect":
        try:
            header = detect_header_row(rows, marker=marker)
        except ValueError as err:
            raise ValueError(f"{path}: {err}") from None
    if not isinstance(header, int):
        return [str(i) for i in range(max(map(len, rows), default=0))], rows
    if header >= len(rows):
        raise ValueError(f"{path}: no header row {header}, the release has {len(rows)} rows")
    names = [
        clean_name(v) if v is not None and v.strip() else f"x{i + 1}"
        for i, v in enumerate(rows[header])
    ]
    return dedupe_positional(names), rows[header + 1 :]


def _to_spark(
    spark: SparkSession,
    parts: Sequence[tuple[str, list[str], Rows, dict[str, str]]],
    na_tokens: Sequence[str],
) -> DataFrame:
    """Ship files to Spark in one Arrow transfer. Each part is
    ``(source file, column names, data rows, constant columns)``; the
    parts are unioned by column name (a column missing from a file is
    NULL for its rows, and columns keep their order of first appearance,
    as ``unionByName``), sentinel cells become NULL, and ``_row_idx``
    restarts at 0 per part. ``_row_idx`` is a long and every other
    column a string, also with zero rows."""
    toks = {str(t).strip() for t in na_tokens}
    row_idx: list[int] = []
    cols: dict[str, list[str | None]] = {"_source_file": []}
    for source, names, rows, consts in parts:
        before = len(row_idx)
        row_idx.extend(range(len(rows)))
        cols["_source_file"].extend([source] * len(rows))
        for j, name in enumerate(names):
            cols.setdefault(name, [None] * before).extend(
                None if r[j] is None or r[j].strip() in toks else r[j] for r in rows
            )
        for name, value in consts.items():
            cols.setdefault(name, [None] * before).extend([value] * len(rows))
        for values in cols.values():
            values.extend([None] * (len(row_idx) - len(values)))
    table = pa.table(
        {"_row_idx": pa.array(row_idx, pa.int64())}
        | {name: pa.array(values, pa.string()) for name, values in cols.items()}
    )
    return spark.createDataFrame(table)


def file_matches_skip_predicate(rows: Rows, skip_markers: Sequence[str]) -> bool:
    """P12 — file-level predicate: True when any of ``skip_markers``
    appears in the first ``SKIP_SCAN_ROWS`` rows, meaning the whole
    file should be dropped ("adjusted"/"The 18 weeks rules" releases,
    build_datasets_wait_times.R:72-83)."""
    blob = " ".join(v.lower() for row in rows[:SKIP_SCAN_ROWS] for v in row if v is not None)
    return any(m.lower() in blob for m in skip_markers)


def _read_raw_csv(path: str, skip: int) -> Rows:
    """Raw rows (header=None semantics) after ``skip`` records: blank
    lines dropped, empty cells None, and every row padded to the widest
    row, so a narrow preamble row cannot fix the width."""
    with open(path, "rb") as f:
        data = f.read()
    try:
        text = data.decode("utf-8").removeprefix("\ufeff")
    except UnicodeDecodeError as err:
        raise ValueError(
            f"{path}: byte 0x{data[err.start]:02x} at offset {err.start} "
            "is not UTF-8"
        ) from None
    lines = io.StringIO(text, newline="")
    rows = [r for r in itertools.islice(csv.reader(lines), skip, None) if r]
    width = max(map(len, rows), default=0)
    return [[v or None for v in r] + [None] * (width - len(r)) for r in rows]


def read_messy_csv(
    spark: SparkSession,
    path: str | Sequence[str],
    skip: int = 0,
    header: str | int | None = "detect",
    marker: str | None = None,
    na_tokens: Sequence[str] = NA_TOKENS,
    skip_markers: Sequence[str] = (),
) -> DataFrame | None:
    """Read messy small CSVs: optional fixed ``skip``, then header
    detection/promotion (``header='detect'`` | row int | None for
    headerless), sentinel cleanup, ``_row_idx`` + ``_source_file``.

    ``path`` is one file or a sequence of files. Each file is treated
    on its own (its ``_row_idx`` restarts at 0); the results are
    unioned by column name and shipped to Spark in one transfer. A file
    matching a ``skip_markers`` file-level predicate is excluded (P12);
    when every file is excluded the result is None.
    """
    parts = []
    for p in [path] if isinstance(path, str) else path:
        rows = _read_raw_csv(p, skip)
        if skip_markers and file_matches_skip_predicate(rows, skip_markers):
            continue
        parts.append((p, *_apply_header(rows, header, marker, p), {}))
    return _to_spark(spark, parts, na_tokens) if parts else None


# ---------------------------------------------------------------------------
# Stdlib xlsx parsing (an xlsx IS a zip of XML)
# ---------------------------------------------------------------------------

def _xml_local(tag: str) -> str:
    """Strip the XML namespace from an element tag."""
    return tag.rsplit("}", 1)[-1]


def _xlsx_sheet_map(zf) -> list[tuple[str, str]]:
    """[(sheet_name, archive_path)] in workbook order, resolved through
    workbook.xml + its .rels (sheet order in the zip is not meaningful)."""
    rels = {}
    for rel in ET.fromstring(zf.read("xl/_rels/workbook.xml.rels")):
        target = rel.get("Target").lstrip("/")
        if not target.startswith("xl/"):
            target = "xl/" + target
        rels[rel.get("Id")] = target
    out = []
    for el in ET.fromstring(zf.read("xl/workbook.xml")).iter():
        if _xml_local(el.tag) == "sheet":
            rid = next(v for k, v in el.attrib.items() if k.endswith("}id"))
            out.append((el.get("name"), rels[rid]))
    return out


def _xlsx_shared_strings(zf) -> list[str]:
    try:
        root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
    except KeyError:
        return []
    strings = []
    for si in root:
        # plain <t> or rich-text runs <r><t>; concatenate all text nodes
        strings.append(
            "".join(t.text or "" for t in si.iter() if _xml_local(t.tag) == "t")
        )
    return strings


def _cell_col_idx(ref: str | None, fallback: int) -> int:
    """'C7' -> 2; sequential fallback when the r attribute is absent."""
    if not ref:
        return fallback
    col = 0
    for ch in ref:
        if ch.isalpha():
            col = col * 26 + (ord(ch.upper()) - ord("A") + 1)
        else:
            break
    return col - 1 if col else fallback


def _sheets_matching(path: str, sheet_regex: str) -> list[str]:
    """Names of the workbook's sheets matching ``sheet_regex``
    (case-insensitive), in workbook order; raises when none does."""
    with zipfile.ZipFile(path) as zf:
        names = [n for n, _ in _xlsx_sheet_map(zf)]
    matches = [s for s in names if re.search(sheet_regex, s, re.I)]
    if not matches:
        raise ValueError(f"no sheet matches {sheet_regex!r} in {path}")
    return matches


def _read_xlsx_stdlib(path: str, sheet: str | int = 0) -> Rows:
    """Minimal xlsx reader on zipfile + ElementTree — no Excel engine.

    Returns the sheet's raw rows (header=None semantics), all as wide as
    its widest row. Handles shared strings (incl. rich-text runs), inline
    strings, formula string results (t="str"), booleans, and sparse
    cells (missing cells/rows become None). Numeric cells keep their
    literal stored text (dates therefore surface as Excel serials —
    acceptable at this edge; the reference's date parsing happens
    downstream on strings anyway)."""
    with zipfile.ZipFile(path) as zf:
        sheets = _xlsx_sheet_map(zf)
        if isinstance(sheet, int):
            target = sheets[sheet][1]
        else:
            matches = [p for n, p in sheets if n == sheet]
            if not matches:
                raise ValueError(f"no sheet named {sheet!r} in {path}")
            target = matches[0]
        shared = _xlsx_shared_strings(zf)
        rows: dict[int, dict[int, str]] = {}
        max_col = -1
        last_row = 0  # spec: an r-less row follows the previous row
        for el in ET.fromstring(zf.read(target)).iter():
            if _xml_local(el.tag) != "row":
                continue
            r_idx = int(el.get("r", last_row + 1)) - 1
            last_row = r_idx + 1
            cells: dict[int, str] = {}
            next_col = 0
            for c in el:
                if _xml_local(c.tag) != "c":
                    continue
                col = _cell_col_idx(c.get("r"), next_col)
                next_col = col + 1
                ctype = c.get("t", "n")
                val: str | None = None
                for child in c:
                    local = _xml_local(child.tag)
                    if local == "v":
                        val = child.text
                    elif local == "is":  # inline string
                        val = "".join(
                            t.text or ""
                            for t in child.iter()
                            if _xml_local(t.tag) == "t"
                        )
                if val is None:
                    continue
                if ctype == "s":
                    val = shared[int(val)]
                elif ctype == "b":
                    val = "TRUE" if val == "1" else "FALSE"
                cells[col] = val
                max_col = max(max_col, col)
            rows[r_idx] = cells
    n_rows = (max(rows) + 1) if rows else 0
    return [
        [rows.get(r, {}).get(c) for c in range(max_col + 1)]
        for r in range(n_rows)
    ]


def read_messy_excel(
    spark: SparkSession,
    path: str,
    sheet: str | int | None = 0,
    sheet_regex: str | None = None,
    skip: int = 0,
    header: str | int | None = "detect",
    marker: str | None = None,
    na_tokens: Sequence[str] = NA_TOKENS,
) -> DataFrame:
    """Excel scan (S5/S6): sheet by index, exact name, or name regex
    (``^providers?$`` style, build_datasets_wait_times.R:66-70); then the
    same preamble/header/sentinel treatment as ``read_messy_csv``."""
    if sheet_regex is not None:
        sheet = _sheets_matching(path, sheet_regex)[0]
    rows = _read_xlsx_stdlib(path, sheet)[skip:]
    return _to_spark(spark, [(path, *_apply_header(rows, header, marker, path), {})], na_tokens)


def read_messy_excel_multi(
    spark: SparkSession,
    path: str,
    sheet_regex: str,
    skip: int = 0,
    header: str | int | None = "detect",
    marker: str | None = None,
    na_tokens: Sequence[str] = NA_TOKENS,
) -> DataFrame:
    """S6 — multi-sheet union scan: every sheet whose name matches
    ``sheet_regex`` goes through the S5 treatment, then union-by-name
    with NULL fill (era-variant sheets differ in columns); a
    ``_source_sheet`` column records provenance. The sheets are shipped
    to Spark in one transfer."""
    parts = [
        (path, *_apply_header(_read_xlsx_stdlib(path, s)[skip:], header, marker, path),
         {"_source_sheet": s})
        for s in _sheets_matching(path, sheet_regex)
    ]
    return _to_spark(spark, parts, na_tokens)


def filename_metadata() -> dict[str, Column]:
    """The (year, quarter, pathway) columns derived from the
    ``_source_file`` column the readers attach (S8 —
    scripts/build_datasets_main.py:62-92) as native regexes, keyed by
    output name."""
    src = F.col("_source_file")
    return {
        "file_year": extract_year(src),
        "file_quarter": extract_quarter(src),
        "file_pathway": extract_pathway(src),
    }


def with_filename_metadata(df: DataFrame) -> DataFrame:
    """``df`` with the ``filename_metadata`` columns added."""
    return df.withColumns(filename_metadata())
