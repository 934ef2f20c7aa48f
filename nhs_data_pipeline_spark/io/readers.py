"""Ingest: messy small-file readers and filename metadata.

The reference's raw edge is small Excel/CSV releases with preamble rows,
header rows *inside* the data, era-variant sheets, and sentinel missing
tokens (SURVEY §1.3, §2.1). That edge is inherently driver-side — the
files are KB-to-MB sized and positional (row order matters), which a
distributed shuffle would destroy. The engine therefore:

- reads each raw file on the driver, attaching a stable ``_row_idx``
  (per-file row position) and ``_source_file`` before anything else;
- runs header detection / promotion *before* creating the DataFrame, so
  downstream Spark code sees a canonical, statically-typed schema;
- converts sentinel tokens to real NULLs at this edge only;
- ships every file of one call to Spark in a single Arrow-backed
  ``createDataFrame``, the harmonised pandas frames concatenated by
  column name (``read_messy_csv`` takes one path or a sequence).

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
import itertools
import re
from typing import Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nhs_data_pipeline_spark.functions import (
    NA_TOKENS,
    extract_pathway,
    extract_quarter,
    extract_year,
)
from nhs_data_pipeline_spark.ops.core import clean_name, dedupe_positional


def detect_header_row(pdf: pd.DataFrame, marker: str | None = None, scan_rows: int = 30) -> int:
    """Find the header row inside a raw frame.

    With ``marker``: first row containing the marker string in any cell
    (case-insensitive) — scripts/build_datasets_main.py:105-113; raises
    ``ValueError`` when no scanned row has it, so a preamble row never
    silently becomes the header.
    Without: first row where every non-null cell is non-numeric text and
    at least half the columns are populated (janitor ``find_header``
    heuristic, build_datasets_wait_times.R:126-128), else row 0.
    """
    n = min(scan_rows, len(pdf))
    for i in range(n):
        row = pdf.iloc[i]
        cells = [str(v) for v in row.tolist() if pd.notna(v) and str(v).strip() != ""]
        if marker is not None:
            if any(marker.lower() in c.lower() for c in cells):
                return i
            continue
        if len(cells) >= max(2, len(pdf.columns) // 2) and not any(
            re.fullmatch(r"-?\d+(\.\d+)?", c) for c in cells
        ):
            return i
    if marker is not None:
        raise ValueError(f"no header row contains the marker {marker!r} in the first {n} rows")
    return 0


def _promote_header(pdf: pd.DataFrame, header_row: int) -> pd.DataFrame:
    """Promote an in-data row to column names and drop it + the preamble
    (R3 — scripts/build_datasets_main.py:258-266)."""
    names = [
        clean_name(str(v)) if pd.notna(v) and str(v).strip() else f"x{i + 1}"
        for i, v in enumerate(pdf.iloc[header_row].tolist())
    ]
    names = dedupe_positional(names)
    out = pdf.iloc[header_row + 1 :].copy()
    out.columns = names
    return out


def _apply_header(
    pdf: pd.DataFrame, header: str | int | None, marker: str | None, path: str
) -> pd.DataFrame:
    """Promote the detected (``header='detect'``) or given header row;
    a missing ``marker`` raises naming the file."""
    if header == "detect":
        try:
            header = detect_header_row(pdf, marker=marker)
        except ValueError as err:
            raise ValueError(f"{path}: {err}") from None
    return _promote_header(pdf, header) if isinstance(header, int) else pdf


def _harmonize(pdf: pd.DataFrame, source: str, na_tokens: Sequence[str]) -> pd.DataFrame:
    """Sentinels -> NULL, every data cell a string; attach the per-file
    ``_row_idx`` and ``_source_file``."""
    pdf = pdf.reset_index(drop=True)
    pdf = pdf.astype("object")
    toks = {str(t).strip() for t in na_tokens}
    pdf = pdf.map(
        lambda v: None
        if v is None or (isinstance(v, float) and pd.isna(v)) or str(v).strip() in toks
        else str(v)
    )
    pdf.insert(0, "_row_idx", range(len(pdf)))
    pdf.insert(1, "_source_file", source)
    return pdf


def _to_spark(spark: SparkSession, pdfs: Sequence[pd.DataFrame]) -> DataFrame:
    """Ship harmonised frames to Spark in one transfer, concatenated by
    column name (a column missing from a file is NULL for its rows, and
    columns keep their order of first appearance, as ``unionByName``)."""
    pdf = pd.concat(pdfs, ignore_index=True, sort=False)
    data = pdf.columns[1:]  # concat fills a file's absent columns with NaN
    pdf[data] = pdf[data].astype("object").where(pdf[data].notna(), None)
    # Explicit schema: inference crashes on ZERO data rows
    # (CANNOT_INFER_EMPTY_SCHEMA — a just-published empty release is a
    # real shape) and on all-NULL columns without Arrow. _row_idx is a
    # long, everything else is string by the module contract.
    schema = T.StructType(
        [T.StructField("_row_idx", T.LongType())]
        + [T.StructField(str(c), T.StringType()) for c in data]
    )
    return spark.createDataFrame(pdf, schema=schema)


def file_matches_skip_predicate(
    pdf: pd.DataFrame, skip_markers: Sequence[str], scan_rows: int = 10
) -> bool:
    """P12 — file-level predicate: True when any of ``skip_markers``
    appears in the first ``scan_rows`` rows, meaning the whole file
    should be dropped ("adjusted"/"The 18 weeks rules" releases,
    build_datasets_wait_times.R:72-83)."""
    head = pdf.iloc[: min(scan_rows, len(pdf))]
    blob = " ".join(
        str(v).lower() for v in head.to_numpy().ravel() if pd.notna(v)
    )
    return any(m.lower() in blob for m in skip_markers)


def _read_raw_csv(path: str, skip: int) -> pd.DataFrame:
    """Raw all-string frame (header=None semantics) after ``skip``
    records: blank lines dropped, empty cells NULL, and every row padded
    to the widest row, so a narrow preamble row cannot fix the width."""
    with open(path, newline="", encoding="utf-8-sig") as f:
        rows = [r for r in itertools.islice(csv.reader(f), skip, None) if r]
    width = max(map(len, rows), default=0)
    return pd.DataFrame(
        [[v or None for v in r] + [None] * (width - len(r)) for r in rows],
        columns=range(width),
        dtype=object,
    )


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
    pdfs = []
    for p in [path] if isinstance(path, str) else path:
        pdf = _read_raw_csv(p, skip)
        if skip_markers and file_matches_skip_predicate(pdf, skip_markers):
            continue
        pdfs.append(_harmonize(_apply_header(pdf, header, marker, p), p, na_tokens))
    return _to_spark(spark, pdfs) if pdfs else None


# ---------------------------------------------------------------------------
# Stdlib xlsx parsing (zip + XML) — fallback when no Excel engine exists
# ---------------------------------------------------------------------------

def _xml_local(tag: str) -> str:
    """Strip the XML namespace from an element tag."""
    return tag.rsplit("}", 1)[-1]


def _xlsx_sheet_map(zf) -> list[tuple[str, str]]:
    """[(sheet_name, archive_path)] in workbook order, resolved through
    workbook.xml + its .rels (sheet order in the zip is not meaningful)."""
    import xml.etree.ElementTree as ET

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
    import xml.etree.ElementTree as ET

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


def _read_xlsx_stdlib(path: str, sheet: str | int = 0) -> tuple[pd.DataFrame, list[str]]:
    """Minimal xlsx reader on zipfile + ElementTree — no Excel engine.

    Returns (raw all-string frame with header=None semantics, sheet
    names). Handles shared strings (incl. rich-text runs), inline
    strings, formula string results (t="str"), booleans, and sparse
    cells (missing cells/rows become NULL). Numeric cells keep their
    literal stored text (dates therefore surface as Excel serials —
    acceptable at this edge; the reference's date parsing happens
    downstream on strings anyway)."""
    import xml.etree.ElementTree as ET
    import zipfile

    with zipfile.ZipFile(path) as zf:
        sheets = _xlsx_sheet_map(zf)
        names = [n for n, _ in sheets]
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
        data = [
            [rows.get(r, {}).get(c) for c in range(max_col + 1)]
            for r in range(n_rows)
        ]
        return pd.DataFrame(data, dtype=object), names


def _excel_sheet_names(path: str) -> list[str]:
    try:
        import openpyxl  # noqa: F401

        return pd.ExcelFile(path).sheet_names  # pragma: no cover - env-dependent
    except ImportError:
        return _read_xlsx_stdlib(path, 0)[1]


def _excel_raw_frame(path: str, sheet: str | int, skip: int) -> pd.DataFrame:
    """Raw all-string frame for one sheet (header=None), via pandas when
    an Excel engine exists, else the stdlib zip+XML parser."""
    try:
        import openpyxl  # noqa: F401

        pdf = pd.read_excel(  # pragma: no cover - env-dependent
            path, sheet_name=sheet, header=None, skiprows=skip, dtype=str
        )
    except ImportError:
        pdf, _ = _read_xlsx_stdlib(path, sheet)
        pdf = pdf.iloc[skip:].reset_index(drop=True)
    return pdf


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
    same preamble/header/sentinel treatment as ``read_messy_csv``.

    Uses pandas+openpyxl when available; otherwise a stdlib zip+XML
    fallback (an xlsx IS a zip of XML) so Excel ingest executes in
    engine-free environments too."""
    if sheet_regex is not None:
        sheet_names = _excel_sheet_names(path)
        matches = [s for s in sheet_names if re.search(sheet_regex, s, re.I)]
        if not matches:
            raise ValueError(f"no sheet matches {sheet_regex!r} in {path}")
        sheet = matches[0]
    pdf = _excel_raw_frame(path, sheet, skip)
    pdf = _harmonize(_apply_header(pdf, header, marker, path), path, na_tokens)
    return _to_spark(spark, [pdf])


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
    ``_source_sheet`` column records provenance. The harmonised sheets
    are shipped to Spark in one transfer."""
    sheet_names = _excel_sheet_names(path)
    matches = [s for s in sheet_names if re.search(sheet_regex, s, re.I)]
    if not matches:
        raise ValueError(f"no sheet matches {sheet_regex!r} in {path}")
    pdfs = [
        _harmonize(
            _apply_header(_excel_raw_frame(path, s, skip), header, marker, path),
            path,
            na_tokens,
        ).assign(_source_sheet=s)
        for s in matches
    ]
    return _to_spark(spark, pdfs)


def with_filename_metadata(df: DataFrame, col: str = "_source_file") -> DataFrame:
    """Derive (year, quarter, pathway) columns from the source filename
    (S8 — scripts/build_datasets_main.py:62-92) as native regexes; works
    equally on ``F.input_file_name()`` for distributed reads."""
    src = F.col(col)
    return (
        df.withColumn("file_year", extract_year(src))
        .withColumn("file_quarter", extract_quarter(src))
        .withColumn("file_pathway", extract_pathway(src))
    )

