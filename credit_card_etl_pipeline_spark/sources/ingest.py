"""Statement ingest layer (operators A1-A6, A2, B1-B3).

Re-expression of the reference's `etl.py` Part 2/3 ingest
(etl.py:129-152 smart CSV, :259-335 per-file pipeline, :463-482
directory scan) in a Spark-native shape:

* **One `binaryFile` scan** over the statement directory — files are
  routed to banks by filename keyword (A1, etl.py:453-459) and decoded
  (A4: utf-8 / cp950 / Big5, ``errors='replace'``) inside a single
  Arrow-batched ``mapInPandas``, yielding a distributed ``(path,
  bank_id, pos, line, hpos)`` frame (:data:`LINES_DDL`).  Line numbers
  are explicit — they carry both header-skip (A3) and the
  order-dependent forward-fill (E2, SURVEY §2.E) without relying on
  implicit row order.
* **Header detection per file** (A3, etl.py:137-143): while a file is
  in memory, :func:`decode_statement` finds its header line — the first
  of lines 0..50 containing the keyword, else line 0 — and every
  line row carries that ``hpos``; data rows are the lines after it,
  parsed with ``from_csv``.
* **HTML statements** (A5, etl.py:290-304) are flattened to
  cell-separator lines by a stdlib-``HTMLParser`` table extractor inside
  the same decode step (BeautifulSoup/lxml are not required).
* **Excel** (A6, etl.py:312-316) is a driver-side ``pandas.read_excel``
  gated behind an import-try — the workbook engines aren't part of the
  engine's hard dependencies.

Scale design: per-file work parallelizes across cores, in one decode
task per core: the scan's partitions are merged with ``coalesce`` (no
shuffle) to ``defaultParallelism`` before the ``mapInPandas``, because
each Python task has a fixed start-up cost that many small files would
otherwise pay once per scan partition (SCALE.md, "Python task cost").
Every line row carries its ``path``, ``pos`` and ``hpos``, so merging
files into one task changes no row.  :func:`parse_banks` persists the
line frame and its one driver action collects one header line per bank
(a ≤|banks|-row aggregate; blank lines never qualify) to compile the
per-bank CSV schema.  Statement files are assumed layout-consistent per
bank (the reference's per-bank ``columns_mapping`` encodes the same
assumption).
"""

from __future__ import annotations

import csv as _csv
import io
from collections.abc import Iterator
from dataclasses import dataclass, field
from html.parser import HTMLParser
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schema as S
from ..functions import caching

#: Cell separator used to flatten HTML table rows into "lines".
HTML_CELL_SEP = "\x1f"


@dataclass
class BankSpec:
    """Per-source parsing spec (banks_config.yaml shape,
    configs/banks_configs_example.yaml:12-77)."""

    bank_id: str
    keywords: list[str]  # filename routing tokens (etl.py:453-459)
    columns_mapping: dict[str, str]  # raw header → canonical name
    file_type: str = "csv"  # csv | html | excel
    encoding: str = "utf-8"
    header_keyword: str | None = None


def load_bank_specs(path: str) -> list["BankSpec"]:
    """A8: banks_config.yaml → specs.  YAML shape (per bank id):
    ``file_type``, ``encoding``, ``header_keyword``, ``columns_mapping``
    (configs/banks_configs_example.yaml:12-77) plus the engine's
    ``keywords`` routing list (falling back to the bank id itself)."""
    from .configs import load_yaml_config

    cfg = load_yaml_config(path)
    specs = []
    for bank_id, spec in (cfg or {}).items():
        if not isinstance(spec, dict):
            continue
        specs.append(
            BankSpec(
                bank_id=bank_id,
                keywords=list(spec.get("keywords") or [bank_id]),
                columns_mapping=dict(spec.get("columns_mapping") or {}),
                file_type=spec.get("file_type", "csv"),
                encoding=spec.get("encoding", "utf-8"),
                header_keyword=spec.get("header_keyword"),
            )
        )
    return specs


#: Default specs replicating the reference's four banks
#: (configs/banks_configs_example.yaml; FIXTURES.md §1).
DEFAULT_BANK_SPECS: list[BankSpec] = [
    BankSpec(
        bank_id="esun_bank",
        keywords=["玉山"],
        file_type="csv",
        encoding="utf-8",
        header_keyword="交易日期",
        columns_mapping={
            "交易日期": S.TRANSACTION_DATE,
            "入帳日期": S.POSTING_DATE,
            "卡號末四碼": S.CARD_NO,
            "交易說明": S.MERCHANT,
            "外幣金額": S.CURRENCY_AMOUNT,
            "臺幣金額": S.AMOUNT,
        },
    ),
    BankSpec(
        bank_id="cube_bank",
        keywords=["國泰", "國泰世華"],
        file_type="csv",
        encoding="utf-8",
        header_keyword="信用卡號",
        columns_mapping={
            "交易日": S.TRANSACTION_DATE,
            "入帳日": S.POSTING_DATE,
            "卡號末四碼": S.CARD_NO,
            "交易說明": S.MERCHANT,
            "臺幣金額": S.AMOUNT,
            "消費地/幣別": S.RAW_COUNTRY_CURRENCY,
        },
    ),
    BankSpec(
        bank_id="ctbc_bank",
        keywords=["中信", "中國信託"],
        file_type="csv",
        encoding="cp950",
        header_keyword="消費日期",
        columns_mapping={
            "消費日期": S.TRANSACTION_DATE,
            "入帳日期": S.POSTING_DATE,
            "卡號末四碼": S.CARD_NO,
            "商店名稱": S.MERCHANT,
            "臺幣金額": S.AMOUNT,
            "外幣金額": S.CURRENCY_AMOUNT,
            "幣別": S.CURRENCY_TYPE,
        },
    ),
    BankSpec(
        bank_id="hncb_bank",
        keywords=["華南"],
        file_type="html",
        encoding="big5",
        header_keyword="交易日期",
        columns_mapping={
            "交易日期": S.TRANSACTION_DATE,
            "入帳日期": S.POSTING_DATE,
            "卡號末四碼": S.CARD_NO,
            "摘要": S.MERCHANT,
            "金額": S.AMOUNT,
        },
    ),
]


class _TableExtractor(HTMLParser):
    """Minimal HTML table reader: collects every <table> as rows of
    trimmed cell texts (whitespace/newlines flattened — etl.py:301)."""

    def __init__(self) -> None:
        super().__init__()
        self.tables: list[list[list[str]]] = []
        self._stack: list[list[list[str]]] = []
        self._row: list[str] | None = None
        self._cell: list[str] | None = None

    def handle_starttag(self, tag: str, attrs: Any) -> None:
        if tag == "table":
            self._stack.append([])
        elif tag == "tr" and self._stack:
            self._row = []
        elif tag in ("td", "th") and self._row is not None:
            self._cell = []

    def handle_endtag(self, tag: str) -> None:
        if tag == "table" and self._stack:
            self.tables.append(self._stack.pop())
        elif tag == "tr" and self._stack and self._row is not None:
            self._stack[-1].append(self._row)
            self._row = None
        elif tag in ("td", "th") and self._cell is not None and self._row is not None:
            self._row.append(" ".join("".join(self._cell).split()))
            self._cell = None

    def handle_data(self, data: str) -> None:
        if self._cell is not None:
            self._cell.append(data)


def html_table_lines(text: str, header_keyword: str | None) -> list[str]:
    """A5: rows of the table containing ``header_keyword``, flattened to
    HTML_CELL_SEP-joined lines (etl.py:290-304)."""
    parser = _TableExtractor()
    parser.feed(text)
    for table in parser.tables:
        if header_keyword is None or any(
            header_keyword in cell for row in table for cell in row
        ):
            return [HTML_CELL_SEP.join(row) for row in table]
    return []


def route_bank(filename: str, specs: list[BankSpec]) -> BankSpec | None:
    """A1: filename keyword → bank spec (first match, etl.py:470-474)."""
    for spec in specs:
        if any(kw in filename for kw in spec.keywords):
            return spec
    return None


#: Schema of the line frame shared by :func:`statement_lines` and the
#: ``bank_statement`` data source: one row per decoded line, carrying
#: its file's header position.
LINES_DDL = "path string, bank_id string, pos bigint, line string, hpos bigint"


def header_pos(lines: list[str], keyword: str | None) -> int:
    """A3 (etl.py:137-149): index of the first line among lines 0..50
    containing ``keyword``; no keyword, or no hit, falls back to 0."""
    if keyword is None:
        return 0
    for i, line in enumerate(lines[:51]):
        if keyword in line:
            return i
    return 0


def decode_statement(
    name: str, content: bytes, specs: list[BankSpec]
) -> tuple[BankSpec, list[str], int] | None:
    """A1+A4+A5+A3 for one file: route ``name`` to its bank, decode
    ``content`` into lines (HTML flattened to its statement table) and
    locate the header line.  Returns ``None`` for unroutable files."""
    spec = route_bank(name, specs)
    if spec is None:
        return None
    text = bytes(content).decode(spec.encoding, errors="replace")
    if spec.file_type == "html":
        lines = html_table_lines(text, spec.header_keyword)
    else:
        lines = text.splitlines()
    return spec, lines, header_pos(lines, spec.header_keyword)


def statement_lines(
    spark: SparkSession, data_dir: str, specs: list[BankSpec] | None = None
) -> DataFrame:
    """A1+A3+A4+A5: one distributed :data:`LINES_DDL` frame over every
    routable statement file under ``data_dir``."""
    spec_list = list(specs if specs is not None else DEFAULT_BANK_SPECS)

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{csv,html,xls,xlsx}")
        .load(data_dir)
        .select("path", "content")
        # one decode task per core: each Python task has a fixed cost,
        # and coalesce only merges partitions (no shuffle)
        .coalesce(spark.sparkContext.defaultParallelism)
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple[str, str, int, str, int]] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                name = path.rsplit("/", 1)[-1]
                decoded = decode_statement(name, content, spec_list)
                if decoded is None:
                    continue
                spec, lines, hpos = decoded
                out.extend(
                    (path, spec.bank_id, i, ln, hpos) for i, ln in enumerate(lines)
                )
            yield pd.DataFrame(
                out, columns=["path", "bank_id", "pos", "line", "hpos"]
            )

    return files.mapInPandas(decode, LINES_DDL)


def filename_meta(path_col: F.Column) -> dict[str, F.Column]:
    """A2 (etl.py:272-282): billing year/month from the filename —
    ROC era ``113年1月`` (+1911) takes precedence over western
    ``202401``; defaults 2024/1."""
    name = F.element_at(F.split(path_col, "/"), -1)
    west_y = F.regexp_extract(name, r"(20\d{2})(\d{2})", 1)
    west_m = F.regexp_extract(name, r"(20\d{2})(\d{2})", 2)
    roc_y = F.regexp_extract(name, r"(\d{2,3})年(\d{1,2})月", 1)
    roc_m = F.regexp_extract(name, r"(\d{2,3})年(\d{1,2})月", 2)
    base_year = (
        F.when(roc_y != "", roc_y.cast("int") + 1911)
        .when(west_y != "", west_y.cast("int"))
        .otherwise(F.lit(2024))
    )
    bill_month = (
        F.when(roc_m != "", roc_m.cast("int"))
        .when(west_m != "", west_m.cast("int"))
        .otherwise(F.lit(1))
    )
    return {"base_year": base_year, "bill_month": bill_month}


def _split_header(header_line: str, sep: str) -> list[str]:
    if sep == HTML_CELL_SEP:
        cells = header_line.split(sep)
    else:
        cells = next(_csv.reader(io.StringIO(header_line)))
    # B2: trim + flatten whitespace in raw header names (etl.py:301,319).
    return [" ".join(str(c).split()) for c in cells]


def parse_banks(
    lines: DataFrame, specs: list[BankSpec] | None = None
) -> dict[str, DataFrame]:
    """A3+B1+B2: parse a :data:`LINES_DDL` frame into canonical
    columns, one frame per bank that has files, in spec order.

    ``lines`` is persisted (tracked for release, caching.py) because
    every bank branch re-reads it; the one driver action — the header
    line of each bank, taken from its lexicographically first file
    whose header line is not blank — also fills that cache.  Each parsed frame carries ``path`` and
    ``pos`` (explicit ingest order for E2) plus ``base_year`` /
    ``bill_month`` (A2) alongside the mapped canonical columns.
    """
    specs = list(specs if specs is not None else DEFAULT_BANK_SPECS)
    lines = caching.track(lines.persist())
    headers = {
        r["bank_id"]: r["line"]
        # a blank line cannot be a header (a keyword-less file falls
        # back to line 0, which may be empty)
        for r in lines.where(
            (F.col("pos") == F.col("hpos")) & (F.trim(F.col("line")) != "")
        )
        .groupBy("bank_id")
        .agg(F.min_by("line", "path").alias("line"))
        .collect()
    }
    frames: dict[str, DataFrame] = {}
    for spec in specs:
        if spec.bank_id not in headers:
            continue
        raw_names = _split_header(
            headers[spec.bank_id],
            HTML_CELL_SEP if spec.file_type == "html" else ",",
        )
        frames[spec.bank_id] = _parse_bank_tail(
            lines.where(F.col("bank_id") == spec.bank_id), spec, raw_names
        )
    return frames


def _parse_bank_tail(
    bank_lines: DataFrame, spec: BankSpec, raw_names: list[str]
) -> DataFrame:
    """B1+B2: data-row slice + per-column projection of one bank."""

    data = bank_lines.where(
        (F.col("pos") > F.col("hpos")) & (F.trim(F.col("line")) != "")
    )
    if spec.file_type == "html":
        cells = F.split(F.col("line"), HTML_CELL_SEP)
        parsed = data.select(
            "path",
            "pos",
            *[
                F.trim(cells.getItem(i)).alias(f"_c{i}")
                for i in range(len(raw_names))
            ],
        )
    else:
        # _corrupt captures rows the CSV parser rejects (e.g. more
        # fields than the header) — dropping them mirrors the
        # reference's on_bad_lines='skip' (etl.py:146).
        struct_schema = (
            ", ".join(f"`_c{i}` string" for i in range(len(raw_names)))
            + ", `_corrupt` string"
        )
        rec = F.from_csv(
            F.col("line"),
            struct_schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        )
        parsed = data.select(
            "path",
            "pos",
            *[rec.getItem(f"_c{i}").alias(f"_c{i}") for i in range(len(raw_names))],
            rec.getItem("_corrupt").alias("__corrupt"),
        ).where(F.col("__corrupt").isNull()).drop("__corrupt")

    # B1: keep only mapped columns, rename raw → canonical; B3 init of
    # missing canonical strings happens downstream via schema.conform.
    cols: list[F.Column] = [F.col("path"), F.col("pos")]
    for i, raw in enumerate(raw_names):
        canonical = spec.columns_mapping.get(raw)
        if canonical is not None:
            cols.append(F.col(f"_c{i}").alias(canonical))
    out = parsed.select(*cols).withColumn(S.BANK_NAME, F.lit(spec.bank_id))
    return out.withColumns(filename_meta(F.col("path")))


#: OLE2 / Compound-File-Binary magic — the container of legacy binary
#: .xls workbooks (public format signature, [MS-CFB] 2.2).
_OLE2_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"


def sniff_workbook_format(path: str) -> str:
    """Classify a workbook file by leading bytes, not extension:
    ``xlsx`` (PK zip), ``xls`` (OLE2 compound file), ``html`` (bank
    portals routinely serve HTML with an .xls name), else ``unknown``."""
    with open(path, "rb") as f:
        head = f.read(512)
    if head[:4] == b"PK\x03\x04":
        return "xlsx"
    if head[:8] == _OLE2_MAGIC:
        return "xls"
    if head.lstrip()[:1] == b"<":
        return "html"
    return "unknown"


def read_excel_statement(
    spark: SparkSession, path: str, spec: BankSpec
) -> DataFrame:
    """A6 (etl.py:312-316): driver-side Excel read.  The file format is
    sniffed from magic bytes BEFORE any parser touches it, so an HTML
    table masquerading under an ``.xls`` name (reference README.md:98)
    always parses via the HTML path — even when a pandas Excel engine
    is installed and would raise a raw ValueError/BadZipFile on it —
    a true OLE2 binary .xls goes through the vendored stdlib BIFF8
    parser (sources.xls), and a real .xlsx goes through
    ``pandas.read_excel`` when an engine is installed, else the
    vendored stdlib .xlsx parser (sources.xlsx)."""
    kind = sniff_workbook_format(path)
    if kind == "html":
        with open(path, "rb") as f:
            text = f.read().decode(spec.encoding, errors="replace")
        lines = html_table_lines(text, spec.header_keyword)
        if not lines:
            raise ValueError(f"no matching HTML table in {path}")
        grid = [ln.split(HTML_CELL_SEP) for ln in lines]
        width = len(grid[0])
        body = [r[:width] + [""] * (width - len(r)) for r in grid[1:]]
        pdf = pd.DataFrame(body, columns=grid[0])
    elif kind == "xls":
        from .xls import read_xls_rows

        rows = read_xls_rows(path)
        if not rows:
            raise ValueError(f"empty workbook: {path}")
        pdf = pd.DataFrame(rows[1:], columns=rows[0])
    elif kind == "xlsx":
        try:
            pdf = pd.read_excel(path, dtype=str)
        except (ImportError, ValueError) as e:  # no engine / engine balked
            from .xlsx import read_xlsx_rows

            rows = read_xlsx_rows(path)
            if not rows:
                raise ValueError(f"empty workbook: {path}") from e
            pdf = pd.DataFrame(rows[1:], columns=rows[0])
    else:
        raise NotImplementedError(
            f"{path}: unrecognized workbook format (not zip/.xlsx,"
            " OLE2/.xls, or HTML); convert to .xlsx/CSV."
        )
    pdf.columns = [" ".join(str(c).split()) for c in pdf.columns]
    pdf = pdf.astype(str)  # raw cells as strings BEFORE adding typed cols
    pdf["path"] = path
    pdf["pos"] = range(len(pdf))  # must stay integral: E2 orders on it
    df = spark.createDataFrame(pdf)
    cols = [F.col("path"), F.col("pos").cast("long").alias("pos")]
    for raw, canonical in spec.columns_mapping.items():
        if raw in pdf.columns:
            cols.append(F.col(raw).alias(canonical))
    return (
        df.select(*cols)
        .withColumn(S.BANK_NAME, F.lit(spec.bank_id))
        .withColumns(filename_meta(F.col("path")))
    )
