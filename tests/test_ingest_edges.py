"""Ingest edge cases: malformed rows skipped, keyword-less files fall
back to line 0, a blank line never becomes a bank's header, the header
is found per file, many files decode in one task per core, empty
directories yield an empty canonical frame, and run_etl leaves no
persisted RDD behind once tracked frames are released."""

from __future__ import annotations

import pytest

from credit_card_etl_pipeline_spark import schema as S
from credit_card_etl_pipeline_spark.plans.etl import run_etl
from credit_card_etl_pipeline_spark.sources.ingest import header_pos, statement_lines
from tests.test_etl import CTBC_CSV, ESUN_CSV

BAD_ROWS_CSV = """交易日期,入帳日期,卡號末四碼,交易說明,外幣金額,臺幣金額
01/10,01/11,,正常商店,,100
01/11,01/12,,壞行,太多,欄位,在這裡,多一個,再一個
01/12,01/13,,另一家,,200
"""

NO_KEYWORD_CSV = """消費日期,入帳日期,卡號末四碼,商店名稱,臺幣金額,外幣金額,幣別
03/05,03/06,2222,頭排商店,180,,
"""


def test_malformed_rows_skipped(spark, tmp_path):
    d = tmp_path / "s1"
    d.mkdir()
    (d / "玉山_202401.csv").write_text(BAD_ROWS_CSV, encoding="utf-8")
    rows = run_etl(spark, str(d)).collect()
    merchants = {r[S.MERCHANT] for r in rows}
    assert merchants == {"正常商店", "另一家"}  # bad row dropped


def test_headerless_fallback_uses_first_line(spark, tmp_path):
    # ctbc keyword is 消費日期, present in line 0 → hpos 0 either way;
    # strip the keyword to exercise the no-match fallback explicitly
    d = tmp_path / "s2"
    d.mkdir()
    content = NO_KEYWORD_CSV.replace("消費日期", "日期X")
    (d / "中信_202403.csv").write_bytes(content.encode("cp950"))
    rows = run_etl(spark, str(d)).collect()
    # header fell back to line 0; 日期X is unmapped so Transaction_Date
    # is never populated → row dropped by the null-date filter (B6)
    assert rows == []


def test_blank_first_line_is_not_a_bank_header(spark, tmp_path):
    # a keyword-less file with a blank line 0 sorts first among the
    # bank's files; its header must come from the other file instead of
    # failing the whole batch on an empty header line
    d = tmp_path / "s6"
    d.mkdir()
    (d / "玉山_202401_a.csv").write_text(
        "\n01/10,01/11,,全聯福利中心,,100\n", encoding="utf-8"
    )
    (d / "玉山銀行113年1月.csv").write_text(ESUN_CSV, encoding="utf-8")
    assert len(run_etl(spark, str(d)).collect()) == 5


def test_header_pos_scans_lines_0_to_50():
    # A3 (etl.py:137-149): the first keyword hit among lines 0..50;
    # past that, no keyword, or no keyword configured -> line 0
    def lines(at):
        return [f"preamble {i}" for i in range(at)] + ["交易日期,金額"]

    assert header_pos(lines(50), "交易日期") == 50
    assert header_pos(lines(51), "交易日期") == 0
    assert header_pos(lines(3) + lines(7), "交易日期") == 3
    assert header_pos(["a,b", "c,d"], "交易日期") == 0
    assert header_pos(lines(5), None) == 0
    assert header_pos([], "交易日期") == 0


ESUN_DATA = """01/10,01/11,,全聯福利中心,,"1,234"
01/12,01/13,,星巴克咖啡,,200
"""


def test_header_found_per_file_across_preamble_lengths(spark, tmp_path):
    # two statements of one bank: the header on line 0 in one, behind a
    # preamble in the other whose date-like summary row must not parse
    # as a transaction — each file's own header position decides
    header = "交易日期,入帳日期,卡號末四碼,交易說明,外幣金額,臺幣金額\n"
    preamble = "帳單摘要,,,,,\n01/05,01/06,,上期應繳金額,,3000\n"
    d = tmp_path / "s4"
    d.mkdir()
    (d / "玉山_202401_a.csv").write_text(header + ESUN_DATA, encoding="utf-8")
    (d / "玉山_202401_b.csv").write_text(
        preamble + header + ESUN_DATA, encoding="utf-8"
    )
    rows = run_etl(spark, str(d)).collect()
    parsed = sorted(tuple(r) for r in rows)
    assert len(parsed) == 4
    assert parsed[0::2] == parsed[1::2]  # both files, identical rows
    assert {r[S.MERCHANT] for r in rows} == {"全聯福利中心", "星巴克咖啡"}
    assert {r[S.AMOUNT] for r in rows} == {1234.0, 200.0}


def test_many_files_decode_in_one_task_per_core(spark, tmp_path):
    # 40 files per core make more scan partitions than cores; the decode
    # runs in at most one task per core, and E2's per-file forward-fill
    # still sees each file's own card header row
    cores = spark.sparkContext.defaultParallelism
    d = tmp_path / "s7"
    d.mkdir()
    for i in range(40 * cores):
        (d / f"玉山銀行113年1月_{i:03d}.csv").write_text(ESUN_CSV, encoding="utf-8")
    assert statement_lines(spark, str(d)).rdd.getNumPartitions() <= cores
    rows = run_etl(spark, str(d)).collect()
    assert len(rows) == 4 * 40 * cores
    assert sum(r[S.CARD_NO] == "1234" for r in rows) == 3 * 40 * cores


def test_general_cleanse_runs_once_over_the_bank_union(spark, tmp_path, monkeypatch):
    from credit_card_etl_pipeline_spark.plans import etl

    d = tmp_path / "s8"
    d.mkdir()
    (d / "玉山銀行113年1月.csv").write_text(ESUN_CSV, encoding="utf-8")
    (d / "中信_202403.csv").write_bytes(CTBC_CSV.encode("cp950"))
    calls = []
    cleanse = etl.general_cleanse
    monkeypatch.setattr(etl, "general_cleanse", lambda df: calls.append(1) or cleanse(df))
    rows = run_etl(spark, str(d)).collect()
    assert len(calls) == 1
    assert {r[S.BANK_NAME] for r in rows} == {"esun_bank", "ctbc_bank"}


def test_run_etl_leaves_no_persisted_rdd_after_release(spark, tmp_path):
    from credit_card_etl_pipeline_spark.functions import caching

    d = tmp_path / "s5"
    d.mkdir()
    (d / "玉山_202401.csv").write_text(BAD_ROWS_CSV, encoding="utf-8")
    jsc = spark.sparkContext._jsc
    caching.release_tracked()
    before = set(jsc.getPersistentRDDs().keys())
    assert len(run_etl(spark, str(d)).collect()) == 2
    caching.release_tracked()
    assert set(jsc.getPersistentRDDs().keys()) - before == set()


def test_excel_statement_path(spark, monkeypatch, tmp_path):
    # A6 with a (faked) workbook engine: monkeypatch the pandas reader
    # so the mapping/typing/ordering plumbing is exercised for real.
    # The file itself only needs the zip magic — sniffing runs first.
    import pandas as pd

    from credit_card_etl_pipeline_spark.sources.ingest import (
        DEFAULT_BANK_SPECS,
        read_excel_statement,
    )

    def fake_read_excel(path, dtype=None, **kw):
        return pd.DataFrame(
            {
                "交易日期": [f"01/{i:02d}" for i in range(1, 13)],
                "交易說明": [f"SHOP{i}" for i in range(12)],
                "臺幣金額": [str(100 + i) for i in range(12)],
            }
        )

    monkeypatch.setattr(pd, "read_excel", fake_read_excel)
    spec = DEFAULT_BANK_SPECS[0]
    xlsx = tmp_path / "玉山_202401.xlsx"
    xlsx.write_bytes(b"PK\x03\x04 fake zip body")
    df = read_excel_statement(spark, str(xlsx), spec)
    rows = df.orderBy("pos").collect()
    assert dict(df.dtypes)["pos"] == "bigint"  # E2 ordering must be numeric
    assert [r["pos"] for r in rows] == list(range(12))
    assert rows[0][S.MERCHANT] == "SHOP0"
    assert rows[0]["base_year"] == 2024 and rows[0]["bill_month"] == 1


def test_empty_dir_yields_empty_canonical(spark, tmp_path):
    d = tmp_path / "s3"
    d.mkdir()
    (d / "notes.txt").write_text("not a statement")
    out = run_etl(spark, str(d))
    assert out.count() == 0
    assert set(S.ETL_OUTPUT_COLUMNS) == set(out.columns)


def test_vendored_xlsx_shared_strings_and_sparse_cells(tmp_path):
    # hand-built workbook exercising the t="s" sharedStrings branch and
    # sparse cell refs (B2 present, A2 missing -> '')
    import zipfile

    from credit_card_etl_pipeline_spark.sources.xlsx import read_xlsx_rows

    main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg = "http://schemas.openxmlformats.org/package/2006/relationships"
    path = tmp_path / "shared.xlsx"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(
            "[Content_Types].xml",
            '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/></Types>',
        )
        z.writestr(
            "_rels/.rels",
            f'<?xml version="1.0"?><Relationships xmlns="{pkg}">'
            '<Relationship Id="rId1" Type="t" Target="xl/workbook.xml"/></Relationships>',
        )
        z.writestr(
            "xl/workbook.xml",
            f'<?xml version="1.0"?><workbook xmlns="{main}" xmlns:r="{rel}">'
            '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        z.writestr(
            "xl/_rels/workbook.xml.rels",
            f'<?xml version="1.0"?><Relationships xmlns="{pkg}">'
            '<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>',
        )
        z.writestr(
            "xl/sharedStrings.xml",
            f'<?xml version="1.0"?><sst xmlns="{main}">'
            "<si><t>交易日期</t></si>"
            "<si><r><t>rich</t></r><r><t>text</t></r></si></sst>",
        )
        z.writestr(
            "xl/worksheets/sheet1.xml",
            f'<?xml version="1.0"?><worksheet xmlns="{main}"><sheetData>'
            '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
            '<row r="2"><c r="B2"><v>42</v></c></row>'
            "</sheetData></worksheet>",
        )
    assert read_xlsx_rows(str(path)) == [
        ["交易日期", "richtext"],
        ["", "42"],
    ]


def test_workbook_sniffing_ole2_and_html(spark, tmp_path, monkeypatch):
    """Magic-byte sniffing: true OLE2 .xls fails honestly; HTML
    masquerading as .xls parses through the HTML table path."""
    import pandas as pd
    import pytest

    from credit_card_etl_pipeline_spark.sources.ingest import (
        DEFAULT_BANK_SPECS,
        read_excel_statement,
        sniff_workbook_format,
    )

    def no_engine(path, dtype=None, **kw):
        raise ImportError("no excel engine")

    monkeypatch.setattr(pd, "read_excel", no_engine)
    spec = DEFAULT_BANK_SPECS[0]

    junk = tmp_path / "玉山_202401.dat"
    junk.write_bytes(b"\x00\x01\x02\x03 not a workbook at all")
    assert sniff_workbook_format(str(junk)) == "unknown"
    with pytest.raises(NotImplementedError, match="unrecognized workbook"):
        read_excel_statement(spark, str(junk), spec)

    # true OLE2 .xls now parses via the vendored BIFF8 reader
    from credit_card_etl_pipeline_spark.sources.xls import write_minimal_xls

    ole2 = tmp_path / "玉山_202401.xls"
    write_minimal_xls(
        str(ole2),
        [
            ["交易日期", "交易說明", "臺幣金額"],
            ["01/05", "超商", "89"],
            ["01/09", "書店", 450],
        ],
    )
    assert sniff_workbook_format(str(ole2)) == "xls"
    df = read_excel_statement(spark, str(ole2), spec)
    got = {r["pos"]: r for r in df.collect()}
    assert len(got) == 2
    assert got[1][S.MERCHANT] == "書店" and got[1][S.AMOUNT] == "450"
    assert got[0]["base_year"] == 2024 and got[0]["bill_month"] == 1

    cells = "".join(
        f"<tr><td>01/{i:02d}</td><td>SHOP{i}</td><td>{100 + i}</td></tr>"
        for i in range(1, 4)
    )
    html = tmp_path / "玉山_202402.xls"
    html.write_text(
        "<html><body><table><tr><th>交易日期</th><th>交易說明</th>"
        f"<th>臺幣金額</th></tr>{cells}</table></body></html>",
        encoding=spec.encoding,
    )
    assert sniff_workbook_format(str(html)) == "html"
    df = read_excel_statement(spark, str(html), spec)
    rows = df.orderBy("pos").collect()
    assert len(rows) == 3
    assert rows[0]["base_year"] == 2024 and rows[0]["bill_month"] == 2
