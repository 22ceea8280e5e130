"""Tests of the benchmark's own parts that need no Spark session: the
corpus generator, the merchant rule table and the warehouse check.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import corpus  # noqa: E402

SHAPE = corpus.Shape(months=3, files=2, rows=40)


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_same_seed_gives_identical_corpus_and_manifest(tmp_path):
    a = corpus.generate(str(tmp_path / "a"), SHAPE, seed=7)
    b = corpus.generate(str(tmp_path / "b"), SHAPE, seed=7)
    assert a == b
    ta, tb = _tree(str(tmp_path / "a")), _tree(str(tmp_path / "b"))
    assert ta == tb
    assert "manifest.json" in ta and len(ta) == 1 + 4 * SHAPE.months * SHAPE.files


def test_different_seed_gives_different_corpus(tmp_path):
    corpus.generate(str(tmp_path / "a"), SHAPE, seed=7)
    corpus.generate(str(tmp_path / "b"), SHAPE, seed=8)
    ta, tb = _tree(str(tmp_path / "a")), _tree(str(tmp_path / "b"))
    assert ta.keys() == tb.keys()
    changed = [k for k in ta if k != "manifest.json" and ta[k] != tb[k]]
    assert len(changed) == len(ta) - 1


def _data_rows(bank: str, text: str) -> int:
    """Transaction rows of a statement, read from the file's own format:
    lines after the header, less the card-header rows."""
    if bank == "hncb_bank":
        rows = [r for r in text.split("<tr>")[1:] if "<td>" in r]
        body = rows[1:]  # the decoy table's one row
        return sum(1 for r in body if "************" not in r)
    lines = text.splitlines()
    keyword = {"esun_bank": "交易日期", "cube_bank": "信用卡號", "ctbc_bank": "消費日期"}[bank]
    header = next(i for i, ln in enumerate(lines) if keyword in ln)
    return sum(1 for ln in lines[header + 1:] if ln.strip() and "卡號：" not in ln)


def test_manifest_matches_files_on_disk(tmp_path):
    m = corpus.generate(str(tmp_path), SHAPE, seed=3)
    with open(tmp_path / "manifest.json", encoding="utf-8") as fh:
        assert json.load(fh) == m
    stmt = tmp_path / "statements"
    assert sorted(os.listdir(stmt)) == sorted(f["name"] for f in m["files"])
    for f in m["files"]:
        data = (stmt / f["name"]).read_bytes()
        assert len(data) == f["bytes"]
        assert hashlib.sha256(data).hexdigest() == f["sha256"]
        text = data.decode(corpus.ENCODINGS[f["bank"]])  # strict decode
        assert _data_rows(f["bank"], text) == f["written_rows"]
        assert f["written_rows"] - f["rows"] == f["kinds"].get("bad_date", 0)
        assert text.count("(null)") == f["kinds"].get("bad_date", 0)
    t = m["totals"]
    assert t["files"] == len(m["files"]) == 4 * SHAPE.months * SHAPE.files
    assert t["rows"] == sum(v["rows"] for f in m["files"] for v in f["by_month"].values())
    assert t["bytes"] == sum(f["bytes"] for f in m["files"])
    assert t["rows"] == sum(v["rows"] for v in t["by_bank_month"].values())
    assert t["amount"] == sum(v["amount"] for v in t["by_bank"].values())
    assert sum(t["kinds"].values()) == t["written_rows"]


def test_merchant_rules_reject_a_split_replacement(tmp_path):
    from lifecycle import load_merchant_rules

    rules = load_merchant_rules(os.path.join(HERE, "merchants.csv"))
    assert rules and all(r["Replacement"] for r in rules)
    bad = tmp_path / "merchants.csv"
    bad.write_text(
        "Pattern,Replacement,Priority,Category,Sub_Category,RFM_Exclusion\n"
        "星巴克,星巴克,80,餐飲,咖啡,False\n"
        "STARBUCKS,星巴克,70,餐飲,飲料,False\n", encoding="utf-8")
    with pytest.raises(ValueError, match="星巴克"):
        load_merchant_rules(str(bad))


def test_check_flags_a_warehouse_that_differs_from_the_manifest(tmp_path):
    import duckdb

    from check import Checker

    wh = tmp_path / "wh"
    con = duckdb.connect()
    con.execute(f"""COPY (SELECT * FROM (VALUES
        ('esun_bank', '2022-01', DATE '2022-01-05', 100.0),
        ('esun_bank', '2022-01', DATE '2022-01-06', -30.0),
        ('ctbc_bank', '2022-02', DATE '2022-02-01', 7.0))
        t(bank_name, year_month, transaction_date, payment_amount))
        TO '{wh}' (FORMAT PARQUET, PARTITION_BY (year_month))""")
    con.close()
    checker = Checker([], [], [])
    good = {"esun_bank/2022-01": {"rows": 2, "amount": 70},
            "ctbc_bank/2022-02": {"rows": 1, "amount": 7}}
    assert checker.check(str(wh), good, None) == []
    lost = dict(good, **{"ctbc_bank/2022-02": {"rows": 2, "amount": 7}})
    assert checker.check(str(wh), lost, None)
    extra = {"esun_bank/2022-01": good["esun_bank/2022-01"]}
    assert checker.check(str(wh), extra, None)
    checker.close()


def test_benchmark_json_names_what_the_run_reports():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {m["name"] for m in spec["end_to_end"]} == set(run.END_TO_END)


def test_statements_carry_rows_of_the_month_before(tmp_path):
    """Rows are dated in the billing month or the month before, as in the
    E.Sun fixture; January statements hold December rows of the year
    before, and the manifest books each row under its own month."""
    m = corpus.generate(str(tmp_path), SHAPE, seed=3)
    ym = ["{}-{:02d}".format(*corpus.month_of(i)) for i in range(-1, SHAPE.months)]
    assert ym[1].endswith("-01") and ym[0].endswith("-12")
    for f in m["files"]:
        i = ym.index(f["month"])
        assert set(f["by_month"]) <= {ym[i - 1], ym[i]}
    january = [f for f in m["files"] if f["month"] == ym[1]]
    assert sum(f["by_month"].get(ym[0], {}).get("rows", 0) for f in january) > 0
    assert {k.split("/")[1] for k in m["totals"]["by_bank_month"]} == set(ym)
