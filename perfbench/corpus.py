"""Seeded bank-statement corpus generator for the lifecycle benchmark.

The program under test sees only the files this module writes: the four
statement formats the paper's ingest layer reads, with the dirt real
statements carry.

* E.Sun (玉山) CSV, utf-8, ROC-calendar filename (``玉山銀行113年1月``),
  two preamble lines, card-header rows that the ingest forward-fills
  onto the rows below them, fused foreign rows
  (``NAME  PLACE MM/DD`` with a foreign amount), e.Point credit rows.
* Cathay (國泰世華) CSV, utf-8, a preamble line, dual card numbers
  (``5678/9012``), ``消費地/幣別`` country/currency pairs.
* CTBC (中信) CSV, cp950, foreign amount plus currency columns.
* Hua Nan (華南) HTML, big5, a decoy table before the statement table
  and ``卡別************1234`` card-header rows.

Every file has ``"1,234"``-style thousands separators, negative payment
rows (``繳款``), refunds, annual-fee rows (``年費``) and a few rows dated
``(null)``, which the ETL drops.  Merchants are
drawn from a Zipf-skewed vocabulary that hits the refine rule bundle
(``queries.refine_queries.REFINE_CONFIG``) at the rates in ``RATES``.

What the repository's statement fixtures (``fixtures/statements``) show
is reproduced: rows dated in the month before the billing month (a
``12/30`` row in a January statement, whose year the ETL must take from
the year before), dates that carry their year (``2024/02/10``) and
fullwidth merchant names (``ＬＩＮＥ　ＰＡＹ全家便利商店``).  The fixtures
hold 3-4 rows each, so the mix of row kinds, card numbers, merchants
and amounts cannot be measured from them: ``RATES``,
``PRIOR_MONTH_RATE``, ``CARD_RULE_RATE``, the Zipf weights and the
amount distribution are assumptions, not a measured traffic mix.

``generate`` writes ``statements/`` plus ``manifest.json`` and returns
the manifest: per file its bank, billing month, bytes, sha256, rows
written, rows the warehouse must hold and their amount sum, split by
the month each row is dated in, and the same totals per bank and per
bank and transaction month.  A seed gives a byte-identical corpus and
manifest.
"""

from __future__ import annotations

import collections
import hashlib
import itertools
import json
import os
import random
from dataclasses import dataclass

#: bank id (as the ingest layer names it) → encoding of its files
ENCODINGS = {
    "esun_bank": "utf-8",
    "cube_bank": "utf-8",
    "ctbc_bank": "cp950",
    "hncb_bank": "big5",
}
BANKS = tuple(ENCODINGS)

#: Share of rows of each kind; the rest are domestic purchases.  These
#: are assumptions: the repository has no real statement corpus to
#: measure them from.
RATES = {
    "payment": 0.02,   # 繳款 row, negative amount, excluded from RFM
    "annual_fee": 0.01,  # 年費 row, classified as a fee, excluded
    "refund": 0.02,    # negative amount on a shop merchant
    "foreign": 0.06,   # foreign-currency purchase
    "epoint": 0.01,    # E.Sun only: e.Point cash-back credit
    "bad_date": 0.005,  # "(null)" date: the ETL drops the row
}

#: Share of rows dated in the month before the billing month (the E.Sun
#: fixture has one such row in four; the share is an assumption).
PRIOR_MONTH_RATE = 0.05

#: Share of card numbers drawn from the refine card rules (1234 and the
#: Cathay dual number 5678/9012); the rest match no rule (an assumption).
CARD_RULE_RATE = 0.4

#: The first billing month of a corpus: January, so that a corpus of
#: more than a year has December rows in January statements.
FIRST_YEAR, FIRST_MONTH = 2022, 1

#: Domestic shop vocabulary, most frequent first (Zipf weights 1/rank,
#: an assumption, as are the Pareto amounts in ``_rows``).
#: The first entries hit the refine merchant rules (UBER EATS →
#: 優食外送, 星巴克/STARBUCKS → 星巴克) and payment rules (^LINEPAY*,
#: 悠遊付); the fullwidth LINE PAY names are written as the Cathay
#: fixture writes them.  All names encode in big5, the narrowest of the
#: four statement encodings.
SHOPS = (
    "全聯福利中心", "7-ELEVEN", "全家便利商店", "星巴克咖啡", "UBER EATS",
    "LINEPAY*全家便利商店", "家樂福", "麥當勞", "悠遊付 台北捷運",
    "STARBUCKS 信義", "好市多", "蝦皮購物", "momo購物網", "誠品書店",
    "中油", "台灣大車隊", "LINEPAY*麥當勞", "摩斯漢堡", "屈臣氏", "康是美",
    "寶雅", "台灣高鐵", "中華電信", "台電", "UBER EATS TAIPEI", "路易莎咖啡",
    "肯德基", "新光三越", "遠東SOGO", "美廉社", "頂好", "大創", "鼎泰豐",
    "八方雲集", "迷客夏", "五十嵐", "春水堂", "鬍鬚張", "爭鮮", "瓦城",
    "燦坤", "全國電子", "特力屋", "小北百貨", "博客來", "台灣大哥大",
    "遠傳", "自來水", "威秀影城", "國光客運", "PChome", "IKEA", "NETFLIX",
    "SPOTIFY", "GOOGLE", "悠遊付 加值", "ＬＩＮＥ　ＰＡＹ全家便利商店",
    "ＬＩＮＥ　ＰＡＹ麥當勞",
)
#: Long tail: distinct small shops, so the merchant report has many
#: groups that resolve to Unknown.
TAIL_SHOPS = 200

FOREIGN = (
    # (merchant, place, ISO-3 country, currency, foreign per TWD)
    ("AMAZON.CO.JP", "CHIYODA-KU", "JPN", "JPY", 4.6),
    ("AMAZON US", "SEATTLE", "USA", "USD", 0.031),
    ("UNIQLO GINZA", "TOKYO", "JPN", "JPY", 4.6),
    ("AGODA", "SINGAPORE", "SGP", "SGD", 0.042),
    ("APPLE.COM/BILL", "CUPERTINO", "USA", "USD", 0.031),
)

PAYMENT_TEXT = ("信用卡繳款感謝您 轉帳", "網路銀行繳款")
CARDS = {
    # bank → (card-header card types, card numbers); on Cathay and CTBC
    # the first number is the one a card rule maps
    "esun_bank": (("Unicard", "Pi拍錢包信用卡"), ("1234", "4321")),
    "cube_bank": ((), ("5678/9012", "3456", "9876")),
    "ctbc_bank": ((), ("1234", "2222", "7777")),
    "hncb_bank": (("旅鉅卡", "i網購生活卡"), ("3333", "8888")),
}


@dataclass(frozen=True)
class Shape:
    """Corpus size: billing months × banks × files per bank-month, each
    file holding ``rows`` transaction rows."""

    months: int
    files: int
    rows: int


def month_of(i: int) -> tuple[int, int]:
    """Calendar (year, month) of month index ``i``; -1 is the month
    before the first billing month."""
    k = FIRST_YEAR * 12 + FIRST_MONTH - 1 + i
    return k // 12, k % 12 + 1


def _file_name(bank: str, year: int, month: int, part: int, nparts: int) -> str:
    tag = f"_p{part:02d}" if nparts > 1 else ""
    if bank == "esun_bank":
        return f"玉山銀行{year - 1911}年{month}月{tag}.csv"
    if bank == "cube_bank":
        return f"國泰世華_{year}{month:02d}{tag}.csv"
    if bank == "ctbc_bank":
        return f"中信_{year}{month:02d}{tag}.csv"
    return f"華南_{year}{month:02d}{tag}.html"


def _amount_text(v: int | float) -> str:
    """Statement rendering: thousands separators, two decimals only
    when the value has cents."""
    if isinstance(v, float) and v != int(v):
        return f"{v:,.2f}"
    return f"{int(v):,}"


def _shop(rng: random.Random, cum_weights: list[float]) -> str:
    i = rng.choices(range(len(cum_weights)), cum_weights=cum_weights)[0]
    return SHOPS[i] if i < len(SHOPS) else f"小店{i - len(SHOPS):03d}號"


def _rows(rng: random.Random, bank: str, i: int, n: int,
          cum_weights: list[float]) -> list[dict]:
    """``n`` transaction rows of the file of billing month index ``i``,
    in statement order, each with its kind, (year, month, day),
    merchant, TWD amount and foreign fields."""
    cum_rates = list(itertools.accumulate(RATES.values()))
    out = []
    for _ in range(n):
        day = rng.randint(1, 28)
        prior = rng.random() < PRIOR_MONTH_RATE
        u = rng.random()
        kind = next((k for k, c in zip(RATES, cum_rates) if u < c), "purchase")
        if kind == "epoint" and bank != "esun_bank":
            kind = "purchase"
        row = {"kind": kind, "date": (*month_of(i - prior), day), "foreign": None}
        if kind == "payment":
            row.update(merchant=rng.choice(PAYMENT_TEXT),
                       amount=-rng.randrange(1000, 30000, 100))
        elif kind == "annual_fee":
            row.update(merchant="年費", amount=rng.choice((1200, 1800, 3000)))
        elif kind == "refund":
            row.update(merchant=_shop(rng, cum_weights), amount=-rng.randint(50, 3000))
        elif kind == "foreign":
            name, place, iso3, cur, rate = rng.choice(FOREIGN)
            twd = rng.randint(100, 20000)
            row.update(merchant=name, amount=twd,
                       foreign=(place, iso3, cur, round(twd * rate, 2)))
        elif kind == "epoint":
            cash = rng.choice((50, 100, 300))
            row.update(merchant=f"使用e point {cash * 10:,} 點折現金 {cash} 元",
                       amount=-cash)
        else:  # purchase, or a bad-date row that looks like one
            row.update(merchant=_shop(rng, cum_weights),
                       amount=min(int(rng.paretovariate(1.3) * 60), 200_000))
        out.append(row)
    return out


def _date(row: dict) -> str:
    """Statement ``MM/DD`` of a row; ``(null)`` on bad-date rows."""
    _, month, day = row["date"]
    return "(null)" if row["kind"] == "bad_date" else f"{month:02d}/{day:02d}"


def _post(month: int, row: dict) -> str:
    """Posting date: the day after the transaction, in the billing month."""
    return f"{month:02d}/{min(row['date'][2] + 1, 28):02d}"


def _card_no(rng: random.Random, bank: str) -> str:
    numbers = CARDS[bank][1]
    return numbers[0] if rng.random() < CARD_RULE_RATE else rng.choice(numbers[1:])


def _field(text: str) -> str:
    """CSV field, quoted when it holds a comma."""
    return f'"{text}"' if "," in text else text


def _esun(rng, year, month, rows) -> str:
    lines = ["帳單資訊,,,,,", "歡迎使用網路帳單,,,,,",
             "交易日期,入帳日期,卡號末四碼,交易說明,外幣金額,臺幣金額"]
    types, numbers = CARDS["esun_bank"]
    # card-header rows split the rows into runs; the ingest forward-fills
    # each header's card onto the rows below it
    cut = rng.randint(1, max(1, len(rows) - 1)) if len(rows) > 1 else len(rows)
    for j, (typ, no) in enumerate(zip(types, numbers)):
        seg = rows[:cut] if j == 0 else rows[cut:]
        if not seg:
            continue
        d = f"{month:02d}/{seg[0]['date'][2]:02d}"
        lines.append(f"{d},{d},,卡號：XXXX-XXXX-XXXX-{no}（{typ}－正卡）,,")
        for r in seg:
            d, post = _date(r), _post(month, r)
            fx = ""
            merchant = r["merchant"]
            if r["foreign"]:
                place, iso3, _, famt = r["foreign"]
                merchant = f"{merchant}  {iso3} {place} {d}"
                fx = f'"{_amount_text(famt)}"'
            lines.append(f'{d},{post},,{_field(merchant)},{fx},"{_amount_text(r["amount"])}"')
    return "\n".join(lines) + "\n"


def _cube(rng, year, month, rows) -> str:
    lines = ["國泰世華帳單,,,,,,",
             "交易日,入帳日,卡號末四碼,交易說明,臺幣金額,消費地/幣別,信用卡號"]
    for r in rows:
        d, post = _date(r), _post(month, r)
        if rng.random() < 0.2 and r["kind"] != "bad_date":  # some carry the year
            d = f"{r['date'][0]}/{d}"
        where = "TW / TWD"
        if r["foreign"]:
            place, iso3, cur, _ = r["foreign"]
            where = f"{iso3} {place} / {cur}"
        lines.append(f'{d},{post},{_card_no(rng, "cube_bank")},{_field(r["merchant"])},'
                     f'"{_amount_text(r["amount"])}",{where},****')
    return "\n".join(lines) + "\n"


def _ctbc(rng, year, month, rows) -> str:
    lines = ["歡迎使用中國信託帳單,,,,,,",
             "消費日期,入帳日期,卡號末四碼,商店名稱,臺幣金額,外幣金額,幣別"]
    for r in rows:
        d, post = _date(r), _post(month, r)
        fx, cur = "", ""
        if r["foreign"]:
            _, _, cur, famt = r["foreign"]
            fx = f'"{_amount_text(famt)}"'
        lines.append(f'{d},{post},{_card_no(rng, "ctbc_bank")},{_field(r["merchant"])},'
                     f'"{_amount_text(r["amount"])}",{fx},{cur}')
    return "\n".join(lines) + "\n"


def _hncb(rng, year, month, rows) -> str:
    cell = "<td>{}</td>".format
    out = ["<html><body>", "<table><tr><td>華南銀行信用卡帳單</td></tr></table>",
           "<table>",
           "<tr><th>交易日期</th><th>入帳日期</th><th>卡號末四碼</th>"
           "<th>摘要</th><th>金額</th></tr>"]
    types, numbers = CARDS["hncb_bank"]
    typ, no = rng.choice(list(zip(types, numbers)))
    if rows:
        d = f"{month:02d}/{rows[0]['date'][2]:02d}"
        out.append("<tr>" + cell(d) + cell(d) + cell("")
                   + cell(f"{typ}************{no}") + cell("") + "</tr>")
    for r in rows:
        d, post = _date(r), _post(month, r)
        out.append("<tr>" + cell(d) + cell(post) + cell("") + cell(r["merchant"])
                   + cell(_amount_text(r["amount"])) + "</tr>")
    out += ["</table>", "</body></html>"]
    return "\n".join(out) + "\n"


_RENDER = {"esun_bank": _esun, "cube_bank": _cube, "ctbc_bank": _ctbc, "hncb_bank": _hncb}


def generate(out_dir: str, shape: Shape, seed: int) -> dict:
    """Write the statements under ``out_dir/statements`` and return the
    manifest, also written to ``out_dir/manifest.json``."""
    stmt_dir = os.path.join(out_dir, "statements")
    os.makedirs(stmt_dir, exist_ok=True)
    n_vocab = len(SHOPS) + TAIL_SHOPS
    cum_weights = list(itertools.accumulate(1.0 / (i + 1) for i in range(n_vocab)))
    files = []
    for i in range(shape.months):
        year, month = month_of(i)
        for bank in BANKS:
            for part in range(shape.files):
                rng = random.Random(f"{seed}:{bank}:{year}-{month:02d}:{part}")
                rows = _rows(rng, bank, i, shape.rows, cum_weights)
                text = _RENDER[bank](rng, year, month, rows)
                data = text.encode(ENCODINGS[bank])  # strict: no lossy bytes
                name = _file_name(bank, year, month, part, shape.files)
                with open(os.path.join(stmt_dir, name), "wb") as fh:
                    fh.write(data)
                kinds = collections.Counter(r["kind"] for r in rows)
                by_month: dict[str, dict] = {}
                for r in rows:
                    if r["kind"] != "bad_date":
                        agg = by_month.setdefault("{}-{:02d}".format(*r["date"]),
                                                  {"rows": 0, "amount": 0})
                        agg["rows"] += 1
                        agg["amount"] += r["amount"]
                files.append({
                    "name": name, "bank": bank, "month": f"{year}-{month:02d}",
                    "bytes": len(data), "sha256": hashlib.sha256(data).hexdigest(),
                    "written_rows": len(rows),
                    "rows": sum(v["rows"] for v in by_month.values()),
                    "amount": sum(v["amount"] for v in by_month.values()),
                    "by_month": dict(sorted(by_month.items())),
                    "kinds": dict(sorted(kinds.items())),
                })
    manifest = {"seed": seed, "shape": shape.__dict__, "files": files,
                "totals": summarize(files)}
    with open(os.path.join(out_dir, "manifest.json"), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, ensure_ascii=False, indent=1, sort_keys=True)
        fh.write("\n")
    return manifest


def summarize(files: list[dict]) -> dict:
    """Files, bytes, rows written, rows the warehouse must hold (all but
    the bad-date rows) and their amount sum, overall and per bank; rows
    and amount per bank and transaction month (the warehouse's
    ``year_month``); row counts per kind."""
    out = {"files": 0, "bytes": 0, "written_rows": 0, "rows": 0, "amount": 0, "kinds": {},
           "by_bank": {}, "by_bank_month": {}}
    for f in files:
        for agg in (out, out["by_bank"].setdefault(f["bank"], {})):
            agg["files"] = agg.get("files", 0) + 1
            for k in ("bytes", "written_rows", "rows", "amount"):
                agg[k] = agg.get(k, 0) + f[k]
        for ym, v in f["by_month"].items():
            agg = out["by_bank_month"].setdefault(f"{f['bank']}/{ym}", {"rows": 0, "amount": 0})
            agg["rows"] += v["rows"]
            agg["amount"] += v["amount"]
        for k, v in f["kinds"].items():
            out["kinds"][k] = out["kinds"].get(k, 0) + v
    return out

