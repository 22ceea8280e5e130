"""Output checks of one op, computed apart from Spark.

* The warehouse holds, per bank and ``year_month`` partition, the
  manifest's row count and amount sum for that bank and transaction
  month, so a row dated in the month before its statement's (December
  rows of a January statement too) must land in its own month and year.
* Each report's group count and frequency/monetary totals equal a
  DuckDB query over the warehouse parquet that derives the report's
  groups from the rule tables on its own: prefix strip, exact lookup,
  then first matching regex for merchants; longest prefix for payment
  methods; the trailing-365-day window for cards.
"""

from __future__ import annotations

import os

import duckdb

EXCLUDE = "繳款|折抵|各項費用|手續費|年費|利息"


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _when_chain(cases: list[tuple[str, str]], default: str) -> str:
    return "CASE " + " ".join(f"WHEN {c} THEN {v}" for c, v in cases) + f" ELSE {default} END"


def merchant_sql(rules: list[dict], prefixes: list[str]) -> str:
    """Merchant report groups and totals.  ``rules`` are in priority
    order; an exact ``Replacement`` hit takes the first such rule's
    labels, otherwise the first rule whose pattern matches."""
    strip = "mn"
    for p in sorted({p.strip() for p in prefixes if p.strip()}, key=len):
        strip = (f"CASE WHEN starts_with(mn, {_q(p)}) "
                 f"THEN substr(mn, {len(p) + 1}) ELSE {strip} END")
    exact: dict[str, dict] = {}
    for r in rules:
        exact.setdefault(r["Replacement"].strip(), r)

    def excl(r):
        return "TRUE" if str(r.get("RFM_Exclusion")).strip().lower() == "true" else "FALSE"

    def resolve(field):
        cases = [(f"merchant_name IS NOT NULL AND sname = {_q(k)}", field(k, r))
                 for k, r in exact.items()]
        cases += [(f"merchant_name IS NOT NULL AND regexp_matches(sname, "
                   f"{_q('(?i)' + r['Pattern'])})", field(r["Replacement"].strip(), r))
                  for r in rules]
        return cases

    name = _when_chain(resolve(lambda k, r: _q(k)) + [
        ("merchant_name IS NULL", "'Unknown'"), ("sname <> ''", "sname")],
        "coalesce(merchant_name, '')")
    cat = _when_chain(resolve(lambda k, r: _q(r.get("Category") or "")), "'Unknown'")
    sub = _when_chain(resolve(lambda k, r: _q(r.get("Sub_Category") or "")), "''")
    ex = _when_chain(resolve(lambda k, r: excl(r)), "FALSE")
    return f"""
        WITH s AS (
            SELECT *, trim({strip}) AS sname
            FROM (SELECT *, trim(coalesce(merchant_name, '')) AS mn FROM wh)),
        r AS (SELECT *, {name} AS n, {cat} AS c, {sub} AS sc, {ex} AS x FROM s),
        f AS (SELECT * FROM r WHERE NOT coalesce(regexp_matches(transaction_type,
                                                  {_q(EXCLUDE)}), FALSE) AND NOT x)
        {_dual_window_sql("n, c, sc")}
    """


def payment_sql(payment_rules: list[dict]) -> str:
    prefixes = {}
    for r in payment_rules:
        if float(r.get("Priority") or 0) >= 20 and (r.get("Prefix_Label") or "").strip():
            prefixes[r["Prefix_Label"].strip()] = r["Category"].strip()
    method = _when_chain(
        [(f"starts_with(trim(merchant_name), {_q(p)})", _q(c))
         for p, c in sorted(prefixes.items(), key=lambda pc: -len(pc[0]))],
        "'實體卡/其他'")
    return f"""
        WITH f AS (SELECT *, {method} AS pm FROM wh
                   WHERE NOT coalesce(regexp_matches(transaction_type, {_q(EXCLUDE)}), FALSE))
        {_dual_window_sql("pm")}
    """


def _dual_window_sql(keys: str) -> str:
    return f"""
        , ad AS (SELECT max(transaction_date) + 1 AS d FROM f),
        g AS (SELECT {keys},
                count(DISTINCT transaction_id) AS lf, sum(payment_amount) AS lm,
                count(DISTINCT CASE WHEN transaction_date >= (SELECT d FROM ad) - 365
                                    THEN transaction_id END) AS sf,
                sum(CASE WHEN transaction_date >= (SELECT d FROM ad) - 365
                         THEN payment_amount END) AS sm
              FROM f GROUP BY {keys})
        SELECT count(*), sum(lf), sum(lm), sum(sf), coalesce(sum(sm), 0) FROM g
    """


CARD_SQL = f"""
    WITH f AS (SELECT * FROM wh
               WHERE NOT coalesce(regexp_matches(transaction_type, {_q(EXCLUDE)}), FALSE)
                 AND card_name IS NOT NULL AND card_name <> ''),
    w AS (SELECT * FROM f WHERE transaction_date >= (SELECT max(transaction_date) FROM f) - 365),
    g AS (SELECT bank_name, card_name, count(DISTINCT transaction_id) AS fr,
                 sum(payment_amount) AS mo
          FROM w GROUP BY 1, 2)
    SELECT count(*), sum(fr), sum(mo) FROM g
"""


class Checker:
    """DuckDB over the warehouse parquet; one connection per run."""

    def __init__(self, merchant_rules: list[dict], prefixes: list[str],
                 payment_rules: list[dict]) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.sql = {"merchant": merchant_sql(merchant_rules, prefixes),
                    "payment": payment_sql(payment_rules), "card": CARD_SQL}

    def close(self) -> None:
        self.con.close()

    def _view(self, wh_path: str) -> None:
        glob = os.path.join(wh_path, "*", "*.parquet")
        self.con.execute(f"CREATE OR REPLACE VIEW wh AS SELECT * FROM read_parquet("
                         f"{_q(glob)}, hive_partitioning = true)")

    def check(self, wh_path: str, expected: dict, observed: dict) -> list[str]:
        """Mismatches between the warehouse and the manifest's
        ``by_bank_month`` totals, and between each observed report (if
        the op made reports) and its DuckDB twin; empty when the op is
        correct."""
        self._view(wh_path)
        errors = []
        got = {f"{b}/{m}": (n, a) for b, m, n, a in self.con.execute(
            "SELECT bank_name, year_month, count(*), sum(payment_amount) "
            "FROM wh GROUP BY 1, 2").fetchall()}
        want = {k: (v["rows"], v["amount"]) for k, v in expected.items()}
        for k in sorted(set(got) | set(want)):
            g, w = got.get(k, (0, 0)), want.get(k, (0, 0))
            if g[0] != w[0] or not _close(g[1], w[1]):
                errors.append(f"warehouse {k}: rows/amount {g} != manifest {w}")
        for name, sql in self.sql.items() if observed else ():
            twin = self.con.execute(sql).fetchone()
            obs = observed[name]
            mine = [obs["groups"], obs["frequency"], obs["monetary"]]
            if name != "card":
                mine += [obs["short_frequency"], obs["short_monetary"]]
            if len(twin) != len(mine) or not all(map(_close, mine, twin)):
                errors.append(f"{name} report {mine} != duckdb {list(twin)}")
        return errors


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(float(a) - float(b)) <= 1e-6 * max(1.0, abs(float(b)))
