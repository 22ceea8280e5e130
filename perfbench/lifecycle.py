"""One benchmark op: statement files → warehouse → three RFM reports.

The op calls only the engine's public functions, in the order of
``examples/run_pipeline.py`` extended to the paper's three reports:

    plans.etl.run_etl → plans.refine.refine(REFINE_CONFIG)
      → warehouse.to_warehouse → warehouse.write_warehouse
      → merchant RFM: operators.merchants.resolve_merchant_hybrid
                      → operators.rfm.rfm_dual_window → label_merchant_segment
      → payment RFM:  operators.payments.identify_payment_method
                      → rfm_dual_window → label_payment_segment
      → card RFM:     rfm_aggregate (trailing 365 days) → with_avg_ticket
                      → label_card_segment

Each report goes into a noop sink; an ``Observation`` on it returns the
group count and frequency/monetary totals that the output check
compares, without another job.

Untraced, the chain runs as the engine plans it.  Traced
(``Tracer``), every layer runs inside its own span and its output is
materialised there, so the span holds that layer's work; each span also
sets a Spark job group, from which the tracer counts jobs and stages.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import time
from collections.abc import Iterator

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from credit_card_etl_pipeline_spark.functions import caching
from credit_card_etl_pipeline_spark.operators import payments, rfm
from credit_card_etl_pipeline_spark.operators.merchants import resolve_merchant_hybrid
from credit_card_etl_pipeline_spark.plans.etl import run_etl
from credit_card_etl_pipeline_spark.plans.refine import refine
from credit_card_etl_pipeline_spark.queries.refine_queries import REFINE_CONFIG
from credit_card_etl_pipeline_spark.sources.configs import load_rule_csv
from credit_card_etl_pipeline_spark.warehouse import to_warehouse, write_warehouse

#: Payment prefixes the refine step stitches onto merchant names; the
#: merchant report strips them and the payment report maps them back.
PAYMENT_RULES = REFINE_CONFIG.payment_rules
STRIP_PREFIXES = [r["Prefix_Label"] for r in PAYMENT_RULES]

MERCHANT_KEYS = ["clean_merchant_name", "Category", "Sub_Category"]
CARD_WINDOW_DAYS = 365


def load_merchant_rules(path: str) -> list[dict]:
    """merchants.csv → priority-sorted rules, refusing a table in which
    one ``Replacement`` maps to two (Category, Sub_Category) pairs: the
    merchant report groups by all three, so such a table would split
    one merchant into two report rows."""
    rules = load_rule_csv(path)
    seen: dict[str, tuple[str, str]] = {}
    for r in rules:
        key = r["Replacement"].strip()
        cats = (r.get("Category") or "", r.get("Sub_Category") or "")
        if seen.setdefault(key, cats) != cats:
            raise ValueError(
                f"{path}: Replacement {key!r} maps to both {seen[key]} and {cats}"
            )
    return rules


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory, one
    Spark job group per span."""

    def __init__(self, spark: SparkSession, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[dict]:
        rec = {"id": f"{self.run_id}/{len(self.spans)}", "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def resolve_counts(self) -> None:
        """Jobs and stages per span from the status tracker, children
        included; call once the run is over."""
        st = self.sc.statusTracker()
        own = {}
        for rec in self.spans:
            jobs = list(st.getJobIdsForGroup(rec["id"]))
            stages = sum(len(info.stageIds) for info in map(st.getJobInfo, jobs) if info)
            own[rec["id"]] = (len(jobs), stages)
        for rec in self.spans:
            rec["jobs"], rec["stages"] = own[rec["id"]]
        for rec in reversed(self.spans):  # children come after parents
            if rec["parent"] is not None:
                parent = next(p for p in self.spans if p["id"] == rec["parent"])
                parent["jobs"] += rec["jobs"]
                parent["stages"] += rec["stages"]
        for rec in self.spans:
            kids = [c for c in self.spans if c["parent"] == rec["id"]]
            rec["self_s"] = (rec["end"] - rec["start"]) - sum(
                c["end"] - c["start"] for c in kids)


class Lifecycle:
    """The op's chain bound to one session and rule table."""

    def __init__(self, spark: SparkSession, merchant_rules: list[dict]) -> None:
        self.spark = spark
        self.merchant_rules = merchant_rules
        self._n = 0

    def load(self, stmt_dir: str, wh_path: str, *, expected_rows: int,
             tracer: Tracer | None = None) -> dict:
        """Statements → warehouse; returns the layer frames for the
        traced counters (materialised only when traced)."""
        span = tracer.span if tracer else _no_span
        with span("sources.ingest"):
            raw = run_etl(self.spark, stmt_dir)
        if tracer:
            with span("plans.etl"):
                raw = _materialise(raw)
        with span("plans.refine"):
            refined = refine(raw, REFINE_CONFIG)
            if tracer:
                refined = _materialise(refined)
        with span("warehouse"):
            rows = write_warehouse(to_warehouse(refined), wh_path,
                                   expected_rows=expected_rows)
        return {"raw": raw, "refined": refined, "rows": rows}

    def reports(self, wh_path: str, tracer: Tracer | None = None) -> dict:
        """The three reports over the warehouse, each into a noop sink;
        returns each report's observed group count and totals."""
        span = tracer.span if tracer else _no_span
        self._n += 1
        table = self.spark.read.parquet(wh_path)
        out = {}
        with span("operators.rfm"):
            for name, build in (("merchant", self.merchant_report),
                                ("payment", self.payment_report),
                                ("card", self.card_report)):
                with span(f"operators.rfm.{name}"):
                    report, freq, mon = build(table)
                    aggs = [F.count(F.lit(1)).alias("groups"),
                            F.sum(freq).alias("frequency"), F.sum(mon).alias("monetary")]
                    if name != "card":
                        aggs += [F.sum("short_frequency").alias("short_frequency"),
                                 F.sum("short_monetary").alias("short_monetary")]
                    obs = Observation(f"{name}_{self._n}")
                    report.observe(obs, *aggs).write.mode("overwrite").format("noop").save()
                    out[name] = obs.get
        return out

    def resolved(self, table: DataFrame) -> DataFrame:
        return resolve_merchant_hybrid(table, self.merchant_rules, STRIP_PREFIXES,
                                       merchant_col="merchant_name")

    def merchant_report(self, table: DataFrame) -> tuple[DataFrame, str, str]:
        df = rfm.exclude_bank_noise(self.resolved(table)).where(~F.col("RFM_Exclusion"))
        res = rfm.rfm_dual_window(df, MERCHANT_KEYS, date_col="transaction_date",
                                  id_col="transaction_id", amount_col="payment_amount")
        return (res.withColumn("segment", rfm.label_merchant_segment()),
                "life_frequency", "life_monetary")

    def payment_report(self, table: DataFrame) -> tuple[DataFrame, str, str]:
        df = payments.identify_payment_method(table, PAYMENT_RULES,
                                              merchant_col="merchant_name",
                                              out="payment_method")
        res = rfm.rfm_dual_window(rfm.exclude_bank_noise(df), ["payment_method"],
                                  date_col="transaction_date",
                                  id_col="transaction_id", amount_col="payment_amount")
        return (res.withColumn("segment", rfm.label_payment_segment()),
                "life_frequency", "life_monetary")

    def card_report(self, table: DataFrame) -> tuple[DataFrame, str, str]:
        clean = rfm.exclude_bank_noise(table).where(
            F.col("card_name").isNotNull() & (F.col("card_name") != ""))
        analysis_date = rfm.analysis_date_of(clean, "transaction_date")
        cutoff = analysis_date - dt.timedelta(days=CARD_WINDOW_DAYS + 1)
        win = clean.where(F.col("transaction_date") >= F.lit(cutoff))
        agg = rfm.rfm_aggregate(win, ["bank_name", "card_name"],
                                date_col="transaction_date", id_col="transaction_id",
                                amount_col="payment_amount", analysis_date=analysis_date,
                                rank_metrics=("f", "m"))
        report = rfm.with_avg_ticket(agg).withColumn("segment", rfm.label_card_segment())
        return report, "frequency", "monetary"


def release(spark: SparkSession) -> int:
    """Drop everything an op left cached, so that op k's cache neither
    serves op k+1 nor counts towards its memory; fail if a persisted RDD
    survives.  The engine's own release (``caching.release_tracked`` and
    the SQL cache) misses ``run_etl``'s localCheckpoint blocks; those
    are unpersisted through the context, and their number returned."""
    caching.release_tracked()
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    missed = list(jsc.getPersistentRDDs().values())
    for rdd in missed:
        rdd.unpersist(True)
    left = jsc.getPersistentRDDs().size()
    if left:
        raise RuntimeError(f"{left} persisted RDDs survived the op")
    return len(missed)


def _materialise(df: DataFrame) -> DataFrame:
    df = caching.track(df.persist())
    df.count()
    return df


@contextlib.contextmanager
def _no_span(name: str) -> Iterator[None]:
    yield None
