#!/usr/bin/env python3
"""Lifecycle benchmark: seeded bank-statement files → warehouse → three
RFM reports, in one Spark application on ``local[nproc]``.

    python3 perfbench/run.py --workload history_large_statements \\
        --seed 1 --seconds 1 --trace 0

Run from the repository root.  Set-up starts the Spark session and
generates the workload's corpus (``corpus.py``).  Then ops run as a
closed loop with one client until ``--seconds`` have passed since the
first began; the first op of a fresh process is the one a monthly
command-line user pays for, JVM and codegen warm-up included.  On this
engine one op takes most of a minute, so with ``--seconds 1`` a run is
one op.  Each op's outputs are checked (``check.py``) and a failed check
fails the op.  After each op every cached frame and persisted RDD is
dropped, and the op fails if one survives.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones of ``BENCHMARK.json`` (see ``END_TO_END`` for how they
are timed).  With ``--trace 1`` the first op
runs traced (``lifecycle.Tracer``) and gives the per-layer metrics of a
cold op; then three warm loads run, untraced, traced, untraced on an
even seed and traced, untraced, traced on an odd one, and the mean
traced load less the mean untraced one is the tracing overhead.  The
JVM is still warming up over these loads: the symmetric order cancels
a steady drift within a run, and flipping it between seeds cancels
what is left across runs.  Then the ambient canary of ``bench.py``
runs.  The line before the last records the host.  Spans and the full
record are written to ``.perfbench_run/<workload>-s<seed>-<pid>/``.

Which end-to-end metric each layer should move, and where:

* ``session``: ``start_s`` is most of ``setup_s``, on both workloads.
* ``sources.ingest``: ``cold_run_s``, ``cold_run_cpu_s`` and
  ``load_cpu_s`` on ``history_many_files``; flat on
  ``history_large_statements``.
* ``plans.etl``, ``plans.refine``: ``cold_run_s``, ``cold_run_cpu_s``
  and ``load_cpu_s`` on ``history_large_statements``.
* ``warehouse``: ``load_cpu_s`` on ``history_large_statements``;
  ``stored_bytes_per_input_byte`` on both.
* ``operators.rfm``, ``operators.merchants``: ``cold_run_s`` and
  ``cold_run_cpu_s`` on ``history_large_statements``.  The op of
  ``history_many_files`` stops at the warehouse; its trace run times the
  reports after the op, so every per-layer metric exists on both
  workloads.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from dataclasses import dataclass

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import corpus  # noqa: E402  (same directory)


@dataclass(frozen=True)
class Workload:
    shape: corpus.Shape
    reports: bool  # does the op go on from the warehouse to the reports


#: Why each workload exists is in BENCHMARK.json.  Sizes keep a run near
#: one minute on a 4-core host, so that a comparison of two commits over
#: a few dozen runs fits in an hour.
WORKLOADS = {
    # 960 statements of 4 rows: fixed and per-file ingest cost
    "history_many_files": Workload(corpus.Shape(months=24, files=10, rows=4), False),
    # 96 statements of 500 rows: per-row work in every layer
    "history_large_statements": Workload(corpus.Shape(months=24, files=1, rows=500), True),
}
SETUP_REPEATS = 3
#: seconds between two samples of the process tree's resident memory
RSS_PERIOD_S = 0.5

#: end-to-end metric → unit.  ``setup_s`` is wall time from process
#: start to the first op, ``cold_run_s`` the first op's wall time, the
#: latency a user pays.  The op is also timed in CPU seconds of the
#: process tree (this process, the JVM, its Python workers), which
#: other tenants of a shared host swing less than its wall time.
END_TO_END = {
    "setup_s": "s",
    "cold_run_s": "s",
    "cold_run_cpu_s": "s",
    "load_cpu_s": "s",
    "ok_ops_ratio": "ratio",
    "stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MiB",
}

#: per-layer metric → unit; times and job/stage counts come from the
#: spans, the rest from counters taken after the traced op.
PER_LAYER = {
    "session.start_s": "s",
    "sources.ingest.build_s": "s",
    "sources.ingest.jobs": "count",
    "sources.ingest.stages": "count",
    "sources.ingest.files": "count",
    "sources.ingest.bytes": "bytes",
    "sources.ingest.lines": "count",
    "sources.ingest.routed_ratio": "ratio",
    "plans.etl.exec_s": "s",
    "plans.etl.jobs": "count",
    "plans.etl.stages": "count",
    "plans.etl.rows_out": "count",
    "plans.etl.rows_per_line": "ratio",
    "plans.etl.null_date_rows": "count",
    "plans.etl.null_amount_rows": "count",
    "plans.refine.s": "s",
    "plans.refine.jobs": "count",
    "plans.refine.stages": "count",
    "plans.refine.card_rule_hit_ratio": "ratio",
    "plans.refine.payment_tag_ratio": "ratio",
    "plans.refine.merchant_rule_hit_ratio": "ratio",
    "plans.refine.unclassified_rows": "count",
    "warehouse.write_s": "s",
    "warehouse.jobs": "count",
    "warehouse.stages": "count",
    "warehouse.rows": "count",
    "warehouse.bytes": "bytes",
    "warehouse.files": "count",
    "warehouse.partitions": "count",
    "warehouse.bytes_per_row": "bytes/row",
    "operators.rfm.merchant_s": "s",
    "operators.rfm.payment_s": "s",
    "operators.rfm.card_s": "s",
    "operators.rfm.jobs": "count",
    "operators.rfm.stages": "count",
    "operators.rfm.merchant_groups": "count",
    "operators.rfm.payment_groups": "count",
    "operators.rfm.card_groups": "count",
    "operators.merchants.unknown_ratio": "ratio",
    "trace.cold_op_s": "s",
    "trace.load_s": "s",
    "trace.untraced_load_s": "s",
    "trace.overhead_s": "s",
}

#: per-layer time or count → (span, field) of the cold traced op
SPAN_FIELDS = {
    "sources.ingest.build_s": ("sources.ingest", "s"),
    "plans.etl.exec_s": ("plans.etl", "s"),
    "plans.refine.s": ("plans.refine", "s"),
    "warehouse.write_s": ("warehouse", "s"),
    "operators.rfm.merchant_s": ("operators.rfm.merchant", "s"),
    "operators.rfm.payment_s": ("operators.rfm.payment", "s"),
    "operators.rfm.card_s": ("operators.rfm.card", "s"),
    **{f"{layer}.{what}": (layer, what)
       for layer in ("sources.ingest", "plans.etl", "plans.refine", "warehouse",
                     "operators.rfm")
       for what in ("jobs", "stages")},
}


class ProcTree:
    """This process and its descendants (the JVM and its Python
    workers): a sampler thread keeps the peak of their summed RSS, and
    ``cpu_s`` reads their summed CPU time."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _stats(self) -> dict[int, list[str]]:
        """/proc/<pid>/stat fields after the command name, per process
        of the tree."""
        stat = {}
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    stat[int(pid)] = fh.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue  # the process ended while we looked
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, f in stat.items() if int(f[1]) == p and c not in tree]
            tree.update(kids)
            frontier += kids
        return {p: stat[p] for p in tree if p in stat}

    def descendants(self) -> set[int]:
        return set(self._stats()) - {os.getpid()}

    def _rss(self) -> int:
        # field 24 of /proc/<pid>/stat: resident pages
        return sum(int(f[21]) for f in self._stats().values()) * self._page

    def cpu_s(self) -> float:
        """User and system CPU seconds of the tree, reaped children
        included (fields 14-17 of /proc/<pid>/stat)."""
        return sum(sum(map(int, f[11:15])) for f in self._stats().values()) / self._tick

    def _loop(self) -> None:
        while not self._stop.wait(RSS_PERIOD_S):
            self.peak = max(self.peak, self._rss())

    def stop(self) -> float:
        """Stop sampling; the peak in MiB."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join()
        return self.peak / 2**20


def dir_stats(path: str, suffix: str) -> tuple[int, int, int]:
    """(files, bytes, directories holding them) under ``path``."""
    files = size = 0
    dirs = set()
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
                dirs.add(d)
    return files, size, len(dirs)


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main() -> int:
    ap = argparse.ArgumentParser(description="lifecycle benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    host = {"nproc": len(os.sched_getaffinity(0)),
            "loadavg_start": [round(x, 2) for x in os.getloadavg()]}

    run_dir = os.path.join(ROOT, ".perfbench_run",
                           f"{args.workload}-s{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Spark, its JVMs and Python keep their scratch files in the run dir;
    # spark-submit's launcher JVM takes its options from the environment.
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
                      SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    sys.path.insert(0, ROOT)
    procs = ProcTree()
    try:
        return Run(args, run_dir, host, procs).main()
    finally:
        procs.stop()
        for sub in ("data", "tmp", "spark-local", "spark-warehouse"):
            shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)


class Run:
    def __init__(self, args, run_dir: str, host: dict, procs: ProcTree) -> None:
        self.args = args
        self.run_dir = run_dir
        self.host = host
        self.procs = procs
        self.workload = WORKLOADS[args.workload]
        self.data = os.path.join(run_dir, "data")
        self.wh_path = os.path.join(self.data, "warehouse", "all_transactions")
        self.errors: list[str] = []

    def main(self) -> int:
        from credit_card_etl_pipeline_spark.session import get_spark

        nproc = self.host["nproc"]
        t = time.perf_counter()
        spark = get_spark(
            app_name="perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "spark-warehouse"),
            })
        self.host["session_s"] = time.perf_counter() - t
        try:
            return self.measure(spark)
        finally:
            started = self.procs.descendants()
            _stop(spark)
            _wait_gone(started)

    def measure(self, spark) -> int:
        from bench import _canary_best_of
        from check import Checker
        from lifecycle import (PAYMENT_RULES, STRIP_PREFIXES, Lifecycle, Tracer,
                               load_merchant_rules, release)

        args = self.args
        rules = load_merchant_rules(os.path.join(HERE, "merchants.csv"))
        life = Lifecycle(spark, rules)
        checker = Checker(rules, STRIP_PREFIXES, PAYMENT_RULES)

        # Set-up: the session (started above) and the corpus; generation
        # is repeated and its median counts.
        gen_s = []
        for _ in range(SETUP_REPEATS):
            shutil.rmtree(os.path.join(self.data, "history"), ignore_errors=True)
            t = time.perf_counter()
            manifest = corpus.generate(os.path.join(self.data, "history"),
                                       self.workload.shape, args.seed)
            gen_s.append(time.perf_counter() - t)
        self.host["generate_s"] = gen_s
        setup_s = time.perf_counter() - T_START - sum(gen_s) + statistics.median(gen_s)
        stmt_dir = os.path.join(self.data, "history", "statements")
        totals = manifest["totals"]

        tracer = Tracer(spark, f"{args.workload}-s{args.seed}") if args.trace else None
        # (traced, with reports) per op.  Traced: the cold op, then three
        # warm loads for the tracing overhead (the load is where the
        # tracer materialises), in an order symmetric about the middle.
        odd = args.seed % 2 == 1
        plan = ([(True, self.workload.reports)] + [(t, False) for t in (odd, not odd, odd)]
                if args.trace else None)
        ops, counters = [], None
        t_first = time.perf_counter()
        while plan is None or len(ops) < len(plan):
            if plan is None and ops and time.perf_counter() - t_first >= args.seconds:
                break
            k = len(ops)
            traced, reports = plan[k] if plan else (False, self.workload.reports)
            op = {"k": k, "traced": traced, "reports": reports, "ok": False}
            try:
                t, cpu = time.perf_counter(), self.procs.cpu_s()
                with tracer.span("op") if traced else contextlib.nullcontext():
                    loaded = life.load(stmt_dir, self.wh_path, expected_rows=totals["rows"],
                                       tracer=tracer if traced else None)
                    op["load_s"] = time.perf_counter() - t
                    op["load_cpu_s"] = self.procs.cpu_s() - cpu
                    observed = (life.reports(self.wh_path, tracer if traced else None)
                                if reports else None)
                op["s"] = time.perf_counter() - t
                op["cpu_s"] = self.procs.cpu_s() - cpu
                if traced and k == 0:
                    if observed is None:  # so that every layer has its numbers
                        with tracer.span("reports"):
                            observed = life.reports(self.wh_path, tracer)
                    counters = layer_counters(spark, life, loaded, observed, stmt_dir,
                                              self.wh_path, totals)
                bad = checker.check(self.wh_path, totals["by_bank_month"], observed)
                self.errors += [f"op {k}: {e}" for e in bad]
                op["ok"] = not bad
            except Exception as e:  # the op failed; count it and go on
                self.errors.append(f"op {k}: {type(e).__name__}: {e}")
            finally:
                try:
                    op["rdds_missed_by_engine_release"] = release(spark)
                except RuntimeError as e:
                    op["ok"] = False
                    self.errors.append(f"op {k}: {e}")
            ops.append(op)
            if not op["ok"] and plan is None:
                break  # a failing op would fail again: stop here

        if args.trace:
            self.host["canary_s"] = _canary_best_of(spark, n=1)
        # bench.py's rule: a run started above this load is not of record
        self.host["loaded"] = self.host["loadavg_start"][0] > self.host["nproc"] / 4
        wh_files, wh_bytes, wh_parts = dir_stats(self.wh_path, ".parquet")
        checker.close()
        peak_mb = self.procs.stop()

        attempted = len(ops)
        failed = sum(1 for o in ops if not o["ok"])
        first = ops[0]
        if args.trace:
            metrics = self.layer_metrics(tracer, counters, ops)
        else:
            values = {
                "setup_s": setup_s,
                "cold_run_s": first.get("s"),
                "cold_run_cpu_s": first.get("cpu_s"),
                "load_cpu_s": first.get("load_cpu_s"),
                "ok_ops_ratio": (attempted - failed) / attempted,
                "stored_bytes_per_input_byte": wh_bytes / totals["bytes"],
                "peak_rss_mb": peak_mb,
            }
            metrics = {name: metric(values[name], unit) for name, unit in END_TO_END.items()}
        correct = failed == 0 and all(m["value"] is not None for m in metrics.values())
        record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "host": self.host, "ops": ops, "errors": self.errors,
                  "warehouse": {"files": wh_files, "bytes": wh_bytes, "partitions": wh_parts},
                  "corpus": {k: v for k, v in totals.items() if k != "by_bank_month"},
                  "metrics": metrics}
        with open(os.path.join(self.run_dir, "record.json"), "w", encoding="utf-8") as fh:
            json.dump(record, fh, ensure_ascii=False, indent=1)
        if tracer is not None:
            with open(os.path.join(self.run_dir, "spans.json"), "w") as fh:
                json.dump(tracer.spans, fh, indent=1)
        for e in self.errors:
            print(f"perfbench: {e}", file=sys.stderr)
        print(json.dumps({"host": self.host, "run_dir": self.run_dir}))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if correct else 1

    def layer_metrics(self, tracer, counters, ops) -> dict:
        tracer.resolve_counts()
        first = {}  # the cold op's span of each name
        for s in tracer.spans:
            first.setdefault(s["name"], s)
        values = {"session.start_s": self.host["session_s"], **(counters or {})}
        for name, (span, field) in SPAN_FIELDS.items():
            s = first.get(span)
            if s is not None:
                values[name] = s["end"] - s["start"] if field == "s" else s[field]
        values["trace.cold_op_s"] = ops[0].get("s")
        warm = ops[1:]
        if len(warm) == 3 and all(o.get("s") is not None for o in warm):
            traced = statistics.mean(o["s"] for o in warm if o["traced"])
            untraced = statistics.mean(o["s"] for o in warm if not o["traced"])
            values["trace.load_s"] = traced
            values["trace.untraced_load_s"] = untraced
            values["trace.overhead_s"] = traced - untraced
        return {name: metric(values.get(name), unit) for name, unit in PER_LAYER.items()}


def layer_counters(spark, life, loaded, observed, stmt_dir, wh_path, totals) -> dict:
    """Counters of the cold traced op, taken after it from its
    materialised layer outputs and the files on disk."""
    from pyspark.sql import functions as F

    from credit_card_etl_pipeline_spark.queries.refine_queries import (
        CARD_RULES, MERCHANT_REGEX_RULES)
    from credit_card_etl_pipeline_spark.sources.ingest import statement_lines

    listed = os.listdir(stmt_dir)
    lines = statement_lines(spark, stmt_dir).agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("path").alias("files")).first()
    e = loaded["raw"].agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("Payment_Amount").isNull().cast("int")).alias("null_amount")).first()
    card_names = sorted({r["對應卡片"] for r in CARD_RULES})
    replaced = sorted({r["Replacement"] for r in MERCHANT_REGEX_RULES if r["Replacement"]})
    # a rule's replacement is the whole name, after any payment prefix
    rule_hit = F.col("Merchant").rlike("(^|－)(" + "|".join(replaced) + ")$")
    r = loaded["refined"].agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("Card_Type").isin(card_names).cast("int")).alias("card"),
        F.sum(F.col("Mobile_Payment").isNotNull().cast("int")).alias("tag"),
        F.sum(F.coalesce(rule_hit, F.lit(False)).cast("int")).alias("merchant"),
        F.sum(F.col("Transaction_Type").isNull().cast("int")).alias("untyped")).first()
    u = life.resolved(spark.read.parquet(wh_path)).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("Category") == "Unknown").cast("int")).alias("unknown")).first()
    files, size, parts = dir_stats(wh_path, ".parquet")
    return {
        "sources.ingest.files": len(listed),
        "sources.ingest.bytes": sum(os.path.getsize(os.path.join(stmt_dir, n))
                                    for n in listed),
        "sources.ingest.lines": lines["n"],
        "sources.ingest.routed_ratio": lines["files"] / len(listed),
        "plans.etl.rows_out": e["n"],
        "plans.etl.rows_per_line": e["n"] / lines["n"],
        # the corpus writes rows dated "(null)"; the ETL must drop them
        "plans.etl.null_date_rows": totals["written_rows"] - e["n"],
        "plans.etl.null_amount_rows": e["null_amount"] or 0,
        "plans.refine.card_rule_hit_ratio": r["card"] / r["n"],
        "plans.refine.payment_tag_ratio": r["tag"] / r["n"],
        "plans.refine.merchant_rule_hit_ratio": r["merchant"] / r["n"],
        "plans.refine.unclassified_rows": r["untyped"] or 0,
        "warehouse.rows": loaded["rows"],
        "warehouse.bytes": size,
        "warehouse.files": files,
        "warehouse.partitions": parts,
        "warehouse.bytes_per_row": size / loaded["rows"],
        "operators.rfm.merchant_groups": observed["merchant"]["groups"],
        "operators.rfm.payment_groups": observed["payment"]["groups"],
        "operators.rfm.card_groups": observed["card"]["groups"],
        "operators.merchants.unknown_ratio": u["unknown"] / u["n"],
    }


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _wait_gone(pids: set[int], timeout: float = 20.0) -> None:
    """Wait until the processes ``pids`` have exited (the Python workers
    exit by themselves once the JVM that forked them is gone); kill any
    left after ``timeout``."""
    def alive(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + timeout
    while any(map(alive, pids)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in filter(alive, pids):
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


if __name__ == "__main__":
    raise SystemExit(main())
