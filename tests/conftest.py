"""Shared test fixtures: one session-scoped SparkSession (local, small
shuffle parallelism) and a DuckDB connection with the testdata tables
registered, mirroring the driver's oracle harness.  Also implements the
``timeout`` mark (pytest-timeout is not a dependency)."""

from __future__ import annotations

import contextlib
import faulthandler
import os
import signal
import tempfile
from collections.abc import Iterator

import duckdb
import pytest
from pyspark.sql import SparkSession

from credit_card_etl_pipeline_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "timeout(seconds): fail the test when its call runs longer than"
        " `seconds` (SIGALRM deadline; unmarked tests get none)",
    )


@contextlib.contextmanager
def deadline(seconds: float) -> Iterator[None]:
    """Fail the enclosed block once ``seconds`` have passed: stop every
    active streaming query (so a hung one cannot outlive the test) and
    raise ``pytest.fail`` with a traceback of every thread."""

    def expire(signum, frame):
        with tempfile.TemporaryFile("w+") as f:
            faulthandler.dump_traceback(file=f)
            f.seek(0)
            stacks = f.read()
        spark = SparkSession.getActiveSession()
        with contextlib.suppress(Exception):  # a dead JVM must not hide the timeout
            for q in spark.streams.active if spark is not None else []:
                q.stop()
        pytest.fail(f"timed out after {seconds}s\n{stacks}", pytrace=False)

    previous = signal.signal(signal.SIGALRM, expire)
    signal.setitimer(signal.ITIMER_REAL, seconds)
    try:
        yield
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, previous)


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_call(item):
    mark = item.get_closest_marker("timeout")
    if mark is None:
        yield
        return
    with deadline(mark.args[0]):
        yield


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def session_ckpt_dir(spark, tmp_path_factory):
    """Session-scoped checkpoint dir for the shared SparkSession.

    Any test exercising the reliable-checkpoint path must use THIS
    fixture (never sc.setCheckpointDir on a function-scoped tmp_path,
    which leaks a soon-deleted dir into every later test).  The
    missing-dir refusal is asserted in a fresh subprocess session
    (test_reliable_checkpoint_requires_dir_fresh_session), so pinning
    the dir here does not shadow that branch."""
    d = str(tmp_path_factory.mktemp("reliable_ckpt"))
    spark.sparkContext.setCheckpointDir(d)
    return d


def make_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.sql(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{path}')"
            )
    return con


@pytest.fixture(scope="session")
def duck():
    return make_duck(SF_SMOKE)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
