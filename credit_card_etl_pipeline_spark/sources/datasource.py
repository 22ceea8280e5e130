"""Python Data Source (Spark 4 API) for raw bank statements.

Registers a ``bank_statement`` format so the line-oriented statement
feed is a first-class reader instead of a helper function::

    spark.dataSource.register(BankStatementDataSource)
    lines = (spark.read.format("bank_statement")
                  .option("path", "/data/statements")
                  .load())          # → path, bank_id, pos, line, hpos

One :class:`InputPartition` per file — file-level parallelism across
executors; each file goes through the same per-file decoder as
``sources.ingest.statement_lines`` (``decode_statement``: keyword
routing, per-bank encodings, stdlib HTML table extraction, header
position), so both feeds share one schema (``LINES_DDL``).  The
mapInPandas variant remains the default engine path; this reader is
the pluggable-format surface (SURVEY §4's "Python Data Source for
HTML statements").

Options: ``path`` (directory, required).  Bank specs are the engine
defaults; point ``specs_yaml`` at a banks_config.yaml to override.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

_FILE_RE = re.compile(r"\.(csv|xlsx|xls|html)$", re.I)


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class BankStatementReader(DataSourceReader):
    def __init__(self, options: dict):
        self.data_dir = options.get("path")
        if not self.data_dir:
            raise ValueError("bank_statement reader requires option 'path'")
        self.specs_yaml = options.get("specs_yaml")

    def _specs(self):
        from .ingest import DEFAULT_BANK_SPECS, load_bank_specs

        if self.specs_yaml:
            return load_bank_specs(self.specs_yaml)
        return DEFAULT_BANK_SPECS

    def partitions(self) -> Sequence[InputPartition]:
        from .ingest import route_bank

        specs = self._specs()
        return [
            _FilePartition(os.path.join(self.data_dir, name))
            for name in sorted(os.listdir(self.data_dir))
            if not name.startswith(".")
            and _FILE_RE.search(name)
            and route_bank(name, specs) is not None
        ]

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        from .ingest import decode_statement

        with open(partition.path, "rb") as f:
            content = f.read()
        # partitions() only lists routable files, so this never is None
        spec, lines, hpos = decode_statement(
            os.path.basename(partition.path), content, self._specs()
        )
        for i, line in enumerate(lines):
            yield (partition.path, spec.bank_id, i, line, hpos)


class BankStatementDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "bank_statement"

    def schema(self) -> str:
        from .ingest import LINES_DDL

        return LINES_DDL

    def reader(self, schema) -> BankStatementReader:
        return BankStatementReader(self.options)

    def simpleStreamReader(self, schema) -> "BankStatementStreamReader":
        return BankStatementStreamReader(self.options)


# ------------------------------------------------------------------
# Streaming reader (Spark 4 SimpleDataSourceStreamReader): the
# file-arrival tail — each micro-batch delivers every statement file
# that arrived since the last offset (Spark's own FileStreamSource
# contract; cap with ``max_files_per_batch`` to throttle);  offsets
# are "files consumed so far", so replays (readBetweenOffsets) are
# exact and checkpoint-recoverable at any batch granularity.
# ------------------------------------------------------------------

try:  # pyspark >= 4
    from pyspark.sql.datasource import SimpleDataSourceStreamReader
except ImportError:  # pragma: no cover - older runtime
    SimpleDataSourceStreamReader = object


class BankStatementStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self._batch = BankStatementReader(options)
        # 0 = unbounded: each poll consumes EVERY file not yet seen —
        # one micro-batch per arrival wave, not per file.  Each
        # micro-batch pays fixed cost (plan, Python round-trip, two
        # checkpoint fsyncs), so at a 100 TB backfill per-file batches
        # turn N files into N commits; batching-all matches Spark's
        # FileStreamSource default (maxFilesPerTrigger unset).
        self._max_files = int(options.get("max_files_per_batch", 0))

    def _files(self) -> list[_FilePartition]:
        return list(self._batch.partitions())

    def initialOffset(self) -> dict:
        return {"i": 0}

    def read(self, start: dict):
        # rows are prefetched driver-side, probed with next() on empty
        # batches, and pickled to executors: a LIST ITERATOR satisfies
        # all three (a generator cannot pickle; a bare list cannot next())
        files = self._files()
        i = int(start["i"])
        if i >= len(files):
            return iter([]), start
        j = min(i + self._max_files, len(files)) if self._max_files else len(files)
        rows: list[tuple] = []
        for k in range(i, j):
            rows.extend(self._batch.read(files[k]))
        return iter(rows), {"i": j}

    def readBetweenOffsets(self, start: dict, end: dict):
        files = self._files()
        out: list[tuple] = []
        for i in range(int(start["i"]), min(int(end["i"]), len(files))):
            out.extend(self._batch.read(files[i]))
        return iter(out)
