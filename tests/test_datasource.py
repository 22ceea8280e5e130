"""The bank_statement Python Data Source must match the mapInPandas
line feed (same routing, decode, HTML extraction) per (path, pos)."""

from __future__ import annotations

import pytest

from credit_card_etl_pipeline_spark.sources.datasource import (
    BankStatementDataSource,
)
from credit_card_etl_pipeline_spark.sources.ingest import statement_lines
from tests.test_etl import CTBC_CSV, ESUN_CSV, HNCB_HTML


@pytest.mark.timeout(300)
def test_datasource_matches_mapinpandas_feed(spark, tmp_path):
    data_dir = tmp_path / "statements"
    data_dir.mkdir()
    (data_dir / "玉山銀行113年1月.csv").write_text(ESUN_CSV, encoding="utf-8")
    (data_dir / "中信_202403.csv").write_bytes(CTBC_CSV.encode("cp950"))
    (data_dir / "華南_202404.html").write_bytes(HNCB_HTML.encode("big5"))
    (data_dir / "unrelated.txt").write_text("skip me")

    spark.dataSource.register(BankStatementDataSource)
    via_ds = (
        spark.read.format("bank_statement")
        .option("path", str(data_dir))
        .load()
        .collect()
    )
    via_fn = statement_lines(spark, str(data_dir)).collect()

    def key(rows):
        return sorted(
            (r["path"].split("/")[-1], r["bank_id"], r["pos"], r["line"],
             r["hpos"])
            for r in rows
        )

    # mapInPandas path uses file:// URIs; compare on basename
    assert key(via_ds) == key(via_fn)
    assert len(via_ds) > 0


def test_stream_reader_offsets_and_replay_parity():
    # pure-python contract at the throttled (one-file-per-batch)
    # granularity: a checkpoint replay (readBetweenOffsets) over the
    # full range must reproduce exactly the union of the per-batch
    # reads.
    from credit_card_etl_pipeline_spark.queries.etl_queries import (
        _FIXTURE_DIR,
    )
    from credit_card_etl_pipeline_spark.sources.datasource import (
        BankStatementStreamReader,
    )

    r = BankStatementStreamReader(
        {"path": str(_FIXTURE_DIR), "max_files_per_batch": "1"}
    )
    off = r.initialOffset()
    assert off == {"i": 0}
    batches, offsets = [], [off]
    while True:
        rows, nxt = r.read(offsets[-1])
        rows = list(rows)
        if nxt == offsets[-1]:
            assert rows == []
            break
        batches.append(rows)
        offsets.append(nxt)
    assert len(batches) >= 4  # one per routed fixture file
    replay = list(r.readBetweenOffsets(offsets[0], offsets[-1]))
    assert replay == [row for b in batches for row in b]
    # partial replay: a single middle batch
    assert list(r.readBetweenOffsets(offsets[1], offsets[2])) == batches[1]


def test_stream_reader_default_batches_all_available():
    # default (unthrottled) contract — the FileStreamSource shape: ONE
    # micro-batch consumes every file not yet seen, and its rows equal
    # the concatenation of the per-file throttled batches (so batch
    # granularity never changes the landed data).
    from credit_card_etl_pipeline_spark.queries.etl_queries import (
        _FIXTURE_DIR,
    )
    from credit_card_etl_pipeline_spark.sources.datasource import (
        BankStatementStreamReader,
    )

    throttled = BankStatementStreamReader(
        {"path": str(_FIXTURE_DIR), "max_files_per_batch": "1"}
    )
    per_file: list[tuple] = []
    off = throttled.initialOffset()
    while True:
        rows, nxt = throttled.read(off)
        if nxt == off:
            break
        per_file.extend(rows)
        off = nxt
    n_files = int(off["i"])
    assert n_files >= 4

    r = BankStatementStreamReader({"path": str(_FIXTURE_DIR)})
    rows, nxt = r.read(r.initialOffset())
    assert nxt == {"i": n_files}  # everything consumed in one batch
    assert list(rows) == per_file
    # next poll: no new files -> empty batch, same offset
    rows2, nxt2 = r.read(nxt)
    assert list(rows2) == [] and nxt2 == nxt
