"""The extract pipeline (reference: etl.py Part 3/4, lines 259-503).

Composes the ingest layer into one lazy plan per bank, unioned (G1)
and cleansed once into the `result_all_banks` surface (B4 ordered
projection):

    statement_lines (A1 scan + A4 decode + A5 html + A3 per-file header
                     position, ONE binaryFile pass, one decode task
                     per core)
      → parse_banks (B1/B2 mapping + A2 filename meta)
      → per bank: B3 init missing canonical columns
                  → extract_card_info (E2 ordered ffill + H8 + B11)
                  → parse_bank_specific (H7 / H9 / bank defaults)
      → unionByName (G1)
      → general_cleanse (H3, H2+B6, H4, H5, H1, H6), once
      → ordered projection (B4)

The cleanse is row-wise and never reads the bank id, so it is built and
analysed once over the union; Catalyst pushes its projections and the
B6 filter into every branch, so the executed plan is the same as one
cleanse per bank.

Shuffle profile: the only wide operations are the per-bank header-line
aggregate (≤|banks| rows, collected once) and E2's per-file window;
everything else is narrow column expressions over the single file scan,
whose partitions are merged (``coalesce``, no shuffle) to at most one
per core before the decode.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schema as S
from ..functions.cleanse import general_cleanse
from ..operators.bank_parse import parse_bank_specific
from ..operators.extract_cards import extract_card_info
from ..sources.ingest import DEFAULT_BANK_SPECS, BankSpec, parse_banks, statement_lines


def _init_missing(df: DataFrame) -> DataFrame:
    """B3 (etl.py:333-335): materialize absent canonical columns as
    string nulls (typing happens in general_cleanse)."""
    missing = {
        c: F.lit(None).cast("string")
        for c in S.CANONICAL_COLUMNS
        if c not in df.columns
    }
    return df.withColumns(missing) if missing else df


def run_etl(
    spark: SparkSession,
    data_dir: str,
    specs: list[BankSpec] | None = None,
) -> DataFrame:
    """Directory of raw statements → unified canonical fact
    (`result_all_banks` shape, 16 ordered columns)."""
    specs = specs if specs is not None else DEFAULT_BANK_SPECS
    frames: list[DataFrame] = []
    # parse_banks persists the lines (every bank branch re-reads them)
    # and discovers every bank's header in ONE driver action
    parsed_by_id = parse_banks(statement_lines(spark, data_dir, specs), specs)
    for spec in specs:
        parsed = parsed_by_id.get(spec.bank_id)
        if parsed is None:
            continue
        df = _init_missing(parsed)
        df = extract_card_info(df, spec.bank_id)
        df = parse_bank_specific(df, spec.bank_id)
        frames.append(df.select(*S.ETL_OUTPUT_COLUMNS, "base_year", "bill_month"))

    if not frames:
        return spark.createDataFrame([], schema=S.CANONICAL_SCHEMA).select(
            *S.ETL_OUTPUT_COLUMNS
        )
    union = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)
    return general_cleanse(union).select(*S.ETL_OUTPUT_COLUMNS)
