"""Flagship pipeline: the full reference ETL shape on driver testdata.

Derives the staging snapshot from `events`, runs real SCD2 bootstrap on
all four dimensions (operators.scd2), then assembles the five-rule
fraud report (operators.report) — the same path jobs.daily drives for
real dated-file batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.report import assemble_report
from ..operators.scd2 import scd2_apply, scd2_current
from . import analog


def flagship_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = analog.domain_frames(spark, sf_dir)
    batch = F.lit("2024-01-31").cast("date")
    dims = {}
    for name, keys_attrs in (
        ("cards", (["card_num"], ["account_num"])),
        ("accounts", (["account_num"], ["valid_to", "client"])),
        (
            "clients",
            (
                ["client_id"],
                [
                    "last_name",
                    "first_name",
                    "patrinymic",
                    "date_of_birth",
                    "passport_num",
                    "passport_valid_to",
                    "phone",
                ],
            ),
        ),
        (
            "terminals",
            (["terminal_id"], ["terminal_type", "terminal_city", "terminal_address"]),
        ),
    ):
        stg = d[name].drop("deleted_flg")
        hist = scd2_apply(None, stg, keys_attrs[0], keys_attrs[1], batch)
        dims[name] = scd2_current(hist)
    return assemble_report(
        d["transactions"],
        dims["cards"],
        dims["accounts"],
        dims["clients"],
        dims["terminals"],
        d["blacklist"],
        report_dt=batch,
    )
