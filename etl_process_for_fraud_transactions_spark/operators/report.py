"""Final fraud-report assembly (reference main.py:531-560).

Left-joins the fact to the dimension chain, the passport blacklist and
the rule-4/rule-5 outputs, applies the prioritized CASE, filters to
rows firing at least one rule, and stamps report_dt.

One path: each rule has one implementation (the sort-once window
forms in operators.rules), and building the report runs no Spark job.
The rule-hit join-backs carry no broadcast hint. The hit sets are a
fraction of the fact and grow with it, so AQE picks the join strategy
from runtime stats: broadcast while they are small, a shuffle join on
a day whose hits outgrow the threshold, where a forced hint would
abort instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.core import null_safe_concat_ws
from .rules import (
    EV_BLOCKED_PASSPORT,
    EV_BRUTE_FORCE,
    EV_DIFF_CITY,
    EV_EXPIRED_PASSPORT,
    EV_INVALID_CONTRACT,
    attach_terminal_city,
    resolve_transactions,
    rule_brute_force_20min_window,
    rule_diff_city_1h_window,
)


def assemble_report(
    trans: DataFrame,
    cards: DataFrame,
    accounts: DataFrame,
    clients: DataFrame,
    terminals: DataFrame,
    blacklist: DataFrame,
    report_dt: Column,
    report_trans: DataFrame | None = None,
) -> DataFrame:
    """The full five-rule report (main.py:414-560) as one DataFrame.

    The reference builds the same dim chain twice (CTEs at 415-427 and
    437-443 — a missed reuse its own planner can't fix); here the
    client-resolved chain is built once and feeds both self-join rules
    (rule 4 adds the terminal city on top).

    `report_trans` (incremental mode): the final assembly scans this
    frame (e.g. just the batch-date partition) while the self-join
    rules keep the full `trans` for window context — the reference's
    full-fact daily rescan is O(total history) per day and not viable
    at scale.
    """
    resolved = resolve_transactions(trans, cards, accounts, clients, how="inner")

    # Rule 4 needs the terminal city (city_of_transactions CTE,
    # main.py:415-427); rule 5 deliberately does not join terminals
    # (req_start_for_4_rule, main.py:437-443) — an inner terminal join
    # there would drop transactions at unknown terminals from the
    # brute-force scan, changing its semantics.
    diff_city = rule_diff_city_1h_window(
        attach_terminal_city(resolved, terminals)
    ).alias("h")
    brute = rule_brute_force_20min_window(resolved).alias("r")

    # Final assembly uses LEFT joins (main.py:544-550): a transaction
    # that misses the dim chain still reaches the rule-1 probe.
    left = resolve_transactions(
        report_trans if report_trans is not None else trans,
        cards,
        accounts,
        clients,
        how="left",
    ).alias("t")
    b = F.broadcast(blacklist.select("passport_num").distinct().alias("b"))

    out = (
        left.join(b, F.col("t.passport_num") == F.col("b.passport_num"), "left")
        .join(
            diff_city,
            (F.col("h.client_id") == F.col("t.client_id"))
            & (F.col("t.trans_id") == F.col("h.trans_id")),
            "left",
        )
        .join(
            brute,
            (F.col("r.client_id") == F.col("t.client_id"))
            & (F.col("t.trans_id") == F.col("r.trans_id")),
            "left",
        )
    )

    blocked = F.col("b.passport_num").isNotNull()
    expired = F.col("t.passport_valid_to") < F.col("t.trans_date")
    invalid = F.col("t.account_valid_to") < F.col("t.trans_date")
    diff_city_hit = F.col("h.client_id").isNotNull()
    brute_hit = F.col("r.client_id").isNotNull()

    event_type = (
        F.when(blocked, F.lit(EV_BLOCKED_PASSPORT))
        .when(expired, F.lit(EV_EXPIRED_PASSPORT))
        .when(invalid, F.lit(EV_INVALID_CONTRACT))
        .when(diff_city_hit, F.lit(EV_DIFF_CITY))
        .when(brute_hit, F.lit(EV_BRUTE_FORCE))
    )  # no otherwise -> NULL, matching the CASE with no ELSE (main.py:542)

    return (
        out.filter(blocked | expired | invalid | diff_city_hit | brute_hit)
        .select(
            F.col("t.trans_date").alias("event_dt"),
            F.col("t.passport_num").alias("passport"),
            null_safe_concat_ws(
                " ", F.col("t.first_name"), F.col("t.patrinymic"), F.col("t.last_name")
            ).alias("fio"),
            F.col("t.phone").alias("phone"),
            event_type.alias("event_type"),
            report_dt.alias("report_dt"),
        )
    )
