"""Final fraud-report assembly (reference main.py:414-560) as one
resolved frame.

The fact is resolved once through the LEFT chain cards -> accounts ->
clients plus the terminal city (main.py:544-550): a row that misses the
chain still reaches the rule 1-3 probes. The reference's inner chain,
which feeds rules 4 and 5, is exactly the rows with a client (the last
join key is cl.client_id), so both rules run as window columns on this
frame (operators.rules) and no hit set is joined back. The fact crosses
one exchange, rule 5's by client: rule 4's (client_id, card_num) windows
and the join-back, a max over (client_id, trans_id), nest in its key
and only sort. Dims and the blacklist broadcast, each side reduced in
one partition inside its broadcast job, so building the report runs no
Spark job and running it shuffles nothing but the fact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.core import null_safe_concat_ws
from .rules import (
    BY_CLIENT,
    EV_BLOCKED_PASSPORT,
    EV_BRUTE_FORCE,
    EV_DIFF_CITY,
    EV_EXPIRED_PASSPORT,
    EV_INVALID_CONTRACT,
    attach_terminal_city,
    resolve_transactions,
    with_brute_force_flags,
    with_diff_city_flag,
)


def assemble_report(
    trans: DataFrame,
    cards: DataFrame,
    accounts: DataFrame,
    clients: DataFrame,
    terminals: DataFrame,
    blacklist: DataFrame,
    report_dt: Column,
    report_trans: Column | None = None,
) -> DataFrame:
    """The full five-rule report (main.py:414-560) as one DataFrame.

    `report_trans` (incremental mode): a predicate over `trans` that
    selects the rows to report (e.g. the batch date's partition). The
    rule flags are still computed over all of `trans`, which is their
    window context, and the predicate is applied after them — the
    reference's full-fact daily rescan is O(total history) per day and
    not viable at scale.
    """
    listed = blacklist.select(F.col("passport_num").alias("__listed"))
    # distinct in one partition: no exchange ahead of the broadcast
    b = F.broadcast(listed.coalesce(1).distinct())
    trans = trans.withColumn("__report", F.lit(True) if report_trans is None else report_trans)
    rows = attach_terminal_city(resolve_transactions(trans, cards, accounts, clients), terminals)
    # only what the rules read, and the output of reported rows, is exchanged
    report = F.col("__report")
    rows = rows.join(b, F.col("passport_num") == F.col("__listed"), "left").select(
        "trans_id", "trans_date", "card_num", "client_id", "amt", "oper_result",
        "terminal_city", "terminal_multi_city", "__report",
        F.when(report, F.col("passport_num")).alias("passport"),
        F.when(report, null_safe_concat_ws(" ", "first_name", "patrinymic", "last_name"))
        .alias("fio"),
        F.when(report, F.col("phone")).alias("phone"),
        F.col("__listed").isNotNull().alias("__blocked"),
        (F.col("passport_valid_to") < F.col("trans_date")).alias("__expired"),
        (F.col("account_valid_to") < F.col("trans_date")).alias("__invalid"),
    )
    # rule 5 first: its client exchange also clusters rule 4's windows,
    # exactly, as a card's rows all resolve to the same clients
    flagged = with_diff_city_flag(with_brute_force_flags(rows), within=BY_CLIENT)

    # the reference's join-back flags every row sharing a hit's (client_id,
    # trans_id), a null key matching none; BY_CLIENT reuses rule 5's exchange
    same_key = Window.partitionBy(*BY_CLIENT, "trans_id")
    flagged = flagged.select(
        "*",
        *[(F.col("trans_id").isNotNull() & F.max(f"{r}_hit").over(same_key)).alias(f"__{r}")
          for r in ("diff_city", "brute_force")],
    )
    blocked, expired, invalid = F.col("__blocked"), F.col("__expired"), F.col("__invalid")
    diff_city, brute = F.col("__diff_city"), F.col("__brute_force")
    event_type = (
        F.when(blocked, F.lit(EV_BLOCKED_PASSPORT))
        .when(expired, F.lit(EV_EXPIRED_PASSPORT))
        .when(invalid, F.lit(EV_INVALID_CONTRACT))
        .when(diff_city, F.lit(EV_DIFF_CITY))
        .when(brute, F.lit(EV_BRUTE_FORCE))
    )  # no otherwise -> NULL, matching the CASE with no ELSE (main.py:542)

    fired = blocked | expired | invalid | diff_city | brute
    return flagged.filter(report & fired).select(
        F.col("trans_date").alias("event_dt"), "passport", "fio", "phone",
        event_type.alias("event_type"), report_dt.alias("report_dt"),
    )
