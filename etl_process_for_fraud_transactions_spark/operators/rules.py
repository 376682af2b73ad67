"""The five fraud-detection rules as DataFrame -> DataFrame operators.

Re-expresses the reference's 147-line report SQL (main.py:414-560) as
named, reusable pipeline stages. Rule semantics (CASE priority order,
main.py:537-542):

1. blocked passport   — passport in the blacklist fact
2. expired passport   — passport_valid_to < trans_date
3. invalid contract   — account valid_to < trans_date
4. different cities   — same card used in two different cities within
                        one hour (theta self-join, main.py:428-436)
5. brute force        — >3 attempts in a 20-minute window containing
                        both REJECT and SUCCESS, where the 4 earliest
                        attempts have strictly decreasing amounts and
                        end REJECT,REJECT,REJECT,SUCCESS
                        (main.py:444-530)

Determinism deviations from the reference (documented, SURVEY.md §5.2):
- rule 5's time and amount orderings both break ties by trans_id,
  as the oracle's row_numbers do (the reference's ties are
  nondeterministic in any engine);
- the `h.deleted_flg` predicate at main.py:549 references a column its
  CTE doesn't produce (reference bug) — dropped (§7.4);
- event_type labels are stable ASCII constants instead of the
  reference's localized strings.

One implementation per rule. The reference's two self-joins become
windows that sort each key's rows and read them in one pass: `lag`
and `lead`, plus frames that only grow (running from the partition
start), which Spark folds row by row. Rule 4
(`rule_diff_city_1h_window`) finds each row's nearest rows in another
city before and after it; rule 5 (`brute_force_candidates`) reads the
four rows that open each anchor's [t, t+20min] frame. A key of k rows
costs O(k log k) sorting, with no pairs and no sliding frame, so no
key needs a different route. Dimension chains broadcast (dims ≪ fact).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.core import epoch_us

HOUR_US = 3600 * 1_000_000
TWENTY_MIN_US = 20 * 60 * 1_000_000

# Stable ASCII analogs of the reference's localized labels
# (main.py:537-542, priority order preserved).
EV_BLOCKED_PASSPORT = "BLOCKED_PASSPORT"
EV_EXPIRED_PASSPORT = "EXPIRED_PASSPORT"
EV_INVALID_CONTRACT = "INVALID_CONTRACT"
EV_DIFF_CITY = "DIFF_CITY_SHORT_TIME"
EV_BRUTE_FORCE = "BRUTE_FORCE_ATTEMPT"


def _current(dim: DataFrame) -> DataFrame:
    # deleted_flg=false residual applied pre-join so it pushes down to
    # the dim scan (main.py:423-426).
    return dim.filter(F.col("deleted_flg") == F.lit(False))


def resolve_transactions(
    trans: DataFrame,
    cards: DataFrame,
    accounts: DataFrame,
    clients: DataFrame,
    how: str = "inner",
) -> DataFrame:
    """3-hop snowflake resolution fact -> cards -> accounts -> clients,
    the J1/J2 join chain (main.py:415-427, 437-443); rule 4 adds the
    terminal city with `attach_terminal_city`.

    Dims are broadcast — they are orders of magnitude smaller than the
    fact at any scale where this schema makes sense, so the fact never
    shuffles here. Output is explicitly projected (Spark requires
    disambiguation where the reference leaned on `SELECT *`).
    """
    t = trans.alias("t")
    car = F.broadcast(_current(cards).alias("car"))
    acc = F.broadcast(_current(accounts).alias("acc"))
    cl = F.broadcast(_current(clients).alias("cl"))
    out = (
        t.join(car, F.col("t.card_num") == F.col("car.card_num"), how)
        .join(acc, F.col("car.account_num") == F.col("acc.account_num"), how)
        .join(cl, F.col("acc.client") == F.col("cl.client_id"), how)
    )
    cols = [
        F.col("t.trans_id").alias("trans_id"),
        F.col("t.trans_date").alias("trans_date"),
        F.col("t.card_num").alias("card_num"),
        F.col("t.oper_type").alias("oper_type"),
        F.col("t.amt").alias("amt"),
        F.col("t.oper_result").alias("oper_result"),
        F.col("t.terminal").alias("terminal"),
        F.col("acc.valid_to").alias("account_valid_to"),
        F.col("cl.client_id").alias("client_id"),
        F.col("cl.passport_num").alias("passport_num"),
        F.col("cl.passport_valid_to").alias("passport_valid_to"),
        F.col("cl.first_name").alias("first_name"),
        F.col("cl.patrinymic").alias("patrinymic"),
        F.col("cl.last_name").alias("last_name"),
        F.col("cl.phone").alias("phone"),
    ]
    return out.select(*cols)


def attach_terminal_city(resolved: DataFrame, terminals: DataFrame, how: str = "inner") -> DataFrame:
    """Join terminal_city onto an already client-resolved frame
    (broadcast). Lets the 3-hop chain be computed once and shared
    between the terminal-needing rule 4 and the terminal-free rule 5
    (the reference recomputes the chain per CTE — main.py:415-443)."""
    term = F.broadcast(_current(terminals).alias("term"))
    r = resolved.alias("rsv")
    return r.join(term, F.col("rsv.terminal") == F.col("term.terminal_id"), how).select(
        "rsv.*", F.col("term.terminal_city").alias("terminal_city")
    )


def _running(w: Window) -> Window:
    """`w`'s rows from the partition start through the current row's
    peers: the growing frame Spark folds in one pass."""
    return w.rangeBetween(Window.unboundedPreceding, Window.currentRow)


def rule_diff_city_1h_window(resolved: DataFrame) -> DataFrame:
    """Rule 4: a transaction is a hit iff another transaction on the
    same card within +/-1h sits in a different city (main.py:428-436).

    Sort a card's rows by (ts, city); rows of one city then form runs.
    The nearest earlier row in another city is the last row of the
    previous run, so its ts is `lag(ts)` at the run's first row,
    carried forward through the run. The nearest later one is the
    first row of the next run, found the same way in the reverse
    order. A row is a hit iff the earlier ts is >= t-1h or the later
    ts is <= t+1h. Both frames only grow, so Spark folds them in one
    pass each: one card_num shuffle and two sorts per card, with no
    pairs and no sliding frame.

    Rows with a null card, timestamp or city drop out: the reference's
    predicates are null-unsafe, so they can be neither hits nor
    witnesses. Equal (ts, city) peers share a run, and the running
    frames take whole peer groups, so their order does not matter.
    Property-pinned against the reference's SQL on DuckDB
    (tests/test_properties.py)."""
    us, city = F.col("__us"), F.col("terminal_city")
    out = resolved.select(
        "card_num", "trans_id", "client_id", "terminal_city",
        epoch_us("trans_date").alias("__us"),
    ).filter(F.col("card_num").isNotNull() & us.isNotNull() & city.isNotNull())
    for name, order in (("__before", (us.asc(), city.asc())),
                        ("__after", (us.desc(), city.desc()))):
        w = Window.partitionBy("card_num").orderBy(*order)
        out = out.withColumn(
            "__edge", F.when(F.lag(city).over(w) != city, F.lag(us).over(w))
        ).withColumn(name, F.last("__edge", ignorenulls=True).over(_running(w)))
    hit = (F.col("__before") >= us - HOUR_US) | (F.col("__after") <= us + HOUR_US)
    return out.filter(hit).select("trans_id", "client_id").distinct()


def _ranks_before(a: int, b: int) -> Column:
    """Row a precedes row b in (amt DESC NULLS LAST, trans_id ASC),
    the order of the reference's rn_amt (main.py:475-482); rows are
    named by their `lag` offset in brute_force_candidates."""
    amt_a, amt_b = F.col(f"__amt{a}"), F.col(f"__amt{b}")
    return F.coalesce(amt_a > amt_b, amt_a.isNotNull() & amt_b.isNull()) | (
        amt_a.eqNullSafe(amt_b) & (F.col(f"__tid{a}") < F.col(f"__tid{b}"))
    )


def brute_force_candidates(resolved: DataFrame) -> DataFrame:
    """Rule 5 in one sort per client: one row per candidate anchor
    (client_id, trans_id_start) with `is_hit` marking the anchors the
    reference's full chain confirms (main.py:444-530).

    An anchor at ts t owns the frame [t, t+20min] of its client's rows
    in (ts, trans_id) order. The frame starts at the first row with
    ts = t, so equal-ts peers share one frame.
    - Candidate (selected_req, main.py:458-467): the row 3 places after
      the frame's first row is within t+20min (more than 3 attempts),
      and so are the next SUCCESS and the next REJECT at or after t.
    - Hit: the frame's first four rows read REJECT, REJECT, REJECT,
      SUCCESS and are already in (amt desc, trans_id asc) order. That
      is the reference's rn_amt = rn_datetime test on all four rows
      plus its 4-way INTERSECT, without ranking anything.

    The rows are sorted once, newest first, so `lag(k)` is the k-th
    later row, and a running frame over ts covers every row at or
    after t: its minima give the next SUCCESS and REJECT, and its
    last non-null head is the frame's first row. Null client or
    timestamp rows drop out (null-unsafe predicates in the
    reference). (client_id, trans_id) is taken as unique, as the
    reference's GROUP BY on it assumes. Property-pinned against the
    reference's SQL on DuckDB (tests/test_properties.py)."""
    us, res = F.col("__us"), F.col("oper_result")
    base = resolved.select(
        "client_id", "trans_id", "amt", "oper_result",
        epoch_us("trans_date").alias("__us"),
    ).filter(F.col("client_id").isNotNull() & us.isNotNull())
    w = Window.partitionBy("client_id").orderBy(us.desc(), F.desc("trans_id"))
    ahead = base.select(
        "*",
        *[(F.lag(c, k).over(w) if k else F.col(c)).alias(f"__{n}{k}")
          for k in range(4)
          for n, c in (("res", "oper_result"), ("amt", "amt"), ("tid", "trans_id"))],
        F.lag(us, 3).over(w).alias("__us3"),
        # no earlier row shares this ts: the first row of its peers
        (~F.lead(us).over(w).eqNullSafe(us)).alias("__first"),
    )
    pattern = (
        (F.col("__res0") == "REJECT") & (F.col("__res1") == "REJECT")
        & (F.col("__res2") == "REJECT") & (F.col("__res3") == "SUCCESS")
        & _ranks_before(0, 1) & _ranks_before(1, 2) & _ranks_before(2, 3)
    )
    head = F.when(
        F.col("__first"),
        F.struct(F.col("__us3").alias("us3"),
                 F.coalesce(pattern, F.lit(False)).alias("hit")),
    )
    at_or_after = _running(Window.partitionBy("client_id").orderBy(us.desc()))

    def next_ts(result: str) -> Column:
        return F.min(F.when(res == result, us)).over(at_or_after)

    framed = ahead.select(
        "client_id", "trans_id", "__us",
        F.last(head, ignorenulls=True).over(at_or_after).alias("__head"),
        next_ts("SUCCESS").alias("__next_s"),
        next_ts("REJECT").alias("__next_r"),
    )
    end = us + TWENTY_MIN_US
    return framed.filter(
        (F.col("__head.us3") <= end)
        & (F.col("__next_s") <= end)
        & (F.col("__next_r") <= end)
    ).select(
        "client_id",
        F.col("trans_id").alias("trans_id_start"),
        F.col("__head.hit").alias("is_hit"),
    )


def rule_brute_force_20min_window(resolved: DataFrame) -> DataFrame:
    """Rule 5's hits (client_id, trans_id): the confirmed anchors of
    brute_force_candidates."""
    return brute_force_candidates(resolved).filter("is_hit").select(
        "client_id", F.col("trans_id_start").alias("trans_id")
    )
