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

One implementation per rule, as columns. The reference's two
self-joins become windows that sort each key's rows and read them in
one pass (`lag`, `lead`, and running frames Spark folds row by row):
`with_diff_city_flag` (rule 4) and `with_brute_force_flags` (rule 5)
add their flags to a frame that keeps its other columns, so the
report computes both on its one resolved frame; the driver rows read
the filters `rule_diff_city_1h_window`, `brute_force_candidates` and
`rule_brute_force_20min_window`. A key of k rows costs O(k log k)
sorting, with no pairs and no sliding frame. Dims broadcast.
"""

from __future__ import annotations

from typing import Sequence

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
) -> DataFrame:
    """3-hop snowflake resolution fact -> cards -> accounts -> clients
    with LEFT joins, the report's chain (main.py:544-550); rule 4 adds
    the terminal city with `attach_terminal_city`. The reference's
    inner chain (main.py:415-427, 437-443) is its rows with a client,
    the only rows the rule flags let take part.

    Dims are broadcast (orders of magnitude smaller than the fact), so
    the fact never shuffles here. The output keeps every fact column
    plus the named dimension columns the rules read.
    """
    t = trans.alias("t")
    car = F.broadcast(_current(cards).alias("car"))
    acc = F.broadcast(_current(accounts).alias("acc"))
    cl = F.broadcast(_current(clients).alias("cl"))
    out = (
        t.join(car, F.col("t.card_num") == F.col("car.card_num"), "left")
        .join(acc, F.col("car.account_num") == F.col("acc.account_num"), "left")
        .join(cl, F.col("acc.client") == F.col("cl.client_id"), "left")
    )
    return out.select(
        "t.*",
        F.col("acc.valid_to").alias("account_valid_to"),
        *[F.col(f"cl.{c}") for c in (
            "client_id", "passport_num", "passport_valid_to",
            "first_name", "patrinymic", "last_name", "phone",
        )],
    )


def attach_terminal_city(resolved: DataFrame, terminals: DataFrame) -> DataFrame:
    """Left-join each row's terminal city from the current terminals,
    collapsed to one broadcast row per terminal_id so the join never
    multiplies rows. `terminal_multi_city` marks a terminal with several
    current cities, whose rows the reference's inner terminal join
    copies once per city (main.py:415-427)."""
    city = F.col("terminal_city")
    # one partition: the side goes to the driver whole, so the group-by
    # runs inside the broadcast's job instead of behind an exchange
    one_part = _current(terminals).coalesce(1)
    term = one_part.groupBy(F.col("terminal_id").alias("terminal")).agg(
        F.min(city).alias("terminal_city"),
        (F.min(city) != F.max(city)).alias("terminal_multi_city"),
    )
    return resolved.join(F.broadcast(term), "terminal", "left")


def _apart(eligible: Column) -> Column:
    """A window key, null on eligible rows and non-null on the others:
    each ineligible row sits apart, by its trans_id, not in one
    null-key task with all the others and never with eligible rows."""
    return F.when(~eligible, F.struct("trans_id"))


def _running(w: Window) -> Window:
    """`w`'s rows from the partition start through the current row's
    peers: the growing frame Spark folds in one pass."""
    return w.rangeBetween(Window.unboundedPreceding, Window.currentRow)


def with_diff_city_flag(rows: DataFrame, within: Sequence[str] = ()) -> DataFrame:
    """Rule 4 as a column: `diff_city_hit` is true iff another row of
    the same card within +/-1h sits in a different city
    (main.py:428-436). Every other column of `rows` is kept.

    Sort a card's rows by (ts, city); rows of one city then form runs.
    The nearest earlier row in another city is the last row of the
    previous run, so its ts is `lag(ts)` at the run's first row,
    carried forward through the run. The nearest later one is the
    first row of the next run, found the same way in the reverse
    order. A row is a hit iff the earlier ts is >= t-1h or the later
    ts is <= t+1h. Both frames only grow, so Spark folds them in one
    pass each: one card_num shuffle (none under `within`, below) and
    two sorts per card, with no pairs and no sliding frame.

    `within` nests the card key in columns the rows are already
    clustered by: the report passes BY_CLIENT after
    with_brute_force_flags, so the windows only sort under rule 5's
    client exchange. That is exact only when every row of a card
    carries the same set of `within` values, so that each value's
    share of a card holds a copy of all of the card's rows. A frame
    resolved through the chain (resolve_transactions) has this: its
    clients are a function of card_num. Other frames keep the
    default.

    A row at a terminal with several cities (`terminal_multi_city`)
    stands for one copy per city: it is a hit itself and a witness for
    every row, so the row after it sees an edge too, and it sorts first
    among its (ts, city) peers. Other peers share a run, and the running
    frames take whole peer groups, so their order does not matter. Rows
    with a null client, card, timestamp or city are neither hits nor
    witnesses (null-unsafe predicates, inner chain); each sits in a
    window partition of its own (`_apart`). Property-pinned against the
    reference's SQL on DuckDB (tests/test_properties.py)."""
    us, city, multi = F.col("__us"), F.col("terminal_city"), F.col("terminal_multi_city")
    ok = F.col("client_id").isNotNull() & F.col("card_num").isNotNull() & city.isNotNull()
    out = rows.withColumn("__us", epoch_us("trans_date")).withColumn("__ok", ok & us.isNotNull())
    out = out.withColumn("__apart", _apart(F.col("__ok")))
    for name, order in (("__before", (us.asc(), city.asc(), multi.desc())),
                        ("__after", (us.desc(), city.desc(), multi.desc()))):
        w = Window.partitionBy(*within, "card_num", "__apart").orderBy(*order)
        other = (F.lag(city).over(w) != city) | F.lag(multi).over(w)
        out = out.withColumn("__edge", F.when(other, F.lag(us).over(w))).withColumn(
            name, F.last("__edge", ignorenulls=True).over(_running(w))
        )
    hit = F.col("__ok") & (
        multi | (F.col("__before") >= us - HOUR_US) | (F.col("__after") <= us + HOUR_US)
    )
    return out.select(*rows.columns, F.coalesce(hit, F.lit(False)).alias("diff_city_hit"))


def rule_diff_city_1h_window(resolved: DataFrame) -> DataFrame:
    """Rule 4's hits (trans_id, client_id), distinct as the reference's
    one_hour_diff_city_transactions."""
    hits = with_diff_city_flag(resolved).filter("diff_city_hit")
    return hits.select("trans_id", "client_id").distinct()


def _ahead(c: str, k: int) -> Column:
    """Column `c` of the row k places later (k = 0: this row), as
    projected by with_brute_force_flags."""
    return F.col(f"__{c}{k}" if k else c)


def _ranks_before(a: int, b: int) -> Column:
    """Row a precedes row b in (amt DESC NULLS LAST, trans_id ASC),
    the order of the reference's rn_amt (main.py:475-482)."""
    amt_a, amt_b = _ahead("amt", a), _ahead("amt", b)
    return F.coalesce(amt_a > amt_b, amt_a.isNotNull() & amt_b.isNull()) | (
        amt_a.eqNullSafe(amt_b) & (_ahead("trans_id", a) < _ahead("trans_id", b))
    )


#: rule 5's window key; a later window keyed on these columns (plus any)
#: reuses its exchange, as a key expression would get its own
BY_CLIENT = ("client_id", "__no_client")


def with_brute_force_flags(rows: DataFrame) -> DataFrame:
    """Rule 5 as two columns from one sort per client (main.py:444-530):
    `brute_force_candidate` marks the rows that anchor a candidate
    window, `brute_force_hit` the anchors the reference's full chain
    confirms. Every other column of `rows` is kept, and so is the
    window key's `__no_client` (BY_CLIENT).

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
    last non-null head is the frame's first row. Rows with a null
    client or timestamp take no part (null-unsafe predicates): a row
    without a client sits apart (`_apart`), and a null timestamp
    sorts last (DESC NULLS LAST), outside the other rows' lags and
    frames. (client_id, trans_id) is taken as unique, as the
    reference's GROUP BY on it assumes. Property-pinned against the
    reference's SQL on DuckDB (tests/test_properties.py)."""
    us, res = F.col("__us"), F.col("oper_result")
    base = rows.withColumn("__no_client", _apart(F.col("client_id").isNotNull()))
    base = base.withColumn("__us", epoch_us("trans_date"))
    w = Window.partitionBy(*BY_CLIENT).orderBy(us.desc(), F.desc("trans_id"))
    ahead = base.select(
        "*",
        *[F.lag(c, k).over(w).alias(f"__{c}{k}")
          for k in range(1, 4) for c in ("oper_result", "amt", "trans_id")],
        F.lag(us, 3).over(w).alias("__us3"),
        # no earlier row shares this ts: the first row of its peers
        (~F.lead(us).over(w).eqNullSafe(us)).alias("__first"),
    )
    pattern = (
        (_ahead("oper_result", 0) == "REJECT") & (_ahead("oper_result", 1) == "REJECT")
        & (_ahead("oper_result", 2) == "REJECT") & (_ahead("oper_result", 3) == "SUCCESS")
        & _ranks_before(0, 1) & _ranks_before(1, 2) & _ranks_before(2, 3)
    )
    head = F.when(
        F.col("__first"),
        F.struct(F.col("__us3").alias("us3"),
                 F.coalesce(pattern, F.lit(False)).alias("hit")),
    )
    at_or_after = _running(Window.partitionBy(*BY_CLIENT).orderBy(us.desc()))

    def next_ts(result: str) -> Column:
        return F.min(F.when(res == result, us)).over(at_or_after)

    framed = ahead.select(
        "*",
        F.last(head, ignorenulls=True).over(at_or_after).alias("__head"),
        next_ts("SUCCESS").alias("__next_s"),
        next_ts("REJECT").alias("__next_r"),
    )
    end = us + TWENTY_MIN_US
    candidate = F.coalesce(
        F.col("client_id").isNotNull() & (F.col("__head.us3") <= end)
        & (F.col("__next_s") <= end) & (F.col("__next_r") <= end),
        F.lit(False),
    )
    return framed.select(
        *rows.columns, "__no_client",
        candidate.alias("brute_force_candidate"),
        (candidate & F.col("__head.hit")).alias("brute_force_hit"),
    )


def brute_force_candidates(resolved: DataFrame) -> DataFrame:
    """Rule 5's candidate anchors (client_id, trans_id_start) with
    `is_hit` marking the confirmed ones (with_brute_force_flags)."""
    cand = with_brute_force_flags(resolved).filter("brute_force_candidate")
    return cand.select("client_id", F.col("trans_id").alias("trans_id_start"),
                       F.col("brute_force_hit").alias("is_hit"))


def rule_brute_force_20min_window(resolved: DataFrame) -> DataFrame:
    """Rule 5's hits (client_id, trans_id): the confirmed anchors of
    brute_force_candidates."""
    return brute_force_candidates(resolved).filter("is_hit").select(
        "client_id", F.col("trans_id_start").alias("trans_id")
    )
