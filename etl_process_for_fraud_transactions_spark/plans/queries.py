"""Driver-facing query inventory: every entry pairs a PySpark
DataFrame builder with a DuckDB oracle SQL twin (SURVEY.md §5.2).

Determinism contract with the oracle:
- double aggregation goes through per-row DECIMAL casts so sums are
  exact (float summation order is nondeterministic in both engines);
- every window ordering carries a unique tie-breaker;
- computed columns are aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.core import epoch_us, null_safe_concat_ws
from ..operators import rules as R
from ..operators.report import assemble_report
from ..sources.testdata import load_events, load_table
from . import analog

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def dsum(col, scale: int = 4):
    """Deterministic double sum: per-row decimal cast -> exact decimal
    sum -> double. Bit-identical across Spark and DuckDB."""
    return F.sum(col.cast(f"decimal(18,{scale})")).cast("double")


# ===========================================================================
# Relational core over the TPC-H-ish tables
# ===========================================================================

@query(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shape scan->filter->hash-aggregate (A1 family). The
    filter and the 5-column projection push down to the parquet scan;
    aggregation is two-phase (partial map-side) automatically."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias(
                "sum_disc_price"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "multihop_revenue",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def multihop_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1-family multi-hop snowflake join.

    Broadcast hints go ONLY on the bounded dims (nation: 25 rows,
    region: 5 rows — constant regardless of scale factor). orders and
    customer grow linearly with the fact, so they carry NO hint: a
    hinted broadcast does not fall back past
    ``autoBroadcastJoinThreshold`` (Catalyst honors the hint and a
    >8 GB broadcast aborts the job), whereas an unhinted join lets
    AQE pick broadcast at small SF and shuffled-hash/sort-merge at
    scale. The selective dims are folded into customer FIRST, so the
    shuffled orders⋈customer join sees a pre-filtered (~1/5) build
    side and the region filter is applied before any fact shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    asia_customers = c.join(
        F.broadcast(asia_nations), F.col("c_nationkey") == F.col("n_nationkey")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(asia_customers, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "top_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders
    )
    WHERE rn <= 3
    """,
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-k (W1/W2/O2 family) with a deterministic
    tie-breaker. At scale this is the standard single-shuffle top-k:
    partition by key, rank, filter."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "orders_without_recent_events",
    """
    SELECT o_orderkey, o_custkey
    FROM orders
    WHERE o_orderstatus = 'F'
      AND o_custkey NOT IN (SELECT user_id FROM events WHERE user_id IS NOT NULL)
    """,
)
def orders_without_recent_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join family (J8/J9): left-anti against the distinct event-user
    key set.

    No broadcast hint (round 9): the key frame is derived from the
    `events` fact table, so it scales with the data — at the 100× framing
    the distinct-user set is 10^7-10^8 keys, and a hinted broadcast never
    falls back past autoBroadcastJoinThreshold. AQE re-derives the
    broadcast from runtime stats when the side is genuinely small (it is
    at every test SF), and degrades to a shuffled join when it isn't —
    the same adjudication as multihop_revenue's fact joins (round 5) and
    cap_per_domain's gate (round 8). The reference's J9 small side
    (main.py:392-396, a passport blacklist) IS bounded, so the engine
    path in jobs/daily.py keeps its hint."""
    o = load_table(spark, sf_dir, "orders")
    ev = load_events(spark, sf_dir).select(F.col("user_id").alias("o_custkey")).distinct()
    return (
        o.filter(F.col("o_orderstatus") == "F")
        .join(ev, "o_custkey", "left_anti")
        .select("o_orderkey", "o_custkey")
    )


@query(
    "customers_with_high_value_events",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_custkey IN (SELECT user_id FROM events WHERE value > 400)
    """,
)
def customers_with_high_value_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join family (J7/P8): left-semi against the value>400 key set.

    No broadcast hint (round 9): the key set is a filtered projection of
    the `events` fact table — it scales with the data, so a forced
    broadcast is a scale-killer by construction (see
    orders_without_recent_events). AQE picks broadcast at runtime when
    the filtered side is actually small."""
    c = load_table(spark, sf_dir, "customer")
    ev = (
        load_events(spark, sf_dir)
        .filter(F.col("value") > 400)
        .select(F.col("user_id").alias("c_custkey"))
    )
    return c.join(ev, "c_custkey", "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "grouped_result_mix",
    """
    SELECT user_id, cnt, total_value, has_signup
    FROM (
        SELECT user_id,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
               list_contains(list(DISTINCT event_type), 'signup') AS has_signup,
               bool_or(event_type = 'purchase') AS _p,
               bool_or(event_type = 'error') AS _e
        FROM events
        GROUP BY user_id
    )
    WHERE cnt > 3 AND _p AND _e
    """,
)
def grouped_result_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 family: GROUP BY ... HAVING with set-membership over the
    grouped values, in both shapes from SURVEY.md §2.5 — the
    conditional-aggregation decomposition (no per-group array buffers;
    gates the HAVING) AND the literal array_agg + ANY(...) form
    (main.py:466; collect_set + array_contains feeds `has_signup`).

    Round 3: absorbs the former `collected_results_membership` entry —
    the driver runs the first 50 registered queries, so single-operator
    demos with overlapping coverage are folded into compound queries."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum(F.col("value")).alias("total_value"),
            F.array_contains(F.collect_set("event_type"), "signup").alias("has_signup"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("_p"),
            F.max(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("_e"),
        )
        .filter((F.col("cnt") > 3) & (F.col("_p") == 1) & (F.col("_e") == 1))
        .select("user_id", "cnt", "total_value", "has_signup")
    )


@query(
    "case_priority_classification",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'JUMBO'
                WHEN o_orderpriority = '1-URGENT' THEN 'URGENT'
                WHEN o_orderstatus = 'F' THEN 'FINISHED'
           END AS bucket
    FROM orders
    WHERE o_totalprice > 300000 OR o_orderpriority = '1-URGENT' OR o_orderstatus = 'F'
    """,
)
def case_priority_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 family: prioritized searched CASE with no ELSE (-> NULL) plus
    the rule-gating OR filter (P12)."""
    o = load_table(spark, sf_dir, "orders")
    jumbo = F.col("o_totalprice") > 300000
    urgent = F.col("o_orderpriority") == "1-URGENT"
    finished = F.col("o_orderstatus") == "F"
    bucket = (
        F.when(jumbo, F.lit("JUMBO"))
        .when(urgent, F.lit("URGENT"))
        .when(finished, F.lit("FINISHED"))
    )
    return o.filter(jumbo | urgent | finished).select(
        "o_orderkey", bucket.alias("bucket")
    )


@query(
    "null_propagating_concat",
    """
    SELECT c_custkey,
           c_name || ' ' || CASE WHEN c_acctbal < 0 THEN NULL ELSE c_mktsegment END AS tagged_name
    FROM customer
    """,
)
def null_propagating_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 family: PostgreSQL `||` null semantics — NULL operand nulls
    the whole concat (deliberately NOT concat_ws)."""
    c = load_table(spark, sf_dir, "customer")
    seg = F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(F.col("c_mktsegment"))
    return c.select(
        "c_custkey",
        null_safe_concat_ws(" ", F.col("c_name"), seg).alias("tagged_name"),
    )


@query(
    "date_arithmetic_probe",
    """
    SELECT o_orderkey,
           strftime(CAST(o_orderdate AS DATE) + CAST(30 AS INT), '%Y-%m-%d') AS due_date,
           o_orderdate + INTERVAL 20 MINUTE AS grace_ts,
           CAST(epoch_us(o_orderdate) AS BIGINT) AS epoch_us
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-12-31 23:59:59'
    """,
)
def date_arithmetic_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F5 family: date casts, interval arithmetic, epoch extraction,
    BETWEEN on timestamps. DATE-typed outputs are emitted as ISO strings
    on both sides: DuckDB's pandas bridge renders dates as midnight
    timestamps, Spark as date objects, so a raw DATE column can
    hash-mismatch even when values agree."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderdate").between(
            F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"),
            F.lit("1996-12-31 23:59:59").cast("timestamp_ntz"),
        )
    ).select(
        "o_orderkey",
        F.date_format(F.date_add(F.col("o_orderdate").cast("date"), 30), "yyyy-MM-dd").alias("due_date"),
        (F.col("o_orderdate") + F.expr("INTERVAL 20 MINUTES")).alias("grace_ts"),
        epoch_us(F.col("o_orderdate")).alias("epoch_us"),
    )


# ===========================================================================
# Fraud-domain analogs (the reference's own pipeline, SURVEY.md §3.3)
# ===========================================================================

_CITY_CTE = """
city_of_transactions AS (
    SELECT t.card_num AS card_num, t.trans_id AS trans_id, t.trans_date AS trans_date,
           term.terminal_city AS terminal_city, c.client_id AS client_id
    FROM transactions t
    JOIN cards car  ON car.card_num = t.card_num AND car.deleted_flg = FALSE
    JOIN accounts a ON a.account_num = car.account_num AND a.deleted_flg = FALSE
    JOIN clients c  ON c.client_id = a.client AND c.deleted_flg = FALSE
    JOIN terminals term ON t.terminal = term.terminal_id AND term.deleted_flg = FALSE
)
""".strip()

_REQ_CTES = """
req_start_for_4_rule AS (
    SELECT t.trans_id AS trans_id, t.trans_date AS trans_date, t.amt AS amt,
           t.oper_result AS oper_result, cl.client_id AS client_id,
           cl.passport_num AS passport_num
    FROM transactions t
    JOIN cards c   ON c.card_num = t.card_num AND c.deleted_flg = FALSE
    JOIN accounts a ON a.account_num = c.account_num AND a.deleted_flg = FALSE
    JOIN clients cl ON cl.client_id = a.client AND cl.deleted_flg = FALSE
),
joined_req AS (
    SELECT r1.client_id AS client_id, r1.passport_num AS passport_num,
           r1.trans_id AS trans_id_start, r2.trans_id AS trans_id_20min,
           r1.amt AS amt_start, r2.amt AS amt_20min,
           r1.trans_date AS trans_date_start, r2.trans_date AS trans_date_20min,
           r2.oper_result AS oper_result
    FROM req_start_for_4_rule r1
    JOIN req_start_for_4_rule r2
      ON r2.client_id = r1.client_id
     AND r2.trans_date BETWEEN r1.trans_date AND r1.trans_date + INTERVAL 20 MINUTE
),
selected_req AS (
    SELECT client_id, trans_id_start
    FROM joined_req
    GROUP BY client_id, trans_id_start
    HAVING COUNT(*) > 3 AND bool_or(oper_result = 'SUCCESS') AND bool_or(oper_result = 'REJECT')
),
sorted_req AS (
    SELECT j.*, row_number() OVER (PARTITION BY j.client_id, j.trans_id_start
                                   ORDER BY trans_date_20min ASC, trans_id_20min ASC) AS rn_datetime
    FROM joined_req j
    JOIN selected_req s ON s.client_id = j.client_id AND j.trans_id_start = s.trans_id_start
),
sorted_4w_only AS (
    SELECT *, row_number() OVER (PARTITION BY client_id, trans_id_start
                                 ORDER BY amt_20min DESC, trans_id_20min ASC) AS rn_amt
    FROM sorted_req
    WHERE rn_datetime IN (1,2,3,4)
),
only_sorted_trans_amt AS (
    SELECT client_id, trans_id_start
    FROM sorted_4w_only
    WHERE rn_amt = rn_datetime
    GROUP BY client_id, trans_id_start
    HAVING COUNT(*) = 4
),
fraud_start_here AS (
    SELECT s.client_id, s.trans_id_start
    FROM sorted_4w_only s JOIN only_sorted_trans_amt a
      ON s.client_id = a.client_id AND s.trans_id_start = a.trans_id_start
    WHERE s.rn_datetime = 4 AND s.oper_result = 'SUCCESS'
    INTERSECT
    SELECT s.client_id, s.trans_id_start
    FROM sorted_4w_only s JOIN only_sorted_trans_amt a
      ON s.client_id = a.client_id AND s.trans_id_start = a.trans_id_start
    WHERE s.rn_datetime = 3 AND s.oper_result = 'REJECT'
    INTERSECT
    SELECT s.client_id, s.trans_id_start
    FROM sorted_4w_only s JOIN only_sorted_trans_amt a
      ON s.client_id = a.client_id AND s.trans_id_start = a.trans_id_start
    WHERE s.rn_datetime = 2 AND s.oper_result = 'REJECT'
    INTERSECT
    SELECT s.client_id, s.trans_id_start
    FROM sorted_4w_only s JOIN only_sorted_trans_amt a
      ON s.client_id = a.client_id AND s.trans_id_start = a.trans_id_start
    WHERE s.rn_datetime = 1 AND s.oper_result = 'REJECT'
),
reassembly_of_amounts AS (
    SELECT f.client_id AS client_id, f.trans_id_start AS trans_id
    FROM sorted_4w_only w
    JOIN fraud_start_here f ON f.client_id = w.client_id AND f.trans_id_start = w.trans_id_start
    WHERE w.rn_datetime = 4
)
""".strip()


# rule 4 over city_of_transactions (main.py:428-436)
_DIFF_CITY_SQL = """
        SELECT DISTINCT a.trans_id AS trans_id, a.client_id AS client_id
        FROM city_of_transactions a
        JOIN city_of_transactions b ON a.card_num = b.card_num
        WHERE a.terminal_city <> b.terminal_city
          AND abs(epoch(a.trans_date - b.trans_date)) <= 60*60
        """


@query(
    "diff_city_short_time",
    analog.oracle_with_domain(_DIFF_CITY_SQL, extra_ctes=_CITY_CTE),
)
def diff_city_short_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule 4 (J5 theta self-join, main.py:428-436) through the
    report's own implementation: one sort per card, each row checked
    against the nearest rows in another city before and after it."""
    d = analog.domain_frames(spark, sf_dir)
    resolved = R.resolve_transactions(
        d["transactions"], d["cards"], d["accounts"], d["clients"]
    )
    return R.rule_diff_city_1h_window(R.attach_terminal_city(resolved, d["terminals"]))


@query(
    "brute_force_hits",
    analog.oracle_with_domain(
        """
        SELECT s.client_id AS client_id, s.trans_id_start AS trans_id_start,
               (r.trans_id IS NOT NULL) AS is_hit
        FROM selected_req s
        LEFT JOIN reassembly_of_amounts r
          ON r.client_id = s.client_id AND r.trans_id = s.trans_id_start
        """,
        extra_ctes=_REQ_CTES,
    ),
)
def brute_force_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full rule 5 (main.py:444-530) through the report's own
    implementation: one row per candidate window (the reference's
    interval self-join -> HAVING) with `is_hit` marking the windows
    the full chain confirms (double row_number -> 4-way INTERSECT ->
    reassembly), so both stages are hash-checked in one query (the
    former `brute_force_candidates` entry, folded in round 3 for the
    driver's 50-query cap). Both flags come from the same sort per
    client, so no join brings the hits back to the candidates."""
    d = analog.domain_frames(spark, sf_dir)
    resolved = R.resolve_transactions(
        d["transactions"], d["cards"], d["accounts"], d["clients"]
    )
    return R.brute_force_candidates(resolved)


_DENSE_REQ = """
req_dense AS (
    SELECT user_id % 5 AS client_id,
           'PX' || CAST(user_id % 5 AS VARCHAR) AS passport_num,
           event_id AS trans_id, value AS amt, ts AS trans_date,
           CASE WHEN event_type = 'purchase' THEN 'SUCCESS' ELSE 'REJECT' END AS oper_result
    FROM events
),
joined_req AS (
    SELECT r1.client_id AS client_id, r1.passport_num AS passport_num,
           r1.trans_id AS trans_id_start, r2.trans_id AS trans_id_20min,
           r1.amt AS amt_start, r2.amt AS amt_20min,
           r1.trans_date AS trans_date_start, r2.trans_date AS trans_date_20min,
           r2.oper_result AS oper_result
    FROM req_dense r1
    JOIN req_dense r2
      ON r2.client_id = r1.client_id
     AND r2.trans_date BETWEEN r1.trans_date AND r1.trans_date + INTERVAL 20 MINUTE
)
""".strip()


# the rule chain downstream of joined_req, shared with the dense variant
_RULE5_TAIL = "selected_req AS (" + _REQ_CTES.split("selected_req AS (", 1)[1]

_DENSE_CHAIN = _DENSE_REQ + ",\n" + _RULE5_TAIL


@query(
    "brute_force_hits_dense",
    f"WITH {_DENSE_CHAIN}\nSELECT client_id, trans_id FROM reassembly_of_amounts",
)
def brute_force_hits_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule 5 on a dense client mapping (user_id % 5, REJECT unless
    purchase): the full brute-force pattern genuinely fires here (~3
    hits at sf0.01), exercising every stage of the chain with
    non-empty intermediates.

    The five dense clients carry ~n/5 rows each, so this row is the
    dense-key proof of the sort-once rule form: every client is one
    window partition of thousands of rows, all checked against the
    reference's SQL chain under the DuckDB hash."""
    ev = load_events(spark, sf_dir)
    resolved = ev.select(
        (F.col("user_id") % 5).alias("client_id"),
        F.col("event_id").alias("trans_id"),
        F.col("value").alias("amt"),
        F.col("ts").alias("trans_date"),
        F.when(F.col("event_type") == "purchase", F.lit("SUCCESS"))
        .otherwise(F.lit("REJECT"))
        .alias("oper_result"),
    )
    return R.rule_brute_force_20min_window(resolved)


#: clients erased through the REAL Warehouse.erase_keys after the
#: SCD2 replay. Round 15 (VERDICT r14 item 4 — the PARTITIONED-layout
#: erasure branch under the driver hash): the dim persists
#: hive-partitioned by `segment` and the erasure set is key 7 (a %7
#: changed key — its WHOLE history goes: the closed-out 2024-01-01
#: row lives in its original-segment partition, the 2024-01-02
#: current row in SEGMENT_X, so TWO partitions must be rewritten)
#: plus EVERY key of the FRESH partition (the %13 inserts — the
#: insert-then-erase case, now also the all-erased-partition case:
#: dynamic overwrite alone would leave FRESH's old files in place, so
#: erase_keys must REMOVE the directory; resurrection fails
#: rows_match). The oracle excludes key 7 and the whole FRESH segment.
_SCD2_ERASED_KEY = 7


@query(
    "scd2_replay",
    f"""
    SELECT * FROM (
    WITH b1 AS (
        SELECT c_custkey AS ckey, c_name AS name, c_mktsegment AS segment FROM customer
    ),
    b2 AS (
        SELECT c_custkey AS ckey, c_name AS name,
               CASE WHEN c_custkey % 7 = 0 THEN 'SEGMENT_X' ELSE c_mktsegment END AS segment
        FROM customer
        UNION ALL
        SELECT c_custkey + 1000000 AS ckey, 'NEW' || CAST(c_custkey AS VARCHAR) AS name,
               'FRESH' AS segment
        FROM customer WHERE c_custkey % 13 = 0
    ),
    changed AS (
        SELECT b1.ckey FROM b1 JOIN b2 ON b1.ckey = b2.ckey
        WHERE b1.name <> b2.name OR b1.segment <> b2.segment
    )
    SELECT ckey, name, segment,
           '2024-01-01' AS effective_from, '2024-01-02' AS effective_to, TRUE AS deleted_flg
    FROM b1 WHERE ckey IN (SELECT ckey FROM changed)
    UNION ALL
    SELECT ckey, name, segment, '2024-01-01', '3000-01-01', FALSE
    FROM b1 WHERE ckey NOT IN (SELECT ckey FROM changed)
    UNION ALL
    SELECT b2.ckey, b2.name, b2.segment, '2024-01-02', '3000-01-01', FALSE
    FROM b2 LEFT JOIN b1 ON b2.ckey = b1.ckey
    WHERE b1.ckey IS NULL OR (b1.name <> b2.name OR b1.segment <> b2.segment)
    ) WHERE ckey <> {_SCD2_ERASED_KEY} AND segment <> 'FRESH'
    """,
)
def scd2_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 composite operator (§2.4) under the driver's oracle:
    bootstrap batch 1 from customer, then apply batch 2 with changed
    segments (custkey%7), new keys (custkey%13 offset by 1e6), and the
    rest unchanged. The oracle SQL is the declarative restatement of
    close-out + insert semantics.

    Round 14 (VERDICT r13 item 7 — right-to-erasure under the hash):
    the replayed dimension is persisted to a per-call scratch
    warehouse and erased through the REAL `Warehouse.erase_keys`
    (sources/warehouse.py); the served frame is the read-back of the
    rewritten table, so a skipped, partial, or resurrecting erasure
    flips rows_match; the oracle simply never emits the erased keys.

    Round 15 (VERDICT r14 item 4 — the PARTITIONED branch, the
    at-scale path, under the hash): the dim persists hive-partitioned
    by `segment` and erase_keys runs with partition_cols="segment" —
    the partition-pruned rewrite: a semi-joined distinct discovers the
    affected partitions, only those are dynamically overwritten, and
    a partition whose EVERY row is erased (FRESH — all %13 inserts go,
    the data-broker-contract-ends shape) is REMOVED outright, because
    dynamic overwrite alone would leave its old files serving
    (silent resurrection). Load-bearing both ways: a skipped rewrite
    leaves key 7's history rows (two partitions: original segment +
    SEGMENT_X) and a resurrected FRESH partition re-emits every
    insert — either fails rows_match. The null-partition and
    crash-window semantics stay pinned in tests/test_erasure.py."""
    from ..operators.scd2 import scd2_apply

    c = load_table(spark, sf_dir, "customer")
    b1 = c.select(
        F.col("c_custkey").alias("ckey"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )
    b2 = c.select(
        F.col("c_custkey").alias("ckey"),
        F.col("c_name").alias("name"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("SEGMENT_X"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
    ).unionByName(
        c.filter(F.col("c_custkey") % 13 == 0).select(
            (F.col("c_custkey") + 1000000).alias("ckey"),
            F.concat(F.lit("NEW"), F.col("c_custkey").cast("string")).alias("name"),
            F.lit("FRESH").alias("segment"),
        )
    )
    h1 = scd2_apply(None, b1, ["ckey"], ["name", "segment"], F.lit("2024-01-01").cast("date"))
    h2 = scd2_apply(h1, b2, ["ckey"], ["name", "segment"], F.lit("2024-01-02").cast("date"))
    dim = h2.select(
        "ckey",
        "name",
        "segment",
        F.date_format("effective_from", "yyyy-MM-dd").alias("effective_from"),
        F.date_format("effective_to", "yyyy-MM-dd").alias("effective_to"),
        "deleted_flg",
    )
    # right-to-erasure through the real operator (round 14; round 15:
    # the PARTITIONED branch): persist the dim hive-partitioned by
    # segment, erase through the partition-pruned rewrite, serve the
    # read-back. The returned frame reads the store lazily, so each
    # call gets its own scratch warehouse: a later call (or another
    # process) never deletes the files under an earlier frame
    from ..sources.warehouse import Warehouse, atomic_overwrite

    wh = Warehouse.scratch(spark, "scd2_wh_")
    atomic_overwrite(
        dim, wh.path("dim_clients"), partition_by=["segment"]
    )
    # the erasure set: key 7's whole history plus every FRESH-segment
    # subject — derived from the just-persisted table so the request
    # matches what the warehouse actually holds
    persisted = wh.read("dim_clients")
    erase = persisted.filter(
        (F.col("ckey") == _SCD2_ERASED_KEY)
        | (F.col("segment") == "FRESH")
    ).select("ckey")
    wh.erase_keys(
        "dim_clients", "ckey", erase, partition_cols="segment"
    )
    out = wh.read("dim_clients")
    return out.select(
        "ckey", "name", "segment",
        "effective_from", "effective_to", "deleted_flg",
    )


@query(
    "fraud_report",
    analog.oracle_with_domain(
        f"""
        SELECT t.trans_date AS event_dt,
               c.passport_num AS passport,
               c.first_name || ' ' || c.patrinymic || ' ' || c.last_name AS fio,
               c.phone AS phone,
               CASE WHEN b.passport_num IS NOT NULL THEN '{R.EV_BLOCKED_PASSPORT}'
                    WHEN c.passport_valid_to < t.trans_date THEN '{R.EV_EXPIRED_PASSPORT}'
                    WHEN acc.valid_to < t.trans_date THEN '{R.EV_INVALID_CONTRACT}'
                    WHEN h.client_id IS NOT NULL THEN '{R.EV_DIFF_CITY}'
                    WHEN r.client_id IS NOT NULL THEN '{R.EV_BRUTE_FORCE}'
               END AS event_type,
               '2024-01-31' AS report_dt
        FROM transactions t
        LEFT JOIN cards car ON car.card_num = t.card_num AND car.deleted_flg = FALSE
        LEFT JOIN accounts acc ON acc.account_num = car.account_num AND acc.deleted_flg = FALSE
        LEFT JOIN clients c ON c.client_id = acc.client AND c.deleted_flg = FALSE
        LEFT JOIN (SELECT DISTINCT passport_num FROM blacklist) b ON c.passport_num = b.passport_num
        LEFT JOIN one_hour_diff_city_transactions h
               ON h.client_id = c.client_id AND t.trans_id = h.trans_id
        LEFT JOIN reassembly_of_amounts r
               ON r.client_id = c.client_id AND t.trans_id = r.trans_id
        WHERE b.passport_num IS NOT NULL
           OR c.passport_valid_to < t.trans_date
           OR acc.valid_to < t.trans_date
           OR h.client_id IS NOT NULL
           OR r.client_id IS NOT NULL
        """,
        extra_ctes=_CITY_CTE
        + """,
one_hour_diff_city_transactions AS (
    SELECT DISTINCT a.trans_id AS trans_id, a.client_id AS client_id
    FROM city_of_transactions a
    JOIN city_of_transactions b ON a.card_num = b.card_num
    WHERE a.terminal_city <> b.terminal_city
      AND abs(epoch(a.trans_date - b.trans_date)) <= 60*60
),
"""
        + _REQ_CTES,
    ),
)
def fraud_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship five-rule report (main.py:414-560)."""
    d = analog.domain_frames(spark, sf_dir)
    return assemble_report(
        d["transactions"],
        d["cards"],
        d["accounts"],
        d["clients"],
        d["terminals"],
        d["blacklist"],
        # string, not DATE: see date_arithmetic_probe docstring
        report_dt=F.lit("2024-01-31"),
    )
