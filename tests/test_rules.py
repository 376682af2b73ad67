"""Rule micro-fixtures with known labels (FIXTURES.md §A3): hand-built
event sequences that must / must not fire each rule."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_process_for_fraud_transactions_spark.operators.rules import (
    rule_brute_force_20min_window,
    rule_diff_city_1h_window,
    with_brute_force_flags,
    with_diff_city_flag,
)

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _city_df(spark, rows):
    schema = T.StructType(
        [
            T.StructField("card_num", T.LongType()),
            T.StructField("trans_id", T.LongType()),
            T.StructField("trans_date", T.TimestampNTZType()),
            T.StructField("terminal_city", T.StringType()),
            T.StructField("client_id", T.LongType()),
        ]
    )
    # one city per row: the rows of city_of_transactions, not terminals
    return spark.createDataFrame(rows, schema).withColumn(
        "terminal_multi_city", F.lit(False)
    )


def _bf_df(spark, rows):
    schema = T.StructType(
        [
            T.StructField("client_id", T.LongType()),
            T.StructField("passport_num", T.StringType()),
            T.StructField("trans_id", T.LongType()),
            T.StructField("amt", T.DoubleType()),
            T.StructField("trans_date", T.TimestampNTZType()),
            T.StructField("oper_result", T.StringType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _mins(m):
    return T0 + dt.timedelta(minutes=m)


class TestDiffCity:
    def test_positive_59min(self, spark):
        df = _city_df(
            spark,
            [(1, 10, _mins(0), "CITY_A", 7), (1, 11, _mins(59), "CITY_B", 7)],
        )
        hits = {(r.trans_id, r.client_id) for r in rule_diff_city_1h_window(df).collect()}
        assert hits == {(10, 7), (11, 7)}  # both directions (abs diff)

    def test_negative_61min(self, spark):
        df = _city_df(
            spark,
            [(1, 10, _mins(0), "CITY_A", 7), (1, 11, _mins(61), "CITY_B", 7)],
        )
        assert rule_diff_city_1h_window(df).count() == 0

    def test_negative_same_city(self, spark):
        df = _city_df(
            spark,
            [(1, 10, _mins(0), "CITY_A", 7), (1, 11, _mins(30), "CITY_A", 7)],
        )
        assert rule_diff_city_1h_window(df).count() == 0

    def test_boundary_exactly_1h_included(self, spark):
        """abs(epoch diff) <= 3600 is a closed bound (main.py:435)."""
        df = _city_df(
            spark,
            [(1, 10, _mins(0), "CITY_A", 7), (1, 11, _mins(60), "CITY_B", 7)],
        )
        assert rule_diff_city_1h_window(df).count() == 2

    def test_different_cards_never_pair(self, spark):
        df = _city_df(
            spark,
            [(1, 10, _mins(0), "CITY_A", 7), (2, 11, _mins(10), "CITY_B", 8)],
        )
        assert rule_diff_city_1h_window(df).count() == 0

    def test_bucket_boundary_pairing(self, spark):
        """Pairs straddling a 1-hour bucket edge must still be found
        (the rewrite's ±1 bucket expansion)."""
        edge = dt.datetime(2024, 1, 1, 13, 0, 0)  # exact bucket edge in epoch-hours
        df = _city_df(
            spark,
            [
                (1, 10, edge - dt.timedelta(seconds=30), "CITY_A", 7),
                (1, 11, edge + dt.timedelta(seconds=30), "CITY_B", 7),
            ],
        )
        assert rule_diff_city_1h_window(df).count() == 2


def _bf_rows(amounts_results, start_min=0, step_min=5, client=1, first_id=100):
    return [
        (client, "PA1", first_id + i, amt, _mins(start_min + i * step_min), res)
        for i, (amt, res) in enumerate(amounts_results)
    ]


class TestBruteForce:
    POSITIVE = [(400.0, "REJECT"), (300.0, "REJECT"), (200.0, "REJECT"), (100.0, "SUCCESS")]

    def test_positive_fires_on_start_txn(self, spark):
        df = _bf_df(spark, _bf_rows(self.POSITIVE))
        hits = {(r.client_id, r.trans_id) for r in rule_brute_force_20min_window(df).collect()}
        assert hits == {(1, 100)}  # the window-starting transaction

    def test_three_attempts_insufficient(self, spark):
        df = _bf_df(spark, _bf_rows(self.POSITIVE[:3]))
        assert rule_brute_force_20min_window(df).count() == 0

    def test_non_decreasing_amounts(self, spark):
        rows = _bf_rows(
            [(400.0, "REJECT"), (450.0, "REJECT"), (200.0, "REJECT"), (100.0, "SUCCESS")]
        )
        assert rule_brute_force_20min_window(_bf_df(spark, rows)).count() == 0

    def test_all_reject_never_fires(self, spark):
        rows = _bf_rows([(4.0, "REJECT"), (3.0, "REJECT"), (2.0, "REJECT"), (1.0, "REJECT")])
        assert rule_brute_force_20min_window(_bf_df(spark, rows)).count() == 0

    def test_success_first_never_fires(self, spark):
        rows = _bf_rows([(4.0, "SUCCESS"), (3.0, "REJECT"), (2.0, "REJECT"), (1.0, "REJECT")])
        assert rule_brute_force_20min_window(_bf_df(spark, rows)).count() == 0

    def test_spread_beyond_20min_insufficient(self, spark):
        # 4 attempts but 25 min apart -> no window holds >3
        df = _bf_df(spark, _bf_rows(self.POSITIVE, step_min=25))
        assert rule_brute_force_20min_window(df).count() == 0

    def test_window_straddles_bucket_edge(self, spark):
        # all 4 attempts inside 20 min but crossing a 20-min epoch bucket
        rows = _bf_rows(self.POSITIVE, start_min=55, step_min=4)  # 12:55..13:07
        df = _bf_df(spark, rows)
        hits = {(r.client_id, r.trans_id) for r in rule_brute_force_20min_window(df).collect()}
        assert (1, rows[0][2]) in hits

    def test_different_clients_never_combine(self, spark):
        rows = _bf_rows(self.POSITIVE[:2], client=1) + _bf_rows(
            self.POSITIVE[2:], client=2, first_id=200
        )
        assert rule_brute_force_20min_window(_bf_df(spark, rows)).count() == 0


class TestDenseKey:
    """A dense key is one window partition of many rows, checked with
    one sort; the hits must equal the hand-labelled sets."""

    def test_diff_city_dense_card(self, spark):
        # dense card 1: 100 rows, city alternating every minute -> every
        # row has a differing witness inside +/-1h; card 2 fires once;
        # card 3 never fires
        rows = [
            (1, 1000 + i, _mins(i), "CITY_A" if i % 2 == 0 else "CITY_B", 7)
            for i in range(100)
        ]
        rows += [
            (2, 2000, _mins(0), "CITY_A", 8),
            (2, 2001, _mins(59), "CITY_B", 8),
            (3, 3000, _mins(0), "CITY_A", 9),
            (3, 3001, _mins(10), "CITY_A", 9),
        ]
        got = sorted(
            (r.trans_id, r.client_id)
            for r in rule_diff_city_1h_window(_city_df(spark, rows)).collect()
        )
        # dense card 1's 100 rows (client 7) + card 2's pair (client 8)
        want = sorted([(1000 + i, 7) for i in range(100)] + [(2000, 8), (2001, 8)])
        assert got == want

    def test_brute_force_dense_client(self, spark):
        # dense client 1 (60 rows): one firing 20-min run (decreasing
        # amounts, R,R,R,S) then sparse 30-min-spaced noise; client 2:
        # the canonical positive fixture
        dense = _bf_rows(
            [(400.0, "REJECT"), (300.0, "REJECT"),
             (200.0, "REJECT"), (100.0, "SUCCESS")],
            client=1, first_id=100,
        )
        dense += _bf_rows(
            [(50.0, "SUCCESS")] * 56,
            start_min=60, step_min=30, client=1, first_id=500,
        )
        sparse = _bf_rows(TestBruteForce.POSITIVE, client=2, first_id=9000)
        df = _bf_df(spark, dense + sparse)
        got = sorted(
            (r.client_id, r.trans_id)
            for r in rule_brute_force_20min_window(df).collect()
        )
        # each client fires on its run's first attempt
        assert got == [(1, 100), (2, 9000)]


def test_rows_without_a_client_do_not_share_one_task(spark):
    """Rows that miss the card -> account -> client chain take part in
    neither window rule. Each rule keys such a row by its trans_id, so
    they spread over the shuffle partitions instead of all sorting in
    the one task of a null key."""
    rows = [(None, 100 + i, _mins(i), "CITY_A" if i % 2 else "CITY_B", None) for i in range(64)]
    df = _city_df(spark, rows).select(
        "*", F.lit(1.0).alias("amt"),
        F.when(F.col("trans_id") % 4 == 3, "SUCCESS").otherwise("REJECT").alias("oper_result"),
    )
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        for flagged, hit in ((with_diff_city_flag(df), "diff_city_hit"),
                             (with_brute_force_flags(df), "brute_force_candidate")):
            got = flagged.select(F.spark_partition_id().alias("part"), hit).collect()
            assert len(got) == 64 and not any(r[hit] for r in got)
            assert len({r.part for r in got}) > 1
    finally:
        spark.conf.set(conf, prev)


def test_dense_driver_row_matches_sql_oracle_at_sf001(spark, duck):
    """The brute_force_hits_dense row's mapping at sf0.01: five
    clients of ~2,000 rows each, every one a single window partition
    (at sf0.001 no window holds four attempts, so both stages would
    be empty there).
    Both rule-5 stages equal the reference's SQL chain on DuckDB row
    for row: every candidate window with its hit flag, and the row's
    hits against its registered oracle."""
    from etl_process_for_fraud_transactions_spark.operators import rules as R
    from etl_process_for_fraud_transactions_spark.plans import ORACLE, QUERIES
    from etl_process_for_fraud_transactions_spark.plans.queries import _DENSE_CHAIN
    from etl_process_for_fraud_transactions_spark.sources.testdata import (
        load_events,
    )

    from .conftest import SF_ORACLE, register_views

    ev = load_events(spark, SF_ORACLE)
    resolved = ev.select(
        (F.col("user_id") % 5).alias("client_id"),
        F.col("event_id").alias("trans_id"),
        F.col("value").alias("amt"),
        F.col("ts").alias("trans_date"),
        F.when(F.col("event_type") == "purchase", F.lit("SUCCESS"))
        .otherwise(F.lit("REJECT"))
        .alias("oper_result"),
    )
    register_views(duck, SF_ORACLE)
    want = duck.execute(
        f"WITH {_DENSE_CHAIN}\n"
        "SELECT s.client_id, s.trans_id_start, r.trans_id IS NOT NULL"
        " FROM selected_req s LEFT JOIN reassembly_of_amounts r"
        " ON r.client_id = s.client_id AND r.trans_id = s.trans_id_start"
    ).fetchall()
    got = [tuple(r) for r in R.brute_force_candidates(resolved).collect()]
    assert want  # non-vacuous: the dense clients hold candidate windows
    assert sorted(got) == sorted((int(c), int(t), h) for c, t, h in want)

    row = QUERIES["brute_force_hits_dense"](spark, SF_ORACLE)
    oracle = duck.execute(ORACLE["brute_force_hits_dense"]).fetchall()
    assert sorted(tuple(r) for r in row.collect()) == sorted(
        (int(c), int(t)) for c, t in oracle
    )
