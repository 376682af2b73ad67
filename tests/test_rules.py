"""Rule micro-fixtures with known labels (FIXTURES.md §A3): hand-built
event sequences that must / must not fire each rule."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import types as T

from etl_process_for_fraud_transactions_spark.operators.rules import (
    rule_brute_force_20min_window,
    rule_diff_city_1h_window,
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
    return spark.createDataFrame(rows, schema)


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


class TestCelebrityKeyGate:
    """Round 11: the windowed rule forms carry a measured per-key
    density probe (rules._hot_keys) that routes celebrity keys through
    the salted bucketed pair join — a window partition is one task, so
    a hot key would otherwise serialize on one core. The routed output
    must equal the pure window form and the hand-labelled hits."""

    def _hot_city_rows(self):
        # hot card 1: 100 rows, city alternating every minute -> every
        # row has a differing witness inside +/-1h; cold card 2 fires
        # once; cold card 3 never fires
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
        return rows

    def test_diff_city_gate_routes_and_output_identical(self, spark):
        from etl_process_for_fraud_transactions_spark.operators.rules import (
            _hot_keys,
        )

        df = _city_df(spark, self._hot_city_rows())
        base = df.select(
            "card_num", "trans_id", "trans_date", "terminal_city", "client_id"
        )
        # the probe trips on exactly the planted hot card
        hot = _hot_keys(base, "card_num", 50)
        assert [r.card_num for r in hot.collect()] == [1]
        assert _hot_keys(base, "card_num", 1000) is None  # below density

        routed = rule_diff_city_1h_window(df, hot_key_max_rows=50)
        # the gate visibly split the plan: window leg UNION pair leg
        assert "Union" in routed._jdf.queryExecution().analyzed().toString()
        pure_window = rule_diff_city_1h_window(df, hot_key_max_rows=None)
        assert (
            "Union"
            not in pure_window._jdf.queryExecution().analyzed().toString()
        )

        key = lambda d: sorted((r.trans_id, r.client_id) for r in d.collect())
        got = key(routed)
        # hot card 1's 100 rows (client 7) + cold card 2's pair (client 8)
        want = sorted([(1000 + i, 7) for i in range(100)] + [(2000, 8), (2001, 8)])
        assert got == key(pure_window) == want

    def test_brute_force_gate_routes_and_output_identical(self, spark):
        # hot client 1 (60 rows > threshold 50): one firing 20-min run
        # (decreasing amounts, R,R,R,S) then sparse 30-min-spaced noise;
        # cold client 2: the canonical positive fixture
        hot = _bf_rows(
            [(400.0, "REJECT"), (300.0, "REJECT"),
             (200.0, "REJECT"), (100.0, "SUCCESS")],
            client=1, first_id=100,
        )
        hot += _bf_rows(
            [(50.0, "SUCCESS")] * 56,
            start_min=60, step_min=30, client=1, first_id=500,
        )
        cold = _bf_rows(TestBruteForce.POSITIVE, client=2, first_id=9000)
        df = _bf_df(spark, hot + cold)

        routed = rule_brute_force_20min_window(df, hot_key_max_rows=50)
        assert "Union" in routed._jdf.queryExecution().analyzed().toString()

        key = lambda d: sorted((r.client_id, r.trans_id) for r in d.collect())
        got = key(routed)
        assert got == key(
            rule_brute_force_20min_window(df, hot_key_max_rows=None)
        )
        # non-vacuous on BOTH legs: hot client fired via the pair leg,
        # cold client via the window leg, each on its run's first attempt
        assert got == [(1, 100), (2, 9000)]


def test_hot_key_gate_persist_registry_releases_deterministically(spark):
    """A tripped probe's persisted hot-key frame lands in the caller's
    persist_registry (and, through assemble_report, in
    _rule_hit_frames) so a per-date loop releases it instead of
    accumulating cache until LRU pressure — the cap_per_domain
    deterministic-release lesson applied to the gate."""
    from etl_process_for_fraud_transactions_spark.operators.rules import (
        rule_diff_city_1h_window,
    )

    # assert the registered frame's OWN storage level, not a global
    # persistent-RDD count delta — the async ContextCleaner shrinks
    # the global set mid-test (the flake class fixed in r12/r13's
    # cache-release tests; this test carried the last instance)
    def _live(frame):
        lvl = frame.storageLevel
        return lvl.useMemory or lvl.useDisk

    rows = [
        (1, 1000 + i, _mins(i), "CITY_A" if i % 2 == 0 else "CITY_B", 7)
        for i in range(60)
    ]
    df = _city_df(spark, rows)
    registry: list = []
    out = rule_diff_city_1h_window(
        df, hot_key_max_rows=50, persist_registry=registry
    )
    out.collect()
    assert len(registry) == 1
    assert all(_live(f) for f in registry)
    for f in registry:
        f.unpersist(blocking=True)
    assert not any(_live(f) for f in registry)
    # an untripped probe registers nothing (and unpersists internally)
    registry2: list = []
    rule_diff_city_1h_window(
        df, hot_key_max_rows=1000, persist_registry=registry2
    ).collect()
    assert registry2 == []


def test_hot_key_gate_direct_caller_gets_release_handle(spark):
    """Round 12 (ADVICE r11): a DIRECT call without a persist_registry
    must still surface the tripped probe's persisted frame —
    `result._gate_persists` — so repeated direct calls have a
    deterministic unpersist handle instead of leaking cache until LRU
    pressure."""
    from etl_process_for_fraud_transactions_spark.operators.rules import (
        rule_brute_force_20min_window,
        rule_diff_city_1h_window,
    )

    def _live(frame):
        lvl = frame.storageLevel
        return lvl.useMemory or lvl.useDisk

    rows = [
        (1, 1000 + i, _mins(i), "CITY_A" if i % 2 == 0 else "CITY_B", 7)
        for i in range(60)
    ]
    df = _city_df(spark, rows)
    out = rule_diff_city_1h_window(df, hot_key_max_rows=50)
    out.collect()
    handles = out._gate_persists
    assert len(handles) == 1
    # assertions ride the handle's OWN storage level, not a global
    # persistent-RDD count — Spark's async ContextCleaner can shrink
    # the global count mid-test in a full-suite session
    assert _live(handles[0])
    for f in handles:
        f.unpersist(blocking=True)
    assert not _live(handles[0])

    # untripped probe: no attribute (nothing persisted to release)
    cold = rule_diff_city_1h_window(df, hot_key_max_rows=1000)
    cold.collect()
    assert not hasattr(cold, "_gate_persists")

    # the brute-force wrapper carries the same contract
    bf_rows = [
        (7, 2000 + i, 100.0 - i, _mins(i % 19), "REJECT")
        for i in range(60)
    ]
    bf = spark.createDataFrame(
        bf_rows,
        "client_id: int, trans_id: long, amt: double, "
        "trans_date: timestamp, oper_result: string",
    )
    out_bf = rule_brute_force_20min_window(bf, hot_key_max_rows=50)
    out_bf.collect()
    assert len(out_bf._gate_persists) == 1
    assert _live(out_bf._gate_persists[0])
    for f in out_bf._gate_persists:
        f.unpersist(blocking=True)
    assert not _live(out_bf._gate_persists[0])


def test_dense_driver_row_routes_mixed_legs_at_sf0001(spark, duck):
    """Round 12 (VERDICT r11 item 6): the registered
    brute_force_hits_dense row's gate (hot_key_max_rows=200)
    DEMONSTRABLY trips on driver data — at sf0.001 the measured probe
    routes dense clients {2, 4} (216/226 rows) through the salted
    pair leg while {0, 1, 3} stay on the window leg, and the mixed
    union equals the pure window form and the row's DuckDB oracle
    (the reference's SQL chain) row for row."""
    from pyspark.sql import functions as F

    from etl_process_for_fraud_transactions_spark.operators import rules as R
    from etl_process_for_fraud_transactions_spark.operators.rules import (
        _hot_keys,
    )
    from etl_process_for_fraud_transactions_spark.plans import ORACLE
    from etl_process_for_fraud_transactions_spark.sources.testdata import (
        load_events,
    )

    from .conftest import SF_SMALL, register_views

    ev = load_events(spark, SF_SMALL)
    resolved = ev.select(
        (F.col("user_id") % 5).alias("client_id"),
        F.concat(
            F.lit("PX"), (F.col("user_id") % 5).cast("string")
        ).alias("passport_num"),
        F.col("event_id").alias("trans_id"),
        F.col("value").alias("amt"),
        F.col("ts").alias("trans_date"),
        F.when(F.col("event_type") == "purchase", F.lit("SUCCESS"))
        .otherwise(F.lit("REJECT"))
        .alias("oper_result"),
    )
    base = resolved.select(
        "client_id", "trans_id", "amt", "trans_date", "oper_result"
    )
    registry: list = []
    hot = _hot_keys(base, "client_id", 200, persist_registry=registry)
    assert hot is not None
    assert {r.client_id for r in hot.collect()} == {2, 4}

    key = lambda out: sorted(tuple(r) for r in out.collect())
    mixed = R.rule_brute_force_20min_window(resolved, hot_key_max_rows=200)
    got = key(mixed)
    assert got == key(R.rule_brute_force_20min_window(resolved, hot_key_max_rows=None))
    register_views(duck, SF_SMALL)
    oracle = duck.execute(ORACLE["brute_force_hits_dense"]).fetchall()
    assert got == sorted((int(c), int(t)) for c, t in oracle)
    for f in registry + list(mixed._gate_persists):
        f.unpersist(blocking=True)
