"""Property-based tests (hypothesis): custom operators are checked
against brute-force reference models on randomized inputs.

- SCD2 ≡ a driver-side dict model of close-out/insert semantics over
  random multi-batch histories;
- prefix-filtered Jaccard ≡ all-pairs brute force;
- pack_chunks(shard_col) ≡ a per-shard running-sum fold (the greedy
  contract the document_chunks oracle replays);
- scrub_pii ≡ identity on digit-free/@-free text (the soundness half
  of the doc_fingerprints PII-probe design);
- fraud rules 4 and 5, and the whole fraud report, ≡ the reference's
  own SQL, run by DuckDB on the same random rows.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_process_for_fraud_transactions_spark.operators.scd2 import scd2_apply

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
WINDOW_US = 10 * 60 * 1_000_000  # 10 minutes

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),        # key
        st.integers(min_value=0, max_value=3_000),    # offset seconds (~5 bucket widths)
        st.integers(min_value=0, max_value=999_999),  # microseconds (bucket-edge adjacent)
    ),
    min_size=0,
    max_size=25,
)


def _df(spark, rows):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("k", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
        ]
    )
    data = [
        (i, k, T0 + dt.timedelta(seconds=s, microseconds=us))
        for i, (k, s, us) in enumerate(rows)
    ]
    return spark.createDataFrame(data, schema), data


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(events_strategy, events_strategy)
def test_asof_join_matches_naive(spark, left_rows, right_rows):
    from etl_process_for_fraud_transactions_spark.operators.asof import asof_join

    ldf, ldata = _df(spark, left_rows)
    # right side must be unique per (key, ts): dedup keeping min id
    seen = {}
    for i, (k, s, us) in enumerate(right_rows):
        seen.setdefault((k, s, us), i)
    rdata = [
        (i, k, T0 + dt.timedelta(seconds=s, microseconds=us))
        for (k, s, us), i in seen.items()
    ]
    rdf = spark.createDataFrame(
        [(i, k, t, f"v{i}") for i, k, t in rdata],
        "rid long, k long, ts timestamp_ntz, v string",
    ).drop("rid")
    got = {
        r.id: r.v
        for r in asof_join(ldf, rdf, ["k"], "ts", ["v"], tiebreak_col="id").collect()
    }
    want = {}
    for i, k, t in [
        (i, k, T0 + dt.timedelta(seconds=s, microseconds=us))
        for i, (k, s, us) in enumerate(left_rows)
    ]:
        cands = [(rt, f"v{ri}") for (rk, rs, rus), ri in seen.items()
                 for rt in [T0 + dt.timedelta(seconds=rs, microseconds=rus)]
                 if rk == k and rt <= t]
        want[i] = max(cands)[1] if cands else None
    assert got == want


# --- SCD2 vs dict model ----------------------------------------------------

batches_strategy = st.lists(
    st.dictionaries(
        keys=st.integers(min_value=0, max_value=4),           # business key
        values=st.integers(min_value=0, max_value=3),         # attribute
        max_size=5,
    ),
    min_size=1,
    max_size=4,
)

OPEN = dt.date(3000, 1, 1)


def _model_scd2(batches):
    """Reference model of main.py:121-379 semantics: rows as tuples
    (key, attr, eff_from, eff_to, deleted)."""
    hist: list[list] = []
    for i, batch in enumerate(batches):
        bdate = dt.date(2024, 1, 1) + dt.timedelta(days=i)
        if not hist:
            for k, v in batch.items():
                hist.append([k, v, bdate, OPEN, False])
            continue
        current = {r[0]: r for r in hist if r[3] == OPEN}
        # close-out: tuple-IN of (current ∩ staged, changed) full tuples
        close_tuples = {
            tuple(current[k][:2]) for k, v in batch.items()
            if k in current and current[k][1] != v
        }
        for r in hist:
            if tuple(r[:2]) in close_tuples:
                r[3], r[4] = bdate, True
        for k, v in batch.items():
            cur = current.get(k)
            if cur is None or cur[1] != v:
                hist.append([k, v, bdate, OPEN, False])
    return sorted(map(tuple, hist))


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(batches_strategy)
def test_scd2_matches_model(spark, batches):
    dim = None
    for i, batch in enumerate(batches):
        bdate = dt.date(2024, 1, 1) + dt.timedelta(days=i)
        stg = spark.createDataFrame(
            [(k, v) for k, v in batch.items()] or [],
            "k long, attr long",
        )
        if not batch:
            stg = spark.createDataFrame([], "k long, attr long")
        dim = scd2_apply(dim, stg, ["k"], ["attr"], F.lit(bdate))
    got = sorted(
        (r.k, r.attr, r.effective_from, r.effective_to, r.deleted_flg)
        for r in dim.collect()
    )
    assert got == _model_scd2(batches)


# --- exact prefix-filter Jaccard join ≡ brute force ------------------------

# tiny alphabet + short docs maximize shingle collisions and boundary
# Jaccard values — the regime where a candidate-generation bug (missed
# prefix, off-by-one in the prefix length) actually drops pairs
_doc_strategy = st.lists(
    st.tuples(
        st.sampled_from(["s0", "s1"]),                               # source
        st.lists(st.sampled_from(list("abcd")), min_size=1, max_size=8),  # tokens
    ),
    min_size=0,
    max_size=10,
)


def _shingle_set(tokens: list[str], k: int = 3) -> set[str]:
    if len(tokens) <= k:
        return {" ".join(tokens)}
    return {" ".join(tokens[i : i + k]) for i in range(len(tokens) - k + 1)}


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(_doc_strategy)
def test_prefix_filter_jaccard_matches_bruteforce(spark, docs):
    from itertools import combinations

    from etl_process_for_fraud_transactions_spark.operators.dedup import (
        ngram_jaccard_pairs_exact,
    )

    rows = [(i, src, " ".join(toks)) for i, (src, toks) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs_exact(
            df, threshold=0.5, group_col="source"
        ).collect()
    }

    expected = {}
    for (ia, sa, ta), (ib, sb, tb) in combinations(rows, 2):
        if sa != sb:
            continue
        A, B = _shingle_set(ta.split()), _shingle_set(tb.split())
        j = len(A & B) / len(A | B)
        if j >= 0.5:
            expected[(min(ia, ib), max(ia, ib))] = j

    assert set(got) == set(expected)
    for pair, j in expected.items():
        assert abs(got[pair] - j) < 1e-12, pair


_chunk_rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=60),   # doc_id
        st.integers(min_value=0, max_value=40),   # chunk_id
        st.integers(min_value=1, max_value=50),   # n_chunk_tokens
        st.integers(min_value=0, max_value=4),    # shard value
    ),
    min_size=0,
    max_size=60,
    unique_by=lambda t: (t[0], t[1]),
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(_chunk_rows_strategy)
def test_pack_chunks_shard_col_matches_running_sum_model(spark, rows):
    """pack_chunks(shard_col=...) ≡ a driver-side running-sum fold per
    shard in (doc_id, chunk_id) order — the exact greedy contract the
    document_chunks oracle replays in SQL (bin = tokens_before // max,
    pack_id = shard * 2^32 + bin), on randomized shard assignments,
    token sizes and sparse chunk ids."""
    from etl_process_for_fraud_transactions_spark.operators.text import (
        pack_chunks,
    )

    df = spark.createDataFrame(
        rows, "doc_id long, chunk_id long, n_chunk_tokens long, grp long"
    )
    got = {
        (r.doc_id, r.chunk_id): r.pack_id
        for r in pack_chunks(df, max_tokens=64, shard_col="grp").collect()
    }

    expected, running = {}, {}
    for doc_id, chunk_id, n, grp in sorted(rows, key=lambda t: (t[3], t[0], t[1])):
        before = running.get(grp, 0)
        expected[(doc_id, chunk_id)] = grp * 2**32 + before // 64
        running[grp] = before + n

    assert got == expected


_pii_free_text = st.text(
    alphabet=st.sampled_from("abcdefghij xyz.,-"), min_size=0, max_size=80
)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_pii_free_text, min_size=1, max_size=8))
def test_scrub_pii_is_identity_without_digits_or_at(spark, texts):
    """Soundness half of the pii probe design: text containing no
    digit and no '@' can match none of the five patterns (each
    requires one or the other), so scrub_pii must be a byte-identity
    with n_pii_masked == 0 — on randomized letter/punct/separator
    strings including '-'/'.' runs that brush the SSN/IP shapes."""
    from etl_process_for_fraud_transactions_spark.operators.text import (
        scrub_pii,
    )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    for r in scrub_pii(df).collect():
        assert r.n_pii_masked == 0, r
        assert r.text == texts[r.doc_id], r


# --- BPE (round 10): driver-model properties over random text ------------

@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_categories=("Cs",)
            ),
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=60, deadline=None)
def test_bpe_byte_level_invariants(texts):
    """For ANY unicode text: count == len(ids); every id is in the
    closed vocab; decode∘encode is a canonical fixpoint; and the
    token count is bounded by [#pretokens, #utf8 bytes + #pretokens]
    (each word is at least one token, at most bytes+eow)."""
    from etl_process_for_fraud_transactions_spark.operators.bpe import (
        FROZEN_BPE_BYTES,
        _pretokens,
    )

    v = set(FROZEN_BPE_BYTES.vocab().values())
    for s in texts:
        ids = FROZEN_BPE_BYTES.encode_ids(s)
        assert FROZEN_BPE_BYTES.count_tokens(s) == len(ids)
        assert set(ids) <= v
        words = _pretokens(s)
        n_bytes = sum(len(w.encode("utf-8")) for w in words)
        assert len(words) <= len(ids) <= n_bytes + len(words)
        decoded = FROZEN_BPE_BYTES.decode_ids(ids)
        assert FROZEN_BPE_BYTES.encode_ids(decoded) == ids


@given(
    s=st.text(
        alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
        max_size=80,
    )
)
@settings(max_examples=60, deadline=None)
def test_langid_normalization_invariance(s):
    """classify_py is invariant under leading/trailing junk that the
    normalizer deletes (digits, punctuation, extra whitespace) — the
    gram stream sees only letter runs."""
    from etl_process_for_fraud_transactions_spark.operators.langid import (
        FROZEN_ROMANCE,
    )

    base = FROZEN_ROMANCE.score_py(s)
    noisy = FROZEN_ROMANCE.score_py(f"  12, {s} ...77! ")
    assert noisy == base


# --- rules 4/5 vs the reference's SQL on DuckDB ---------------------------

diff_city_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),                 # card
        st.integers(min_value=0, max_value=9_000),             # offset s
        st.sampled_from([0, 1]),                               # + offset µs
        st.sampled_from(["A", "B", "C", None]),                # city
        st.integers(min_value=0, max_value=3),                 # client
    ),
    min_size=0,
    max_size=25,
)

#: rule 4's closed +/-1h bound to the microsecond: card 0's pair sits
#: exactly 1h apart (both hit), card 1's 1h + 1 µs apart (neither)
DIFF_CITY_EDGE = [
    (0, 0, 0, "A", 0), (0, 3_600, 0, "B", 1),
    (1, 0, 0, "A", 2), (1, 3_600, 1, "B", 3),
]

#: equal-timestamp peers in different cities: card 0's two peers hit
#: each other; card 1's same-city peers hit nothing (their other city
#: is 1h + 1 µs later); card 2's three peers straddle two cities and
#: also reach the C row exactly 1h later, which hits back
DIFF_CITY_PEERS = [
    (0, 0, 0, "A", 0), (0, 0, 0, "B", 1),
    (1, 0, 0, "A", 2), (1, 0, 0, "A", 3), (1, 3_600, 1, "B", 2),
    (2, 100, 0, "B", 0), (2, 100, 0, "A", 1), (2, 100, 0, "B", 2),
    (2, 100, 0, None, 3), (2, 3_700, 0, "C", 3),
]


def _diff_city_frame(spark, rows):
    data = [
        (i, card, T0 + dt.timedelta(seconds=off, microseconds=us), city, client)
        for i, (card, off, us, city, client) in enumerate(rows)
    ]
    schema = T.StructType(
        [
            T.StructField("trans_id", T.LongType()),
            T.StructField("card_num", T.LongType()),
            T.StructField("trans_date", T.TimestampNTZType()),
            T.StructField("terminal_city", T.StringType()),
            T.StructField("client_id", T.LongType()),
        ]
    )
    # one city per row: the rows of city_of_transactions, not terminals
    frame = spark.createDataFrame(data, schema)
    return frame.withColumn("terminal_multi_city", F.lit(False)), data


def _duck_rows(con, columns, data):
    """(Re)create the DuckDB table `prop_rows` holding `data`."""
    con.execute(f"CREATE OR REPLACE TABLE prop_rows ({columns})")
    if data:
        marks = ", ".join("?" * len(data[0]))
        con.executemany(f"INSERT INTO prop_rows VALUES ({marks})", data)


@given(rows=diff_city_rows)
@example(rows=DIFF_CITY_EDGE)
@example(rows=DIFF_CITY_PEERS)
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_rule_diff_city_window_matches_sql_oracle(spark, duck, rows):
    """Rule 4's sort-once window form equals the reference's SQL
    self-join (the diff_city_short_time oracle's SELECT) run by DuckDB
    on the same randomized card/time/city rows — including null
    cities (neither hits nor witnesses), the closed 1h bound to the
    microsecond, equal-timestamp peers and duplicate rows."""
    from etl_process_for_fraud_transactions_spark.operators.rules import (
        rule_diff_city_1h_window,
    )
    from etl_process_for_fraud_transactions_spark.plans.queries import (
        _DIFF_CITY_SQL,
    )

    df, data = _diff_city_frame(spark, rows)
    _duck_rows(
        duck,
        "trans_id BIGINT, card_num BIGINT, trans_date TIMESTAMP, "
        "terminal_city VARCHAR, client_id BIGINT",
        data,
    )
    want = duck.execute(
        f"WITH city_of_transactions AS (SELECT * FROM prop_rows) {_DIFF_CITY_SQL}"
    ).fetchall()
    got = [(r["trans_id"], r["client_id"]) for r in rule_diff_city_1h_window(df).collect()]
    assert sorted(got) == sorted(want)


brute_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),      # client
        st.integers(min_value=0, max_value=4_000),  # offset s (~3 windows)
        st.sampled_from([0, 1]),                    # + offset µs
        st.integers(min_value=1, max_value=5),      # amt (ties likely)
        st.sampled_from(["REJECT", "SUCCESS"]),
    ),
    min_size=0,
    max_size=18,
)

#: rule 5's closed 20-min window to the microsecond: client 0's fourth
#: attempt lands exactly 20 min after the first (fires), client 1's
#: 20 min + 1 µs after (only three attempts in the window)
BRUTE_EDGE = [
    (c, off, us if off == 1_200 else 0, amt, res)
    for c, us in ((0, 0), (1, 1))
    for off, amt, res in (
        (0, 4, "REJECT"), (300, 3, "REJECT"), (600, 2, "REJECT"), (1_200, 1, "SUCCESS"),
    )
]

#: equal-timestamp peers share one frame, and equal amounts sit on
#: both sides of an anchor (trans_id breaks the tie). Client 0's two
#: peers at 0 s both hit: the later peer's frame also starts at the
#: earlier one. Client 1's peers at 600 s carry the amount of the rows
#: before and after them.
BRUTE_PEERS = [
    (0, 0, 0, 4, "REJECT"), (0, 0, 0, 4, "REJECT"),
    (0, 300, 0, 3, "REJECT"), (0, 600, 0, 2, "SUCCESS"),
    (1, 0, 0, 3, "REJECT"), (1, 600, 0, 3, "REJECT"), (1, 600, 0, 3, "REJECT"),
    (1, 900, 0, 3, "REJECT"), (1, 1_200, 0, 1, "SUCCESS"), (1, 1_800, 0, 3, "SUCCESS"),
]


def _brute_frame(spark, rows):
    data = [
        (
            i,
            client,
            float(amt),
            T0 + dt.timedelta(seconds=off, microseconds=us),
            result,
            f"P{client}",
        )
        for i, (client, off, us, amt, result) in enumerate(rows)
    ]
    schema = T.StructType(
        [
            T.StructField("trans_id", T.LongType()),
            T.StructField("client_id", T.LongType()),
            T.StructField("amt", T.DoubleType()),
            T.StructField("trans_date", T.TimestampNTZType()),
            T.StructField("oper_result", T.StringType()),
            T.StructField("passport_num", T.StringType()),
        ]
    )
    return spark.createDataFrame(data, schema), data


@given(rows=brute_rows)
@example(rows=BRUTE_EDGE)
@example(rows=BRUTE_PEERS)
@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_rule_brute_force_window_matches_sql_oracle(spark, duck, rows):
    """Rule 5's sort-once form (candidates and hits from one pass)
    equals the reference's SQL chain run by DuckDB on the same
    randomized client/time/amount/outcome rows: the oracle's own
    joined_req interval self-join over the rows, then `_RULE5_TAIL`
    (HAVING -> double row_number -> 4-way INTERSECT -> reassembly).
    Both stages are compared: every candidate window with its hit
    flag. Covers dense REJECT bursts, amount ties (broken by trans_id
    in both), equal-timestamp peers, the closed 20-min bound to the
    microsecond and overlapping windows."""
    from etl_process_for_fraud_transactions_spark.operators.rules import (
        brute_force_candidates,
    )
    from etl_process_for_fraud_transactions_spark.plans.queries import (
        _REQ_CTES,
        _RULE5_TAIL,
    )

    df, data = _brute_frame(spark, rows)
    _duck_rows(
        duck,
        "trans_id BIGINT, client_id BIGINT, amt DOUBLE, trans_date TIMESTAMP, "
        "oper_result VARCHAR, passport_num VARCHAR",
        data,
    )
    joined_req = _REQ_CTES[
        _REQ_CTES.index("joined_req AS (") : _REQ_CTES.index("selected_req AS (")
    ]
    want = duck.execute(
        "WITH req_start_for_4_rule AS (SELECT * FROM prop_rows),\n"
        + joined_req
        + _RULE5_TAIL
        + "\nSELECT s.client_id, s.trans_id_start, r.trans_id IS NOT NULL"
        " FROM selected_req s LEFT JOIN reassembly_of_amounts r"
        " ON r.client_id = s.client_id AND r.trans_id = s.trans_id_start"
    ).fetchall()
    got = [tuple(r) for r in brute_force_candidates(df).collect()]
    assert sorted(got) == sorted(want)


# --- whole fraud report vs the reference's SQL ------------------------------

D0 = T0.date()
_DATES = st.sampled_from([D0 - dt.timedelta(days=1), D0, D0 + dt.timedelta(days=1), None])


def _dim_rows(keys, attrs):
    """A dimension's rows as (key, *attrs, deleted_flg): at most one
    current row per key (so the chain never fans a fact row out, and
    (client_id, trans_id) stays unique as the reference's GROUP BY
    assumes) plus closed rows that must stay invisible."""
    return st.tuples(
        st.dictionaries(keys, attrs, max_size=4),
        st.lists(st.tuples(keys, attrs), max_size=2),
    ).map(
        lambda cur_closed: [(k, *a, False) for k, a in cur_closed[0].items()]
        + [(k, *a, True) for k, a in cur_closed[1]]
    )


_ids = st.integers(min_value=0, max_value=4)  # 4 misses every dimension
report_cards = _dim_rows(_ids, st.tuples(_ids))
report_accounts = _dim_rows(_ids, st.tuples(_DATES, _ids))
report_clients = _dim_rows(_ids, st.tuples(st.sampled_from(["PA", "PB", "PC"]), _DATES))
#: a terminal may carry several current rows: with one city they must
#: not multiply report rows, with two the terminal's rows pair with
#: themselves in the reference's rule-4 self-join
report_terminals = st.lists(
    st.tuples(_ids, st.sampled_from(["A", "B", "C", None]), st.booleans()), max_size=6
)
report_blacklist = st.lists(st.sampled_from(["PA", "PB", "PX"]), max_size=3)
report_fact = st.lists(
    st.tuples(
        _ids,                                                            # card
        # offset s on a 100 s grid: equal instants, and rows exactly
        # 20 min or 1 h apart, are common
        st.one_of(st.none(), st.integers(min_value=0, max_value=50).map(lambda k: k * 100)),
        st.integers(min_value=1, max_value=5),                          # amt
        st.sampled_from(["REJECT", "SUCCESS"]),
        _ids,                                                            # terminal
    ),
    max_size=16,
).map(lambda rows: [(i, *r) for i, r in enumerate(rows)])  # unique trans_id

#: a fact row missing the chain at each hop: card 4 is no card, card 1's
#: account 4 and account 2's client 4 do not exist (the rows still reach
#: rule 1-3 probes, with null client columns); only card 0 resolves
REPORT_CHAIN_MISSES = dict(
    cards=[(0, 0, False), (1, 4, False), (2, 2, False), (3, 0, True)],
    accounts=[(0, D0 + dt.timedelta(days=1), 0, False), (2, D0, 4, False)],
    clients=[(0, "PA", D0 + dt.timedelta(days=1), False)],
    terminals=[],
    blacklist=["PA"],
    fact=[(0, 0, 60, 1, "SUCCESS", 0), (1, 1, 60, 1, "SUCCESS", 0),
          (2, 2, 60, 1, "SUCCESS", 0), (3, 3, 60, 1, "SUCCESS", 0),
          (4, 4, 60, 1, "SUCCESS", 0)],
)

#: an account hit with no client: rule 3 (expired contract) still
#: fires, with null passport, fio and phone
REPORT_ACCOUNT_NO_CLIENT = dict(
    cards=[(0, 0, False)],
    accounts=[(0, D0, 3, False)],
    clients=[(3, "PB", D0, True)],
    terminals=[(0, "A", False)],
    blacklist=[],
    fact=[(0, 0, 60, 1, "SUCCESS", 0)],
)

#: terminal 0 has two current rows in one city, terminal 1 two rows in
#: two cities. Card 0's blacklisted row at terminal 0 is reported once
#: and hits nothing; card 1's row at terminal 1 is a rule-4 hit on its
#: own and witnesses the city-A rows at the same instant and 30 min
#: later, but not the one 2.5 h later
REPORT_TERMINAL_DUPLICATES = dict(
    cards=[(0, 0, False), (1, 1, False)],
    accounts=[(0, D0 + dt.timedelta(days=1), 0, False),
              (1, D0 + dt.timedelta(days=1), 1, False)],
    clients=[(0, "PA", D0 + dt.timedelta(days=1), False),
             (1, "PB", D0 + dt.timedelta(days=1), False)],
    terminals=[(0, "A", False), (0, "A", False), (1, "A", False), (1, "B", False),
               (2, "A", False)],
    blacklist=["PA"],
    fact=[(0, 0, 0, 1, "SUCCESS", 0), (4, 1, 0, 1, "SUCCESS", 2),
          (1, 1, 0, 1, "SUCCESS", 1), (2, 1, 1_800, 1, "SUCCESS", 2),
          (3, 1, 9_000, 1, "SUCCESS", 2)],
)

#: trans_id 7 appears on cards 0 and 1 of one client; only card 0's
#: row has another city within the hour, yet the reference joins the
#: hit back on (client_id, trans_id) and so reports both rows
REPORT_SHARED_TRANS_ID = dict(
    cards=[(0, 0, False), (1, 0, False)],
    accounts=[(0, D0 + dt.timedelta(days=1), 0, False)],
    clients=[(0, "PA", D0 + dt.timedelta(days=1), False)],
    terminals=[(0, "A", False), (1, "B", False)],
    blacklist=[],
    fact=[(7, 0, 0, 1, "SUCCESS", 0), (7, 1, 0, 1, "SUCCESS", 0),
          (8, 0, 600, 1, "SUCCESS", 1)],
)

#: card 0 has two current rows, whose accounts belong to clients 0 and
#: 1, so each of its rows resolves to both clients; its two rows 30 min
#: apart in cities A and B are a rule-4 hit for each client. Rule 4's
#: window keys a card's rows by client within rule 5's client exchange,
#: which is exact only because every row of a card resolves to the same
#: clients. Client 0's card 1 row in city A, 37 min after card 0's city-B
#: row, is no hit: the key keeps the card
REPORT_CARD_TWO_CLIENTS = dict(
    cards=[(0, 0, False), (0, 1, False), (1, 0, False)],
    accounts=[(0, D0 + dt.timedelta(days=1), 0, False),
              (1, D0 + dt.timedelta(days=1), 1, False)],
    clients=[(0, "PA", D0 + dt.timedelta(days=1), False),
             (1, "PB", D0 + dt.timedelta(days=1), False)],
    terminals=[(0, "A", False), (1, "B", False)],
    blacklist=[],
    fact=[(0, 0, 0, 1, "SUCCESS", 0), (1, 0, 1_800, 1, "SUCCESS", 1),
          (2, 1, 4_000, 1, "SUCCESS", 0)],
)

#: the rule-5 frame merge (CHANGES.md FOUND): the SUCCESS at 5000 s
#: reuses the first REJECT's trans_id, so the reference's GROUP BY
#: (client_id, trans_id_start) merges the two rows' frames into one
#: four-row hit, while the engine judges each row's own frame
REPORT_RULE5_MERGED_FRAMES = dict(
    cards=[(0, 0, False)],
    accounts=[(0, D0 + dt.timedelta(days=1), 0, False)],
    clients=[(0, "PA", D0 + dt.timedelta(days=1), False)],
    terminals=[(0, "A", False)],
    blacklist=[],
    fact=[(0, 0, 0, 4, "REJECT", 0), (1, 0, 300, 3, "REJECT", 0),
          (2, 0, 600, 2, "REJECT", 0), (0, 0, 5_000, 1, "SUCCESS", 0)],
)


def _report_tables(cards, accounts, clients, terminals, blacklist, fact):
    """The report's six inputs as {name: (DDL columns, rows)}, shared
    by the Spark frames and the DuckDB tables."""

    def client_row(cid, passport, valid_to, deleted):
        # client 3 has no patronymic: its fio is NULL, as in `a || b`
        patr = None if cid == 3 else f"P{cid}"
        return (cid, f"L{cid}", f"F{cid}", patr, D0, passport, valid_to, f"+7{cid}", deleted)

    return {
        "transactions": (
            "trans_id BIGINT, trans_date TIMESTAMP, card_num BIGINT, oper_type VARCHAR, "
            "amt DOUBLE, oper_result VARCHAR, terminal BIGINT",
            [(tid, None if off is None else T0 + dt.timedelta(seconds=off), card,
              "PAYMENT", float(amt), res, term)
             for tid, card, off, amt, res, term in fact],
        ),
        "cards": ("card_num BIGINT, account_num BIGINT, deleted_flg BOOLEAN", cards),
        "accounts": (
            "account_num BIGINT, valid_to DATE, client BIGINT, deleted_flg BOOLEAN",
            accounts,
        ),
        "clients": (
            "client_id BIGINT, last_name VARCHAR, first_name VARCHAR, patrinymic VARCHAR, "
            "date_of_birth DATE, passport_num VARCHAR, passport_valid_to DATE, "
            "phone VARCHAR, deleted_flg BOOLEAN",
            [client_row(*r) for r in clients],
        ),
        "terminals": (
            "terminal_id BIGINT, terminal_type VARCHAR, terminal_city VARCHAR, "
            "terminal_address VARCHAR, deleted_flg BOOLEAN",
            [(tid, "POS", city, f"ADDR_{tid}", deleted) for tid, city, deleted in terminals],
        ),
        "blacklist": ("passport_num VARCHAR", [(p,) for p in blacklist]),
    }


def _check_report_matches_sql_oracle(spark, **world):
    import duckdb

    from etl_process_for_fraud_transactions_spark.operators.report import assemble_report
    from etl_process_for_fraud_transactions_spark.plans import ORACLE, analog

    tables = _report_tables(**world)
    con = duckdb.connect()
    frames = {}
    for name, (ddl, rows) in tables.items():
        con.execute(f"CREATE TABLE {name} ({ddl})")
        if rows:
            con.executemany(
                f"INSERT INTO {name} VALUES ({', '.join('?' * len(rows[0]))})", rows
            )
        spark_ddl = ddl.replace("BIGINT", "long").replace("VARCHAR", "string").replace(
            "TIMESTAMP", "timestamp_ntz"
        )
        frames[name] = spark.createDataFrame(rows, spark_ddl)
    # the oracle minus the driver's domain CTEs: the names resolve to
    # the tables above
    sql = ORACLE["fraud_report"].replace(analog.SQL_CTES + ",", "", 1)
    want = con.execute(sql).fetchall()
    got = assemble_report(
        frames["transactions"], frames["cards"], frames["accounts"],
        frames["clients"], frames["terminals"], frames["blacklist"],
        report_dt=F.lit("2024-01-31"),
    ).select("event_dt", "passport", "fio", "phone", "event_type", "report_dt")
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(want, key=repr)


@given(
    cards=report_cards, accounts=report_accounts, clients=report_clients,
    terminals=report_terminals, blacklist=report_blacklist, fact=report_fact,
)
@example(**REPORT_CHAIN_MISSES)
@example(**REPORT_ACCOUNT_NO_CLIENT)
@example(**REPORT_TERMINAL_DUPLICATES)
@example(**REPORT_SHARED_TRANS_ID)
@example(**REPORT_CARD_TWO_CLIENTS)
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fraud_report_matches_sql_oracle(spark, cards, accounts, clients, terminals,
                                         blacklist, fact):
    """assemble_report equals the fraud_report oracle (the reference's
    report SQL, main.py:414-560) run by DuckDB on random small
    dimensions with closed rows, a blacklist and fact rows that miss
    the chain at any hop, carry null timestamps, or sit at terminals
    with several current rows. The examples pin each chain miss, an
    account without a client, duplicated terminals with one and two
    cities, a (client_id, trans_id) shared by two cards, and a card
    whose rows resolve to two clients."""
    _check_report_matches_sql_oracle(
        spark, cards=cards, accounts=accounts, clients=clients,
        terminals=terminals, blacklist=blacklist, fact=fact,
    )


@pytest.mark.xfail(
    strict=True,
    reason="rule 5 judges each row's own frame; the reference merges the "
    "frames of rows sharing (client_id, trans_id) (CHANGES.md FOUND)",
)
def test_fraud_report_rule5_merged_frames_deviation(spark):
    _check_report_matches_sql_oracle(spark, **REPORT_RULE5_MERGED_FRAMES)


# --- RRF fusion vs pure-python replay (round 11) --------------------------

rrf_legs = st.tuples(
    st.lists(st.integers(min_value=0, max_value=9), min_size=0, max_size=6,
             unique=True),
    st.lists(st.integers(min_value=0, max_value=9), min_size=0, max_size=6,
             unique=True),
)


@given(legs=rrf_legs, k_rrf=st.sampled_from([10, 60]))
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_rrf_fuse_matches_python_replay(spark, legs, k_rrf):
    """rrf_fuse must equal a direct python RRF on arbitrary leg rank
    lists: same scores to 9 dp, same (score DESC, id ASC) order, legs
    missing a doc contributing zero."""
    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        rrf_fuse,
    )

    docs_a, docs_b = legs
    a_rows = [("q", d, r + 1) for r, d in enumerate(docs_a)]
    b_rows = [("q", d, r + 1) for r, d in enumerate(docs_b)]
    schema = "query_id string, doc_id long, rank int"
    a = spark.createDataFrame(a_rows, schema) if a_rows else spark.createDataFrame([], schema)
    b = spark.createDataFrame(b_rows, schema) if b_rows else spark.createDataFrame([], schema)
    got = [
        (r.rank, r.doc_id, r.rrf_score)
        for r in rrf_fuse(a, b, k=20, k_rrf=k_rrf)
        .orderBy("rank")
        .collect()
    ]

    ra = {d: r + 1 for r, d in enumerate(docs_a)}
    rb = {d: r + 1 for r, d in enumerate(docs_b)}
    want_scores = {
        d: round(
            (1.0 / (k_rrf + ra[d]) if d in ra else 0.0)
            + (1.0 / (k_rrf + rb[d]) if d in rb else 0.0),
            9,
        )
        for d in set(ra) | set(rb)
    }
    want = [
        (i + 1, d, want_scores[d])
        for i, d in enumerate(
            sorted(want_scores, key=lambda d: (-want_scores[d], d))
        )
    ]
    assert got == want
