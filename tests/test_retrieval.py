"""BM25 retrieval (operators/retrieval.py): exact scores on a
hand-computed corpus, ranking properties, and the map-side-prune plan
invariant. The cross-engine hash gate is the `bm25_topk_docs` driver
row (tests/test_queries_oracle.py replays it at sf0.001)."""

from __future__ import annotations

import math
import re

from etl_process_for_fraud_transactions_spark.operators.retrieval import (
    bm25_scores,
    bm25_topk,
    terms_frame,
)


def _corpus(spark):
    rows = [
        (1, "hash join hash join hash"),       # dl 5, tf(hash)=3 tf(join)=2
        (2, "hash scan scan scan scan"),        # dl 5, tf(hash)=1
        (3, "merge sort merge sort"),           # dl 4, no query terms for q1' hash
        (4, "hash"),                            # dl 1, tf(hash)=1 (short doc)
    ]
    return spark.createDataFrame(rows, "doc_id: int, text: string")


def _expected_bm25(tf, dl, df, n, avgdl, k1=1.5, b=0.75):
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    return idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def test_bm25_scores_match_hand_computation(spark):
    docs = _corpus(spark)
    q = terms_frame(spark, {"q": ["hash", "join"]})
    got = {
        r["doc_id"]: (r["n_terms_matched"], r["score"])
        for r in bm25_scores(docs, q).collect()
    }
    n, avgdl = 4, (5 + 5 + 4 + 1) / 4.0
    exp1 = _expected_bm25(3, 5, 3, n, avgdl) + _expected_bm25(2, 5, 1, n, avgdl)
    exp2 = _expected_bm25(1, 5, 3, n, avgdl)
    exp4 = _expected_bm25(1, 1, 3, n, avgdl)
    assert set(got) == {1, 2, 4}  # doc 3 matches no term -> absent
    assert got[1][0] == 2 and got[2][0] == 1 and got[4][0] == 1
    for doc, exp in ((1, exp1), (2, exp2), (4, exp4)):
        assert abs(got[doc][1] - round(exp, 6)) < 2e-6, (doc, got[doc], exp)


def test_bm25_ranking_properties(spark):
    """Rarer term outranks common term at equal tf/dl; shorter doc
    outranks longer at equal tf; rank is dense 1..k with the doc_id
    tie-break."""
    rows = [
        (1, "rare common filler filler"),
        (2, "common filler filler filler"),
        (3, "common filler filler filler"),  # tie with doc 2
        (4, "rare common"),                  # shorter: beats doc 1 on both
    ]
    docs = spark.createDataFrame(rows, "doc_id: int, text: string")
    q = terms_frame(spark, {"q": ["rare", "common"]})
    top = bm25_topk(docs, q, topk=10).collect()
    ranked = [r["doc_id"] for r in sorted(top, key=lambda r: r["rank"])]
    assert ranked[0] == 4  # shorter doc with the rare term wins
    assert ranked[1] == 1  # rare-term doc beats common-only docs
    assert ranked[2:] == [2, 3]  # exact tie broken by doc_id
    assert [r["rank"] for r in sorted(top, key=lambda r: r["rank"])] == [
        1, 2, 3, 4,
    ]
    scores = {r["doc_id"]: r["score"] for r in top}
    assert scores[2] == scores[3]


def test_terms_frame_normalizes_case(spark):
    docs = spark.createDataFrame(
        [(1, "hash join")], "doc_id: int, text: string"
    )
    got = bm25_scores(docs, terms_frame(spark, {"q": ["HASH"]})).collect()
    assert len(got) == 1 and got[0]["n_terms_matched"] == 1


def test_bm25_absent_terms_and_empty_query_results(spark):
    docs = _corpus(spark)
    got = bm25_scores(
        docs, terms_frame(spark, {"q": ["zzz_not_in_corpus"]})
    ).collect()
    assert got == []


def test_terms_frame_dedupes_repeated_terms(spark):
    """BM25 is a set-of-terms model: a caller repeating a term must
    not double-count it (round-10 ADVICE close-out)."""
    docs = _corpus(spark)
    once = bm25_scores(docs, terms_frame(spark, {"q": ["hash"]})).collect()
    thrice = bm25_scores(
        docs, terms_frame(spark, {"q": ["hash", "HASH", "hash"]})
    ).collect()
    key = lambda rows: sorted(
        (r["doc_id"], r["n_terms_matched"], r["score"]) for r in rows
    )
    assert key(once) == key(thrice)


def test_max_df_guard_drops_saturated_term(spark):
    """The 100 TB scale guard: a term matching more than max_df_frac
    of the corpus is dropped from scoring entirely — no posting for
    it survives to the shuffle, and it does not count toward
    n_terms_matched. Selective terms are untouched."""
    # 'the' in 5/6 docs (df frac 0.833); 'rare' in 1/6
    rows = [(i, "the filler") for i in range(1, 6)] + [(6, "rare text")]
    docs = spark.createDataFrame(rows, "doc_id: int, text: string")
    q = terms_frame(spark, {"q": ["the", "rare"]})

    unguarded = bm25_scores(docs, q).collect()
    assert {r["doc_id"] for r in unguarded} == {1, 2, 3, 4, 5, 6}

    guarded = bm25_scores(docs, q, max_df_frac=0.8).collect()
    assert {r["doc_id"] for r in guarded} == {6}
    assert guarded[0]["n_terms_matched"] == 1  # 'the' no longer counted

    # boundary is inclusive: df frac exactly at the threshold survives
    at_cut = bm25_scores(docs, q, max_df_frac=5.0 / 6.0).collect()
    assert {r["doc_id"] for r in at_cut} == {1, 2, 3, 4, 5, 6}


def test_max_df_guard_default_off_matches_unguarded(spark):
    docs = _corpus(spark)
    q = terms_frame(spark, {"q": ["hash", "join"]})
    base = bm25_topk(docs, q).collect()
    loose = bm25_topk(docs, q, max_df_frac=1.0).collect()
    key = lambda rows: sorted(tuple(r) for r in rows)
    assert key(base) == key(loose)


def test_bm25_postings_pruned_before_exchange(spark):
    """The 100 TB invariant: the broadcast semi-join against the query
    terms sits BELOW the first Exchange, so the shuffle carries only
    matched postings — and the raw text column never enters any
    Exchange."""
    docs = _corpus(spark)
    q = terms_frame(spark, {"q": ["hash", "join"]})
    plan = (
        bm25_topk(docs, q)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    shuffle_re = re.compile(r"\bExchange hashpartitioning")
    shuffles = [m.start() for m in shuffle_re.finditer(plan)]
    assert shuffles, "expected at least one shuffle Exchange in the plan"
    first_bcast_join = plan.index("BroadcastHashJoin")
    # toString prints parents above children: the pruning join must
    # appear AFTER (= deeper than) the first shuffle in the tree walk
    assert first_bcast_join > shuffles[0]
    shuffle_lines = [
        line for line in plan.splitlines() if shuffle_re.search(line)
    ]
    assert shuffle_lines  # the per-line sweep below must not be vacuous
    for line in shuffle_lines:
        assert "text#" not in line, line


def _key(out):
    return sorted(tuple(r) for r in out.collect())


def test_bm25_index_serves_parity_with_in_plan(spark, tmp_path):
    """Persisted-index serving must equal bm25_topk over the same
    corpus — same scores, same ranks — including under the max-df
    guard."""
    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        Bm25Index,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    docs = _corpus(spark)
    queries = {"q1": ["hash", "join"], "q2": ["scan", "merge"]}
    idx = Bm25Index(Warehouse(spark, str(tmp_path / "wh")))
    idx.build(docs)
    for frac in (None, 0.6):
        served = idx.topk(queries, topk=10, max_df_frac=frac)
        fresh = bm25_topk(
            docs, terms_frame(spark, queries), topk=10, max_df_frac=frac
        )
        assert _key(served) == _key(fresh), frac


def test_bm25_index_absorb_equals_rebuild(spark, tmp_path):
    """build(A) + absorb(B) must serve exactly like build(A ∪ B):
    df/N/avgdl re-derive at query time, so idf shifts with the
    absorbed batch instead of going stale."""
    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        Bm25Index,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    a = _corpus(spark)
    b = spark.createDataFrame(
        [(10, "hash hash probe build"), (11, "probe scan")],
        "doc_id: int, text: string",
    )
    queries = {"q": ["hash", "probe", "scan"]}

    inc = Bm25Index(Warehouse(spark, str(tmp_path / "winc")))
    inc.build(a)
    inc.absorb(b)
    full = Bm25Index(Warehouse(spark, str(tmp_path / "wfull")))
    full.build(a.unionByName(b))
    assert _key(inc.topk(queries)) == _key(full.topk(queries))


def test_bm25_index_meta_guard_and_pruning(spark, tmp_path):
    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        Bm25Index,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = Bm25Index(wh, n_buckets=8)
    idx.build(_corpus(spark))
    # layout guard: a mismatched bucket count prunes wrong partitions
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_buckets"):
        Bm25Index(wh, n_buckets=16).topk({"q": ["hash"]})

    # file-level pruning: the postings scan carries a PartitionFilter
    # on the term-bucket column
    served = idx.topk({"q": ["hash"]})
    served.collect()
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "__tb" in plan.split("PartitionFilters", 1)[1][:200]


def test_bm25_index_partitioned_absorb_is_replay_safe(spark, tmp_path):
    """Partitioned mode: a re-offered epoch (same batch id) REWRITES
    its own partitions — serving equals the single-delivery state, and
    equals the unpartitioned rebuild."""
    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        Bm25Index,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    a = _corpus(spark)
    b = spark.createDataFrame(
        [(10, "hash hash probe build")], "doc_id: int, text: string"
    )
    queries = {"q": ["hash", "probe"]}

    idx = Bm25Index(Warehouse(spark, str(tmp_path / "wp")), partitioned=True)
    idx.build(a)
    idx.absorb(b, batch=7)
    idx.absorb(b, batch=7)  # replayed epoch
    ref = Bm25Index(Warehouse(spark, str(tmp_path / "wr")))
    ref.build(a.unionByName(b))
    assert _key(idx.topk(queries)) == _key(ref.topk(queries))
    # unpartitioned absorb with a batch stamp is a usage error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="partitioned"):
        ref.absorb(b, batch=1)


def test_bm25_absorb_sink_streams_into_index(spark, tmp_path):
    """curate-then-index streaming shape: micro-batches land in the
    postings index via foreachBatch, and a restarted (replayed) run
    converges to the same serving state."""
    import json

    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        Bm25Index,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )
    from etl_process_for_fraud_transactions_spark.streaming.upsert import (
        bm25_absorb_sink,
        run_foreach_batch,
    )

    src = tmp_path / "in"
    src.mkdir()
    (src / "b1.jsonl").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 1, "text": "hash join hash"},
                {"doc_id": 2, "text": "merge sort"},
            ]
        )
    )
    idx = Bm25Index(Warehouse(spark, str(tmp_path / "wh")), partitioned=True)
    idx.build(spark.createDataFrame([], "doc_id long, text string"))

    def run():
        stream = spark.readStream.schema("doc_id long, text string").json(
            str(src)
        )
        run_foreach_batch(
            stream, bm25_absorb_sink(idx), str(tmp_path / "ck")
        )

    run()
    got = {
        r["doc_id"]: r["rank"] for r in idx.topk({"q": ["hash"]}).collect()
    }
    assert got == {1: 1}
    # unpartitioned index is refused up front
    import pytest as _pytest

    flat = Bm25Index(Warehouse(spark, str(tmp_path / "wh2")))
    with _pytest.raises(ValueError, match="partitioned"):
        bm25_absorb_sink(flat)


def test_bm25_index_day_zero_and_missing_store(spark, tmp_path):
    """An empty build serves zero rows (day-zero contract); a missing
    store without the meta marker fails loudly instead of silently
    serving nothing (the NearDupIndex guard)."""
    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        Bm25Index,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )
    import pytest as _pytest

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = Bm25Index(wh)
    with _pytest.raises(ValueError, match="never built"):
        idx.topk({"q": ["hash"]})
    idx.build(spark.createDataFrame([], "doc_id long, text string"))
    out = idx.topk({"q": ["hash"]})
    assert out.count() == 0
    assert "score" in out.columns


def test_bm25_index_day_zero_string_id_schema(spark, tmp_path):
    """The day-zero empty result carries the index's REAL id type —
    build() records it in the meta table — so a string-keyed corpus
    never locks a bigint schema into a downstream unionByName/writer
    that first sees the empty frame (ADVICE r10)."""
    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        Bm25Index,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = Bm25Index(wh, id_col="doc_key")
    idx.build(spark.createDataFrame([], "doc_key string, text string"))
    empty = idx.topk({"q": ["hash"]})
    assert dict(empty.dtypes)["doc_key"] == "string"
    idx.absorb(
        spark.createDataFrame(
            [("d1", "hash join hash")], "doc_key string, text string"
        )
    )
    served = idx.topk({"q": ["hash"]})
    assert [f.dataType for f in served.schema.fields] == [
        f.dataType for f in empty.schema.fields
    ]
    assert empty.unionByName(served).count() == 1


def test_rrf_fuse_hand_computed(spark):
    """RRF on a two-leg fixture, scores checked against the published
    formula by hand: rrf(d) = sum 1/(60 + rank_leg(d)), a missing leg
    contributing 0, ranked by rounded score with id tie-break."""
    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        rrf_fuse,
    )

    a = spark.createDataFrame(
        [("q", 10, 1), ("q", 20, 2)], "query_id string, doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [("q", 20, 1), ("q", 30, 2)], "query_id string, doc_id long, rank int"
    )
    got = {
        r.doc_id: (r.rank, r.rank_a, r.rank_b, r.rrf_score)
        for r in rrf_fuse(a, b, k=3).collect()
    }
    # doc 20: 1/62 + 1/61; doc 10: 1/61 + 0; doc 30: 0 + 1/62
    assert got[20][0] == 1 and got[10][0] == 2 and got[30][0] == 3
    assert got[20][3] == round(1 / 62 + 1 / 61, 9)
    assert got[10][3] == round(1 / 61, 9)
    assert got[30][3] == round(1 / 62, 9)
    assert got[10][2] is None and got[30][1] is None  # missing legs


def test_hybrid_topk_over_persisted_indexes(spark, tmp_path):
    """hybrid_topk composes the two persisted index stores
    (VERDICT r10 item 3) and surfaces a FUSION-ONLY hit: with k=1 and
    leg_k=2, doc 3 — second in BOTH legs — outranks doc 1 (keyword
    top-1, vector-orthogonal) and doc 2 (vector top-1, zero keyword
    match): 1/62 + 1/62 > 1/61 + 0 on either side. Both legs
    demonstrably contribute; neither alone ranks doc 3 first."""
    import pytest as _pytest

    _pytest.importorskip("numpy")
    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        Bm25Index,
        hybrid_topk,
    )
    from etl_process_for_fraud_transactions_spark.operators.similarity import (
        IvfIndex,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark fast spark fast spark"),
            (2, "entirely unrelated prose about gardens"),
            (3, "spark fast and other things besides"),
        ],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [
            (1, [0.0, 1.0, 0.0]),
            (2, [1.0, 0.0, 0.0]),
            (3, [0.9, 0.1, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    bm = Bm25Index(wh, name="hbm25")
    bm.build(docs)
    ivf = IvfIndex(wh, name="hivf")
    ivf.build(vecs, n_cells=2, seed=42)

    term_q = {"h1": ["spark", "fast"]}
    vec_q = spark.createDataFrame(
        [("h1", [1.0, 0.0, 0.0])], "query_id string, query_vec array<double>"
    )
    # leg sanity: neither leg ranks doc 3 first
    bm_top = bm.topk(term_q, topk=1).collect()[0]
    assert bm_top.doc_id == 1
    ivf_top = ivf.topk(vec_q, k=1, nprobe=2, sim_round=6).collect()[0]
    assert ivf_top.vec_id == 2

    fused = hybrid_topk(
        term_q, vec_q, bm, ivf, k=1, leg_k=2, nprobe=2
    ).collect()
    assert len(fused) == 1
    r = fused[0]
    assert r.doc_id == 3 and r.rank == 1
    assert r.bm25_rank == 2 and r.vec_rank == 2
    assert r.rrf_score == round(1 / 62 + 1 / 62, 9)


def test_bm25_topk_docs_row_has_fusion_only_hits(spark, duck):
    """The registered hybrid row (bm25_topk_docs since round 11;
    PERSISTED-PERSISTED since round 15 — Bm25Index keyword leg +
    IvfIndex vector leg through the real hybrid_topk) must
    demonstrate fusion mattering on the driver fixture itself: at
    least one fused top-10 row that NEITHER leg ranked top-10, and
    every row carrying at least one leg rank. The persisted pair is
    pinned structurally: the row's vector ranks must be byte-equal to
    serving the SAME scratch IvfIndex store directly — if the leg
    were quietly in-plan (or read a different store), the store
    replay would diverge."""
    import os
    import re
    import tempfile

    from etl_process_for_fraud_transactions_spark.operators.similarity import (
        IvfIndex,
    )
    from etl_process_for_fraud_transactions_spark.plans import QUERIES
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    from .conftest import SF_SMALL

    rows = QUERIES["bm25_topk_docs"](spark, SF_SMALL).collect()
    assert rows, "fused output must be non-empty"
    assert all(
        r.bm25_rank is not None or r.vec_rank is not None for r in rows
    )
    fusion_only = [
        r
        for r in rows
        if (r.bm25_rank is None or r.bm25_rank > 10)
        and (r.vec_rank is None or r.vec_rank > 10)
    ]
    assert fusion_only, "no fused-only hit on the fixture"

    # persisted-pair pin: replay the vector leg from the scratch
    # IvfIndex store the row just built and compare ranks
    iscratch = os.path.join(
        tempfile.gettempdir(),
        "bm25hyb_ivf_" + re.sub(r"\W+", "_", SF_SMALL).strip("_"),
    )
    assert os.path.isdir(iscratch), "row must persist its IvfIndex store"
    hivf = IvfIndex(
        Warehouse(spark, iscratch), name="hybivf", cell_col="label"
    )
    from pyspark.sql import functions as F

    from etl_process_for_fraud_transactions_spark.sources.testdata import (
        load_table,
    )

    emb = load_table(spark, SF_SMALL, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    qv = spark.createDataFrame(
        [("q_join_path", 0), ("q_stream", 2), ("q_window_sort", 1)],
        "query_id: string, m: long",
    )
    qvec = emb.join(qv, emb["vec_id"] == qv["m"]).select(
        "query_id", F.col("embedding").alias("query_vec")
    )
    store_leg = {
        (r.query_id, r.vec_id): r.rank
        for r in hivf.topk(qvec, k=50, nprobe=3, sim_round=6).collect()
    }
    for r in rows:
        if r.vec_rank is not None:
            assert store_leg.get((r.query_id, r.doc_id)) == r.vec_rank


def test_rrf_fuse_weighted_variant(spark):
    """weight_a/weight_b: per-leg w/(60+rank) contributions. Down-
    weighting the vector leg to 0.1 makes the keyword top hit (absent
    from the vector leg) overtake the dual-membership doc that wins
    plain RRF; 1.0/1.0 stays bit-identical to the default."""
    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        rrf_fuse,
    )

    a = spark.createDataFrame(
        [("q", 10, 1), ("q", 20, 10)],
        "query_id string, doc_id long, rank int",
    )
    b = spark.createDataFrame(
        [("q", 30, 1), ("q", 20, 2)], "query_id string, doc_id long, rank int"
    )
    plain = {r.doc_id: (r.rank, r.rrf_score) for r in rrf_fuse(a, b, k=3).collect()}
    assert plain[20][0] == 1  # 1/70 + 1/62 beats either single 1/61
    weighted = {
        r.doc_id: (r.rank, r.rrf_score)
        for r in rrf_fuse(a, b, k=3, weight_b=0.1).collect()
    }
    assert weighted[10][0] == 1  # 1/61 > 1/70 + 0.1/62
    assert weighted[10][1] == round(1.0 / 61, 9)
    assert weighted[20][1] == round(1.0 / 70 + 0.1 / 62, 9)
    # explicit unit weights are bit-identical to the default
    unit = {r.doc_id: r.rrf_score for r in rrf_fuse(a, b, k=3, weight_a=1.0, weight_b=1.0).collect()}
    assert unit == {d: s for d, (_, s) in plain.items()}


def test_bm25_versioned_rebuild_atomic_flip(spark, tmp_path):
    """Bm25Index(versioned=True): build() on an already-built index is
    an ATOMIC FULL REBUILD — the new version (here: a corpus with one
    doc deleted, the deletion-propagation case absorb cannot express)
    is written off to the side and committed with one pointer flip;
    a query planned pre-flip keeps working until prune_versions()."""
    import os

    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        Bm25Index,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = Bm25Index(wh, partitioned=True, versioned=True)
    docs_v1 = spark.createDataFrame(
        [(1, "hash join merge"), (2, "sort window group"),
         (3, "hash hash hash")],
        "doc_id long, text string",
    )
    idx.build(docs_v1)
    assert idx.postings_table == "bm25_postings_v1"
    assert wh.read(idx.version_table).collect()[0]["version"] == 1
    idx.absorb(
        spark.createDataFrame([(4, "hash stream")], "doc_id long, text string"),
        batch=7,
    )
    got1 = {r.doc_id for r in idx.topk({"q": ["hash"]}, topk=10).collect()}
    assert got1 == {1, 3, 4}

    pre_flip = idx.topk({"q": ["hash"]}, topk=10)
    # rebuild WITHOUT doc 3 (deleted) and WITH the absorbed doc 4
    docs_v2 = spark.createDataFrame(
        [(1, "hash join merge"), (2, "sort window group"),
         (4, "hash stream")],
        "doc_id long, text string",
    )
    idx.build(docs_v2)
    assert idx.postings_table == "bm25_postings_v2"
    assert pre_flip.count() == 3  # v1 dirs intact until prune
    got2 = {r.doc_id for r in idx.topk({"q": ["hash"]}, topk=10).collect()}
    assert got2 == {1, 4}  # deletion propagated atomically

    removed = idx.prune_versions()
    assert sorted(removed) == [
        "bm25_doclens_v1", "bm25_postings_v1", "bm25_stats_v1"
    ]
    assert not os.path.isdir(wh.path("bm25_postings_v1"))
    assert {
        r.doc_id for r in idx.topk({"q": ["hash"]}, topk=10).collect()
    } == {1, 4}

    # a versionless reader on a versioned store fails loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="rebuild the index or match"):
        Bm25Index(wh, partitioned=True).topk({"q": ["hash"]})


# --- round 12: per-batch stats partitions (VERDICT r11 item 1) --------------

def test_bm25_topk_plan_has_no_doclens_scan(spark):
    """The plan pin for the round-12 stats change: the serving plan
    scans the postings (pruned) and the <= #batches stats table, and
    does NOT touch the doclens table at all — the last O(corpus) step
    on the serving path is gone. (A SHORT warehouse root keeps the
    FileScan Location strings untruncated so the path assertions are
    real; pytest's tmp_path is long enough that Spark abbreviates
    them.)"""
    import shutil
    import tempfile

    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        Bm25Index,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    root = tempfile.mkdtemp(dir="/tmp")
    try:
        idx = Bm25Index(Warehouse(spark, root))
        idx.build(_corpus(spark))
        served = idx.topk({"q": ["hash", "join"]})
        assert _key(served)  # non-vacuous: the query matches docs
        plan = served._jdf.queryExecution().executedPlan().toString()
        assert "bm25_stats" in plan
        assert "sum_dl" in plan  # the stats columns, not a doc scan
        assert "bm25_doclens" not in plan
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_bm25_stats_equal_doclens_aggregate_after_absorbs(spark, tmp_path):
    """The stats rows must sum to EXACTLY the doclens aggregate they
    replace (exact integer sums), across build + several absorbs."""
    from pyspark.sql import functions as F

    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        Bm25Index,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = Bm25Index(wh)
    idx.build(_corpus(spark))
    idx.absorb(
        spark.createDataFrame(
            [(10, "hash probe"), (11, "probe scan build")],
            "doc_id: int, text: string",
        )
    )
    idx.absorb(
        spark.createDataFrame([(12, "hash")], "doc_id: int, text: string")
    )
    stats = wh.read(idx.stats_table).agg(
        F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("s")
    ).collect()[0]
    dl = wh.read(idx.doclens_table).agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s")
    ).collect()[0]
    assert (stats.n, stats.s) == (dl.n, dl.s) == (7, 21)


def test_bm25_partitioned_replay_does_not_double_count_stats(spark, tmp_path):
    """A re-offered epoch must overwrite its own stats partition: after
    a double-delivered absorb the stats sum equals the single-delivery
    corpus, not corpus + batch."""
    from pyspark.sql import functions as F

    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        Bm25Index,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = Bm25Index(wh, partitioned=True)
    idx.build(_corpus(spark))
    b = spark.createDataFrame(
        [(10, "hash hash probe build")], "doc_id: int, text: string"
    )
    idx.absorb(b, batch=7)
    idx.absorb(b, batch=7)  # replay
    stats = wh.read(idx.stats_table)
    assert stats.count() == 2  # __build__ + batch 7, once each
    got = stats.agg(
        F.sum("n_docs").alias("n"), F.sum("sum_dl").alias("s")
    ).collect()[0]
    assert (got.n, got.s) == (5, 19)


def test_bm25_versioned_pointer_carries_id_type(spark, tmp_path):
    """Round 12 (ADVICE r11): id_type commits ATOMICALLY with the
    version pointer — a rebuild that changes the id column type flips
    both in one write, and the day-zero empty frame reads the type
    from the pointer row, never from the (post-flip-refreshed) meta."""
    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        Bm25Index,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = Bm25Index(wh, versioned=True)
    idx.build(spark.createDataFrame([], "doc_id string, text string"))
    row = wh.read(idx.version_table).collect()[0]
    assert (row["version"], row["id_type"]) == (1, "string")
    empty = idx.topk({"q": ["hash"]})
    assert dict(empty.dtypes)["doc_id"] == "string"


def test_bm25_prune_versions_keep_guard(spark, tmp_path):
    """prune_versions(keep=2) retains the previous version for lagging
    readers (ADVICE r11: the in-flight guard is a caller knob now);
    keep < 1 is rejected."""
    import os

    import pytest as _pytest

    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        Bm25Index,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = Bm25Index(wh, versioned=True)
    docs = _corpus(spark)
    idx.build(docs)
    idx.build(docs)
    idx.build(docs)  # v3 current
    with _pytest.raises(ValueError, match="keep"):
        idx.prune_versions(keep=0)
    removed = idx.prune_versions(keep=2)
    assert sorted(removed) == [
        "bm25_doclens_v1", "bm25_postings_v1", "bm25_stats_v1"
    ]
    assert os.path.isdir(wh.path("bm25_postings_v2"))  # kept for drain
    removed2 = idx.prune_versions()
    assert sorted(removed2) == [
        "bm25_doclens_v2", "bm25_postings_v2", "bm25_stats_v2"
    ]


def test_bm25_cache_tokens_mode_is_bit_identical(spark):
    """cache_tokens=True (the bm25_topk_docs row trim) changes only
    the physical shape — checkpointed tokens, one explode, df from
    the postings aggregate — never a value: scores, ranks and the
    max-df guard cut must match the lazy mode exactly, guard on and
    off, including a term dropped by the guard."""
    rows = [(i, "the filler") for i in range(1, 6)] + [
        (6, "rare text"),
        (7, "rare the filler words here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: int, text: string")
    q = terms_frame(spark, {"q1": ["the", "rare"], "q2": ["filler"]})
    for frac in (None, 0.8):
        lazy = bm25_topk(docs, q, topk=10, max_df_frac=frac)
        cached = bm25_topk(
            docs, q, topk=10, max_df_frac=frac, cache_tokens=True
        )
        assert _key(lazy) == _key(cached), frac


def test_bm25_absorb_stats_survive_escaped_batch_names(spark, tmp_path):
    """r15 self-review: the direct partition-dir stats read only
    serves batch ids whose hive directory is the verbatim value;
    Spark URL-escapes specials (space, '%', ':') on write, so those
    ids must take the root-read fallback — without it a populated
    epoch records a (0, 0) stats row and N/avgdl are silently wrong
    forever."""
    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        Bm25Index,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = Bm25Index(wh, name="esc", partitioned=True)
    idx.build(
        spark.createDataFrame(
            [(1, "alpha beta"), (2, "beta gamma")],
            "doc_id long, text string",
        )
    )
    idx.absorb(
        spark.createDataFrame(
            [(3, "gamma delta epsilon")], "doc_id long, text string"
        ),
        batch="ep 1",  # space -> hive-escaped directory name
    )
    stats = {
        r["__batch"]: (r["n_docs"], r["sum_dl"])
        for r in wh.read("esc_stats").collect()
    }
    assert stats["ep 1"] == (1, 3), stats
    # and the plain-integer fast path still records real counts
    idx.absorb(
        spark.createDataFrame(
            [(4, "zeta eta")], "doc_id long, text string"
        ),
        batch=2,
    )
    stats = {
        r["__batch"]: (r["n_docs"], r["sum_dl"])
        for r in wh.read("esc_stats").collect()
    }
    assert stats["2"] == (1, 2), stats


def test_bm25_absorb_stats_escape_collision_takes_fallback(
    spark, tmp_path
):
    """r16 (ADVICE): the fast path is gated to batch ids containing
    only characters Spark never hive-escapes. Without the gate, an
    absorb with batch='ep%201' finds the directory `__batch=ep%201`
    written FOR 'ep 1' verbatim via os.path.isdir and records the
    WRONG epoch's n_docs/sum_dl; the '%' in the id must force the
    root-read fallback, which filters on the logical value."""
    from etl_process_for_fraud_transactions_spark.operators.retrieval import (
        Bm25Index,
    )
    from etl_process_for_fraud_transactions_spark.sources.warehouse import (
        Warehouse,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    idx = Bm25Index(wh, name="col", partitioned=True)
    idx.build(
        spark.createDataFrame(
            [(1, "alpha beta")], "doc_id long, text string"
        )
    )
    # 'ep 1' writes hive dir `__batch=ep%201` (space escaped)
    idx.absorb(
        spark.createDataFrame(
            [(2, "one two three four five")],
            "doc_id long, text string",
        ),
        batch="ep 1",
    )
    # the literal id 'ep%201' collides with that dir name verbatim
    idx.absorb(
        spark.createDataFrame(
            [(3, "six seven")], "doc_id long, text string"
        ),
        batch="ep%201",
    )
    stats = {
        r["__batch"]: (r["n_docs"], r["sum_dl"])
        for r in wh.read("col_stats").collect()
    }
    assert stats["ep 1"] == (1, 5), stats
    assert stats["ep%201"] == (1, 2), stats


def test_xxhash64_str_matches_spark(spark):
    """The driver-side XXH64 twin must be bit-exact with F.xxhash64 on
    strings — Bm25Index.topk derives its partition-pruning bucket ids
    from it for Mapping inputs (r16); a divergence would silently
    prune the wrong term buckets."""
    from pyspark.sql import functions as F

    from etl_process_for_fraud_transactions_spark.functions.core import (
        xxhash64_str,
    )

    vals = [
        "", "a", "ab", "abc", "abcd", "abcdefgh", "abcdefghi",
        "merge", "window", "sort", "hash join", "x" * 31, "x" * 32,
        "x" * 100, "0123456789abcdef0123456789abcdefXY",
        "é中\U0001F600 mixed", "ライト", "é́ combining",
    ] + [f"tok{i}" for i in range(50)]
    got = {
        r["v"]: r["h"]
        for r in spark.createDataFrame([(v,) for v in vals], "v string")
        .select("v", F.xxhash64("v").alias("h"))
        .collect()
    }
    for v in vals:
        assert xxhash64_str(v) == got[v], repr(v)
    # and the pmod the pruning actually uses
    for v in vals:
        assert xxhash64_str(v) % 64 == (got[v] % 64 + 64) % 64
