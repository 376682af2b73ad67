"""BM25 keyword retrieval over a document corpus.

Reference surface: none — the reference ETL (`/root/reference/main.py`)
has no text-retrieval path; this module is part of the LLM-training-
data extension (SURVEY.md §2 "beyond the reference"), where ranked
keyword retrieval is the standard tool for data selection ("find the
docs most like this probe set"), contamination triage ("which corpus
docs score highest against this benchmark question") and corpus QA.

Scoring is Okapi BM25 with the Lucene/Robertson idf:

    idf(t)  = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))
    s(q, d) = sum over t in q of
              idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))

Scale design (the 100 TB framing):

- The query workload is BOUNDED BY CONSTRUCTION (a user-supplied term
  list, not data-derived), so the distinct query-term set broadcasts
  unconditionally — the one hint in this module that is safe by the
  repo's own broadcast-audit standard (BASELINE.md round-9 audit,
  class 1).
- Postings are pruned to query terms MAP-SIDE, before any exchange:
  explode -> broadcast-hash semi join -> partial aggregate. The
  shuffle therefore carries only (doc_id, matched-term) pairs — for a
  realistic query (tens of terms) that is a vanishing fraction of the
  corpus; the document text itself never enters an exchange.
- The vanishing-fraction argument fails for a stopword-frequency
  query term (it matches nearly every doc), so `max_df_frac` guards
  it: df comes from a cheap pre-pass whose partial aggregation keeps
  its exchange at <=|query vocab| rows per task, and terms above the
  threshold are dropped BEFORE the postings shuffle ever sees them.
- df / N / avgdl are bounded rollups: |query vocab| rows and one
  global pair, rejoined by broadcast. The PERSISTED index
  (`Bm25Index`) never re-aggregates its doclens table at query time:
  build/absorb maintain per-batch (n_docs, sum_dl) stats partitions,
  and serving sums <= #batches one-row stats (plan-pinned). Its
  version pointer, tombstones and maintenance flips are the shared
  `VersionedStore` lifecycle (operators/store.py).
- No Python in the plan: tokenization, tf, idf and the score are all
  built-in expressions inside whole-stage codegen.

Cross-engine determinism (the oracle contract): every arithmetic step
is a single IEEE-754 op (identical in any engine) except ln() — 1-ulp
libm divergence — and the per-(query, doc) sum.  The sum is made
order-independent by the repo's dsum trick (per-term contribution cast
to DECIMAL, exact decimal sum, cast back); the ln residual is absorbed
by reporting round(score, 6) and by ranking on the ROUNDED score with
a doc-id tie-break, so rank is fully determined by values both engines
agree on. Same residual-risk class as ivf_centroids' documented ulp
caveat.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .epochs import guard_sentinel_batch, replay_skippable
from .store import VersionedStore
from .text import tokens

__all__ = [
    "terms_frame",
    "bm25_scores",
    "bm25_topk",
    "Bm25Index",
    "rrf_fuse",
    "hybrid_topk",
]

#: decimal scale for the exact contribution sum (dsum pattern,
#: plans/queries.py): BM25 contributions are O(0..20), so
#: DECIMAL(18,9) keeps 9 exact fractional digits with no overflow
#: until ~10^9 summed terms per (query, doc) — far past any real
#: query length.
_SUM_SCALE = 9

#: epoch-stamp partition column of a partitioned Bm25Index (matches
#: the NearDupIndex/IvfIndex convention)
_BATCH_COL = "__batch"


def terms_frame(
    spark: SparkSession, queries: Mapping[str, Sequence[str]]
) -> DataFrame:
    """(query_id, term) pairs from a {query_id: [term, ...]} mapping —
    the bounded query-workload frame `bm25_scores` consumes. Terms are
    normalized with the corpus tokenizer's conventions (lowercase) so
    a caller's 'Hash' matches the normalized corpus token 'hash', and
    deduplicated per query (BM25 is a set-of-terms model; without the
    dedupe a repeated term would silently double-count in both score
    and n_terms_matched)."""
    rows = sorted(
        {
            (qid, term.lower())
            for qid, terms in queries.items()
            for term in terms
        }
    )
    return spark.createDataFrame(rows, "query_id: string, term: string")


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.5,
    b: float = 0.75,
    max_df_frac: float | None = None,
    cache_tokens: bool = False,
) -> DataFrame:
    """Score every document against every query it shares a term with:
    (query_id, <id_col>, n_terms_matched, score), score rounded to
    6 dp (see module docstring for why). Documents matching no term of
    a query are absent — BM25 gives them score 0 and a retrieval
    system never materializes the zero set.

    `queries` is a (query_id, term) frame — build one with
    `terms_frame`. k1/b default to the standard 1.5/0.75; keep them
    dyadic if the oracle-exactness argument should stay airtight.

    `max_df_frac` — the scale guard. The "postings are a vanishing
    fraction of the corpus" argument holds only while every query term
    is selective; a stopword-frequency term matches nearly every
    document and drives the (doc, term) shuffle toward corpus scale.
    With `max_df_frac` set, terms whose document frequency exceeds
    `max_df_frac * N` are DROPPED from scoring (the standard stopword
    treatment — their idf is near zero anyway), and crucially they are
    dropped BEFORE the postings shuffle: df comes from a dedicated
    pre-pass (per-doc distinct matched terms, map-side partial
    aggregation, so that shuffle carries at most |query vocab| rows
    per task), and the postings explode joins only the surviving
    terms. A dropped term does not count toward n_terms_matched.
    Default None keeps every term (small-corpus / interactive use).

    `cache_tokens` (round 12, VERDICT r11 item 7): the lazy plan
    consumes the token array three times (global stats, df pre-pass
    explode, postings explode) and re-tokenizes per consumer — the
    span-cascade cost-model lesson. When True, the (id, tokens)
    projection localCheckpoints AND the df pre-pass folds into the
    postings aggregate (df = exact per-term row count of the
    per-(doc, term) postings, the same value the distinct-explode
    computed), so the corpus is tokenized once and exploded once.
    Round 13: the explode is additionally pre-filtered to the query
    vocabulary IN THE ARRAY (the bounded term set collects like
    Bm25Index's bucket ids), so the exploded intermediate is
    |matched tokens| not |all tokens|. (A df-as-count-window variant
    was tried and reverted the same round: it shuffled every matched
    posting by term — a stopword skew hotspot at scale; df stays a
    map-side-aggregated groupBy + broadcast join-back.)
    Ordering trade, documented: in this mode the max-df guard prunes
    AFTER the postings aggregate rather than before the explode-join
    — safe exactly because cache_tokens is the ONE-SHOT bounded-
    corpus mode (you already materialized the full tokenized corpus,
    which dominates any stopword posting run); the default lazy mode
    keeps the pre-pass ordering that matters at 100 TB, and a corpus
    queried repeatedly should build a Bm25Index instead (tokenizes
    once into postings, then never again). Scores are bit-identical
    between the modes (pinned in tests/test_retrieval.py)."""
    toks_ne = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    if cache_tokens:
        cached = docs.select(
            F.col(id_col), toks_ne.alias("__toks")
        ).localCheckpoint()
        tk = F.col("__toks")
        # stats stays LAZY even here: an eager one-row collect was
        # A/B-measured SLOWER (+0.3-0.4 s) than letting the guard and
        # scoring tail re-evaluate this one-row aggregate over the
        # cached arrays — the blocking job costs more than the
        # subtree re-evaluation saves
        stats = cached.select(
            F.count(F.lit(1)).alias("__n"),
            (
                F.sum(F.size(tk)).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("__avgdl"),
        )
        # ONE explode over the cached arrays, pre-filtered to the
        # query vocabulary IN THE ARRAY (round 13): the term set is
        # bounded by the query-workload contract, so collecting it is
        # the Bm25Index bucket-id class of tiny job, and the isin
        # filter runs map-side BEFORE the explode — the exploded
        # intermediate shrinks from |all tokens| to |matched tokens|
        # (the same row set the old explode->broadcast-join produced,
        # so scores are bit-identical). The per-(doc, term) aggregate
        # is checkpointed so the df rollup and the scoring join both
        # read it instead of re-running the explode subtree.
        qterms_local = [
            r[0] for r in queries.select("term").distinct().collect()
        ]
        matched = (
            F.filter(tk, lambda t: t.isin(*qterms_local))
            if qterms_local
            # empty workload: no term can match (isin() takes >= 1 arg)
            else F.filter(tk, lambda t: F.lit(False))
        )
        post_pre = (
            cached.select(
                F.col(id_col),
                F.size(tk).alias("__dl"),
                F.explode(matched).alias("term"),
            )
            .groupBy(id_col, "term")
            .agg(
                F.count(F.lit(1)).alias("__tf"),
                F.max("__dl").alias("__dl"),
            )
            .localCheckpoint()
        )
        # df via groupBy + broadcast join-back, NOT a count window:
        # a Window.partitionBy(term) would exchange every matched
        # posting row by term and concentrate a stopword-frequency
        # term's near-corpus-sized posting list into ONE task before
        # the max-df prune runs — the exact skew case the guard
        # exists for. The groupBy's map-side partial aggregation
        # ships <= |query vocab| rows per task and post_pre itself
        # never shuffles (round-13 self-review reverted the window
        # variant; it saved one stage at demo scale and lost the
        # 100 TB story).
        dfreq = post_pre.groupBy("term").agg(
            F.count(F.lit(1)).alias("__df")
        )
        if max_df_frac is not None:
            dfreq = (
                dfreq.crossJoin(F.broadcast(stats.select("__n")))
                .filter(
                    F.col("__df").cast("double")
                    <= F.lit(float(max_df_frac))
                    * F.col("__n").cast("double")
                )
                .select("term", "__df")
            )
        post = post_pre.join(F.broadcast(dfreq), "term")
        return _score_postings(post, stats, queries, id_col, k1, b)
    qterms = queries.select("term").distinct()

    # global stats: exact integer sum / count, ONE double division —
    # bit-identical in any IEEE engine (avg() folds doubles in
    # partition order, so it is NOT used)
    stats = docs.select(
        F.count(F.lit(1)).alias("__n"),
        (
            F.sum(F.size(toks_ne)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("__avgdl"),
    )

    # df pre-pass: explode each doc's DISTINCT tokens, prune to query
    # terms under the bounded broadcast, count docs per term. Partial
    # aggregation means the exchange here carries at most |query
    # vocab| rows per task regardless of corpus size — this is what
    # lets the max-df guard run BEFORE the heavy postings shuffle.
    dfreq = (
        docs.select(F.explode(F.array_distinct(toks_ne)).alias("term"))
        .join(F.broadcast(qterms), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("__df"))
    )
    if max_df_frac is not None:
        dfreq = (
            dfreq.crossJoin(F.broadcast(stats.select("__n")))
            .filter(
                F.col("__df").cast("double")
                <= F.lit(float(max_df_frac)) * F.col("__n").cast("double")
            )
            .select("term", "__df")
        )

    # postings pass: dl carried alongside the explode so no second
    # join against a doc-length relation is needed; the broadcast join
    # against the (guard-surviving) term set prunes MAP-SIDE, before
    # the (doc, term) exchange, and carries df through the aggregate
    # so no separate dfreq join-back is needed.
    exploded = docs.select(
        F.col(id_col),
        F.size(toks_ne).alias("__dl"),
        F.explode(toks_ne).alias("term"),
    )
    post = (
        exploded.join(F.broadcast(dfreq), "term")
        .groupBy(id_col, "term")
        .agg(
            F.count(F.lit(1)).alias("__tf"),
            F.max("__dl").alias("__dl"),
            F.max("__df").alias("__df"),
        )
    )

    return _score_postings(post, stats, queries, id_col, k1, b)


def _score_postings(
    post: DataFrame,
    stats: DataFrame,
    queries: DataFrame,
    id_col: str,
    k1: float,
    b: float,
) -> DataFrame:
    """Shared scoring tail: matched postings (<id_col>, term, __tf,
    __dl, __df) + one-row stats (__n, __avgdl) + the bounded
    (query_id, term) workload -> (query_id, <id_col>,
    n_terms_matched, score). Used by both the in-plan `bm25_scores`
    and the persisted `Bm25Index.topk` serving path."""
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("__df") + F.lit(0.5))
        / (F.col("__df") + F.lit(0.5))
    )
    tf = F.col("__tf").cast("double")
    norm_len = F.lit(1.0 - b) + F.lit(b) * (
        F.col("__dl").cast("double") / F.col("__avgdl")
    )
    contrib = idf * (tf * F.lit(k1 + 1.0)) / (tf + F.lit(k1) * norm_len)

    return (
        post.crossJoin(F.broadcast(stats))
        .join(F.broadcast(queries), "term")
        .groupBy("query_id", id_col)
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            # dsum: exact decimal sum -> order-independent
            F.round(
                F.sum(
                    contrib.cast(f"decimal(18,{_SUM_SCALE})")
                ).cast("double"),
                6,
            ).alias("score"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    topk: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.5,
    b: float = 0.75,
    max_df_frac: float | None = None,
    cache_tokens: bool = False,
) -> DataFrame:
    """Top-k documents per query by BM25: (query_id, rank, <id_col>,
    n_terms_matched, score). Rank is a row_number over (rounded score
    DESC, <id_col> ASC) — deterministic, and WindowGroupLimit keeps the
    per-partition state at k rows (the top_orders_per_customer plan
    shape), so the ranking never materializes the full scored set.
    `cache_tokens` — see bm25_scores."""
    scored = bm25_scores(
        docs,
        queries,
        text_col=text_col,
        id_col=id_col,
        k1=k1,
        b=b,
        max_df_frac=max_df_frac,
        cache_tokens=cache_tokens,
    )
    return _rank_topk(scored, id_col, topk)


def _rank_topk(scored: DataFrame, id_col: str, topk: int) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc(id_col)
    )
    # one select + filter instead of withColumn/filter/select (r17,
    # §1.2 analyzer passes); WindowGroupLimit verified to still fire
    # above this shape, output columns/order/values identical
    return scored.select(
        "query_id",
        F.row_number().over(w).alias("rank"),
        id_col, "n_terms_matched", "score",
    ).filter(F.col("rank") <= topk)


class Bm25Index:
    """Persisted BM25 index — the serving shape of the retrieval tier:
    build once, query many times, absorb new documents in O(batch).
    The version pointer, tombstones, pruning and the flip commit live
    in the composed `VersionedStore` (operators/store.py).

    Layout (via sources/warehouse.py):

    - `<name>_postings` : (term, <id_col>, tf, dl) hive-PARTITIONED BY
      `__tb` = pmod(xxhash64(term), n_buckets) — a query's terms map
      to a handful of buckets, so serving reads |query-term buckets|
      directories and skips the rest of the postings AT THE FILE
      LEVEL. dl is denormalized onto every posting so scoring never
      joins a doc-length relation (no doc-keyed shuffle anywhere in
      the query path).
    - `<name>_doclens`  : (<id_col>, dl) — one narrow row per doc;
      the per-doc record delete() reads. Not on the query path.
    - `<name>_stats`    : one (n_docs, sum_dl) row per build/absorb
      batch. N and avgdl sum from these <= #batches rows at query
      time instead of re-aggregating the doclens table. The sums are
      exact integers, so N = sum(n_docs) and avgdl = sum(sum_dl)/N are
      BIT-IDENTICAL to the full doclens aggregate; absorb stays a
      blind per-batch append (no read-modify-write of a global stats
      row, hence no lost-update window between concurrent absorbs).
      In partitioned mode the stats row is hive-partitioned by the
      same `__batch` stamp, so a re-offered streaming epoch
      OVERWRITES its own stats partition exactly like its
      postings/doclens partitions — stats never double-count a replay.
    - `<name>_meta`     : frozen (text_col, id_col, n_buckets, k1, b)
      — a reader with a different tokenizer column or bucket count
      would prune the wrong partitions or score the wrong field;
      mismatches fail loudly.

    Query path: bucket ids for the BOUNDED query-term set are computed
    with the same xxhash64 the writer used, the postings scan carries
    `__tb IN (...)` as a PartitionFilter plus a broadcast term join,
    df comes from the pruned postings themselves (exact after any
    number of absorbs, no separately-maintained df table to drift),
    and the shared `_score_postings` tail finishes identically to the
    in-plan `bm25_scores` — parity is pinned by test.

    Caller contract: absorb() appends; re-absorbing the same doc id
    duplicates its postings (same as IvfIndex.absorb) — route replays
    through an exactly-once epoch sink or rebuild."""

    def __init__(
        self,
        wh,
        name: str = "bm25",
        text_col: str = "text",
        id_col: str = "doc_id",
        n_buckets: int = 64,
        k1: float = 1.5,
        b: float = 0.75,
        partitioned: bool = False,
        versioned: bool = False,
    ):
        self.wh = wh
        self.name = name
        self.text_col = text_col
        self.id_col = id_col
        self.n_buckets = n_buckets
        self.k1 = k1
        self.b = b
        #: partitioned=True sub-partitions postings by a `__batch`
        #: epoch stamp under each term bucket (and doclens/stats by the
        #: stamp): absorb(batch=...) then becomes a dynamic partition
        #: overwrite of that epoch's partitions, so a re-offered
        #: streaming epoch REPLACES its own rows instead of
        #: duplicating them; serving is unchanged (term-bucket pruning
        #: still hits the first directory level).
        self.partitioned = partitioned
        #: versioned=True: postings/doclens/stats live in per-version
        #: tables behind a one-row `<name>_version` pointer that also
        #: carries id_type and the replay watermark, and build() on an
        #: already-built index becomes an ATOMIC FULL REBUILD — the new
        #: version is written off to the side and committed with one
        #: pointer flip while serving stays on the old version.
        self.versioned = versioned
        self.store = VersionedStore(
            wh, "Bm25Index", name, ("postings", "doclens", "stats"),
            versioned,
            "version int, id_type string, compacted_through long",
        )

    @property
    def version_table(self) -> str:
        return self.store.version_table

    @property
    def postings_table(self) -> str:
        return self.store.tables()[0]

    @property
    def doclens_table(self) -> str:
        return self.store.tables()[1]

    @property
    def stats_table(self) -> str:
        return self.store.tables()[2]

    @property
    def meta_table(self) -> str:
        return self.store.meta_table

    def _params(self) -> dict:
        return {
            "text_col": self.text_col,
            "id_col": self.id_col,
            "n_buckets": self.n_buckets,
            "k1": float(self.k1),
            "b": float(self.b),
            "partitioned": self.partitioned,
            "versioned": self.versioned,
        }

    def _write_meta(
        self,
        id_type: str = "bigint",
        compacted_through: int | None = None,
    ) -> None:
        # id_type rides along (outside the identity check) so topk's
        # day-zero empty frame matches the populated-index id column
        # type; compacted_through is the unversioned store's replay
        # watermark (versioned stores carry it in the pointer row)
        self.wh.overwrite_rows(
            self.meta_table,
            [tuple(self._params().values()) + (id_type, compacted_through)],
            "text_col string, id_col string, n_buckets int, "
            "k1 double, b double, partitioned boolean, "
            "versioned boolean, id_type string, "
            "compacted_through long",
        )

    def _validate(self) -> None:
        if getattr(self, "_params_ok", False):
            return
        stored = self.store.read_meta()
        if stored is not None:
            self.store.check_identity(
                stored, self._params(),
                "a mismatched reader prunes the wrong partitions or "
                "scores the wrong column; rebuild the index or match "
                "its layout",
            )
        self._params_ok = True

    def _postings(self, docs: DataFrame) -> DataFrame:
        toks_ne = F.filter(tokens(F.col(self.text_col)), lambda t: t != "")
        return (
            docs.select(
                F.col(self.id_col),
                F.size(toks_ne).alias("dl"),
                F.explode(toks_ne).alias("term"),
            )
            .groupBy(self.id_col, "term")
            .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
            .withColumn(
                "__tb",
                F.pmod(F.xxhash64(F.col("term")), F.lit(self.n_buckets)),
            )
        )

    def _doclens(self, docs: DataFrame) -> DataFrame:
        toks_ne = F.filter(tokens(F.col(self.text_col)), lambda t: t != "")
        return docs.select(
            F.col(self.id_col), F.size(toks_ne).alias("dl")
        )

    def _batch_stats(self, dl_t: str, batch: str) -> DataFrame:
        """One (__batch, n_docs, sum_dl) row for `batch`, aggregated
        from the JUST-WRITTEN doclens parquet — a narrow 2-column
        scan (partition-pruned to the batch in partitioned mode), so
        stats derive from exactly the rows that were persisted, not
        from a second tokenization pass over the input. Empty builds
        (day-zero stream) write a (0, 0) row.

        Partitioned mode reads the batch's partition DIRECTORY
        directly instead of the table root: a root read lists every
        epoch's directory before pruning, so per-epoch absorb cost
        grew with stream age — the live-stream bench measured the
        accumulated-files tax on WRITERS at ~0.5 s/epoch by epoch 200
        (BASELINE r15); the direct-path read keeps the listing O(this
        epoch's files) forever."""
        import os

        spark = self.wh.spark
        from pyspark.errors import AnalysisException

        if self.partitioned:
            import re as _re

            p = os.path.join(
                self.wh.path(dl_t), f"{_BATCH_COL}={batch}"
            )
            # the direct path only serves batch ids built SOLELY from
            # characters Spark never hive-escapes — a value Spark
            # URL-escapes on write (spaces, '%', ':'…) would MISS the
            # dir here (populated epoch silently recorded as (0, 0) —
            # wrong N/avgdl forever), and worse, an UNESCAPED id that
            # happens to equal another epoch's ESCAPED dir name
            # (batch='ep%201' vs dir `__batch=ep%201` written for
            # 'ep 1') would read the WRONG epoch's rows; both cases
            # must take the root-read fallback below
            if _re.fullmatch(
                r"[A-Za-z0-9_.\-]+", str(batch)
            ) and os.path.isdir(p):
                spark.catalog.refreshByPath(p)
                return spark.read.parquet(p).agg(
                    F.lit(str(batch)).alias(_BATCH_COL),
                    F.count(F.lit(1)).alias("n_docs"),
                    F.coalesce(F.sum("dl"), F.lit(0))
                    .cast("bigint")
                    .alias("sum_dl"),
                )
            # fallback: the table-root read (lists every epoch dir —
            # correct for escaped batch names; also the empty-epoch
            # path, which has no dir and no rows)
            spark.catalog.refreshByPath(self.wh.path(dl_t))
            try:
                dl = self.wh.read(dl_t)
            except AnalysisException:
                return spark.createDataFrame(
                    [(str(batch), 0, 0)],
                    f"{_BATCH_COL} string, n_docs bigint, sum_dl bigint",
                )
            return dl.filter(F.col(_BATCH_COL) == str(batch)).agg(
                F.lit(str(batch)).alias(_BATCH_COL),
                F.count(F.lit(1)).alias("n_docs"),
                F.coalesce(F.sum("dl"), F.lit(0))
                .cast("bigint")
                .alias("sum_dl"),
            )
        spark.catalog.refreshByPath(self.wh.path(dl_t))
        try:
            dl = self.wh.read(dl_t)
        except AnalysisException:
            # an empty corpus writes no parquet files
            return spark.createDataFrame(
                [(str(batch), 0, 0)],
                f"{_BATCH_COL} string, n_docs bigint, sum_dl bigint",
            )
        return dl.agg(
            F.lit(str(batch)).alias(_BATCH_COL),
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("bigint").alias("sum_dl"),
        )

    def build(self, docs: DataFrame, batch="__build__") -> None:
        """Full (re)build. Versioned: on an already-built index the
        NEXT version is written off to the side and committed with
        one pointer flip that also carries the id column type, while
        serving keeps reading the old version; prune_versions()
        garbage-collects it afterwards. The new version starts with no
        tombstones: the new corpus is the caller's statement of
        record."""
        from ..session import run_concurrently
        from ..sources.warehouse import atomic_overwrite

        flip = self.store.begin(
            f"Bm25Index('{self.name}').build",
            self.store.version_or_none(),
        )
        post_t, dl_t, stats_t = self.store.tables(flip.version)
        post, dl = self._postings(docs), self._doclens(docs)
        post_parts = ["__tb"]
        stamp = None
        if self.partitioned:
            post = post.withColumn(_BATCH_COL, F.lit(str(batch)))
            dl = dl.withColumn(_BATCH_COL, F.lit(str(batch)))
            post_parts.append(_BATCH_COL)
            stamp = [_BATCH_COL]

        def _dl_then_stats():
            # stats reads the PERSISTED doclens (its stated contract),
            # so it nests after the doclens write; the whole chain then
            # overlaps the heavier postings write (guide §2.6)
            atomic_overwrite(dl, self.wh.path(dl_t), partition_by=stamp)
            atomic_overwrite(
                self._batch_stats(dl_t, batch),
                self.wh.path(stats_t),
                partition_by=stamp,
            )

        id_type = docs.schema[self.id_col].dataType.simpleString()
        # the replay watermark RESETS: a rebuild indexes a fresh corpus
        # under a fresh __build__ stamp (operators/epochs.py)
        self.store.commit(
            flip,
            lambda: run_concurrently(
                lambda: atomic_overwrite(
                    post, self.wh.path(post_t), partition_by=post_parts
                ),
                _dl_then_stats,
            ),
            meta=lambda: self._write_meta(id_type=id_type),
            layout={"id_type": id_type, "compacted_through": None},
        )
        self._params_ok = True

    def prune_versions(self, keep: int = 1) -> list[str]:
        """Delete the table directories of every version but the
        newest `keep` (see VersionedStore.prune_versions)."""
        return self.store.prune_versions(keep)

    def absorb(self, new_docs: DataFrame, batch=None) -> None:
        """Index a new document batch — O(batch); idf/avgdl shift
        automatically (both derive at query time).

        Unpartitioned index: a plain append (pass no `batch`) — a
        replayed batch duplicates postings; see the class docstring.
        Partitioned index: `batch` is required and the write is a
        dynamic partition overwrite of that epoch's partitions, so a
        re-offered epoch rewrites exactly its own rows.

        Compacted stores (operators/epochs.py): an epoch <= the
        recorded `compacted_through` watermark is a REPLAY of rows
        already merged into the `__compacted__` partitions — absorb
        no-ops instead of duplicating them. A batch id that collides
        with a maintenance stamp is always refused: writing a caller
        batch under `__build__` would dynamic-overwrite the build
        partition itself.

        Partial-failure contract: the postings and doclens/stats
        appends run CONCURRENTLY (§2.6), so a failed absorb can leave
        ANY subset of the three tables holding the batch. The caller
        MUST re-run the same batch after a failure: each table's write
        is a dynamic partition overwrite of the batch's own
        partitions, so the replay rewrites exactly the partial rows
        and converges. The stats row is NOT a commit marker."""
        self._validate()
        if batch is not None:
            guard_sentinel_batch(batch)
        # ONE pointer read: the skip decision (watermark) and the
        # tables a non-skipped absorb writes come from the same row
        v, layout = self.store.resolve()
        if (
            self.partitioned
            and batch is not None
            and replay_skippable(batch, layout.get("compacted_through"))
        ):
            return
        post_t, dl_t, stats_t = self.store.tables(v)
        from .tombstones import anti_join_tombstones

        # a deleted id stays deleted until a purging compaction:
        # re-absorbing it would re-admit a taken-down document AND
        # double-count it in the stats (its tombstone subtracts
        # exactly the occurrences indexed BEFORE the delete)
        new_docs = anti_join_tombstones(
            new_docs, self.wh, self.store.tombstones(v), self.id_col
        )
        post, dl = self._postings(new_docs), self._doclens(new_docs)
        from ..session import run_concurrently

        if self.partitioned:
            if batch is None:
                raise ValueError(
                    "a partitioned index requires a batch id for absorb()"
                )

            # the batch's one stats row lands as a dynamic partition
            # overwrite of ITS OWN __batch partition and reads the
            # PERSISTED doclens partition, so it nests after that
            # write — postings ∥ (doclens -> stats), guide §2.6
            def _dl_then_stats():
                self.wh.append_partitioned(
                    dl_t,
                    dl.withColumn(_BATCH_COL, F.lit(str(batch))),
                    _BATCH_COL,
                )
                self.wh.append_partitioned(
                    stats_t, self._batch_stats(dl_t, batch), _BATCH_COL
                )

            run_concurrently(
                lambda: self.wh.append_partitioned(
                    post_t,
                    post.withColumn(_BATCH_COL, F.lit(str(batch))),
                    ["__tb", _BATCH_COL],
                ),
                _dl_then_stats,
            )
        else:
            if batch is not None:
                raise ValueError(
                    "batch stamps need a partitioned index "
                    "(Bm25Index(partitioned=True))"
                )
            # all three appends are independent here: the stats row
            # aggregates the BATCH frame (an unpartitioned doclens
            # read-back could not isolate the new rows) — one O(batch)
            # pass and a blind O(1)-row append with the same
            # duplicate-on-replay contract as the postings append
            run_concurrently(
                lambda: post.write.mode("append")
                .partitionBy("__tb")
                .parquet(self.wh.path(post_t)),
                lambda: self.wh.append(dl_t, dl),
                lambda: self.wh.append(
                    stats_t,
                    dl.agg(
                        F.lit("__absorb__").alias(_BATCH_COL),
                        F.count(F.lit(1)).alias("n_docs"),
                        F.coalesce(F.sum("dl"), F.lit(0))
                        .cast("bigint")
                        .alias("sum_dl"),
                    ),
                ),
            )

    def delete(self, ids: DataFrame) -> dict:
        """Tombstone documents (takedowns, contaminated-doc removals)
        on an immutable parquet layout. `ids` is a frame holding
        `self.id_col`.

        What lands: one (id, dl) tombstone row per indexed OCCURRENCE
        of each id, with dl read from the per-doc doclens record — so
        serving can subtract the exact integer (count, sum dl) from
        the stats fold and N/avgdl/idf are bit-identical to a store
        that never held the docs. Ids not currently indexed tombstone
        nothing; ids already tombstoned are skipped (never
        double-subtracted) — delete() is idempotent. Cost: one scan of
        the narrow doclens table.

        A deleted id stays deleted (absorb filters it) until a FULL
        versioned compaction physically purges rows and tombstones
        behind one pointer flip; non-versioned stores keep filtering
        at serve time. A rebuild starts the new version with no
        tombstones.

        Returns {"deleted_docs", "deleted_dl"} (occurrences actually
        tombstoned by THIS call)."""
        self._validate()
        v = self.store.version_or_none()
        dl_t = self.store.tables(v)[1]
        if not self.wh.exists(dl_t):
            # day-zero store (empty build writes no doclens files):
            # nothing indexed, nothing to tombstone
            return {"deleted_docs": 0, "deleted_dl": 0}
        got = self.store.delete(
            self.wh.read(dl_t).select(
                self.id_col, F.col("dl").cast("bigint").alias("dl")
            ),
            ids, self.id_col, self.store.tombstones(v),
            occurrences=True, sums=("dl",),
        )
        return {"deleted_docs": got["n"], "deleted_dl": got["dl"]}

    def compact(
        self,
        files_per_partition: int = 1,
        through: int | None = None,
        live: bool = False,
    ) -> dict:
        """Epoch-partition maintenance (operators/epochs.py has the
        full semantics): collapse `__batch` partitions into one
        `__compacted__` stamp — postings keep the `__tb` term-bucket
        level (query pruning is unchanged), doclens collapse to one
        partition, and the merged epochs' stats rows SUM into a single
        (`__compacted__`, n_docs, sum_dl) row, so serving's N/avgdl
        read shrinks back to O(1) rows no matter how many epochs were
        absorbed. The sums are exact integers — post-compaction scores
        are bit-identical. A pure LAYOUT rewrite: nothing is
        retokenized (unlike build()).

        `through` bounds WHICH epochs merge (integer epoch ids
        <= through; maintenance stamps always merge); `live=True`
        derives `through = newest epoch - 1` for a LIVE stream. The
        default (merge everything) is for a quiesced stream.

        A FULL merge on a versioned store also purges tombstoned docs:
        postings and doclens lose their rows, the stats fold down by
        the exact tombstone totals, and the new version has no
        tombstone table, all in the one pointer flip.

        Returns {"stamps_merged", "compacted_through", "purged",
        "files_before", "files_after"}."""
        from ..session import run_concurrently
        from ..sources.warehouse import atomic_overwrite
        from .epochs import (
            COMPACTED_STAMP,
            collapse_epochs,
            hive_partition_values,
            parquet_file_count,
            plan_merge,
        )

        self._validate()
        if not self.partitioned:
            raise ValueError(
                f"Bm25Index '{self.name}': compact() is epoch-partition "
                "maintenance — only a partitioned=True store "
                "accumulates __batch partitions"
            )
        if not self.wh.exists(self.meta_table):
            raise ValueError(
                f"Bm25Index '{self.name}': no meta marker — run build()"
            )
        # ONE pointer (or meta) read: tables, id_type and the previous
        # watermark all come from this row
        v, layout = self.store.resolve()
        flip = self.store.begin(f"Bm25Index('{self.name}').compact", v)
        id_type = layout["id_type"]
        cur_post, cur_dl, cur_stats = self.store.tables(v)
        new_post, new_dl, new_stats = self.store.tables(flip.version)
        cur_tomb = self.store.tombstones(v)
        tombs = (
            self.wh.read(cur_tomb) if self.wh.exists(cur_tomb) else None
        )

        # stats is the COMPLETE epoch record — an empty epoch writes a
        # (0, 0) stats row but no postings/doclens files, and its stamp
        # must still advance the watermark. The stamp column is cast to
        # string up front: partition-type inference reads an
        # all-numeric-epoch store's __batch as int, and the
        # restamp-to-__compacted__ union must not mix types.
        def _stamped(table):
            return self.wh.read(table).withColumn(
                _BATCH_COL, F.col(_BATCH_COL).cast("string")
            )

        stats = _stamped(cur_stats)
        stamps = hive_partition_values(self.wh.path(cur_stats), _BATCH_COL)
        post = dl = None
        if self.wh.exists(cur_post):
            post = _stamped(cur_post)
            stamps |= hive_partition_values(
                self.wh.path(cur_post), _BATCH_COL
            )
        if self.wh.exists(cur_dl):
            dl = _stamped(cur_dl)
        merged, wm = plan_merge(
            stamps, through, live, layout.get("compacted_through")
        )
        purge = self.versioned and set(merged) == stamps and tombs is not None
        files_before = (
            parquet_file_count(self.wh.path(cur_post))
            if post is not None
            else 0
        )

        def _collapsed(df, parts):
            out = collapse_epochs(
                df.filter(F.col(_BATCH_COL).isin(merged)),
                _BATCH_COL, parts, self.id_col, files_per_partition,
            ).unionByName(df.filter(~F.col(_BATCH_COL).isin(merged)))
            if not purge:
                return out
            from .tombstones import anti_join_tombstones

            return anti_join_tombstones(out, self.wh, cur_tomb, self.id_col)

        writes = []
        if post is not None:
            parts = ["__tb", _BATCH_COL]
            writes.append((new_post, _collapsed(post, parts), parts))
        if dl is not None:
            writes.append((new_dl, _collapsed(dl, [_BATCH_COL]), [_BATCH_COL]))
        stats_src = stats.filter(F.col(_BATCH_COL).isin(merged)).select(
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("sum_dl").cast("bigint").alias("sum_dl"),
        )
        if purge:
            # exact integer fold-down: the purged corpus's stats are
            # bit-identical to one that never held the deleted docs
            stats_src = stats_src.unionByName(
                tombs.agg(
                    (-F.count(F.lit(1))).cast("bigint").alias("n_docs"),
                    (-F.coalesce(F.sum("dl"), F.lit(0)))
                    .cast("bigint")
                    .alias("sum_dl"),
                )
            )
        compacted_stats = stats_src.agg(
            F.lit(COMPACTED_STAMP).alias(_BATCH_COL),
            F.coalesce(F.sum("n_docs"), F.lit(0))
            .cast("bigint")
            .alias("n_docs"),
            F.coalesce(F.sum("sum_dl"), F.lit(0))
            .cast("bigint")
            .alias("sum_dl"),
        )
        writes.append((
            new_stats,
            compacted_stats.unionByName(
                stats.filter(~F.col(_BATCH_COL).isin(merged)).select(
                    _BATCH_COL, "n_docs", "sum_dl"
                )
            ),
            [_BATCH_COL],
        ))
        # the collapsed tables are independent of one another —
        # overlap their writes (guide §2.6)
        self.store.commit(
            flip,
            lambda: run_concurrently(*[
                lambda t=table, f=frame, p=parts: atomic_overwrite(
                    f, self.wh.path(t), partition_by=p
                )
                for table, frame, parts in writes
            ]),
            meta=lambda: self._write_meta(
                id_type=id_type,
                compacted_through=None if self.versioned else wm,
            ),
            layout={"id_type": id_type, "compacted_through": wm},
            carry_tombstones=not purge,
            meta_first=True,
        )
        return {
            "stamps_merged": len(merged),
            "compacted_through": wm,
            "purged": purge,
            "files_before": files_before,
            "files_after": (
                parquet_file_count(self.wh.path(new_post))
                if post is not None
                else 0
            ),
        }

    def topk(
        self,
        queries: Mapping[str, Sequence[str]] | DataFrame,
        topk: int = 10,
        max_df_frac: float | None = None,
    ) -> DataFrame:
        """Serve top-k from the persisted postings. `queries` is the
        bounded workload ({query_id: [terms]} or a (query_id, term)
        frame). max_df_frac applies the stopword guard against the
        CURRENT corpus size (df from the pruned postings, N from the
        per-batch stats rows).

        Scale shape: the plan reads (a) the query terms' postings
        partitions — file-level pruned — and (b) the <= #batches
        one-row stats table. The doclens table is not on this path
        (plan-pinned in tests/test_retrieval.py)."""
        self._validate()
        spark = self.wh.spark
        # one pointer (or meta) read for the whole query: postings,
        # stats, tombstones and the id type always come from the SAME
        # version, even across a concurrent versioned rebuild flip
        v, layout = self.store.resolve()
        post_t, _, stats_t = self.store.tables(v)
        tomb_t = self.store.tombstones(v)
        q = (
            queries
            if isinstance(queries, DataFrame)
            else terms_frame(spark, queries)
        )
        qterms = q.select("term").distinct()
        # day-zero: building an EMPTY corpus (or a stream's first
        # epoch) writes no parquet files, and schema inference over a
        # file-less directory raises. Accepted ONLY when the pointer or
        # meta row proves a build completed (the NearDupIndex guard):
        # an index unreadable for an environmental reason must not
        # silently serve zero results.
        from pyspark.errors import AnalysisException

        try:
            self.wh.read(post_t)
        except AnalysisException as e:
            cond = e.getCondition() if hasattr(e, "getCondition") else None
            if cond not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
                raise
            if not layout:
                raise ValueError(
                    f"Bm25Index '{self.name}': '{post_t}' "
                    "has no readable data and no meta marker — the "
                    "index was never built or the warehouse root is "
                    "wrong; run build() (it writes the marker even for "
                    "an empty corpus) or fix the root"
                ) from e
            return spark.createDataFrame(
                [],
                f"query_id string, rank int, {self.id_col} "
                f"{layout['id_type']}, n_terms_matched bigint, "
                "score double",
            )
        # partition pruning: bucket ids of the bounded term set via the
        # SAME xxhash64 the writer used. Mapping input (r16): the terms
        # are already in the driver's hands, so the bucket ids come
        # from the bit-exact driver-side XXH64 twin (functions.core.
        # xxhash64_str, property-pinned against F.xxhash64) — no Spark
        # job; DataFrame input keeps the one tiny job (no corpus scan
        # either way). Python's % IS pmod for a positive modulus.
        if isinstance(queries, DataFrame):
            buckets = [
                r[0]
                for r in qterms.select(
                    F.pmod(F.xxhash64(F.col("term")), F.lit(self.n_buckets))
                ).distinct().collect()
            ]
        else:
            from ..functions.core import xxhash64_str

            buckets = sorted({
                xxhash64_str(term.lower()) % self.n_buckets
                for terms in queries.values()
                for term in terms
            })
        post = (
            self.wh.read(post_t)
            .filter(F.col("__tb").isin(buckets))
            .join(F.broadcast(qterms), "term")
        )
        if self.partitioned:
            post = post.drop(_BATCH_COL)
        # deletion tombstones (round 13): the bounded tombstone set
        # broadcast-anti-joins the pruned postings (a deleted doc
        # never serves, and df auto-adjusts because df derives from
        # the filtered postings), and its exact (count, sum dl)
        # subtracts from the stats fold below — integer arithmetic,
        # so N/avgdl are bit-identical to a store that never held the
        # deleted docs. Physical purge happens at full versioned
        # compaction; until then this filter IS the delete.
        tombs = self.wh.read(tomb_t) if self.wh.exists(tomb_t) else None
        if tombs is not None:
            from .tombstones import anti_join_tombstones

            # pass the already-read frame: one parquet resolution per
            # serve instead of two (r17, §1.2; plan identical)
            post = anti_join_tombstones(
                post, self.wh, tomb_t, self.id_col, tombs=tombs
            )
        # <= #batches rows; integer sums are exact, so this is
        # bit-identical to the full doclens aggregate it replaces
        base = self.wh.read(stats_t).select(
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("sum_dl").cast("bigint").alias("sum_dl"),
        )
        if tombs is not None:
            base = base.unionByName(
                tombs.agg(
                    (-F.count(F.lit(1))).cast("bigint").alias("n_docs"),
                    (-F.coalesce(F.sum("dl"), F.lit(0)))
                    .cast("bigint")
                    .alias("sum_dl"),
                )
            )
        # N can legitimately reach 0 on a live store: delete()
        # tombstoning EVERY doc leaves postings files on disk (so the
        # day-zero fallback above does not fire) with all rows
        # filtered — avgdl goes NULL instead of dividing by zero (no
        # posting survives to consume it; the hypothesis pin in
        # tests/test_deletes.py found this corner under ANSI)
        stats = base.agg(
            F.sum("n_docs").alias("__n"),
            (
                F.sum("sum_dl").cast("double")
                / F.nullif(F.sum("n_docs").cast("double"), F.lit(0.0))
            ).alias("__avgdl"),
        )
        dfreq = post.groupBy("term").agg(
            F.count(F.lit(1)).alias("__df")
        )
        if max_df_frac is not None:
            dfreq = (
                dfreq.crossJoin(F.broadcast(stats.select("__n")))
                .filter(
                    F.col("__df").cast("double")
                    <= F.lit(float(max_df_frac))
                    * F.col("__n").cast("double")
                )
                .select("term", "__df")
            )
        matched = post.join(F.broadcast(dfreq), "term").select(
            F.col(self.id_col),
            "term",
            F.col("tf").alias("__tf"),
            F.col("dl").alias("__dl"),
            "__df",
        )
        scored = _score_postings(
            matched, stats, q, self.id_col, self.k1, self.b
        )
        return _rank_topk(scored, self.id_col, topk)


# --- hybrid retrieval (reciprocal-rank fusion) ------------------------------

def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
    k: int = 10,
    k_rrf: int = 60,
    rank_a_col: str = "rank_a",
    rank_b_col: str = "rank_b",
    score_round: int | None = 9,
    keep_a: Sequence[str] = (),
    keep_b: Sequence[str] = (),
    weight_a: float = 1.0,
    weight_b: float = 1.0,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of
    two per-query rank lists: rrf(d) = sum over legs of
    1 / (k_rrf + rank_leg(d)), missing legs contributing 0. Inputs
    are (query_id, <id_col>, <rank col>) frames — e.g. a Bm25Index
    leg and an IvfIndex leg; output is the fused
    (query_id, rank, <id_col>, rank_a, rank_b, rrf_score) top-k.

    Why this shape scales: fusion is PURE INTEGER RANK ARITHMETIC
    over the two already-k-bounded leg outputs — a full-outer join of
    two <= |queries| x leg_k frames, so the whole operator's input is
    bounded by construction no matter the corpus size; the corpus is
    touched only inside the legs, each of which has its own scale
    story (partition-pruned postings / cell-pruned vectors).

    Cross-engine determinism: each contribution 1/(k_rrf + r) is one
    IEEE double division of integer-valued operands, the two-term sum
    is a FIXED-ORDER expression (leg A + leg B, never a fold), and
    ranking orders by the ROUNDED score with an id tie-break — the
    bm25 rounded-rank convention.

    keep_a/keep_b: extra leg columns carried through the fusion join
    (NULL where the leg missed the doc) — carry leg evidence THROUGH
    the join instead of re-joining the leg afterwards, which would
    duplicate the whole leg subtree (its scan, its shuffle, its probe
    broadcast) in the physical plan.

    weight_a/weight_b: the weighted-RRF variant (per-leg contribution
    w / (k_rrf + rank)) — the standard production knob when one leg
    is known stronger for a workload. Each weighted contribution is
    still ONE IEEE division (the weight is the numerator), so the
    determinism contract is unchanged and the 1.0/1.0 default is
    bit-identical to published RRF."""
    a = ranked_a.select(
        "query_id", id_col, F.col("rank").alias(rank_a_col), *keep_a
    )
    b = ranked_b.select(
        "query_id", id_col, F.col("rank").alias(rank_b_col), *keep_b
    )
    both = a.join(b, ["query_id", id_col], "full_outer")
    contrib_a = F.when(
        F.col(rank_a_col).isNotNull(),
        F.lit(float(weight_a))
        / (F.lit(float(k_rrf)) + F.col(rank_a_col).cast("double")),
    ).otherwise(F.lit(0.0))
    contrib_b = F.when(
        F.col(rank_b_col).isNotNull(),
        F.lit(float(weight_b))
        / (F.lit(float(k_rrf)) + F.col(rank_b_col).cast("double")),
    ).otherwise(F.lit(0.0))
    score = contrib_a + contrib_b
    if score_round is not None:
        score = F.round(score, score_round)
    from pyspark.sql.window import Window

    # r17 (§1.2): one select computes rrf_score AND the rank window
    # (the window orders by the same deterministic score expression —
    # Catalyst evaluates it once in the projection it inserts below
    # the Window), replacing the withColumn/withColumn/filter/select
    # chain: 4 analyzer passes over the two-leg fused tree become 2.
    # WindowGroupLimit still kicks in above this shape (verified on
    # the executed plan — the rank filter reaches the Window through
    # the Project), so the per-partition top-k state bound is
    # unchanged, and the rounded-score ordering is byte-identical.
    w = Window.partitionBy("query_id").orderBy(
        F.desc(score), F.asc(id_col)
    )
    return both.select(
        "query_id",
        F.row_number().over(w).alias("rank"),
        id_col, rank_a_col, rank_b_col,
        *keep_a, *keep_b,
        score.alias("rrf_score"),
    ).filter(F.col("rank") <= k)


def hybrid_topk(
    term_queries: Mapping[str, Sequence[str]] | DataFrame,
    vec_queries: DataFrame,
    bm25_index: "Bm25Index",
    ivf_index,
    k: int = 10,
    k_rrf: int = 60,
    leg_k: int = 50,
    nprobe: int | None = None,
    max_df_frac: float | None = None,
    sim_round: int | None = 6,
    weight_bm25: float = 1.0,
    weight_vec: float = 1.0,
    keep_bm25: Sequence[str] = (),
    keep_vec: Sequence[str] = (),
) -> DataFrame:
    """Hybrid serving over the two persisted indexes (VERDICT r10
    item 3): the Bm25Index keyword leg and the IvfIndex vector leg
    each produce their partition-pruned top-`leg_k`, and
    reciprocal-rank fusion re-ranks the union — the standard
    keyword+vector serving pattern, composing the two index stores
    into one query path. `vec_queries` must carry (query_id,
    query_vec) with query_id values matching the term workload's keys
    (one hybrid query = one id with both a term list and a vector).

    Output: (query_id, rank, <bm25 id_col>, bm25_rank, vec_rank,
    rrf_score) top-k per query. The two leg ranks let a caller see
    which side surfaced each hit — including fusion-only hits that
    neither leg ranked top-k alone (pinned in tests/test_retrieval.py).

    nprobe=None (round 12) lets the vector leg serve at the IvfIndex's
    MEASURED default (calibrate_nprobe's stored value, falling back to
    the historical 2 on uncalibrated stores) — an explicit int still
    wins, so pre-round-12 callers are unchanged.

    The vector leg is DUCK-TYPED (round 13): any index exposing
    `.topk(queries, k=, nprobe=, sim_round=)` and `.id_col` serves —
    IvfIndex (float/int8 store, exact cosine inside probed cells) or
    PqIndex (compressed codes, ADC ranking; its nprobe=None likewise
    serves the calibrated default). RRF consumes leg RANKS only, so
    the legs' different score columns (cos_sim vs adc_sim) fuse
    unchanged — swapping the vector store for its 20x-compressed
    rung is a one-argument change to the serving path (pinned in
    tests/test_pq.py).

    keep_bm25/keep_vec (round 15): leg evidence columns carried
    THROUGH the fusion join (rrf_fuse's keep_a/keep_b — NULL where a
    leg missed the doc), so a caller can surface per-leg scores
    (bm25's `score`/`n_terms_matched`, the vector leg's
    `cos_sim`/`adc_sim`) without re-joining a leg subtree after
    fusion.

    Since round 15 this operator IS the registered `bm25_topk_docs`
    row's serving path — both stores built in-row, the DuckDB oracle
    replaying the BM25 scoring, the IVF probe cascade AND the RRF
    arithmetic — so the persisted-persisted composition runs under
    the driver hash, not only the pytest pins above."""
    bm_leg = bm25_index.topk(term_queries, topk=leg_k, max_df_frac=max_df_frac)
    vec_leg = ivf_index.topk(
        vec_queries, k=leg_k, nprobe=nprobe, sim_round=sim_round
    )
    id_col = bm25_index.id_col
    vec_leg = vec_leg.withColumnRenamed(ivf_index.id_col, id_col)
    return rrf_fuse(
        bm_leg,
        vec_leg,
        id_col=id_col,
        k=k,
        k_rrf=k_rrf,
        rank_a_col="bm25_rank",
        rank_b_col="vec_rank",
        weight_a=weight_bm25,
        weight_b=weight_vec,
        keep_a=keep_bm25,
        keep_b=keep_vec,
    )
