"""Incremental NEAR-dedup against a persisted signature store — the
daily-ingest shape every growing training corpus needs (SURVEY §7.6):
"drop new documents that near-duplicate the existing corpus" WITHOUT
re-running LSH over corpus ∪ batch each day.

The store persists, via sources/warehouse.py and the shared
`VersionedStore` lifecycle (operators/store.py; unversioned here):

- `<name>_buckets`  : (id, band_id, band_hash) — minhash_band_buckets
  output, the candidate index. 8 bytes/band/doc regardless of text
  size.
- `<name>_shingles` : the verify side, so a candidate hit never needs
  the corpus text again. Two layouts, chosen by `store=`:
  - 'raw' (default): (id, sh array<string>) — self-contained and
    byte-exact, but ~k x the corpus text bytes at rest and through
    every verify fetch;
  - 'hashed': (id, sh array<bigint>) — xxhash64 per shingle, a fixed
    8 bytes/shingle vs the string's k x avg-token bytes (~2x smaller
    at k=3, ~6x at the k=8 prose-dedup setting) through every verify
    fetch and shuffle. (At-rest parquet ratios vary with dictionary
    encoding; the wire bytes are the cost that scales.) Jaccard is a
    SET measure (array_intersect / array_union), so verifying on
    hashed sets gives identical verdicts up to 64-bit collisions: a
    false positive needs two distinct shingles of the SAME candidate
    pair to collide — P < shingles_per_doc^2 / 2^64 per pair,
    vanishing at any real document size. The right choice at 100 TB.
  The layout is frozen in `<name>_meta` like every other parameter:
  a 'hashed' reader on a 'raw' store (or vice versa) fails loudly.

Daily cycle:

    idx = NearDupIndex(wh)           # same LSH params as near_dedup
    idx.bootstrap(corpus)            # once
    kept = idx.filter_new(batch)     # batch minus corpus/batch near-dups
    idx.absorb(kept)                 # accepted docs join the index

Scale shape: the batch bucket frame is the small side and is
BROADCAST into the corpus bucket scan — the corpus index never
shuffles (plan-asserted in tests/test_dedup_incremental.py); shingle
fetch for verification is pruned to candidate ids by a semi-join
before the (expensive) exact-Jaccard; norms of growth are O(batch)
per day, never O(corpus).

Semantics mirror `near_dedup(corpus ∪ batch)` restricted to batch
verdicts, under the natural ingest invariant that corpus ids precede
batch ids: a batch cluster containing ANY corpus near-duplicate is
dropped entirely (in the union run the corpus member is the
min-id survivor), and corpus-clean batch clusters keep their min-id
member (equivalence pinned by test, including the transitive
batch-doc -> batch-doc -> corpus-doc chain case).

Cross-day caveat — the equivalence above is PER BATCH, not global
over a multi-day history: with the default cycle (absorb only the
SURVIVORS of each batch) a day-2 document that near-duplicates a
day-1 document which was itself dropped — but matches nothing that
was indexed — survives, where a single near_dedup over all days
would have linked it transitively through the dropped day-1 copy.
Deployments that want the tighter cross-day closure can absorb the
FULL batch instead of the survivors (`idx.absorb(batch)` after
`kept = idx.filter_new(batch)`): absorb() indexes whatever it is
given, so later batches then match dropped documents' signatures
too, at the cost of index rows for documents that are not in the
output corpus (check()'s `dup_id` may then name a dropped doc — fine
for verdicts, mind it for attribution joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.warehouse import Warehouse
from .dedup import (
    jaccard,
    minhash_band_buckets,
    minhash_band_params,
    minhash_near_duplicates,
    shingles,
)
from .graph import dedup_components
from .store import VersionedStore


#: Partition column carrying the epoch/batch stamp in partitioned mode.
BATCH_COL = "__batch"


class NearDupIndex:
    """Persisted MinHash+LSH index for incremental near-dedup. All LSH
    parameters are frozen at construction: buckets appended across
    days must come from the same hash family or candidates silently
    vanish (the store is only valid under one parameterization).

    auto_band_threshold: when set, (num_hashes, bands) are DERIVED
    from this target Jaccard threshold via minhash_band_params (the
    batch ladder's near_dedup(auto_band=True) twin) instead of the
    hand-picked 32/8 default — a non-default threshold index gets the
    banding S-curve centered where its verify threshold actually is,
    so candidate recall does not silently degrade. The derived family
    freezes into `<name>_meta` exactly like explicit parameters (a
    reader with a different threshold — hence a different derived
    family — fails the meta guard loudly), and check()/filter_new()
    default their `threshold` to it so the index's candidate curve
    and its verify gate stay in lockstep.

    partitioned=True lays both index tables out hive-partitioned by a
    `__batch` stamp (a caller-supplied epoch id): every absorb is then
    a DYNAMIC PARTITION OVERWRITE of that epoch's partition instead of
    a blind append, and check/filter_new accept `exclude_batch=` to
    read the index AS OF before an epoch. Together these make a
    replayed epoch (Structured Streaming re-offers a failed batch id)
    converge to exactly the first attempt's state from ANY partial
    write — the streaming sink's exactly-once story
    (streaming/upsert.py::near_dedup_sink). The default unpartitioned
    layout keeps the simple append shape for the daily batch cycle."""

    def __init__(
        self,
        wh: Warehouse,
        name: str = "neardup",
        text_col: str = "text",
        id_col: str = "doc_id",
        k: int = 3,
        num_hashes: int | None = None,
        bands: int | None = None,
        portable: bool = False,
        store: str = "raw",
        partitioned: bool = False,
        auto_band_threshold: float | None = None,
        broadcast_max_rows: int = 4_000_000,
    ):
        if store not in ("raw", "hashed"):
            raise ValueError(f"store must be raw|hashed, got {store!r}")
        if auto_band_threshold is not None:
            # a hand-picked family alongside a derivation target is a
            # contradiction — refuse instead of silently discarding the
            # caller's explicit parameters (ADVICE r8)
            if num_hashes is not None or bands is not None:
                raise ValueError(
                    "auto_band_threshold derives (num_hashes, bands); "
                    "pass one or the other, not both"
                )
            num_hashes, bands, _ = minhash_band_params(auto_band_threshold)
        else:
            num_hashes = 32 if num_hashes is None else num_hashes
            bands = 8 if bands is None else bands
        self.auto_band_threshold = auto_band_threshold
        self.wh = wh
        self.name = name
        self.text_col = text_col
        self.id_col = id_col
        self.k = k
        self.num_hashes = num_hashes
        self.bands = bands
        self.portable = portable
        self.shingle_store = store
        self.partitioned = partitioned
        self.broadcast_max_rows = broadcast_max_rows
        self.store = VersionedStore(
            wh, "NearDupIndex", name, ("buckets", "shingles"), False
        )

    @property
    def buckets_table(self) -> str:
        return self.store.tables()[0]

    @property
    def shingles_table(self) -> str:
        return self.store.tables()[1]

    @property
    def meta_table(self) -> str:
        return self.store.meta_table

    @property
    def tombstones_table(self) -> str:
        return self.store.tombstones()

    def _params(self) -> dict:
        return {
            "k": self.k,
            "num_hashes": self.num_hashes,
            "bands": self.bands,
            "portable": self.portable,
            "store": self.shingle_store,
            "partitioned": self.partitioned,
        }

    def _write_meta(self, compacted_through: int | None = None) -> None:
        # compacted_through is the replay watermark (operators/epochs.py)
        # — persisted BEFORE compact()'s data swap; bootstrap() writes
        # the default None, resetting the lineage
        self.wh.overwrite_rows(
            self.meta_table,
            [tuple(self._params().values()) + (compacted_through,)],
            "k int, num_hashes int, bands int, portable boolean, "
            "store string, partitioned boolean, "
            "compacted_through long",
        )

    def _validate_params(self) -> None:
        """Candidates from mismatched hash families silently vanish, so
        a store bootstrapped under different LSH parameters is a
        correctness bug, not a tuning choice — fail loudly."""
        if getattr(self, "_params_ok", False):
            return
        stored = self.store.read_meta()
        if stored is not None:
            self.store.check_identity(
                stored, self._params(),
                "candidates from mismatched hash families silently "
                "vanish; rebuild the index or match its parameters",
            )
        self._params_ok = True

    def _buckets(self, docs: DataFrame) -> DataFrame:
        return minhash_band_buckets(
            docs,
            self.text_col,
            self.id_col,
            self.k,
            self.num_hashes,
            self.bands,
            portable=self.portable,
        )

    def _shingles(self, docs: DataFrame) -> DataFrame:
        sh = shingles(self.text_col, self.k)
        if self.shingle_store == "hashed":
            sh = F.transform(sh, lambda s: F.xxhash64(s))
        return docs.select(F.col(self.id_col), sh.alias("sh"))

    def _stamp(self, df: DataFrame, batch) -> DataFrame:
        return df.withColumn(BATCH_COL, F.lit(str(batch)))

    def _read_index_or_none(self, table: str, exclude_batch=None):
        """_read_index, or None when the table legitimately has no
        data — the day-zero state: bootstrapping an EMPTY corpus (or
        a stream's first epoch) writes no parquet files, and schema
        inference over a file-less directory raises instead of
        yielding zero rows.

        Day-zero is accepted ONLY when the `<name>_meta` marker proves
        a bootstrap COMPLETED (bootstrap writes meta LAST, after both
        index tables, and writes it even for an empty corpus). Without
        that guard, an index unreadable for an ENVIRONMENTAL reason —
        wrong warehouse root, moved/renamed tables — would be treated
        as an empty corpus and silently admit every near-duplicate of
        everything ever indexed. The catch is also narrowed to the
        two "no data here" error classes; any other AnalysisException
        (corrupt footers, permission failures surfaced as analysis
        errors) re-raises."""
        from pyspark.errors import AnalysisException

        try:
            return self._read_index(table, exclude_batch)
        except AnalysisException as e:
            cond = e.getCondition() if hasattr(e, "getCondition") else None
            if cond not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
                raise
            if not self.wh.exists(self.meta_table):
                raise ValueError(
                    f"NearDupIndex '{self.name}': '{table}' has no "
                    f"readable data and no '{self.meta_table}' bootstrap "
                    "marker — the index was never bootstrapped or the "
                    "warehouse root is wrong; treating this as an empty "
                    "corpus would silently admit every near-duplicate. "
                    "Run bootstrap() (it writes the marker even for an "
                    "empty corpus) or fix the warehouse root."
                ) from e
            return None

    def _read_index(self, table: str, exclude_batch=None) -> DataFrame:
        df = self.wh.read(table)
        if exclude_batch is not None:
            if not self.partitioned:
                raise ValueError(
                    "exclude_batch requires a partitioned index "
                    "(NearDupIndex(partitioned=True))"
                )
            # partition-pruned: __batch is the hive partition column
            df = df.filter(F.col(BATCH_COL) != str(exclude_batch))
        from .tombstones import anti_join_tombstones

        # deletion tombstones (round 13): a deleted corpus doc no
        # longer blocks near-duplicates of itself — the size-gated
        # anti-join applies at this one choke point (check and
        # filter_new both read through it); no-op without tombstones
        df = anti_join_tombstones(
            df, self.wh, self.tombstones_table, self.id_col
        )
        return df.drop(BATCH_COL) if self.partitioned else df

    def bootstrap(self, corpus: DataFrame, batch="bootstrap") -> None:
        """(Re)build the index from the full corpus — run once; the
        daily path is absorb(). In partitioned mode the corpus lands
        under the `batch` stamp (default 'bootstrap')."""
        from ..session import run_concurrently
        from ..sources.warehouse import atomic_overwrite

        b = self._buckets(corpus)
        s = self._shingles(corpus)
        stamp = None
        if self.partitioned:
            b, s = self._stamp(b, batch), self._stamp(s, batch)
            stamp = [BATCH_COL]
        # the two index tables derive independently from `corpus` —
        # overlap their writes (guide §2.6). The meta lands after both
        # and a re-bootstrap drops stale tombstones LAST: the new
        # corpus is the caller's statement of record
        self.store.commit(
            self.store.begin(f"NearDupIndex('{self.name}').bootstrap"),
            lambda: run_concurrently(*[
                lambda t=t, df=df: atomic_overwrite(
                    df, self.wh.path(t), partition_by=stamp
                )
                for t, df in ((self.buckets_table, b), (self.shingles_table, s))
            ]),
            meta=self._write_meta,
        )
        self._params_ok = True

    def absorb(self, accepted: DataFrame, batch=None) -> None:
        """Add accepted batch documents to the index. O(batch).

        `accepted` is typically the LAZY frame returned by
        filter_new(); it is pinned (localCheckpoint) before either
        write so both index tables see the same rows — without it the
        second write would recompute the whole filter_new plan
        against a buckets table the first write already mutated,
        and the index would stay consistent only by the accident of
        append ordering.

        Unpartitioned index: a plain append (pass no `batch`).
        Partitioned index: `batch` is required, and the write is a
        dynamic partition overwrite of that epoch's partition — a
        replayed epoch REPLACES its own rows instead of duplicating
        them (the streaming sink's idempotency contract).

        Compacted stores (round 13, operators/epochs.py): an epoch
        <= the `compacted_through` watermark is a replay of rows
        already merged into the `__compacted__` partition — absorb
        no-ops instead of duplicating them (near_dedup_sink skips
        the WHOLE epoch earlier, before filter_new; this skip covers
        direct callers). Maintenance-stamp batch ids are refused:
        absorb(batch="bootstrap") would dynamic-overwrite the
        bootstrap partition itself."""
        from .epochs import guard_sentinel_batch, replay_skippable

        self._validate_params()
        if batch is not None:
            guard_sentinel_batch(batch)
            if self.partitioned and replay_skippable(
                batch, self.store.watermark()
            ):
                return
        from .tombstones import anti_join_tombstones

        # a deleted id stays deleted until a purging compaction (the
        # family contract): re-indexing it would resurrect a
        # taken-down document's signatures
        accepted = anti_join_tombstones(
            accepted, self.wh, self.tombstones_table, self.id_col
        )
        accepted = accepted.localCheckpoint()
        b = self._buckets(accepted)
        s = self._shingles(accepted)
        if self.partitioned:
            if batch is None:
                raise ValueError(
                    "a partitioned index requires a batch id for absorb()"
                )
            from ..session import run_concurrently

            # independent epoch writes over the checkpointed batch —
            # overlap them (guide §2.6)
            run_concurrently(
                lambda: self.wh.append_partitioned(
                    self.buckets_table, self._stamp(b, batch), BATCH_COL
                ),
                lambda: self.wh.append_partitioned(
                    self.shingles_table, self._stamp(s, batch), BATCH_COL
                ),
            )
        else:
            if batch is not None:
                raise ValueError(
                    "batch stamps need a partitioned index "
                    "(NearDupIndex(partitioned=True))"
                )
            from ..session import run_concurrently

            run_concurrently(
                lambda: self.wh.append(self.buckets_table, b),
                lambda: self.wh.append(self.shingles_table, s),
            )

    def delete(self, ids: DataFrame) -> dict:
        """Tombstone indexed documents (round 13 — deletion
        propagation): a taken-down corpus doc must stop blocking
        near-duplicates of itself, and its signatures must stop
        serving. `ids` holds `self.id_col`; both index tables
        broadcast-anti-join the bounded tombstone set at the
        `_read_index` choke point, and absorb() refuses to re-index a
        tombstoned id. Idempotent; unknown ids tombstone nothing.

        Physical purge happens at a FULL compact() — sound here
        WITHOUT a version flip (unlike Bm25Index, nothing derived
        subtracts tombstones: filtering rows that are already purged
        is a no-op, so any crash ordering converges on re-run) — or
        at re-bootstrap, which resets the lineage.

        Returns {"deleted_ids": n} — ids actually tombstoned by THIS
        call."""
        self._validate_params()
        if not self.wh.exists(self.buckets_table):
            # day-zero store: nothing indexed, nothing to tombstone
            return {"deleted_ids": 0}
        got = self.store.delete(
            self.wh.read(self.buckets_table).select(self.id_col), ids,
            self.id_col, self.tombstones_table,
        )
        return {"deleted_ids": got["n"]}

    def compact(
        self,
        files_per_partition: int = 1,
        through: int | None = None,
        live: bool = False,
    ) -> dict:
        """Epoch-partition maintenance (round 13, operators/epochs.py
        has the full semantics): collapse both index tables' `__batch`
        partitions into one `__compacted__` stamp — a pure LAYOUT
        rewrite (signatures and shingles are rewritten byte-identical,
        nothing re-hashed), recording the `compacted_through`
        watermark. After it, absorb() no-ops replays of merged epochs
        and check/filter_new REFUSE exclude_batch on them (the as-of
        view is gone — see check()); epochs above `through` keep
        their own partitions and stay fully replayable, so a LIVE
        stream compacts with `through = latest_epoch - 1` and only a
        quiesced stream uses the merge-everything default.

        The index tables have no second pruning level (the batch
        stamp is the only partition column), so `files_per_partition`
        is the knob that sizes the compacted partition's files — at
        corpus scale pass ~ rows x bands / target_rows_per_file
        rather than the single-file default.

        The watermark persists to the meta BEFORE the data swaps
        (epochs.py crash ordering: either crash side serves
        correctly and re-running compact() converges).

        Returns {"stamps_merged", "compacted_through",
        "files_before", "files_after"}."""
        from ..sources.warehouse import atomic_overwrite
        from .epochs import (
            collapse_epochs,
            hive_partition_values,
            parquet_file_count,
            plan_merge,
        )

        self._validate_params()
        if not self.partitioned:
            raise ValueError(
                f"NearDupIndex '{self.name}': compact() is "
                "epoch-partition maintenance — only a partitioned=True "
                "store accumulates __batch partitions"
            )
        if not self.wh.exists(self.meta_table):
            raise ValueError(
                f"NearDupIndex '{self.name}': no meta marker — run "
                "bootstrap()"
            )
        frames = {}
        stamps: set = set()
        for table in (self.buckets_table, self.shingles_table):
            if not self.wh.exists(table):
                continue  # day-zero bootstrap wrote no files
            # cast up front: partition-type inference reads an
            # all-numeric-epoch store's __batch as int, and the
            # restamp-to-__compacted__ union must not mix types
            frames[table] = self.wh.read(table).withColumn(
                BATCH_COL, F.col(BATCH_COL).cast("string")
            )
            stamps |= hive_partition_values(self.wh.path(table), BATCH_COL)
        merged, wm = plan_merge(stamps, through, live, self.store.watermark())
        # physical deletion: a FULL merge applies the tombstones —
        # sound here WITHOUT a version flip because no derived
        # statistic subtracts them (see delete()): after the purged
        # rewrite, a still-live tombstone filters rows that no longer
        # exist (a no-op), so any crash ordering converges by
        # re-running compact(). The tombstone table itself is removed
        # LAST. A bounded merge leaves the tombstones live.
        purge = set(merged) == stamps and self.wh.exists(
            self.tombstones_table
        )
        files_before = sum(
            parquet_file_count(self.wh.path(t)) for t in frames
        )

        def _collapsed(df):
            out = collapse_epochs(
                df.filter(F.col(BATCH_COL).isin(merged)),
                BATCH_COL,
                [BATCH_COL],
                self.id_col,
                files_per_partition,
            ).unionByName(df.filter(~F.col(BATCH_COL).isin(merged)))
            if not purge:
                return out
            # size-gated, like serving: a mass takedown followed by a
            # full compaction degrades to a shuffle anti-join
            from .tombstones import anti_join_tombstones

            return anti_join_tombstones(
                out, self.wh, self.tombstones_table, self.id_col
            )

        def _write():
            for table, df in frames.items():
                atomic_overwrite(
                    _collapsed(df), self.wh.path(table),
                    partition_by=[BATCH_COL],
                )

        # watermark FIRST (epochs.py crash ordering)
        self.store.commit(
            self.store.begin(f"NearDupIndex('{self.name}').compact"),
            _write,
            meta=lambda: self._write_meta(compacted_through=wm),
            carry_tombstones=not purge,
            meta_first=True,
        )
        return {
            "stamps_merged": len(merged),
            "compacted_through": wm,
            "purged": purge,
            "files_before": files_before,
            "files_after": sum(
                parquet_file_count(self.wh.path(t)) for t in frames
            ),
        }

    def _resolve_threshold(self, threshold: float | None) -> float:
        """None -> the auto_band_threshold the family was tuned for,
        else the 0.6 legacy default — so a tuned index verifies at the
        same point its candidate S-curve was centered on."""
        if threshold is not None:
            return threshold
        if self.auto_band_threshold is not None:
            return self.auto_band_threshold
        return 0.6

    def check(
        self, new_docs: DataFrame, threshold: float | None = None,
        exclude_batch=None,
    ) -> DataFrame:
        """(new_id, dup_id, jaccard): every near-duplication of a new
        document by an indexed corpus document. The batch bucket frame
        broadcasts into the corpus index (the corpus never shuffles)
        when a measured count proves it fits (exactly n_docs * bands
        rows <= broadcast_max_rows; over-cap batches degrade to a
        band-keyed shuffle join instead of aborting); corpus shingles
        are fetched only for candidate ids.
        threshold=None verifies at the tuned/default point (see
        _resolve_threshold).

        exclude_batch (partitioned index only): ignore rows absorbed
        under this stamp — reads the index AS OF before that epoch, so
        a replayed epoch sees the same index state as its first
        attempt regardless of partial writes. An epoch MERGED by
        compaction fails loudly here: its rows live inside the
        `__compacted__` partition where the stamp filter cannot reach
        them, so the as-of view no longer exists — a silent pass
        would let a replayed batch reject its own documents as
        duplicates of themselves. Replays of merged epochs must be
        skipped whole (near_dedup_sink does) — their first attempt
        is fully committed."""
        threshold = self._resolve_threshold(threshold)
        self._validate_params()
        if exclude_batch is not None:
            from .epochs import replay_skippable

            if replay_skippable(exclude_batch, self.store.watermark()):
                raise ValueError(
                    f"NearDupIndex '{self.name}': epoch "
                    f"{exclude_batch!r} was merged by compaction "
                    "(compacted_through >= it) — the index state AS OF "
                    "before it is no longer reconstructible. Skip the "
                    "replayed epoch (its first attempt committed) or "
                    "re-bootstrap; compact a live stream only with "
                    "through=latest_epoch-1"
                )
        corpus_b = self._read_index_or_none(self.buckets_table, exclude_batch)
        corpus_sh_all = self._read_index_or_none(
            self.shingles_table, exclude_batch
        )
        if (corpus_b is None) != (corpus_sh_all is None):
            # exactly ONE table readable = a half-written or corrupted
            # index (e.g. bootstrap crashed between the two writes):
            # treating it as day-zero would silently admit every
            # near-duplicate of the indexed corpus — fail loudly
            raise ValueError(
                f"NearDupIndex '{self.name}' is inconsistent: one of "
                "(buckets, shingles) is readable and the other is not "
                "— re-run bootstrap() to rebuild the pair"
            )
        if corpus_b is None:
            # day-zero index (bootstrap of an EMPTY corpus writes no
            # parquet files — a stream can legitimately start from
            # nothing): no corpus, no duplicates; the empty result
            # frame takes its id type from the batch itself
            return (
                new_docs.select(F.col(self.id_col).alias("new_id"))
                .withColumn("dup_id", F.col("new_id"))
                .withColumn("jaccard", F.lit(0.0).cast("double"))
                .limit(0)
            )
        # the batch bucket frame is EXACTLY n_docs * bands rows, so
        # the broadcast gate is one cheap count of the raw batch — no
        # materialization barrier (cf. the persist+count the report
        # gate needs). Hinted (the normal daily shape) the corpus
        # never shuffles; an over-cap batch degrades to a shuffle
        # join on (band_id, band_hash) instead of a forced multi-GB
        # broadcast that cannot fall back.
        batch_b = self._buckets(new_docs).withColumnsRenamed(
            {self.id_col: "new_id"}
        )
        if new_docs.count() * self.bands <= self.broadcast_max_rows:
            batch_b = F.broadcast(batch_b)
        cand = (
            corpus_b.join(
                batch_b,
                ["band_id", "band_hash"],
            )
            .select(F.col(self.id_col).alias("dup_id"), "new_id")
            .distinct()
        )
        corpus_sh = corpus_sh_all.join(
            cand.select(F.col("dup_id").alias(self.id_col)).distinct(),
            self.id_col,
            "left_semi",
        )
        return (
            cand.join(
                self._shingles(new_docs).withColumnsRenamed(
                    {self.id_col: "new_id", "sh": "sh_new"}
                ),
                "new_id",
            )
            .join(
                corpus_sh.withColumnsRenamed(
                    {self.id_col: "dup_id", "sh": "sh_dup"}
                ),
                "dup_id",
            )
            .select(
                "new_id",
                "dup_id",
                jaccard(F.col("sh_new"), F.col("sh_dup")).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )

    def filter_new(
        self, new_docs: DataFrame, threshold: float | None = None,
        exclude_batch=None, corpus_pairs: DataFrame | None = None,
    ) -> DataFrame:
        """Rows of `new_docs` that near-duplicate neither the indexed
        corpus nor a surviving earlier batch document — the incremental
        twin of `near_dedup(corpus ∪ batch).filter(is_survivor)`
        restricted to batch rows (corpus ids < batch ids). Batch
        clusters are computed with the same LSH parameters; a cluster
        with any corpus-duplicated member is dropped whole (its union
        survivor would be the corpus copy), covering the transitive
        chain batch_a ~ batch_b ~ corpus case.

        `corpus_pairs`: a precomputed `check(new_docs, ...)` result
        for the SAME batch/threshold/exclusion — callers that also
        report the duplication pairs (the daily job's audit output)
        pass it here so the candidate/verify path, its broadcast-gate
        count and the index reads run once, not twice."""
        threshold = self._resolve_threshold(threshold)
        if corpus_pairs is None:
            corpus_pairs = self.check(
                new_docs, threshold, exclude_batch=exclude_batch
            )
        corpus_dups = (
            corpus_pairs
            .select(F.col("new_id").alias(self.id_col))
            .distinct()
        )
        batch_pairs = minhash_near_duplicates(
            new_docs,
            self.text_col,
            self.id_col,
            self.k,
            self.num_hashes,
            self.bands,
            threshold,
            portable=self.portable,
        )
        # within-batch clusters are O(batch duplicates) by contract —
        # the measured driver shortcut skips the per-round job
        # overhead when the pair graph fits, degrades to distributed
        # label-prop when it doesn't (graph.py docstring)
        comp = dedup_components(
            batch_pairs.select("id_a", "id_b"),
            all_ids=new_docs.select(self.id_col),
            id_col=self.id_col,
            small_graph_max_edges=200_000,
        )
        dirty_clusters = (
            comp.join(corpus_dups, self.id_col, "left_semi")
            .select("survivor_id")
            .distinct()
        )
        keep = (
            comp.filter(F.col("is_survivor"))
            .join(dirty_clusters, "survivor_id", "left_anti")
            .select(self.id_col)
        )
        return new_docs.join(keep, self.id_col, "left_semi")
