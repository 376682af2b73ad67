"""URL/domain operators for web-corpus curation — the provenance
rung of a training-data pipeline (FineWeb/RefinedWeb-style): domain
blocklists, URL-identity dedup, per-domain caps. Everything is
`parse_url` + regexp expressions (JVM, whole-stage codegen); the only
corpus-scale shuffles are keyed on short domain/URL/id strings, never
the text.

Registered-domain caveat: the default extraction is the last-two-label
heuristic ('news.example.co.uk' -> 'co.uk' is WRONG for public-suffix
domains). It is deliberate — correct suffix handling needs the Public
Suffix List, a data file, not an algorithm. Production should pass
`suffixes=` with the PSL's multi-label suffixes; the tests pin the
built-in handful (co.uk, com.au, co.jp, ...) so the mechanism is real
and the default honest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: small built-in multi-label public suffixes; production passes the
#: full PSL-derived set via `suffixes=`.
MULTI_LABEL_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "com.cn", "com.mx", "co.in", "co.kr", "co.za",
)

#: tracking query parameters stripped by normalize_url. Deliberately
#: restricted to parameters that NEVER select a different resource
#: (utm_* are analytics annotations; gclid/fbclid are click ids).
#: 'ref' is NOT here: GitHub-style '?ref=branch' pages are distinct
#: resources — pass AGGRESSIVE_TRACKING_PARAMS to opt in when the
#: corpus is known to use 'ref' only as a referrer tag.
TRACKING_PARAMS = ("utm_source", "utm_medium", "utm_campaign", "utm_term",
                   "utm_content", "gclid", "fbclid")

#: opt-in superset: TRACKING_PARAMS plus ambiguous referrer-style
#: parameters that on SOME sites select distinct resources.
AGGRESSIVE_TRACKING_PARAMS = TRACKING_PARAMS + ("ref",)


def url_host(url: Column | str) -> Column:
    """Lowercased host with any leading 'www.' stripped (no port —
    parse_url's HOST part excludes it; normalize_url keeps the port
    via the AUTHORITY part)."""
    c = F.col(url) if isinstance(url, str) else url
    return F.regexp_replace(
        F.lower(F.try_parse_url(c, F.lit("HOST"))), r"^www\.", ""
    )


def _host_with_port(c: Column) -> Column:
    """Lowercased host:port identity from the AUTHORITY part —
    userinfo stripped, leading 'www.' stripped, the two default ports
    (:80, :443) dropped so 'host' and 'host:80' collapse while
    'host:8080' stays a distinct origin."""
    auth = F.lower(F.try_parse_url(c, F.lit("AUTHORITY")))
    auth = F.regexp_replace(auth, r"^[^@/]*@", "")
    auth = F.regexp_replace(auth, r"^www\.", "")
    return F.regexp_replace(auth, r":(80|443)$", "")


def registered_domain(
    url: Column | str, suffixes: tuple[str, ...] = MULTI_LABEL_SUFFIXES
) -> Column:
    """eTLD+1: the last two host labels, or three when the last two
    form a known multi-label suffix (see module docstring re the PSL).

    Fallback chain for hosts with no two-label extraction: a
    single-label host (localhost, intranet names) IS its own domain;
    a host-less/malformed URL falls back to the raw string (identity
    only with itself) — so cap_per_domain / blocklist grouping never
    lumps all intranet or malformed rows into one ''/null mega-group.

    The host is LET-BOUND (see dedup._let): the expression tree
    references it five times and Spark has no CSE across a when/
    coalesce tree, so an unbound form parses the URL five times per
    row — measured 5x on an 8.4M-row scan."""
    from .dedup import _let

    c = F.col(url) if isinstance(url, str) else url
    return F.coalesce(
        _let(url_host(c), lambda h: _regdom_of_host(h, suffixes)), F.lower(c)
    )


def _regdom_of_host(h: Column, suffixes: tuple[str, ...]) -> Column:
    """registered_domain's core over an already-evaluated host
    attribute (or _let-bound variable): null when no extraction
    applies so callers choose their own fallback."""
    two = F.regexp_extract(h, r"([^.]+\.[^.]+)$", 1)
    three = F.regexp_extract(h, r"([^.]+\.[^.]+\.[^.]+)$", 1)
    is_multi = two.isin(*suffixes)
    # IP hosts have no registered domain concept: pass through whole
    is_ip = h.rlike(r"^\d{1,3}(\.\d{1,3}){3}$")
    base = (
        F.when(is_ip, h)
        .when(is_multi & (three != ""), three)
        .otherwise(two)
    )
    return F.coalesce(F.nullif(base, F.lit("")), F.nullif(h, F.lit("")))


def url_features(
    df: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Adds host, registered domain, path depth, and query-string
    presence — the planning-time columns URL policies filter on
    (per-domain caps, path-depth heuristics) without touching text.
    url_domain derives from the url_host ATTRIBUTE (one parse_url for
    both columns) with registered_domain's raw-string fallback."""
    c = F.col(url_col)
    path = F.coalesce(F.try_parse_url(c, F.lit("PATH")), F.lit(""))
    return (
        df.withColumn("url_host", url_host(c))
        .withColumn(
            "url_domain",
            F.coalesce(
                _regdom_of_host(F.col("url_host"), MULTI_LABEL_SUFFIXES),
                F.lower(c),
            ),
        )
        .withColumn(
            "url_path_depth",
            F.size(F.filter(F.split(path, "/"), lambda p: p != "")),
        )
        .withColumn(
            "url_has_query", F.try_parse_url(c, F.lit("QUERY")).isNotNull()
        )
    )


def normalize_url(
    url: Column | str,
    tracking_params: tuple[str, ...] = TRACKING_PARAMS,
) -> Column:
    """Canonical URL identity for exact URL dedup: the SCHEME IS
    DROPPED DELIBERATELY (http/https fetches of one page collapse),
    host is lowercased with 'www.' stripped, the port is KEPT (an
    ':8080' origin is a different resource; only the default :80/:443
    collapse), fragments drop, `tracking_params` query parameters
    drop, and a trailing slash strips. Two fetches of the same logical
    page under different tracking decorations collapse."""
    c = F.col(url) if isinstance(url, str) else url
    path = F.coalesce(F.try_parse_url(c, F.lit("PATH")), F.lit(""))
    query = F.coalesce(F.try_parse_url(c, F.lit("QUERY")), F.lit(""))
    kept_q = F.array_join(
        F.filter(
            F.split(query, "&"),
            lambda kv: (kv != "")
            & ~F.split(kv, "=")[0].isin(*tracking_params),
        ),
        "&",
    )
    base = F.concat(
        _host_with_port(c), F.regexp_replace(path, r"/$", "")
    )
    norm = F.when(kept_q != "", F.concat(base, F.lit("?"), kept_q)).otherwise(base)
    # a scheme-less/malformed URL has no parseable host -> norm is
    # NULL, and a null-keyed dedup would collapse ALL malformed rows
    # into one survivor; fall back to the raw string (identity only
    # with itself) so malformed rows are never merged
    return F.coalesce(norm, F.lower(c))


def dedup_by_url(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    tracking_params: tuple[str, ...] = TRACKING_PARAMS,
) -> DataFrame:
    """Keep one row (min id) per normalized URL — the cheapest dedup
    rung, upstream of content fingerprints: refetches and tracking
    variants collapse before any text is hashed.

    Shuffle shape: the survivor set comes from a (url, id) PROJECTION
    — min-id aggregation with map-side partial combine, so a URL
    refetched millions of times reduces locally instead of straggling
    one sort partition — and joins back left_semi on the id. The text
    shuffles once (the join-back), keyed on the id, never on the URL.

    Rows with a NULL url have no fetch identity and pass through
    untouched — a null group key would otherwise merge EVERY
    url-less row into one survivor."""
    ids = df.select(
        F.col(id_col), normalize_url(F.col(url_col), tracking_params).alias("__nurl")
    )
    keep = (
        ids.filter(F.col("__nurl").isNotNull())
        .groupBy("__nurl")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
        .unionByName(ids.filter(F.col("__nurl").isNull()).select(id_col))
    )
    return df.join(keep, id_col, "left_semi")


#: deepest label-suffix the blocklist matcher probes: entries up to 6
#: labels ('x.y.spam.blogspot.co.uk') match anywhere in their subtree;
#: deeper entries still match their exact host.
_MAX_SUFFIX_LABELS = 6


def filter_blocklisted_domains(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
    id_col: str = "doc_id",
    suffixes: tuple[str, ...] = MULTI_LABEL_SUFFIXES,
) -> DataFrame:
    """Drop rows whose host, or ANY parent domain of it, appears in
    the blocklist: a block on 'example.com' blocks 'a.b.example.com',
    and a HOST-LEVEL entry finer than eTLD+1 ('spam.blogspot.com',
    the common shape in real lists like UT1) blocks exactly its
    subtree — sibling subdomains of the same registered domain
    survive.

    Public-suffix safety: a blocklist entry that is ITSELF a public
    suffix ('co.uk', 'com.au' — junk entries do occur in real lists
    like UT1) must not wipe every host under that suffix, so suffix
    probe positions equal to a known public suffix (`suffixes`; pass
    the full PSL-derived set in production, same contract as
    registered_domain) are skipped — such an entry still matches a
    host EXACTLY equal to it via the full-host probe, nothing more.

    Shape — fully MAP-SIDE, the corpus never shuffles on any key: the
    host parses ONCE into a projected attribute, the bounded suffix
    set (exact host + last-2..last-{_MAX_SUFFIX_LABELS} labels) comes
    off it as plain columns, and each position left_anti joins the
    same BROADCAST blocklist (domain lists are millions of short
    strings at worst — MBs; the broadcast exchange is reused across
    the chained joins). Partial-IP suffixes never probe (gated), and
    a blocklist entry deeper than {_MAX_SUFFIX_LABELS} labels still
    matches its exact host. For blocklists too big to broadcast,
    build a bloom over the domains (operators/bloom.py) and
    exact-verify the hits — same cascade as decontamination."""
    b = blocklist.select(
        F.regexp_replace(
            F.lower(F.col(domain_col)), r"^www\.", ""
        ).alias("__blocked")
    ).distinct()
    h = F.col("__h")
    is_ip = h.rlike(r"^\d{1,3}(\.\d{1,3}){3}$")
    sfx_cols = {"__sfx_host": h}
    for k in range(2, _MAX_SUFFIX_LABELS + 1):
        pat = r"([^.]+(?:\.[^.]+){%d})$" % (k - 1)
        sfx = F.nullif(F.regexp_extract(h, pat, 1), F.lit(""))
        # a partial-IP suffix ('20.3.4') must never match an entry;
        # full-host matching covers IPs via __sfx_host. A suffix that
        # IS a public suffix never probes either (see docstring).
        sfx_cols[f"__sfx_{k}"] = F.when(~is_ip & ~sfx.isin(*suffixes), sfx)
    out = df.withColumn("__h", url_host(F.col(url_col)))
    for name, expr in sfx_cols.items():
        out = out.withColumn(name, expr)
    for name in sfx_cols:
        out = out.join(
            F.broadcast(b), F.col(name) == F.col("__blocked"), "left_anti"
        )
    return out.drop("__h", *sfx_cols)


class _LocalCheckpointHandle:
    """Duck-typed release handle for a localCheckpoint'ed frame, so
    cap_per_domain's deterministic-release contract (`for f in
    persisted: f.unpersist()` — ADVICE r10) covers the checkpointed
    proxy too: DataFrame.unpersist only consults the CacheManager and
    silently leaves a checkpoint's persisted RDD to the GC-driven
    ContextCleaner. unpersist() here releases that RDD immediately via
    the LogicalRDD the checkpoint plan wraps. AFTER release the frame
    is DEAD — lineage was truncated, so any further action on a plan
    referencing it fails loudly (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
    instead of recomputing; release only after every output derived
    from the cap result has materialized, exactly where the existing
    contract already puts the unpersist calls. Pinned in
    tests/test_web.py (release returns getPersistentRDDs to its
    pre-call size), so a Spark-internal rename breaks the pin, not
    production."""

    def __init__(self, df: DataFrame):
        self.df = df

    def unpersist(self, blocking: bool = False) -> DataFrame:
        self.df._jdf.queryExecution().analyzed().rdd().unpersist(
            bool(blocking)
        )
        return self.df

    @property
    def storageLevel(self):
        """Python StorageLevel of the checkpoint's RDD (NONE once
        released) — so release-contract probes that inspect
        `frame.storageLevel` treat the handle like a DataFrame."""
        from pyspark import StorageLevel

        jlvl = (
            self.df._jdf.queryExecution().analyzed().rdd().getStorageLevel()
        )
        return StorageLevel(
            jlvl.useDisk(),
            jlvl.useMemory(),
            jlvl.useOffHeap(),
            jlvl.deserialized(),
            jlvl.replication(),
        )


def cap_per_domain(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    max_docs: int = 1000,
    salt_buckets: int = 64,
    broadcast_max_rows: int = 4_000_000,
    return_persisted: bool = False,
    over_cap_rows_hint: int | None = None,
    materialize_ids: bool = True,
) -> DataFrame:
    """Keep at most `max_docs` documents per registered domain
    (deterministic: smallest ids win) — the anti-dominance policy of
    web-corpus assembly: without it a handful of mega-domains
    (user-content farms, mirrors) supply an outsized share of the
    corpus.

    Hot-domain isolation, because a single row_number window over the
    domain key puts EVERY document of a mega-domain into one sort
    partition (full text included) and AQE cannot split a window
    partition (it splits skewed join/shuffle-read partitions only):

    1. count docs per domain on an (id, domain) PROJECTION — one
       short-key shuffle with map-side combine, skew-immune;
    2. the OVER-CAP domain list (<= total_docs / max_docs entries —
       short strings, MBs even at web scale) broadcasts;
    3. only over-cap domains' (id, domain) pairs are ranked, salted:
       a local min-id `max_docs` prefix within (domain, salt) bounds
       every sort partition, then a global rank over the
       <= salt_buckets * max_docs survivors per domain, yielding the
       kept-id set (<= over-cap-domains * max_docs rows);
    4. ONE pass over the corpus applies the policy: a row survives if
       its domain is not in the over-cap list OR its id is in the
       kept set. The text never shuffles in the broadcast regime and
       the corpus scans once.

    The broadcast hints are GATED, never forced blind: a hinted
    broadcast does not fall back past autoBroadcastJoinThreshold (the
    multihop_revenue lesson, plans/queries.py), and the kept-id set
    is "bounded by construction" only relative to the over-cap-domain
    count — a FineWeb-shaped corpus (10^10+ docs, cap 1000) plausibly
    has 10^5-10^6 over-cap domains, i.e. 10^8-10^9 kept ids, a
    multi-GB forced broadcast that would abort at exactly the scale
    the operator targets. So the over-cap domain count is MEASURED
    (one count() over the already-persisted bounded aggregate): the
    over-cap list broadcasts when its rows <= `broadcast_max_rows`,
    the kept-id set when over_cap_domains * max_docs fits the same
    budget (the default, 4M rows of ids/short strings, is ~100 MB —
    comfortably inside a 1-2 GB executor broadcast envelope). Past
    either gate the join runs UNHINTED and AQE picks the strategy
    from runtime stats — small relations still broadcast at runtime;
    genuinely huge kept sets degrade to an id-keyed shuffle join, the
    same accepted shape as dedup_by_url's join-back ("the text
    shuffles once, keyed on the id"), instead of an executor OOM.

    Degenerate corner: a tiny max_docs over a huge domain count makes
    the over-cap list approach the full domain list — the gate then
    simply stops hinting. Compose with `deterministic_sample` instead
    when a RANDOM per-domain subsample is wanted rather than the
    min-id prefix.

    EAGER + CACHING (ADVICE r8, documented contract): the hint gate
    runs one count() job at plan-CONSTRUCTION time (the measurement
    is the point — a hint decided without data is the trap this gate
    replaces), and the bounded over-cap aggregate stays persisted for
    the lifetime of the returned plan (it is referenced by three
    downstream joins; Spark's LRU evicts it under memory pressure,
    and `spark.catalog.clearCache()` releases it explicitly). This
    makes the function a batch operator, not a lazily-composable
    fragment — for streams use streaming/curation.py's stateless
    gates instead. Pass `return_persisted=True` to get
    `(result, persisted_frames)` and release the cache
    deterministically after materializing each output —
    `for f in persisted: f.unpersist()` (ADVICE r10: this is the
    reliable handle for batch loops).

    `over_cap_rows_hint` (round 14): a CALLER-ASSERTED upper bound
    on the over-cap domain count that skips the plan-time count()
    probe and decides both hint gates from the bound instead. Use it
    only when the bound is provable without data — a corpus whose
    domain universe is known by construction (the driver fixture: at
    most one registered domain per source), or a re-run over a corpus
    the caller just measured. An asserted bound that is WRONG on the
    high side forces a broadcast the gate exists to prevent — when in
    doubt, keep the measured default (None). The over-cap aggregate
    still persists either way (three downstream joins reference it).
    For back-compat the frames are ALSO exposed on the result as
    `_persisted_frames`, but that attribute lives on THIS DataFrame
    object only: any further transformation (select/filter/withColumn)
    returns a new DataFrame without it, so capture it before wrapping
    the result — or use the tuple return, which has no such footgun.

    `materialize_ids` (r17, VERDICT r16 item 1 — guide §8 step 1 /
    §3.3 plan truncation): the slim (id, domain) proxy is
    localCheckpoint'ed EAGERLY, so (a) the count/rank/policy passes
    read the materialized proxy instead of re-computing `df`'s whole
    upstream chain once per pass — for a caller like url_curation
    whose input is a dedup+blocklist pipeline, that upstream includes
    a URL-normalization aggregate that otherwise executes three
    times — and (b) the final plan embeds the upstream subtree ONCE
    (the text branch) instead of four times, collapsing the eager
    per-transformation Catalyst analysis this operator's joins used
    to pay on every proxy branch (measured: the url_curation row's
    plan-construction wall). Cost: one extra eager job + cluster
    cache of ~tens of bytes/doc (MEMORY_AND_DISK — the §8
    "fingerprints table", kept in cache instead of written out), and
    localCheckpoint truncates lineage, so an executor loss during the
    batch fails the job instead of recomputing (acceptable for a
    batch operator; pass False to keep the fully lineage-backed
    shape). The survivor SET is identical either way — min-id
    prefixes of the same groups."""
    from pyspark.sql.window import Window

    # NULL urls yield a NULL domain, and null keys never match the
    # equi-joins below — coalesce to a sentinel so the url-less group
    # is capped as ONE domain (the window semantics this replaced)
    # instead of bypassing the cap entirely
    dom = F.coalesce(registered_domain(F.col(url_col)), F.lit("\x00<no-url>"))
    ids = df.select(F.col(id_col), dom.alias("__dom"))
    ids_release = None
    if materialize_ids == "persist":
        # fault-tolerant middle ground: execution reuses the cache but
        # the logical plan still embeds the upstream subtree (per-pass
        # Catalyst analysis stays; measured between the two on the
        # url_curation row)
        ids = ids.persist()
        ids.count()
        ids_release = ids
    elif materialize_ids:
        ids = ids.localCheckpoint(eager=True)
        ids_release = _LocalCheckpointHandle(ids)
    # persisted: referenced by the ranking pass, the final policy join
    # AND the hint gate's count() — bounded (<= total_docs / max_docs
    # short strings), LRU-evictable like any persist
    over = (
        ids.groupBy("__dom")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .filter(F.col("__cnt") > max_docs)
        .select("__dom")
        .persist()
    )
    # the hint gate: measured, not assumed (see docstring) — a forced
    # broadcast never falls back, so it must be provably small first.
    # over_cap_rows_hint replaces the measurement with a caller-PROVEN
    # bound (never a guess — the docstring contract).
    n_over = over_cap_rows_hint if over_cap_rows_hint is not None else over.count()
    hint_over = n_over <= broadcast_max_rows
    hint_keep = n_over * max_docs <= broadcast_max_rows

    over_ids = ids.join(
        F.broadcast(over) if hint_over else over, "__dom"
    ).withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets))
    )
    w1 = Window.partitionBy("__dom", "__salt").orderBy(F.asc(id_col))
    pre = over_ids.withColumn("__rn", F.row_number().over(w1)).filter(
        F.col("__rn") <= max_docs
    )
    w2 = Window.partitionBy("__dom").orderBy(F.asc(id_col))
    keep = (
        pre.withColumn("__rn2", F.row_number().over(w2))
        .filter(F.col("__rn2") <= max_docs)
        .select(id_col)
    )
    over_flag = over.withColumn("__overcap", F.lit(True))
    keep_flag = keep.withColumn("__kept", F.lit(True))
    result = (
        df.withColumn("__dom", dom)
        .join(
            F.broadcast(over_flag) if hint_over else over_flag,
            "__dom",
            "left",
        )
        .join(
            F.broadcast(keep_flag) if hint_keep else keep_flag,
            id_col,
            "left",
        )
        .filter(F.col("__overcap").isNull() | F.col("__kept").isNotNull())
        .drop("__dom", "__overcap", "__kept")
    )
    # cache-lifetime contract (docstring): hand the persisted frames
    # to the caller so batch loops release them deterministically —
    # including the materialized proxy (a checkpoint's RDD otherwise
    # waits on the GC-driven ContextCleaner; see _LocalCheckpointHandle
    # for the release-kills-the-frame semantics)
    persisted = (over,) if ids_release is None else (over, ids_release)
    result._persisted_frames = persisted
    if return_persisted:
        return result, persisted
    return result


#: file extensions whose URLs are (almost) never prose content —
#: assets, feeds, machine formats; the RefinedWeb-style URL prefilter
#: drops them before any fetch/text processing.
NON_CONTENT_EXTENSIONS = (
    "css", "js", "json", "xml", "rss", "atom",
    "jpg", "jpeg", "png", "gif", "webp", "svg", "ico",
    "mp3", "mp4", "avi", "mov", "webm",
    "zip", "gz", "tar", "rar", "7z",
    "exe", "dmg", "apk", "woff", "woff2", "ttf",
)


def url_quality_flags(
    df: DataFrame,
    url_col: str = "url",
    max_path_depth: int = 8,
    max_query_len: int = 120,
    max_digit_ratio: float = 0.4,
) -> DataFrame:
    """URL-shape quality heuristics — the pre-fetch prefilter of a
    web-corpus pipeline (cf. the URL filtering stage of
    RefinedWeb/FineWeb): adds boolean flag columns plus a combined
    `url_ok`, all pure expressions over one let-bound host parse:

      - url_is_content:   path extension not in NON_CONTENT_EXTENSIONS
      - url_depth_ok:     path depth <= max_path_depth (deep trees are
                          calendars/facet explosions)
      - url_query_ok:     query string length <= max_query_len
                          (session/state dumps)
      - url_host_digits_ok: digit share of the host <= max_digit_ratio
                          (machine-generated hosts, IP-ish vhosts)
      - url_ok:           all of the above

    Flags, not a filter: callers audit flag rates per source before
    committing to a drop policy (df.filter(F.col('url_ok'))). Rows
    with no parseable host fail url_host_digits_ok conservatively
    only when the raw string itself is digit-heavy. The host parse is
    let-bound inside the digit-ratio expression (the only flag that
    references it, twice).

    A NULL url gets an explicit FALSE for every flag (and url_ok),
    never NULL: under three-valued logic a NULL url_ok makes
    df.filter(F.col('url_ok')) silently drop url-less rows while
    flag-rate averages undercount them — defined semantics, the same
    choice dedup_by_url (pass-through) and cap_per_domain (one
    url-less group) make. A url-less row has no fetch identity to
    judge, so it fails the URL gate visibly; callers that want to
    keep such rows anyway filter on `url_ok | url.isNull()`."""
    from .dedup import _let

    c = F.col(url_col)
    no_url = c.isNull()
    path = F.coalesce(F.try_parse_url(c, F.lit("PATH")), F.lit(""))
    query = F.coalesce(F.try_parse_url(c, F.lit("QUERY")), F.lit(""))
    ext = F.lower(F.regexp_extract(path, r"\.([A-Za-z0-9]{1,6})$", 1))
    digit_ratio = _let(
        F.coalesce(url_host(c), F.lower(c)),
        lambda host: (
            F.length(host) - F.length(F.regexp_replace(host, r"[0-9]", ""))
        ).cast("double")
        / F.greatest(F.length(host), F.lit(1)),
    )
    depth = F.size(F.filter(F.split(path, "/"), lambda p: p != ""))
    flags = {
        "url_is_content": ~ext.isin(*NON_CONTENT_EXTENSIONS),
        "url_depth_ok": depth <= max_path_depth,
        "url_query_ok": F.length(query) <= max_query_len,
        "url_host_digits_ok": digit_ratio <= max_digit_ratio,
    }
    out = df
    for name, expr in flags.items():
        out = out.withColumn(
            name, F.when(no_url, F.lit(False)).otherwise(expr)
        )
    ok = None
    for name in flags:
        ok = F.col(name) if ok is None else (ok & F.col(name))
    return out.withColumn("url_ok", ok)
