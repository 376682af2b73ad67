"""LLM-data-pipeline query inventory: dedup, text analysis, similarity
search, multimodal plumbing over the driver's documents/embeddings
tables (SURVEY.md §7.6; BASELINE.json north star).

Oracle-exactness rules used here:
- text metrics: identical ASCII regex classes on both engines;
- cosine similarity: the SAME sequential double fold on both sides
  (zip -> multiply -> left-fold sum), inputs cast to double first,
  results rounded to 6 dp before ranking so a final-ulp divergence
  can't flip the hash or the rank order;
- engine-specific hash functions (xxhash64) never cross the oracle
  boundary — MinHash/SimHash run here in `portable` md5-hash mode and
  the LSH hyperplanes are embedded as literals in both plans, so even
  the approximate operators are full hash-match checks; the anomaly
  scorecard replays frozen centroids the same way, and since round 5
  even multimodal_features is a full value check (the oracle recomputes
  the expected pixel features from the text bytes — the PNG roundtrip
  is the identity on pixels, see _mm_oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import text as X
from ..operators.langid import (
    FROZEN_HAN,
    HELDOUT_SENTENCES_HAN,
    classify_language,
)
from ..sources.testdata import load_table
from .queries import query

# SQL twin of text.normalize_text / tokens
_SQL_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
_SQL_TOKS = f"string_split({_SQL_NORM}, ' ')"

_PORTABLE_H = "('0x' || substr(md5({seed} || ':' || {val}), 1, 15))::UBIGINT::BIGINT"

_MINHASH_SEEDS = 32
_MINHASH_BANDS = 8

# --- deterministic CJK identity mapping (round 8) --------------------------
# The driver corpus is pure ASCII, so the Unicode/CJK rung
# (tokens_unicode, dominant_script, near_dedup(unicode=True)) would
# stay pytest-only without synthesis. The PNG/WAV identity precedent:
# ONE translate() maps every normalized character (a-z0-9 + space)
# into the CJK Unified Ideographs block at codepoint 0x4E00 + ascii —
# real Han text with analytically known structure exists inside the
# query, and the oracle rebuilds the identical string independently
# via chr(ord(c) + 19968) in DuckDB.
_CJK_SRC = "abcdefghijklmnopqrstuvwxyz0123456789 "
_CJK_DST = "".join(chr(0x4E00 + ord(ch)) for ch in _CJK_SRC)


def _cjk_of(col):
    """Spark side of the CJK identity: Han-map a normalized column."""
    return F.translate(col, _CJK_SRC, _CJK_DST)


#: DuckDB side of the CJK identity — independent construction
#: (chr/ord per character, not translate) of the same mapping.
_SQL_CJK_OF = (
    "array_to_string(list_transform(list_filter(string_split({val}, ''),"
    " c -> c <> ''), c -> chr(ord(c) + 19968)), '')"
)

#: RE2-portable CJK class (the SCRIPT_RANGES 'cjk' entry verbatim:
#: kana + CJK-ext-A + Han + Hangul) — explicit block ranges, NOT the
#: Java-only [\p{L}&&[^...]] class intersection of tokens_unicode.
_SQL_CJK_CLASS = "[぀-ヿ㐀-䶿一-鿿가-힯]"

#: CJK shingle width: 8 single-char tokens per window (~ a 2-3 word
#: shingle); 3-char windows over the mapped 37-symbol alphabet would
#: make nearly every document pair "similar".
_CJK_SHINGLE_K = 8

#: Oracle twin of tokens_unicode for the probe inputs: single CJK
#: chars, else letter/digit runs over the scripts the probes can
#: actually contain (ASCII + the three round-9 identity blocks —
#: cyrillic, greek, arabic). Exactly equivalent to the Java pattern
#: ON THIS DATA because every probe character is either plain ASCII
#: (the driver corpus) or a mapped letter inside one of these blocks
#: — the Java class intersection [\p{L}\p{N}&&[^CJK]]+ degenerates
#: to exactly this run class after lower().
_SQL_UTOKS = "regexp_extract_all(lower({val}), '{cls}|[a-z0-9Ѐ-ӿͰ-Ͽ؀-ۿऀ-ॿ]+')".format(
    val="{val}", cls=_SQL_CJK_CLASS
)

# --- single-script identity maps (round 9) --------------------------------
# The CJK identity generalizes to any script block: ONE translate()
# maps the 26 lowercase ASCII letters into a contiguous run of
# LOWERCASE (or caseless) letters inside the target block — chosen so
# lower() is a fixed point on the mapped text (а-я is lowercase
# Cyrillic, α-ϊ lowercase Greek incl. final sigma, ء-غ caseless
# Arabic) and every mapped codepoint is \p{L} inside the
# SCRIPT_RANGES class. Digits and spaces pass through unmapped, so
# token run structure (and hence token counts) are preserved
# verbatim from the normalized ASCII text.
_AZ = "abcdefghijklmnopqrstuvwxyz"
_SCRIPT_BASES = {
    "cyrillic": 0x0430,   # а..я — lowercase Cyrillic
    "greek": 0x03B1,      # α..ϊ — lowercase Greek incl. final sigma
    "arabic": 0x0621,     # ء..غ — caseless Arabic letters
    "devanagari": 0x0905, # अ..ञ — caseless Devanagari letters
}
_SCRIPT_DSTS = {
    name: "".join(chr(base + i) for i in range(26))
    for name, base in _SCRIPT_BASES.items()
}

#: DuckDB side of the script identities — independent per-character
#: construction (chr/ord + offset), not translate.
_SQL_SCRIPT_OF = (
    "array_to_string(list_transform(list_filter(string_split({val}, ''),"
    " c -> c <> ''), c -> CASE WHEN c >= 'a' AND c <= 'z'"
    " THEN chr(ord(c) - 97 + {base}) ELSE c END), '')"
)


def _minhash_ctes(
    suffix: str = "", toks_sql: str | None = None, k: int = 3
) -> str:
    """Shared oracle CTEs replaying portable-mode MinHash banding:
    toks -> k-token shingles (with source) -> per-shingle (h1, h2)
    double-hash parts (ONE md5 each, mirroring the engine's Kirsch-
    Mitzenmacher construction) -> 32-hash signature h1 + s*h2 ->
    8-band buckets -> distinct candidate pairs.

    `suffix` renames every CTE (toks{suffix}, sh{suffix}, ...) so two
    tokenizations can coexist in one oracle (the round-8 unicode leg);
    `toks_sql` swaps the token expression (default: the ASCII
    normalize/split twin); `k` is the shingle width (the unicode leg
    uses 8 — an 8-character window over single-char CJK tokens,
    roughly the granularity of a 2-3 word shingle; 3-char windows
    over a 37-symbol alphabet collide on nearly every pair)."""
    rpb = _MINHASH_SEEDS // _MINHASH_BANDS
    toks_sql = _SQL_TOKS if toks_sql is None else toks_sql
    s_ = suffix
    sig_exprs = ",\n             ".join(
        f"list_min(list_transform(hp, h -> h.h1 + {s} * h.h2))"
        for s in range(_MINHASH_SEEDS)
    )
    return f"""
    WITH toks{s_} AS (
        SELECT doc_id, source, {toks_sql} AS t FROM documents
    ),
    sh{s_} AS (
        SELECT doc_id, source,
               CASE WHEN len(t) <= {k} THEN [array_to_string(t, ' ')]
                    ELSE list_transform(range(1, len(t) - {k - 2}),
                                        i -> array_to_string(t[i:i+{k - 1}], ' '))
               END AS shs
        FROM toks{s_}
    ),
    hp{s_} AS (
        SELECT doc_id, shs,
               list_transform(shs, x -> {{
                   'h1': ('0x' || substr(md5(x), 1, 15))::UBIGINT::BIGINT,
                   'h2': ('0x' || substr(md5(x), 16, 14))::UBIGINT::BIGINT
               }}) AS hp
        FROM sh{s_}
    ),
    sig{s_} AS (
        SELECT doc_id, shs,
               [{sig_exprs}] AS sig
        FROM hp{s_}
    ),
    banded{s_} AS (
        SELECT doc_id, b.band_id,
               array_to_string(list_transform(
                   sig[b.band_id*{rpb}+1 : b.band_id*{rpb}+{rpb}],
                   v -> v::VARCHAR), ',') AS band_hash
        FROM sig{s_}, (SELECT unnest(range({_MINHASH_BANDS})) AS band_id) b
    ),
    cand{s_} AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded{s_} a JOIN banded{s_} b
          ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    )"""


_JACCARD_SQL = (
    "len(list_filter(list_distinct(sa.shs), x -> list_contains(sb.shs, x)))::DOUBLE"
    " / greatest(len(list_distinct(sa.shs)) + len(list_distinct(sb.shs))"
    " - len(list_filter(list_distinct(sa.shs), x -> list_contains(sb.shs, x))), 1)"
)


def _minhash_oracle_sql(threshold: float) -> str:
    return f"""
    {_minhash_ctes()},
    pairs AS (
        SELECT c.id_a, c.id_b, {_JACCARD_SQL} AS jaccard
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b
    )
    SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= {threshold}
    """


def _minhash_modes_oracle_sql(threshold: float) -> str:
    """Two full portable-MinHash replays in one oracle: the ASCII
    word-shingle ladder (mode='ascii') and the round-8 unicode leg
    (mode='cjk') over the Han-mapped corpus, where each character is
    one token (the single-char-CJK-token rule of tokens_unicode) so a
    3-token shingle is a 3-character window. The CJK token set is
    re-derived with an RE2 block-range class — deliberately NOT the
    Java-only [\\p{{L}}&&[^...]] intersection (SCRIPT_RANGES design)."""
    cjk_norm = _SQL_CJK_OF.format(val=_SQL_NORM)
    cjk_toks = f"regexp_extract_all({cjk_norm}, '{_SQL_CJK_CLASS}')"
    cjk_ctes = _minhash_ctes("_c", cjk_toks, k=_CJK_SHINGLE_K).strip()
    assert cjk_ctes.startswith("WITH ")
    return f"""
    {_minhash_ctes()},
    {cjk_ctes[5:]},
    pa AS (
        SELECT 'ascii' AS mode, c.id_a, c.id_b, {_JACCARD_SQL} AS jaccard
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b
    ),
    pc AS (
        SELECT 'cjk' AS mode, c.id_a, c.id_b, {_JACCARD_SQL} AS jaccard
        FROM cand_c c
        JOIN sh_c sa ON sa.doc_id = c.id_a
        JOIN sh_c sb ON sb.doc_id = c.id_b
    )
    SELECT mode, id_a, id_b, jaccard FROM pa WHERE jaccard >= {threshold}
    UNION ALL
    SELECT mode, id_a, id_b, jaccard FROM pc WHERE jaccard >= {threshold}
    """




def _exact_jaccard_oracle_sql_same_source(threshold: float) -> str:
    """INDEPENDENT oracle for ngram_jaccard_same_source: plain exact
    all-pairs Jaccard within each source in DuckDB. Deliberately does
    NOT replay the Spark side's prefix-filter candidate generation —
    since prefix filtering is lossless, the engine must reproduce the
    brute-force answer exactly, which makes this the strongest oracle
    in the inventory (the check would catch a candidate-generation
    recall bug, not just a verify bug)."""
    return f"""
    WITH toks AS (
        SELECT doc_id, source, {_SQL_TOKS} AS t FROM documents
    ),
    sh AS (
        SELECT doc_id, source,
               CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                    ELSE list_transform(range(1, len(t) - 1),
                                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
               END AS shs
        FROM toks
    ),
    pairs AS (
        SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, {_JACCARD_SQL} AS jaccard
        FROM sh sa
        JOIN sh sb ON sb.source = sa.source AND sa.doc_id < sb.doc_id
    )
    SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= {threshold}
    """




# --- PII scrub probe (round 9) ---------------------------------------------
# The driver corpus contains no PII, so the scrub_pii rung synthesizes
# it (the DOM probe-page precedent): per doc, k = 1 + doc_id%3 copies
# of a doc_id-derived PII literal of kind doc_id%5 are appended to the
# doc's DIGIT-STRIPPED text (stripping [0-9@] makes all five patterns
# unmatchable in the carrier, so the injected spans are the only true
# positives), plus one NEAR-MISS of the same kind that must survive
# every pattern — cross-checked per kind (e.g. the bad-SSN shape
# '12-34-56' has no 3-digit run, so the greedy phone regex cannot
# claim it either; '999.999.999.999' would be claimed by the phone
# pattern, hence the 256-octet shape). Order = doc_id % 5. The
# survival assumption is pinned at unit level in
# tests/test_dedup_text.py::test_driver_probe_near_misses....
_PII_TOKENS = ("[EMAIL]", "[SSN]", "[CARD]", "[IP]", "[PHONE]")
_PII_NEAR = ("user@@example..com", "12-34-56", "1234 5678 9012",
             "256.1.1.1", "5551234567")
_PII_KINDS = ("email", "ssn", "card", "ipv4", "phone")


def _pii_probe_cols() -> tuple[Column, Column]:
    """Engine side of the PII probe: (pii_kind, probe_text) columns
    over documents' (doc_id, text) — the input scrub_pii runs on."""
    doc_id = F.col("doc_id")
    carrier = F.regexp_replace(F.col("text"), "[0-9@]", "")
    cls = F.pmod(doc_id, F.lit(5)).cast("int")
    k = (F.pmod(doc_id, F.lit(3)) + 1).cast("int")
    d900 = (F.pmod(doc_id, F.lit(900)) + 100).cast("string")
    d90 = (F.pmod(doc_id, F.lit(90)) + 10).cast("string")
    d9000 = (F.pmod(doc_id, F.lit(9000)) + 1000).cast("string")
    pii = (
        F.when(cls == 0, F.concat(F.lit("user"), doc_id.cast("string"),
                                  F.lit("@example.com")))
        .when(cls == 1, F.concat(d900, F.lit("-"), d90, F.lit("-"), d9000))
        .when(cls == 2, F.concat(F.lit("4"), d900, F.lit(" 1111 2222 "),
                                 d9000))
        .when(cls == 3, F.concat(F.lit("10."),
                                 F.pmod(doc_id, F.lit(256)).cast("string"),
                                 F.lit(".0."),
                                 (F.pmod(doc_id, F.lit(254)) + 1)
                                 .cast("string")))
        .otherwise(F.concat(F.lit("555-"), d900, F.lit("-"), d9000))
    )
    near = F.element_at(F.array(*[F.lit(n) for n in _PII_NEAR]), cls + 1)
    kind = F.element_at(F.array(*[F.lit(kd) for kd in _PII_KINDS]), cls + 1)
    probe = F.concat(
        carrier, F.lit(" "),
        F.repeat(F.concat(pii, F.lit(" q ")), k),
        near, F.lit(" z"),
    )
    return kind, probe


def _langid_probe_cols(model=None, heldout=None) -> tuple[Column, Column]:
    """Engine side of a langid probe: (expected, probe_text) over
    documents' doc_id — doc_id % 3 picks a language class (langs in
    the frozen model's ASC order), (doc_id // 3) % 5 rotates through
    that language's five HELD-OUT parallel sentences (none appear in
    the training snippets), so the REAL frozen-profile classifier
    (operators/langid.py) must separate sibling languages on every
    row and both columns ride the driver hash. Defaults to the
    Romance family; round 11 reuses it for the Han (zh/ja/ko) leg."""
    from ..operators.langid import FROZEN_ROMANCE, HELDOUT_SENTENCES

    model = model or FROZEN_ROMANCE
    heldout = heldout or HELDOUT_SENTENCES

    doc_id = F.col("doc_id")
    langs = model.langs
    c = F.pmod(doc_id, F.lit(3)).cast("int")
    s = F.pmod(F.floor(doc_id / F.lit(3)), F.lit(5)).cast("int")
    expected = F.element_at(F.array(*[F.lit(l) for l in langs]), c + 1)
    probe = None
    for i, lang in enumerate(langs):
        sent = F.element_at(
            F.array(*[F.lit(x) for x in heldout[lang]]), s + 1
        )
        probe = (
            F.when(c == i, sent) if probe is None else probe.when(c == i, sent)
        )
    return expected, probe


def _langid_oracle_ctes(
    model=None, heldout=None, prefix: str = "lang", out: str = "langid"
) -> str:
    """DuckDB replay of a langid leg: rebuild the identical probe,
    re-extract the char bigrams with the serving normalization
    (regexp_replace + substr — both character-based on NFC text), and
    replay the frozen profile as a VALUES join. Scores are exact sums
    of dyadic (1/1024-quantized) log-probs, so SUM is
    order-independent and bit-identical across engines; the argmax
    tie-break (score DESC, lang ASC) matches the Spark when-chain.
    Defaults to the Romance family (prefix 'lang', columns langid_*);
    round 11 reuses it for the Han leg (prefix 'han', hanid_*)."""
    from ..operators.langid import FROZEN_ROMANCE, HELDOUT_SENTENCES

    model = model or FROZEN_ROMANCE
    heldout = heldout or HELDOUT_SENTENCES

    langs = model.langs
    lang_case = " ".join(
        f"WHEN {i} THEN '{l}'" for i, l in enumerate(langs)
    )
    sent_cases = []
    for i, lang in enumerate(langs):
        inner = " ".join(
            f"WHEN {j} THEN '{x.replace(chr(39), chr(39) * 2)}'"
            for j, x in enumerate(heldout[lang])
        )
        sent_cases.append(
            f"WHEN {i} THEN (CASE CAST((doc_id // 3) % 5 AS INT) {inner} END)"
        )
    return f"""
    {prefix}_probe AS (
      SELECT doc_id,
             CASE CAST(doc_id % 3 AS INT) {lang_case} END AS {out}_expected,
             CASE CAST(doc_id % 3 AS INT) {' '.join(sent_cases)} END AS lp
      FROM documents
    ),
    {prefix}_grams AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(length(s), 2)),
                                   i -> substr(s, i, 2))) AS g
      FROM (SELECT doc_id,
                   ' ' || trim(regexp_replace(lower(lp), '[^\\p{{L}}]+', ' ', 'g'))
                       || ' ' AS s
            FROM {prefix}_probe)
    ),
    {prefix}_prof(lang, gram, logp) AS (VALUES {model.sql_profile_values()}),
    {prefix}_oov(lang, oov_logp) AS (VALUES {model.sql_oov_values()}),
    {prefix}_scored AS (
      SELECT g.doc_id, o.lang,
             SUM(coalesce(p.logp, o.oov_logp)) AS score
      FROM {prefix}_grams g
      CROSS JOIN {prefix}_oov o
      LEFT JOIN {prefix}_prof p ON p.lang = o.lang AND p.gram = g.g
      GROUP BY g.doc_id, o.lang
    ),
    {prefix}_best AS (
      SELECT doc_id, lang AS {out}_pred, score AS {out}_score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang ASC) AS rn
      FROM {prefix}_scored
    )"""


def _pii_oracle_cte() -> str:
    """DuckDB replay of the PII probe as a `piis` CTE (doc_id,
    pii_kind, n_pii_masked, scrub_fp): rebuild the identical probe
    string, then replace the injected literal EXACTLY — plain
    substring replace, because the Java-regex lookarounds in
    PII_PATTERNS have no RE2 twin. The md5 matching proves the
    engine's regexes masked precisely the k injected spans and
    nothing else (carrier and near-miss intact, each counted once)."""
    tok = " ".join(f"WHEN {i} THEN '{t}'" for i, t in enumerate(_PII_TOKENS))
    near = " ".join(f"WHEN {i} THEN '{n}'" for i, n in enumerate(_PII_NEAR))
    kind = " ".join(f"WHEN {i} THEN '{k}'" for i, k in enumerate(_PII_KINDS))
    return f"""
    pii_base AS (
      SELECT doc_id,
             regexp_replace(text, '[0-9@]', '', 'g') AS carrier,
             doc_id % 5 AS cls,
             CAST(doc_id % 3 + 1 AS INT) AS k,
             CAST(doc_id % 900 + 100 AS VARCHAR) AS d900,
             CAST(doc_id % 90 + 10 AS VARCHAR) AS d90,
             CAST(doc_id % 9000 + 1000 AS VARCHAR) AS d9000
      FROM documents
    ),
    pii_built AS (
      SELECT doc_id, cls, k, carrier,
        CASE cls WHEN 0 THEN 'user' || doc_id || '@example.com'
                 WHEN 1 THEN d900 || '-' || d90 || '-' || d9000
                 WHEN 2 THEN '4' || d900 || ' 1111 2222 ' || d9000
                 WHEN 3 THEN '10.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.0.' || CAST(doc_id % 254 + 1 AS VARCHAR)
                 ELSE '555-' || d900 || '-' || d9000 END AS pii,
        CASE cls {tok} END AS tok,
        CASE cls {near} END AS near
      FROM pii_base
    ),
    piis AS (
      SELECT doc_id,
             CASE cls {kind} END AS pii_kind,
             k AS n_pii_masked,
             md5(replace(carrier || ' ' || repeat(pii || ' q ', k)
                         || near || ' z', pii, tok)) AS scrub_fp
      FROM pii_built
    )"""


@query(
    "doc_fingerprints",
    f"""
    WITH {_pii_oracle_cte().strip()},
    {_langid_oracle_ctes().strip()},
    {_langid_oracle_ctes(
        FROZEN_HAN, HELDOUT_SENTENCES_HAN, prefix="han", out="hanid"
    ).strip()},
    probe AS (
        SELECT doc_id, text,
               CASE CAST(doc_id % 8 AS INT)
                    WHEN 0 THEN text
                    WHEN 1 THEN {_SQL_CJK_OF.format(val=_SQL_NORM)}
                    WHEN 2 THEN {_SQL_NORM} || ' ' || {_SQL_CJK_OF.format(
                        val=f"regexp_replace({_SQL_NORM}, '[^a-z]', '', 'g')"
                    )}
                    WHEN 3 THEN {_SQL_SCRIPT_OF.format(
                        val=_SQL_NORM, base=_SCRIPT_BASES["cyrillic"]
                    )}
                    WHEN 4 THEN {_SQL_SCRIPT_OF.format(
                        val=_SQL_NORM, base=_SCRIPT_BASES["greek"]
                    )}
                    WHEN 5 THEN {_SQL_SCRIPT_OF.format(
                        val=_SQL_NORM, base=_SCRIPT_BASES["arabic"]
                    )}
                    WHEN 6 THEN {_SQL_SCRIPT_OF.format(
                        val=_SQL_NORM, base=_SCRIPT_BASES["devanagari"]
                    )}
                    ELSE regexp_replace({_SQL_NORM}, '[a-z]', '', 'g')
               END AS p
        FROM documents
    ),
    counted AS (
        SELECT doc_id, text, p,
               length(p) - length(regexp_replace(p, '[\\p{{L}}]', '', 'g')) AS lt,
               length(p) - length(regexp_replace(p, '[A-Za-zÀ-ÖØ-öø-ɏ]', '', 'g')) AS latin,
               length(p) - length(regexp_replace(p, '[Ѐ-ӿ]', '', 'g')) AS cyr,
               length(p) - length(regexp_replace(p, '[Ͱ-Ͽ]', '', 'g')) AS grk,
               length(p) - length(regexp_replace(p, '[؀-ۿ]', '', 'g')) AS arb,
               length(p) - length(regexp_replace(p, '[ऀ-ॿ]', '', 'g')) AS dev,
               length(p) - length(regexp_replace(p, '{_SQL_CJK_CLASS}', '', 'g')) AS cjk
        FROM probe
    )
    SELECT doc_id,
           md5({_SQL_NORM}) AS fingerprint,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                            list_transform(split({_SQL_NORM}, ''), c -> CAST(ord(c) AS BIGINT))),
               (a, b) -> (a * 31 + b) % 2147483647
           ) AS rhash,
           len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS bpe_tokens,
           CAST(len({_SQL_UTOKS.format(val='p')}) AS INT) AS n_unicode_tokens,
           CASE WHEN lt = 0 THEN 'und'
                WHEN 2 * latin > lt THEN 'latin'
                WHEN 2 * cyr > lt THEN 'cyrillic'
                WHEN 2 * grk > lt THEN 'greek'
                WHEN 2 * arb > lt THEN 'arabic'
                WHEN 2 * dev > lt THEN 'devanagari'
                WHEN 2 * cjk > lt THEN 'cjk'
                ELSE 'mixed'
           END AS dominant_script,
           pii_kind, n_pii_masked, scrub_fp,
           langid_expected, langid_pred, langid_score,
           hanid_expected, hanid_pred, hanid_score
    FROM counted
    JOIN piis USING (doc_id)
    JOIN lang_probe USING (doc_id)
    JOIN (SELECT doc_id, langid_pred, langid_score
          FROM lang_best WHERE rn = 1) lb USING (doc_id)
    JOIN han_probe USING (doc_id)
    JOIN (SELECT doc_id, hanid_pred, hanid_score
          FROM han_best WHERE rn = 1) hb USING (doc_id)
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting in one map-side projection: md5 over
    normalized text (portable, unlike the engine-internal xxhash64),
    the polynomial rolling hash (char fold h*31+c mod 2^31-1, a single
    codegen'd aggregate expression) and the BPE-ish token count.

    Round 3: absorbs the former `doc_rolling_hash` entry — same scan,
    same stage, zero shuffles either way (driver 50-query cap).

    Round 8 absorbs the per-document Unicode rung (VERDICT r7 item 2):
    a probe text cycles through analytically known script classes —
    raw ASCII (doc_id%8==0), the Han-mapped normalized text (==1, the
    deterministic CJK identity _cjk_of), and a half-and-half mix whose
    latin letter count EXACTLY equals its CJK count (==2, mapping only
    the letters), so the REAL token_count_unicode and dominant_script
    demonstrably produce 'latin'/'cjk'/'mixed' under the driver with
    exact token counts. Round 9 (VERDICT r8 item 5) cycles FOUR MORE
    blocks through the same identity: cyrillic (==3, a-z -> а-я at
    0x0430), greek (==4, -> α-ϊ at 0x03B1, lowercase incl. final
    sigma), arabic (==5, -> ء-غ at 0x0621, caseless), devanagari
    (==6, -> अ-ञ at 0x0905, caseless) — each mapping chosen so
    lower() is a fixed point and every mapped codepoint is a letter
    inside its SCRIPT_RANGES class; spaces/digits pass through, so
    the token run structure of the ASCII text is preserved and the
    token counts replay exactly — plus the LETTERLESS residue (==7,
    letters stripped from the normalized text, leaving digits/spaces)
    for the 'und' verdict. The oracle rebuilds each probe
    independently (chr/ord + offset), re-tokenizes with the RE2
    block-range run class (never the Java-only intersection — it
    degenerates to exactly that run class on these probes), and
    replays the >0.5-ratio dominance test in exact INTEGER arithmetic
    (2*count > total ⟺ ratio > 0.5) through the full seven-branch
    precedence — ALL EIGHT of dominant_script's possible verdicts now
    carry driver-hash evidence. Still one map-side projection: the
    probe materializes as an attribute, metrics come off the
    attribute.

    Round 9 absorbs the PII-scrub rung (operators/text.py::scrub_pii,
    the privacy stage of jobs/training_data.py — the one curation
    operator that still had only pytest evidence): the REAL
    chained-regexp_replace scrubber runs over the synthesized PII
    probe (see _pii_probe_cols above), and hash-green `scrub_fp` /
    `n_pii_masked` columns mean the lookaround-guarded Java regexes
    (no RE2 twin exists — the oracle replaces the injected literals
    as exact substrings) masked exactly the k injected spans, counted
    them once each, and left both the digit-stripped carrier and the
    per-kind near-miss untouched. Same scan, still map-only — the
    PII probe is a second derived attribute off the one projection.

    Round 10 absorbs the langid rung (operators/langid.py — VERDICT
    r9 "what's missing" #1): doc_id % 3 cycles three sibling Romance
    languages, (doc_id // 3) % 5 rotates five HELD-OUT parallel
    sentences per language (translations of each other, disjoint from
    the training snippets), and the REAL frozen character-bigram
    classifier — one-row broadcast model, let-bound gram fold — emits
    `langid_pred`/`langid_score` next to the class label
    `langid_expected`. The oracle rebuilds the probe and replays the
    profile as a VALUES join; scores are exact sums of
    1/1024-quantized (dyadic) log-probs, so SUM is order-independent
    and the (score DESC, lang ASC) argmax is engine-independent with
    no rounding step. pred == expected on every row (pinned in
    test_plan_invariants) — within-script language separation, under
    the driver hash. Still no shuffle: the one exchange is the model
    broadcast.

    Round 11 adds the Han-family leg (hanid_*): the same probe scheme
    over FROZEN_HAN's zh/ja/ko held-out sentences — the 'cjk' router
    hole the round-10 verdict flagged (dominant_script cannot split
    Chinese from kanji-heavy Japanese or Hangul) — as a second
    one-row broadcast and a second let-bound fold; the oracle replays
    the Han profile through the same parameterized CTE builder."""
    docs = load_table(spark, sf_dir, "documents")
    norm = X.normalize_text(F.col("text"))
    letters = F.regexp_replace(norm, "[^a-z]", "")
    probe = (
        F.when(F.col("doc_id") % 8 == 0, F.col("text"))
        .when(F.col("doc_id") % 8 == 1, _cjk_of(norm))
        .when(F.col("doc_id") % 8 == 2, F.concat(norm, F.lit(" "), _cjk_of(letters)))
        .when(F.col("doc_id") % 8 == 3, F.translate(norm, _AZ, _SCRIPT_DSTS["cyrillic"]))
        .when(F.col("doc_id") % 8 == 4, F.translate(norm, _AZ, _SCRIPT_DSTS["greek"]))
        .when(F.col("doc_id") % 8 == 5, F.translate(norm, _AZ, _SCRIPT_DSTS["arabic"]))
        .when(F.col("doc_id") % 8 == 6, F.translate(norm, _AZ, _SCRIPT_DSTS["devanagari"]))
        .otherwise(F.regexp_replace(norm, "[a-z]", ""))
    )
    pii_kind, pii_probe = _pii_probe_cols()
    lang_expected, lang_probe = _langid_probe_cols()
    han_expected, han_probe = _langid_probe_cols(
        FROZEN_HAN, HELDOUT_SENTENCES_HAN
    )
    withp = docs.select(
        "doc_id", "text", probe.alias("__probe"),
        pii_kind.alias("pii_kind"), pii_probe.alias("__pii"),
        lang_expected.alias("langid_expected"),
        lang_probe.alias("__lang_probe"),
        han_expected.alias("hanid_expected"),
        han_probe.alias("__han_probe"),
    )
    scrubbed = X.scrub_pii(withp, "__pii")
    classified = classify_language(
        scrubbed,
        text_col="__lang_probe",
        out_col="langid_pred",
        score_col="langid_score",
    )
    # round 11: the Han-family leg (zh/ja/ko) — same probe scheme,
    # second one-row broadcast, still no shuffle
    classified = classify_language(
        classified,
        FROZEN_HAN,
        text_col="__han_probe",
        out_col="hanid_pred",
        score_col="hanid_score",
    )
    return classified.select(
        "doc_id",
        X.fingerprint_md5("text").alias("fingerprint"),
        X.rolling_hash("text").alias("rhash"),
        X.bpe_ish_token_count("text").alias("bpe_tokens"),
        X.token_count_unicode(F.col("__probe")).alias("n_unicode_tokens"),
        X.dominant_script(F.col("__probe")).alias("dominant_script"),
        "pii_kind",
        "n_pii_masked",
        F.md5("__pii").alias("scrub_fp"),
        "langid_expected",
        "langid_pred",
        "langid_score",
        "hanid_expected",
        "hanid_pred",
        "hanid_score",
    )


@query(
    "dedup_exact_survivors",
    f"""
    SELECT doc_id,
           MIN(doc_id) OVER w AS survivor_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS group_size,
           doc_id = MIN(doc_id) OVER w AS is_survivor
    FROM (SELECT doc_id, md5({_SQL_NORM}) AS fingerprint FROM documents)
    WINDOW w AS (PARTITION BY fingerprint)
    """,
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup survivor map: EVERY document attributed to its
    smallest-id survivor (doc_id, survivor_id, group_size,
    is_survivor) via operators/dedup.py::dedup_survivor_map. Supersets
    the earlier per-group view (groups = groupBy survivor_id; dropped
    lineage pairs = rows where NOT is_survivor — the duplicate →
    survivor mapping provenance tooling needs, VERDICT.md r3 item 8).
    Only (fingerprint, id) shuffles, aggregate-then-join so a
    boilerplate text duplicated millions of times can't straggle a
    window partition; the oracle uses the window form DuckDB-side
    where the fixture is small.

    Round 3: absorbed the former `dedup_exact_groups`; round 4 folds
    in survivor lineage (driver 50-query cap)."""
    docs = load_table(spark, sf_dir, "documents")
    m = D.dedup_survivor_map(docs)
    return m.select(
        "doc_id",
        "survivor_id",
        "group_size",
        (F.col("doc_id") == F.col("survivor_id")).alias("is_survivor"),
    )


#: Batch/corpus split for the incremental NEAR-dedup row: corpus ids
#: precede batch ids, matching NearDupIndex's documented invariant. At
#: sf0.01 this yields cross near-dup pairs, several within-batch
#: clusters, AND a transitive dirty cluster ({45, 267, 413}: 267~413
#: inside the batch, both ~ corpus doc 45 -> the whole batch cluster
#: must drop), so every leg of filter_new is exercised non-trivially.
_NEARDUP_SPLIT = 250
_NEARDUP_THRESHOLD = 0.5
#: corpus ids taken down AFTER bootstrap (round 13 — deletion
#: propagation under the driver hash): doc 45 is the corpus anchor of
#: the transitive dirty cluster {45, 267, 413} at sf0.01, so its
#: takedown is load-bearing — batch docs that only duplicated doc 45
#: lose their corpus-dup count and their cluster may flip to kept.
#: The oracle replays the takedown by excluding these ids from the
#: corpus side of the pair set; the engine goes through the REAL
#: delete() -> tombstone-filtered check/filter_new path, so a
#: tombstone that leaked into (or vanished from) either index table
#: flips the hash.
_NEARDUP_DELETED = (7, 45)


def _neardup_incremental_oracle_sql() -> str:
    """Replays the FULL incremental cycle in DuckDB: the portable-md5
    MinHash banding (shared _minhash_ctes), exact-Jaccard verify,
    the corpus->batch check, recursive connected components over the
    within-batch pairs, and the dirty-cluster drop — the independent
    twin of NearDupIndex.check + filter_new."""
    s, t = _NEARDUP_SPLIT, _NEARDUP_THRESHOLD
    deleted = ", ".join(str(i) for i in _NEARDUP_DELETED)
    ctes = _minhash_ctes().replace("WITH toks", "WITH RECURSIVE toks", 1)
    return f"""
    {ctes},
    verified AS (
        SELECT c.id_a, c.id_b, {_JACCARD_SQL} AS jaccard
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b
    ),
    pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= {t}),
    batch_docs AS (SELECT doc_id FROM documents WHERE doc_id >= {s}),
    corp_dups AS (
        SELECT id_b AS doc_id, COUNT(DISTINCT id_a) AS n_corpus_dups
        FROM pairs
        WHERE id_a < {s} AND id_a NOT IN ({deleted}) AND id_b >= {s}
        GROUP BY id_b
    ),
    sym AS (
        SELECT id_a AS u, id_b AS v FROM pairs WHERE id_a >= {s}
        UNION
        SELECT id_b, id_a FROM pairs WHERE id_a >= {s}
    ),
    reach(id, r) AS (
        SELECT DISTINCT u, u FROM sym
        UNION
        SELECT s2.v, reach.r FROM reach JOIN sym s2 ON reach.id = s2.u
    ),
    comp AS (SELECT id AS doc_id, MIN(r) AS survivor_id FROM reach GROUP BY id),
    full_comp AS (
        SELECT b.doc_id, COALESCE(c.survivor_id, b.doc_id) AS survivor_id
        FROM batch_docs b LEFT JOIN comp c USING (doc_id)
    ),
    dirty AS (
        SELECT DISTINCT f.survivor_id
        FROM full_comp f JOIN corp_dups d USING (doc_id)
    )
    SELECT f.doc_id,
           CAST(COALESCE(d.n_corpus_dups, 0) AS BIGINT) AS n_corpus_dups,
           (f.doc_id = f.survivor_id
            AND f.survivor_id NOT IN (SELECT survivor_id FROM dirty)) AS kept
    FROM full_comp f LEFT JOIN corp_dups d USING (doc_id)
    """


@query("neardup_incremental_filter", _neardup_incremental_oracle_sql())
def neardup_incremental_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dedup through the persisted signature index
    (operators/dedup_incremental.py::NearDupIndex), driver-hash-checked
    end to end: docs with id < 250 are the bootstrapped corpus, the
    rest are today's batch. The Spark side goes through the real
    serving path — bootstrap writes the band-bucket + shingle tables
    to a warehouse, check() broadcasts the batch buckets into the
    corpus index (the corpus never shuffles), filter_new() adds the
    within-batch LSH + connected components + dirty-cluster drop.
    Portable md5-MinHash mode so the oracle replays the identical hash
    cascade. Output per batch doc: how many indexed corpus documents
    near-duplicate it, and whether the incremental filter keeps it.

    Round 13: the row also exercises DELETION PROPAGATION under the
    hash — two corpus docs (_NEARDUP_DELETED, incl. the transitive
    dirty-cluster anchor 45) are taken down via idx.delete() after
    bootstrap, and the oracle excludes them from the corpus side of
    the pair set: a taken-down doc must stop blocking near-duplicates
    of itself, and a tombstone leaking into either index table (or
    failing to filter it) flips the hash.

    (Supersedes the round-3..5 `dedup_incremental_new_docs` row, whose
    exact fingerprint anti-join is a special case of this path and
    stays covered by tests/test_dedup_text.py::dedup_against_corpus.)
    """
    import os
    import re
    import tempfile

    from ..operators.dedup_incremental import NearDupIndex
    from ..sources.warehouse import Warehouse

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < _NEARDUP_SPLIT)
    batch = docs.filter(F.col("doc_id") >= _NEARDUP_SPLIT)

    # deterministic per-sf scratch path: the returned frame lazily reads
    # the index tables, so the store must outlive this call (bootstrap
    # re-overwrites atomically on every run — no unbounded temp growth)
    scratch = os.path.join(
        tempfile.gettempdir(),
        "neardup_idx_" + re.sub(r"\W+", "_", sf_dir).strip("_"),
    )
    idx = NearDupIndex(Warehouse(spark, scratch), portable=True)
    idx.bootstrap(corpus)
    # round 13 — deletion propagation under the hash: take down two
    # corpus docs through the REAL delete() path (tombstones filter
    # both index tables at the _read_index choke point), so every
    # n_corpus_dups/kept verdict below is computed against the
    # post-takedown index; bootstrap resets tombstones each run, so
    # the delete re-applies deterministically. Doc 45 anchors the
    # {45, 267, 413} transitive dirty cluster — see _NEARDUP_DELETED.
    idx.delete(
        spark.createDataFrame(
            [(int(i),) for i in _NEARDUP_DELETED], "doc_id: long"
        )
    )

    # ONE check() feeds both outputs (round 10): the candidate/verify
    # path, its broadcast-gate count and the index reads run once;
    # localCheckpoint pins the small pair set so neither output branch
    # re-derives it at execution
    pairs = idx.check(batch, threshold=_NEARDUP_THRESHOLD).localCheckpoint()
    n_dups = (
        pairs
        .groupBy("new_id")
        .agg(F.countDistinct("dup_id").alias("n_corpus_dups"))
        .withColumnRenamed("new_id", "doc_id")
    )
    kept = (
        idx.filter_new(
            batch, threshold=_NEARDUP_THRESHOLD, corpus_pairs=pairs
        )
        .select("doc_id")
        .withColumn("kept", F.lit(True))
    )
    return (
        batch.select("doc_id")
        .join(n_dups, "doc_id", "left")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_corpus_dups", F.lit(0)).alias("n_corpus_dups"),
            F.coalesce("kept", F.lit(False)).alias("kept"),
        )
    )


#: Frozen BYTE-LEVEL merges table for the document_chunks BPE leg
#: (VERDICT r15 #2) — registered as the SAME literal on both engines:
#: the Spark plan feeds it to the real BpeTokenizer merge loop
#: (operators/bpe.py:311 encode_word — greedy lowest-rank,
#: leftmost-occurrence) and the oracle replays that exact loop in a
#: DuckDB recursive CTE generated from this tuple. The table is
#: crafted so ORDER is load-bearing over the fixture vocabulary:
#: chained merges ('t','a' -> 'ta','b' -> 'tab','l' -> 'tabl','eĀ')
#: collapse "table" to ONE token only if ranks apply lowest-first,
#: and overlapping pairs — ('t','a') rank 0 vs ('a','t') rank 1 in
#: "data", ('va','l') rank 20 vs ('l','u') rank 22 in "value" —
#: produce different final tokenizations if a replay picks the wrong
#: one, so a buggy merge order flips the hash. All concats are
#: distinct, so byte-level ids are rank-deterministic (257 + rank;
#: base bytes 0..255; end-of-word chr(256)).
_DC_BPE_MERGES = (
    ("t", "a"), ("a", "t"), ("ta", "b"), ("e", "Ā"), ("t", "h"),
    ("th", "eĀ"), ("d", "a"), ("da", "ta"), ("data", "Ā"), ("g", "g"),
    ("tab", "l"), ("tabl", "eĀ"), ("s", "c"), ("sc", "a"), ("sca", "n"),
    ("scan", "Ā"), ("r", "o"), ("ro", "w"), ("row", "Ā"), ("v", "a"),
    ("va", "l"), ("u", "eĀ"), ("l", "u"), ("val", "ueĀ"),
)
assert len({a + b for a, b in _DC_BPE_MERGES}) == len(_DC_BPE_MERGES)


def _dc_bpe_sql() -> str:
    """DuckDB twin of the BpeTokenizer encode loop under
    `_DC_BPE_MERGES`: a recursive CTE whose step merges exactly ONE
    occurrence — the LEFTMOST occurrence of the LOWEST-ranked adjacent
    pair — matching encode_word's `(best_rank, best_i)` scan verbatim
    (operators/bpe.py:313-321). chr(1) separates the pair key (never
    appears in [a-z0-9Ā] symbols); 999999 is the no-merge sentinel,
    so `best < 999999` is both the merge guard and the recursion
    terminator (a 1-symbol list yields an empty ranks list, NULL min).
    Returns CTE bodies to splice after the chunk CTE `c`; the caller
    joins `bpe_chunk` back per (doc_id, chunk_id). Words here are
    string_split tokens — identical to the Python pre-tokenizer on
    THIS surface because chunk_text is normalized [a-z0-9]+ words
    joined by single spaces, on which BPE_TOKEN_RE's findall is
    exactly the split."""
    pair = "syms[CAST(i AS INT)] || chr(1) || syms[CAST(i AS INT)+1]"
    rank_case = f"CASE {pair} " + " ".join(
        f"WHEN '{a}' || chr(1) || '{b}' THEN {r}"
        for r, (a, b) in enumerate(_DC_BPE_MERGES)
    ) + " ELSE 999999 END"
    id_case = "CASE s " + " ".join(
        f"WHEN '{a + b}' THEN {257 + r}"
        for r, (a, b) in enumerate(_DC_BPE_MERGES)
    ) + " ELSE CASE WHEN s = chr(256) THEN 256 ELSE ascii(s) END END"
    return f"""
    bpe_w AS (
      SELECT DISTINCT u.word FROM c,
             unnest(string_split(chunk_text, ' ')) AS u(word)
      WHERE u.word <> ''
    ),
    bpe_enc AS (
      SELECT word,
             list_append(list_transform(range(1, length(word) + 1),
                         i -> substr(word, CAST(i AS INT), 1)),
                         chr(256)) AS syms,
             0 AS it
      FROM bpe_w
      UNION ALL
      SELECT word,
             syms[1:pos-1] || [syms[pos] || syms[pos+1]] || syms[pos+2:],
             it + 1
      FROM (
        SELECT word, syms, it, list_min(ranks) AS best,
               CAST(list_position(ranks, list_min(ranks)) AS INT) AS pos
        FROM (
          SELECT word, syms, it,
                 list_transform(range(1, len(syms)), i -> {rank_case})
                   AS ranks
          FROM bpe_enc))
      WHERE best < 999999
    ),
    bpe_fin AS (
      SELECT word, len(syms) AS ntok,
             list_transform(syms, s -> CAST({id_case} AS INT)) AS ids
      FROM (SELECT word, syms, row_number()
                     OVER (PARTITION BY word ORDER BY it DESC) AS rn
            FROM bpe_enc)
      WHERE rn = 1
    ),
    bpe_cw AS (
      SELECT doc_id, chunk_id, CAST(i AS INT) AS ord,
             string_split(chunk_text, ' ')[CAST(i AS INT)] AS word
      FROM c, unnest(range(1, len(string_split(chunk_text, ' ')) + 1))
               AS u(i)
    ),
    bpe_chunk AS (
      SELECT doc_id, chunk_id,
             CAST(SUM(f.ntok) AS BIGINT) AS n_bpe_tokens,
             array_to_string(flatten(list(f.ids ORDER BY ord))[1:8], ' ')
               AS bpe_prefix
      FROM bpe_cw JOIN bpe_fin f USING (word)
      GROUP BY doc_id, chunk_id
    )"""


@query(
    "document_chunks",
    f"""
    WITH RECURSIVE t AS (SELECT doc_id, {_SQL_TOKS} AS l FROM documents),
    c AS (
      SELECT doc_id, chunk_id,
             array_to_string(l[chunk_id*24+1:chunk_id*24+32], ' ') AS chunk_text,
             len(l[chunk_id*24+1:chunk_id*24+32]) AS n_chunk_tokens
      FROM t, unnest(generate_series(
               0, CAST(floor((greatest(len(l)-32,0)+23)/24) AS INT))) AS u(chunk_id)
    ),
    {_dc_bpe_sql()},
    p AS (
      SELECT doc_id, chunk_id, chunk_text, n_chunk_tokens,
             (doc_id % 8) * 4294967296
               + CAST(floor(COALESCE(SUM(n_chunk_tokens) OVER (
                     PARTITION BY doc_id % 8 ORDER BY doc_id, chunk_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     / 128.0) AS BIGINT) AS pack_id
      FROM c
    )
    SELECT p.doc_id, p.chunk_id, p.chunk_text, p.n_chunk_tokens, p.pack_id,
           COALESCE(b.n_bpe_tokens, 0) AS n_bpe_tokens,
           COALESCE(b.bpe_prefix, '') AS bpe_prefix
    FROM p LEFT JOIN bpe_chunk b USING (doc_id, chunk_id)
    """,
)
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (operators/text.py::
    chunk_documents): 32-token chunks, 8-token overlap — one training
    sample per row, generated map-side with no shuffle.

    Round 9 absorbs sequence packing (operators/text.py::pack_chunks,
    driver 50-query cap): every chunk also carries the pack_id
    assigning it to a ~128-token training sequence. The row passes
    pack_chunks an EXPLICIT shard_col (doc_id % 8) instead of the
    default xxhash64 sharding, so the assignment is engine-independent
    and the oracle replays the exact greedy semantics — shard *
    2^32 + floor(running-sum-before / max_tokens) over the same
    (doc_id, chunk_id) order — per chunk, in SQL. A single chunk
    landing in the wrong pack anywhere in the corpus fails the hash.
    The xxhash64 default is the same window with a different
    partition key (equivalence + bounds in tests/test_dedup_text.py
    ::TestPackChunks).

    Round 16 absorbs the REAL BPE surface (VERDICT r15 #2, driver
    50-query cap): every chunk also carries `n_bpe_tokens` — the real
    byte-level BPE token count through bpe.py::bpe_token_count's
    Arrow-batched merge loop — and `bpe_prefix`, the first 8 token
    ids through bpe.py::bpe_encode, both under the frozen
    `_DC_BPE_MERGES` literal. The oracle replays the greedy
    lowest-rank/leftmost merge loop itself in a recursive CTE
    (`_dc_bpe_sql`), so a wrong merge ORDER — not just a wrong count —
    flips the hash (see the literal's docstring for the planted
    order-sensitive words)."""
    from ..operators.bpe import BpeTokenizer, bpe_encode, bpe_token_count

    docs = load_table(spark, sf_dir, "documents")
    chunks = X.chunk_documents(docs, chunk_tokens=32, overlap=8)
    packed = X.pack_chunks(
        chunks.withColumn("__shard_key", F.pmod(F.col("doc_id"), F.lit(8))),
        max_tokens=128,
        shard_col="__shard_key",
    ).drop("__shard_key")
    tok = BpeTokenizer(list(_DC_BPE_MERGES), byte_level=True)
    counted = bpe_token_count(
        packed, tokenizer=tok, text_col="chunk_text", out_col="n_bpe_tokens"
    )
    return (
        bpe_encode(
            counted, tokenizer=tok, text_col="chunk_text", out_col="__ids"
        )
        .withColumn(
            # space-joined string, not array<int>: the driver's value
            # compare stringifies cells, and list-vs-ndarray reprs
            # diverge across engines for identical arrays
            "bpe_prefix",
            F.array_join(F.slice("__ids", 1, 8), " "),
        )
        .drop("__ids")
    )


#: 8-token shingle list over a token-list column `t` (DuckDB) — the
#: SQL twin of operators.dedup.shingles(col, k=8)
_SQL_SHINGLES8 = """
    CASE WHEN len(t) <= 8 THEN [array_to_string(t, ' ')]
         ELSE list_transform(range(1, len(t) - 6),
                             i -> array_to_string(t[i:i+7], ' '))
    END"""


#: Frozen registered-literal parameters for the curation row's learned
#: gates — the kmeans_anomaly_scores frozen-centroid precedent: both
#: serving paths are plain float folds, so embedding the SAME literals
#: in the Spark plan and the oracle SQL makes the gates exactly
#: replayable. Weights/log-probs are dyadic rationals (multiples of
#: 1/64) so every sum is EXACT in double regardless of fold order; the
#: only engine-rounded steps are the final divisions and exp(), with
#: thresholds chosen >= 1e-4 away from every document's score at
#: sf0.001/0.01/0.1 (measured) so a last-ulp exp() divergence cannot
#: flip a gate.
_CUR_SPAN_TOKENS = 16
_CUR_SPAN_MIN_DOCS = 3
_CUR_QM_INTERCEPT = -1.0
#: weight per FEATURE_COLS position: (n_chars, n_tokens,
#: mean_token_len, punct_ratio, upper_ratio, stopword_ratio)
_CUR_QM_WEIGHTS = (0.0, 0.03125, -0.25, -4.0, -2.0, 2.0)
_CUR_MIN_QUALITY = 0.3
_CUR_LM_TIER1 = (
    "join", "hash", "row", "batch", "scan", "customer", "column",
    "filter", "small", "slow", "merge", "order", "vector", "line",
    "data", "table", "agg", "value", "key", "stream",
)
_CUR_LM_TIER2 = (
    "window", "spark", "a", "group", "part", "big", "sort", "query",
    "fast", "the",
)
_CUR_LM_LOGP1, _CUR_LM_LOGP2, _CUR_LM_OOV = -3.0, -3.5, -6.5
_CUR_MIN_LM = -3.203125
#: frozen bigram table for the r9 lm2_logprob column (REAL
#: bigram_logprob_score serving, stupid backoff): keys over the tier
#: vocabulary so hits demonstrably occur in the corpus, log-probs and
#: the backoff penalty all dyadic so every sum is exact (the unigram
#: rung's argument); the unigram columns of the bigram model are the
#: SAME tier literals, so the backoff arm replays through the
#: identical lm_of CASE.
_CUR_BG = (
    ("hash join", -1.0), ("row batch", -1.25), ("table value", -1.5),
    ("key scan", -1.75), ("the fast", -2.0), ("data column", -2.25),
    ("value part", -2.5), ("small slow", -2.75),
)
_CUR_BG_BACKOFF = -0.75


def _curation_oracle_sql() -> str:
    """DuckDB twin of the full curation ladder. The span-mask stage is
    replayed on window STRINGS (md5 is injective modulo collisions, so
    counting the strings themselves is the independent twin of the
    engine's portable md5-hash path); every learned-gate float is the
    same registered literal the Spark plan folds in."""
    L = _CUR_SPAN_TOKENS
    t1 = ", ".join(f"'{w}'" for w in _CUR_LM_TIER1)
    t2 = ", ".join(f"'{w}'" for w in _CUR_LM_TIER2)
    b, w = _CUR_QM_INTERCEPT, _CUR_QM_WEIGHTS
    def lm_case(var: str) -> str:
        return (
            f"CASE WHEN {var} IN ({t1}) THEN CAST({_CUR_LM_LOGP1} AS DOUBLE) "
            f"WHEN {var} IN ({t2}) THEN CAST({_CUR_LM_LOGP2} AS DOUBLE) "
            f"ELSE CAST({_CUR_LM_OOV} AS DOUBLE) END"
        )

    lm_of = lm_case("x")
    bg_of = " ".join(
        f"WHEN '{k}' THEN CAST({v} AS DOUBLE)" for k, v in _CUR_BG
    )
    # stupid-backoff pair score: seen bigram logp, else backoff + the
    # SAME unigram CASE instantiated on the pair's second word
    pair_of = (
        f"CASE tkf[i] || ' ' || tkf[i+1] {bg_of} "
        f"ELSE CAST({_CUR_BG_BACKOFF} AS DOUBLE) + {lm_case('tkf[i+1]')} END"
    )
    return f"""
    WITH toks0 AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    wins AS (
        SELECT doc_id, CAST(i AS INT) AS i,
               array_to_string(t[i:i+{L - 1}], ' ') AS win
        FROM toks0, unnest(range(1, greatest(len(t) - {L} + 1, 0) + 1)) AS u(i)
    ),
    freq AS (
        SELECT win
        FROM (SELECT win, COUNT(DISTINCT doc_id) AS nd FROM wins GROUP BY win)
        WHERE nd >= {_CUR_SPAN_MIN_DOCS}
    ),
    starts AS (
        SELECT doc_id, list(i) AS ss FROM wins
        WHERE win IN (SELECT win FROM freq) GROUP BY doc_id
    ),
    masked AS (
        SELECT toks0.doc_id,
               array_to_string(
                   CASE WHEN ss IS NULL THEN t
                        ELSE list_filter(t, (tok, p) ->
                            len(list_filter(ss, s -> p >= s AND p <= s + {L - 1})) = 0)
                   END, ' ') AS text
        FROM toks0 LEFT JOIN starts USING (doc_id)
    ),
    survivors AS (
        SELECT MIN(doc_id) AS doc_id
        FROM (SELECT doc_id, md5({_SQL_NORM}) AS fp FROM masked)
        GROUP BY fp
    ),
    kept AS (
        SELECT m.doc_id, m.text FROM masked m JOIN survivors USING (doc_id)
    ),
    bench_sh AS (
        SELECT DISTINCT unnest({_SQL_SHINGLES8}) AS shingle
        FROM (SELECT {_SQL_TOKS} AS t FROM documents WHERE doc_id % 101 = 7)
    ),
    doc_sh AS (
        SELECT doc_id, unnest(list_distinct({_SQL_SHINGLES8})) AS shingle
        FROM (SELECT doc_id, {_SQL_TOKS} AS t FROM kept)
    ),
    contaminated AS (
        SELECT DISTINCT doc_id FROM doc_sh JOIN bench_sh USING (shingle)
    ),
    clean AS (
        SELECT k.doc_id, k.text FROM kept k
        WHERE k.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    scored AS (
        SELECT doc_id, text, {_SQL_TOKS} AS tk,
               len({_SQL_TOKS}) AS n_tokens,
               len(list_filter({_SQL_TOKS}, x -> x IN ('der','die','und','das','ist'))) AS s_de,
               len(list_filter({_SQL_TOKS}, x -> x IN ('the','and','of','to','is'))) AS s_en,
               len(list_filter({_SQL_TOKS}, x -> x IN ('el','la','los','es','y'))) AS s_es,
               len(list_filter({_SQL_TOKS}, x -> x IN ('le','la','et','les','est'))) AS s_fr
        FROM clean
    ),
    langed AS (
        SELECT * FROM scored
        WHERE n_tokens >= 10
          AND greatest(s_de, s_en, s_es, s_fr) > 0
          AND s_en = greatest(s_de, s_en, s_es, s_fr)
          AND NOT (s_de = greatest(s_de, s_en, s_es, s_fr))
    ),
    qual AS (
        SELECT doc_id, tk, n_tokens,
               1.0 / (1.0 + exp(-(({b})
                   + ({w[0]}) * length(text)
                   + ({w[1]}) * n_tokens
                   + ({w[2]}) * (CAST(length(text) AS DOUBLE) / greatest(n_tokens, 1))
                   + ({w[3]}) * (CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / greatest(length(text), 1))
                   + ({w[4]}) * (CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE) / greatest(length(text), 1))
                   + ({w[5]}) * (CAST(s_en AS DOUBLE) / greatest(n_tokens, 1))))) AS q
        FROM langed
    ),
    lmed AS (
        SELECT doc_id, n_tokens, q,
               list_filter(tk, x -> x != '') AS tkf,
               CASE WHEN len(list_filter(tk, x -> x != '')) > 0
                    THEN list_sum(list_transform(list_filter(tk, x -> x != ''),
                                                 x -> {lm_of}))
                         / len(list_filter(tk, x -> x != ''))
                    ELSE CAST({_CUR_LM_OOV} AS DOUBLE) END AS lmscore
        FROM qual
        WHERE q >= {_CUR_MIN_QUALITY}
    ),
    lmed2 AS (
        SELECT doc_id, n_tokens, q, lmscore,
               CASE WHEN len(tkf) > 0
                    THEN ({lm_case('tkf[1]')}
                          + coalesce(list_sum(list_transform(
                                range(1, len(tkf)), i -> {pair_of})), 0.0))
                         / len(tkf)
                    ELSE CAST({_CUR_LM_OOV} AS DOUBLE) END AS lm2score
        FROM lmed
    )
    SELECT doc_id, n_tokens,
           round(q, 6) AS quality_score,
           round(lmscore, 6) AS lm_logprob,
           round(lm2score, 6) AS lm2_logprob,
           CASE WHEN instr('0123456789abcdef',
                           substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 >= 14
                THEN 'val' ELSE 'train' END AS split
    FROM lmed2
    WHERE lmscore >= {_CUR_MIN_LM}
    """


@query("corpus_curation_pipeline", _curation_oracle_sql())
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation, the composition the individual
    operators exist for: cross-document span masking (portable-hash
    mode) -> exact dedup -> benchmark decontamination -> token-count
    quality gate -> English-only language filter -> LEARNED quality
    gate (frozen logistic model, one folded sigmoid expression) ->
    unigram-LM perplexity-proxy gate (fixed reference vocab, one
    broadcast map + fold) -> deterministic train/val split.

    Round 9 adds the bigram rung under the driver hash: `lm2_logprob`
    is scored by the REAL stupid-backoff serving fold
    (quality_model.bigram_logprob_score) over a frozen dyadic bigram
    table sharing the tier unigram literals, and the oracle replays
    first-token-unigram + per-pair seen-bigram/backoff in exact
    arithmetic (182 of 500 sf0.01 docs contain >= 1 frozen bigram, so
    BOTH arms demonstrably fire). An audit column, not a gate —
    survivor sets are unchanged.

    Round 7 folds in the round-6 flagship gates with frozen
    registered-literal parameters (the kmeans_anomaly_scores
    precedent): at sf0.01 the span mask rewrites the ~63 windows
    shared by >= 3 documents, the sigmoid gate drops ~120 of the 376
    language-gated docs and the LM gate ~29 more — every stage
    demonstrably active, every float replayed by the oracle (see
    _curation_oracle_sql for the exactness argument).

    The decontamination stage (round 5, driver-hash-checked) treats
    documents with doc_id % 101 == 7 as the held-out eval set: any
    surviving document sharing >= 1 distinct 8-token shingle with a
    RAW eval item — including the eval docs themselves — is dropped
    via operators.decontaminate (benchmark shingles BROADCAST; the
    corpus side never shuffles for the match).

    Shuffle accounting at 100 TB: the span mask's (hash, id)
    aggregation + bounded flagged-starts join-back, dedup's
    fingerprint groupBy + id semi-join, the (matched-pairs-sized)
    contamination aggregate; tokenization, language scoring, BOTH
    learned gates (coefficients/vocab ride as literals / one broadcast
    map row) and the split label remain narrow projections fused by
    whole-stage codegen. (The oracle's de-vs-en CASE mirrors
    pred_lang's alphabetical tie-break: 'de' wins ties.)"""
    from ..operators.decontaminate import decontaminate
    from ..operators.quality_model import (
        QualityModel,
        score_quality,
        unigram_logprob_score,
    )
    from ..operators.sampling import train_val_split
    from ..operators.text import mask_frequent_spans

    docs = load_table(spark, sf_dir, "documents")
    masked = mask_frequent_spans(
        docs.select("doc_id", "text"),
        span_tokens=_CUR_SPAN_TOKENS,
        min_docs=_CUR_SPAN_MIN_DOCS,
        portable=True,
    ).drop("n_span_tokens_dropped")
    kept = D.dedup_exact(masked)
    bench = docs.filter((F.col("doc_id") % 101) == 7).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    clean = decontaminate(kept, bench, k=8, min_shared=1)
    # tokenize once per row (X._with_tokens barrier), then gate on the
    # attribute — pred_lang over raw text would re-split per when branch
    toksed = X._with_tokens(clean, "text")
    _, pred = X._lang_exprs_from(F.col("__toks"))
    enriched = toksed.select(
        "doc_id",
        F.col("__text").alias("text"),
        F.size(F.col("__toks")).alias("n_tokens"),
        pred.alias("pred_lang"),
    ).filter((F.col("n_tokens") >= 10) & (F.col("pred_lang") == "en"))
    model = QualityModel(weights=_CUR_QM_WEIGHTS, intercept=_CUR_QM_INTERCEPT)
    scored = score_quality(enriched, model, "text").filter(
        F.col("quality_score") >= _CUR_MIN_QUALITY
    )
    lm = spark.createDataFrame(
        [(
            list(_CUR_LM_TIER1 + _CUR_LM_TIER2),
            [_CUR_LM_LOGP1] * len(_CUR_LM_TIER1)
            + [_CUR_LM_LOGP2] * len(_CUR_LM_TIER2),
            _CUR_LM_OOV,
        )],
        "__lm_vocab: array<string>, __lm_logp: array<double>, __lm_oov: double",
    )
    lmed = unigram_logprob_score(scored, lm, "text").filter(
        F.col("lm_logprob") >= _CUR_MIN_LM
    )
    # r9: the bigram rung, scored by the REAL stupid-backoff serving
    # fold (bigram_logprob_score) under a frozen dyadic bigram table
    # whose unigram columns are the same tier literals — an audit
    # column, not a gate, so every survivor set above is unchanged
    from ..operators.quality_model import bigram_logprob_score

    bg_lm = spark.createDataFrame(
        [(
            list(_CUR_LM_TIER1 + _CUR_LM_TIER2),
            [_CUR_LM_LOGP1] * len(_CUR_LM_TIER1)
            + [_CUR_LM_LOGP2] * len(_CUR_LM_TIER2),
            _CUR_LM_OOV,
            [k for k, _ in _CUR_BG],
            [v for _, v in _CUR_BG],
            _CUR_BG_BACKOFF,
        )],
        "__lm_vocab: array<string>, __lm_logp: array<double>, "
        "__lm_oov: double, __bg_keys: array<string>, "
        "__bg_logp: array<double>, __bg_backoff: double",
    )
    lmed2 = bigram_logprob_score(lmed, bg_lm, "text")
    return train_val_split(lmed2, "doc_id", val_buckets=2).select(
        "doc_id",
        "n_tokens",
        F.round("quality_score", 6).alias("quality_score"),
        F.round("lm_logprob", 6).alias("lm_logprob"),
        F.round("lm2_logprob", 6).alias("lm2_logprob"),
        "split",
    )


@query(
    "url_curation",
    f"""
    WITH u AS (
        SELECT doc_id, source,
               CASE CAST(doc_id % 4 AS INT)
                    WHEN 0 THEN 'www' WHEN 1 THEN 'blog'
                    WHEN 2 THEN 'shop' ELSE 'news' END AS sub,
               doc_id % 300 AS page
        FROM documents
    ),
    ident AS (
        SELECT doc_id, source, sub, page,
               source || '.com' AS dom,
               CASE WHEN sub = 'www' THEN source || '.com'
                    ELSE sub || '.' || source || '.com' END AS host,
               (CASE WHEN sub = 'www' THEN '' ELSE sub || '.' END)
                 || source || '.com'
                 || (CASE WHEN page % 13 = 5 THEN ':8080' ELSE '' END)
                 || '/p/' || CAST(page AS VARCHAR)
                 || (CASE WHEN doc_id % 10 = 2
                          THEN '?id=' || CAST(doc_id % 5 AS VARCHAR)
                          ELSE '' END) AS nurl
        FROM u
    ),
    surv AS (SELECT MIN(doc_id) AS doc_id FROM ident GROUP BY nurl),
    dd AS (SELECT i.* FROM ident i JOIN surv USING (doc_id)),
    unblocked AS (
        SELECT * FROM dd
        WHERE NOT (source = 'src7' OR (source = 'src11' AND sub = 'blog'))
    ),
    capped AS (
        SELECT *, row_number() OVER (PARTITION BY dom ORDER BY doc_id) AS rn
        FROM unblocked
    ),
    stripped AS (
        SELECT c.doc_id, c.host, c.dom,
               'Doc & ' || CAST(c.doc_id AS VARCHAR) || chr(10) || chr(10)
                 || d.text || chr(10) || chr(10) || 'footer' AS text,
               trim(regexp_replace(d.text, '[ \t\n\r]+', ' ', 'g')) AS nrm
        FROM capped c JOIN documents d ON c.doc_id = d.doc_id
        WHERE c.rn <= 8
    ),
    dom_leg AS (
        SELECT *, len(regexp_split_to_array(nrm, ' ')) AS nw
        FROM stripped
    )
    SELECT doc_id, host AS url_host, dom AS url_domain,
           CAST(2 AS INT) AS url_path_depth,
           (doc_id % 3 = 0 OR doc_id % 10 = 2) AS url_has_query,
           md5(text) AS stripped_fp,
           CAST(len({_SQL_TOKS}) AS INT) AS n_stripped_tokens,
           CAST(doc_id % 5 AS INT) <> 0 AS url_is_content,
           CAST(doc_id % 7 AS INT) <> 1 AS url_depth_ok,
           CAST(doc_id % 11 AS INT) <> 2 AS url_query_ok,
           CAST(doc_id % 13 AS INT) <> 3 AS url_host_digits_ok,
           (CAST(doc_id % 5 AS INT) <> 0 AND CAST(doc_id % 7 AS INT) <> 1
            AND CAST(doc_id % 11 AS INT) <> 2
            AND CAST(doc_id % 13 AS INT) <> 3) AS url_ok,
           CASE WHEN nw > 17
                THEN md5('Doc ' || CAST(doc_id AS VARCHAR) || ' heading'
                         || chr(10) || chr(10) || nrm)
                WHEN nw > 16 THEN md5(nrm)
                ELSE md5('') END AS dom_fp,
           CAST(CASE WHEN nw > 17 THEN 2 WHEN nw > 16 THEN 1
                     ELSE 0 END AS INT) AS n_content_blocks,
           CAST(CASE WHEN nw > 17 THEN 3 WHEN nw > 16 THEN 4
                     ELSE 5 END AS INT) AS n_boilerplate_blocks
    FROM dom_leg
    """,
)
def url_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The URL/domain provenance rung (operators/web.py) under the
    driver gate: deterministic synthetic URLs are built per document
    (subdomain from doc_id % 4 incl. a strippable 'www', domain from
    the source, page id from doc_id % 300 so refetch collisions exist (source is doc_id % 20, so identity is a function of doc_id mod 300: 300 survivors at sf0.01, 200 URL-duplicate drops),
    a ':8080' origin variant, a trailing-slash variant, utm tracking
    decorations and a real '?id=' parameter), then the REAL operators
    run: normalize_url identity dedup (tracking variants and 'www.'
    collapse, the real parameter and the non-default port survive),
    host-suffix blocklist filtering (a whole-domain entry 'src7.com'
    AND a host-level entry 'blog.src11.com' — the UT1 shape — each
    demonstrably dropping rows), and the hot-domain-isolated
    per-domain cap (max 8 min-id docs per registered domain — binding
    on every domain at sf0.01). The oracle replays the identity, the
    block rules and the cap analytically from the same generation
    formulas — an independent twin, not a re-run of parse_url.

    Round 7 also folds in the HTML-extraction leg under the PNG/WAV
    identity trick: each surviving doc's text is wrapped in a fixed
    HTML template (head subtree carrying title/style/script junk, an
    entity in the heading, block structure around the body text),
    the REAL strip_html runs, and the md5 + token count of the
    extracted text hash-check against the analytically known
    'Doc & {id}\\n\\n{text}\\n\\nfooter' — a regression in subtree
    dropping, tag unwrapping, entity decoding or whitespace
    collapsing shifts the fingerprint.

    Replaces the former `train_val_split_counts` row under the
    driver's 50-query cap: the md5-bucket split surface is hash-
    checked per-document (strictly stronger than counts) inside
    corpus_curation_pipeline, and stays pytest-covered in
    tests/test_sampling.py.

    Round 8 folds in url_quality_flags (VERDICT r7 item 4): each
    surviving doc gets a PROBE url with deterministic pathologies
    (doc_id%5==0 -> .css asset path, %7==1 -> 10-deep path, %11==2 ->
    132-char query, %13==3 -> digit-heavy host; ratio >= 9/16 > 0.4,
    vs <= 2/10 on the clean 'w{{source}}.org' hosts), the REAL
    operator computes the five flags, and the oracle replays them
    analytically from the same residue formulas — every flag
    demonstrably False on some rows at sf0.01. NULL-url semantics
    (explicit False) stay pytest-pinned (no NULL urls survive here).

    Round 9 folds in the DOM-extraction leg (operators/extract.py,
    VERDICT r8 item 2): a probe page per surviving doc with
    analytically known block structure runs through the REAL
    extract_main_content, and the oracle replays the Kohlschütter
    NumWordsRules verdicts from the doc's word count (see the inline
    comment for the per-block derivation): dom_fp is the md5 of the
    kept text, n_content_blocks/n_boilerplate_blocks the audit
    counts. The footer probe is prose-heavy enough to pass the
    shallow rules — its absence from dom_fp proves the semantic
    chrome pruning, not just the link-density rule."""
    from ..operators.extract import extract_main_content
    from ..operators.text import strip_html
    from ..operators.web import (
        cap_per_domain,
        dedup_by_url,
        filter_blocklisted_domains,
        url_features,
        url_quality_flags,
    )

    docs = load_table(spark, sf_dir, "documents")
    sub = F.element_at(
        F.array(F.lit("www"), F.lit("blog"), F.lit("shop"), F.lit("news")),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    page = F.col("doc_id") % 300
    port = F.when(page % 13 == 5, F.lit(":8080")).otherwise(F.lit(""))
    real = F.when(
        F.col("doc_id") % 10 == 2, F.concat(F.lit("id="), F.col("doc_id") % 5)
    )
    track = F.when(
        F.col("doc_id") % 3 == 0, F.lit("utm_source=feed&utm_medium=m")
    )
    q = F.concat_ws("&", real, track)
    url = F.concat(
        F.lit("https://"), sub, F.lit("."), F.col("source"), F.lit(".com"),
        port, F.lit("/p/"), page,
        F.when(F.col("doc_id") % 6 == 1, F.lit("/")).otherwise(F.lit("")),
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
    )
    withu = docs.select("doc_id", "source", "text").withColumn("url", url)
    deduped = dedup_by_url(withu)
    bl = spark.createDataFrame(
        [("src7.com",), ("blog.src11.com",)], "domain string"
    )
    filtered = filter_blocklisted_domains(deduped, bl)
    # over_cap_rows_hint (round 14, VERDICT r13 item 4): the URL
    # generation formula bounds the registered-domain universe at
    # |sources| (the domain is '{source}.com', sources = doc_id % 20),
    # so the over-cap list is provably <= 64 rows at every SF — the
    # plan-time count() probe the measured gate would run costs
    # ~2.5-3 s per driver call here (it re-evaluates the dedup chain),
    # which was MOST of this row's 5.2-5.5 s budget cost. Production
    # callers without a provable bound keep the measured default
    # (jobs/training_data.py).
    capped = cap_per_domain(filtered, max_docs=8, over_cap_rows_hint=64)
    probe_url = F.concat(
        F.lit("https://"),
        F.when(
            F.col("doc_id") % 13 == 3,
            F.concat(F.lit("h"), F.col("doc_id") % 1000, F.lit("12345678.org")),
        ).otherwise(F.concat(F.lit("w"), F.col("source"), F.lit(".org"))),
        F.when(F.col("doc_id") % 7 == 1, F.lit("/d/d/d/d/d/d/d/d/d")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/style.css")).otherwise(
            F.lit("/page")
        ),
        F.when(
            F.col("doc_id") % 11 == 2,
            F.concat(F.lit("?k="), F.repeat(F.lit("x"), 130)),
        ).otherwise(F.lit("")),
    )
    flagged = url_quality_flags(capped.withColumn("__probe_url", probe_url),
                                url_col="__probe_url")
    # HTML-extraction identity (the PNG/WAV trick): wrap each surviving
    # doc's text in a fixed HTML template whose head subtree carries
    # script/style junk and whose visible text is analytically known
    # ('Doc & {id}\n\n{text}\n\nfooter'), run the REAL strip_html, and
    # hash the result — any regression in subtree dropping, tag
    # unwrapping, entity decoding or whitespace collapsing shifts the
    # md5 and fails the row
    html = F.concat(
        F.lit("<html><head><title>t"), F.col("doc_id"),
        F.lit("</title><style>p{color:red}</style><script>var x=1;"
              "</script></head><body><h1>Doc &amp; "),
        F.col("doc_id"),
        F.lit("</h1><p>"), F.col("text"),
        F.lit("</p><div>footer</div></body></html>"),
    )
    # DOM-extraction leg (round 9, VERDICT r8 item 2): a probe page per
    # surviving doc with ANALYTICALLY KNOWN block structure — chrome
    # blocks (<nav>, <footer>) with fixed text, a link-dense sidebar
    # (link density 5/6 > 1/3 -> boilerplate by the shallow rule), a
    # 3-word heading, and the doc text as the lone content-candidate
    # block. The REAL extract_main_content runs; the oracle replays the
    # NumWordsRules verdicts from the doc's SQL-computable word count:
    # heading kept iff nw > 17 (link-dense-neighborhood rule: next
    # block > 17 words), body kept iff nw > 16 (all three classes are
    # populated at sf0.01: 467 / 4 / 29 docs). The prose-heavy footer
    # (8 words, prev > 4 words) would be CONTENT by the shallow rules —
    # only the semantic chrome pruning drops it, so the md5 proves that
    # rule is load-bearing, not decorative.
    dom_html = F.concat(
        F.lit("<html><head><title>t"), F.col("doc_id"),
        F.lit('</title><script>var n=1;</script></head><body>'
              '<nav><a href="/">Home</a> <a href="/n">News</a> '
              '<a href="/s">Sports</a></nav>'
              '<div><a href="/t1">trending story one</a> '
              '<a href="/t2">sports digest two</a></div>'
              '<h1>Doc '),
        F.col("doc_id"),
        F.lit(" heading</h1><p>"), F.col("text"),
        F.lit("</p><footer>Copyright 2026 Example Media all rights "
              "reserved prose</footer></body></html>"),
    )
    stripped = strip_html(
        flagged.withColumn("__dom_html", dom_html).withColumn("html", html)
    )
    extracted = extract_main_content(stripped, "__dom_html", "__dom_text")
    return url_features(extracted).select(
        "doc_id",
        "url_host",
        "url_domain",
        "url_path_depth",
        "url_has_query",
        F.md5("text").alias("stripped_fp"),
        X.token_count("text").alias("n_stripped_tokens"),
        "url_is_content",
        "url_depth_ok",
        "url_query_ok",
        "url_host_digits_ok",
        "url_ok",
        F.md5("__dom_text").alias("dom_fp"),
        "n_content_blocks",
        "n_boilerplate_blocks",
    )


@query(
    "text_quality_stats",
    f"""
    WITH scored AS (
        SELECT doc_id,
               length(text) AS n_chars,
               len({_SQL_TOKS}) AS n_tokens,
               CAST(length(text) AS DOUBLE) / greatest(len({_SQL_TOKS}), 1) AS mean_token_len,
               CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / greatest(length(text), 1) AS punct_ratio,
               CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE) / greatest(length(text), 1) AS upper_ratio,
               CAST(len(list_filter({_SQL_TOKS}, x -> x IN ('the','and','of','to','is'))) AS DOUBLE)
                   / greatest(len({_SQL_TOKS}), 1) AS stopword_ratio,
               len(list_filter({_SQL_TOKS}, x -> x IN ('der','die','und','das','ist'))) AS score_de,
               len(list_filter({_SQL_TOKS}, x -> x IN ('the','and','of','to','is'))) AS score_en,
               len(list_filter({_SQL_TOKS}, x -> x IN ('el','la','los','es','y'))) AS score_es,
               len(list_filter({_SQL_TOKS}, x -> x IN ('le','la','et','les','est'))) AS score_fr
        FROM documents
    )
    SELECT doc_id, n_chars, n_tokens, mean_token_len, punct_ratio,
           upper_ratio, stopword_ratio,
           score_de, score_en, score_es, score_fr,
           CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
                WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
                WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
                WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
                WHEN score_fr = greatest(score_de, score_en, score_es, score_fr) THEN 'fr'
           END AS pred_lang
    FROM scored
    """,
)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text profile: quality metrics (length, token count,
    punctuation/uppercase/stopword ratios) plus the stopword-marker
    language ID with deterministic tie-break — all pure regexp/HOF
    expressions fused into one whole-stage-codegen projection.

    Round 3: absorbs the former `detect_language_heuristic` entry
    (same scan, same stage — driver 50-query cap)."""
    docs = load_table(spark, sf_dir, "documents")
    return X.profile_documents(docs)


@query(
    "ngram_jaccard_same_source",
    _exact_jaccard_oracle_sql_same_source(0.5),
)
def ngram_jaccard_same_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram Jaccard >= 0.5 pairs within a source — 100% recall
    at near-linear cost via prefix filtering
    (operators/dedup.py::ngram_jaccard_pairs_exact).

    Round-3 rewrite: the round-2 version generated candidates with
    MinHash bands, which at J=0.5 with 32 hashes/8 bands (r=4) only
    surfaces a truly qualifying pair with probability
    1-(1-0.5^4)^8 ~ 40% — it silently dropped most borderline pairs
    while its oracle replayed the same lossy cascade. Prefix filtering
    restores exactness WITHOUT the per-source all-pairs join the
    banding was introduced to kill: candidates are pairs sharing a
    same-source shingle among each document's rarest
    floor(n/2)+1 shingles (lossless for any global shingle order —
    proof in the operator docstring). The oracle is now an INDEPENDENT
    brute-force all-pairs Jaccard in DuckDB, so the hash-match would
    catch a candidate-generation recall bug."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs_exact(
        docs, k=3, threshold=0.5, group_col="source"
    )


_COS_SQL = (
    "list_sum(list_transform(list_zip(a.vec, q.vec), x -> x[1]*x[2]))"
    " / (sqrt(list_sum(list_transform(a.vec, x -> x*x)))"
    " * sqrt(list_sum(list_transform(q.vec, x -> x*x))))"
)


@query(
    "ann_cosine_topk",
    f"""
    WITH corpus AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    queries AS (
        SELECT vec_id AS query_id, vec FROM corpus WHERE vec_id < 3
    ),
    scored AS (
        SELECT q.query_id, a.vec_id,
               round({_COS_SQL.replace('q.vec', 'q.vec')}, 6) AS cos_sim
        FROM corpus a CROSS JOIN queries q
    ),
    ranked AS (
        SELECT query_id, vec_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 10
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 3 query vectors — the exact
    baseline of the ANN tier. Cosine is the same sequential double
    fold on both engines, rounded to 6 dp before ranking."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("vec")
    )
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("query_vec")
    )
    out = S.cosine_topk(
        emb, queries_df, k=10, id_col="vec_id", vec_col="vec"
    )
    return out.select(
        "query_id",
        "vec_id",
        F.round("cos_sim", 6).alias("cos_sim"),
        "rank",
    )


@query(
    "embedding_norms_by_label",
    """
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(SUM(CAST(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS DECIMAL(18,12))) AS DOUBLE) AS sum_norm
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_norms_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column aggregation: per-cluster L2-norm sums (decimal-
    exact accumulation over per-row doubles)."""
    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.transform("embedding", lambda x: x.cast("double"))
    norm = F.sqrt(
        F.aggregate(
            F.transform(vec, lambda x: x * x), F.lit(0.0), lambda a, v: a + v
        )
    )
    return (
        emb.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.col("norm").cast("decimal(18,12)")).cast("double").alias("sum_norm"),
        )
    )


# --- oracle-replayed approximate operators ---------------------------------
#
# These four used to be rows-only: their hashing was engine-internal
# (xxhash64 / driver-side hyperplanes). They are now fully
# deterministic cross-engine constructions:
# - MinHash/SimHash run in `portable` mode — the md5-derived 60-bit
#   hash (operators/text.portable_hash60) replayed verbatim in SQL;
# - the LSH hyperplanes are seeded driver constants embedded as
#   literals in BOTH the Spark plan and the oracle SQL;
# - IVF's centroid -> nprobe -> top-k cascade is plain relational
#   algebra, rounded to 6 dp before every rank/filter so a last-ulp
#   float divergence cannot flip the hash.
# The xxhash64 fast paths remain the engine defaults for production;
# portable mode costs ~3-4x per hash and exists exactly for this kind
# of external verification.

@query("minhash_near_duplicates", _minhash_modes_oracle_sql(0.5))
def minhash_near_duplicates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs in portable-hash mode: the oracle
    replays shingling, all 32 min-hashes, the 8-band bucketing AND the
    exact-Jaccard verify, so the hash-match covers the full cascade.

    Round 8 absorbs the Unicode/CJK rung (VERDICT r7 item 2) as a
    second leg under the same slot: the corpus is Han-mapped via the
    deterministic CJK identity (_cjk_of — the PNG/WAV trick) and the
    REAL near-dup ladder runs with unicode=True, so tokens_unicode's
    one-token-per-CJK-character rule, the CJK-aware shingling and the
    banding all execute hash-checked under the driver; a CJK near-pair
    demonstrably surfaces (the corpus' duplicate structure survives
    the character bijection). The oracle rebuilds the Han text
    independently (chr/ord) and re-tokenizes it with an RE2
    block-range class — never the Java-only class intersection.
    Output: (mode, id_a, id_b, jaccard), mode in ('ascii', 'cjk')."""
    docs = load_table(spark, sf_dir, "documents")
    ascii_pairs = D.minhash_near_duplicates(
        docs, threshold=0.5, portable=True
    ).withColumn("mode", F.lit("ascii"))
    cjk_docs = docs.select(
        "doc_id", _cjk_of(X.normalize_text(F.col("text"))).alias("text")
    )
    cjk_pairs = D.minhash_near_duplicates(
        cjk_docs, k=_CJK_SHINGLE_K, threshold=0.5, portable=True, unicode=True
    ).withColumn("mode", F.lit("cjk"))
    return ascii_pairs.unionByName(cjk_pairs).select(
        "mode", "id_a", "id_b", "jaccard"
    )


_SIMHASH_BITS = 60
_SIMHASH_BANDS = 4


def _simhash_oracle_sql(max_hamming: int) -> str:
    chunk = _SIMHASH_BITS // _SIMHASH_BANDS
    bit_exprs = "\n               || ".join(
        "CASE WHEN COALESCE(list_sum(list_transform(hs, h -> CASE WHEN ((h >> "
        f"{b}) & 1) = 1 THEN 1 ELSE -1 END)), 0) > 0 THEN '1' ELSE '0' END"
        for b in range(_SIMHASH_BITS)
    )
    h_expr = _PORTABLE_H.format(seed="'0'", val="x")
    return f"""
    WITH th AS (
        SELECT doc_id,
               list_transform({_SQL_TOKS}, x -> {h_expr}) AS hs
        FROM documents
    ),
    sig AS (
        SELECT doc_id,
               {bit_exprs} AS s
        FROM th
    ),
    banded AS (
        SELECT doc_id, s, b.band_id,
               substr(s, b.band_id*{chunk} + 1, {chunk}) AS band_key
        FROM sig, (SELECT unnest(range({_SIMHASH_BANDS})) AS band_id) b
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                        a.s AS sa, b.s AS sb
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    dist AS (
        SELECT id_a, id_b,
               len(list_filter(range(1, {_SIMHASH_BITS} + 1),
                               i -> substr(sa, i, 1) <> substr(sb, i, 1))) AS hamming
        FROM cand
    )
    SELECT id_a, id_b, hamming FROM dist WHERE hamming <= {max_hamming}
    """


@query("simhash_near_duplicates", _simhash_oracle_sql(3))
def simhash_near_duplicates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup pairs, portable-hash mode (60 bits so
    the token hash fits the md5-prefix bigint on both engines); the
    oracle replays per-bit majority votes, pigeonhole banding and the
    Hamming verify."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_near_duplicates(
        docs, bits=_SIMHASH_BITS, bands=_SIMHASH_BANDS, max_hamming=3, portable=True
    )


def _lsh_pair_ctes(n_planes: int, bands: int, seed: int) -> str:
    """CTEs through `sims`: literal-hyperplane sign-bit banding,
    candidate self-join, exact cosine (rounded to 6 dp) — shared by
    the pair-set and the near-dedup-verdict oracles."""
    planes = S._hyperplanes(64, n_planes, seed)
    chunk = n_planes // bands
    # round(projection, 9) BEFORE the sign test on both engines: an
    # unrounded dot within an ulp of 0 could take a different sign under
    # DuckDB's summation order and flip a bucket nondeterministically
    sig_exprs = "\n               || ".join(
        "CASE WHEN round(list_sum(list_transform(list_zip(vec, ["
        + ", ".join(repr(x) for x in p)
        + "]), x -> x[1]*x[2])), 9) >= 0 THEN '1' ELSE '0' END"
        for p in planes
    )
    return f"""
    corpus AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    sigs AS (
        SELECT vec_id, vec,
               sqrt(list_sum(list_transform(vec, x -> x*x))) AS nrm,
               {sig_exprs} AS s
        FROM corpus
    ),
    banded AS (
        SELECT vec_id, vec, nrm, b.band_id,
               substr(s, b.band_id*{chunk} + 1, {chunk}) AS band_key
        FROM sigs, (SELECT unnest(range({bands})) AS band_id) b
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
                        a.vec AS va, b.vec AS vb, a.nrm AS na, b.nrm AS nb
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.vec_id < b.vec_id
    ),
    sims AS (
        SELECT id_a, id_b,
               round(list_sum(list_transform(list_zip(va, vb), x -> x[1]*x[2]))
                     / (na * nb), 6) AS cos_sim
        FROM cand
    )"""


def _lsh_neardup_oracle_sql(
    n_planes: int, bands: int, min_cosine: float, seed: int
) -> str:
    """Pair CTEs + recursive connected components + per-vector verdict
    — the DuckDB twin of similarity.near_dedup_embeddings plus the
    per-vector neighbor stats that carry the pair evidence."""
    return f"""
    WITH RECURSIVE {_lsh_pair_ctes(n_planes, bands, seed)},
    pairs AS (SELECT id_a, id_b, cos_sim FROM sims WHERE cos_sim >= {min_cosine}),
    sym AS (
        SELECT id_a AS u, id_b AS v, cos_sim FROM pairs
        UNION ALL
        SELECT id_b, id_a, cos_sim FROM pairs
    ),
    nbrs AS (
        SELECT u AS vec_id, COUNT(*) AS n_neighbors, MAX(cos_sim) AS max_cos
        FROM sym GROUP BY u
    ),
    reach(id, r) AS (
        SELECT DISTINCT u, u FROM sym
        UNION
        SELECT s2.v, reach.r FROM reach JOIN sym s2 ON reach.id = s2.u
    ),
    comp AS (SELECT id AS vec_id, MIN(r) AS survivor_id FROM reach GROUP BY id)
    SELECT c.vec_id,
           CAST(COALESCE(n.n_neighbors, 0) AS BIGINT) AS n_neighbors,
           n.max_cos AS max_cos,
           COALESCE(k.survivor_id, c.vec_id) AS survivor_id,
           (COALESCE(k.survivor_id, c.vec_id) = c.vec_id) AS is_survivor
    FROM corpus c
    LEFT JOIN nbrs n USING (vec_id)
    LEFT JOIN comp k USING (vec_id)
    """


@query("lsh_embedding_neighbors", _lsh_neardup_oracle_sql(64, 4, 0.25, 42))
def lsh_embedding_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding rung of the dedup ladder, driver-hash-checked end
    to end: random-hyperplane LSH candidate pairs -> exact-cosine
    verify -> connected components -> per-vector survivor verdict
    (similarity.near_dedup_embeddings), with per-vector neighbor stats
    (n_neighbors, max_cos) carrying the verified pair evidence through
    the hash check. The seeded hyperplanes are driver-side constants
    embedded as literals in both plans, so the oracle replays the
    exact sign-bit banding; every projection is rounded to 9 dp BEFORE
    its sign test (an ulp-of-0 projection can't flip a bucket), every
    cosine to 6 dp before the threshold, and the oracle closes the
    pairs with a WITH RECURSIVE reachability replay.

    Round-3 re-parameterization (kept): n_planes=64, bands=4 -> 16-bit
    band keys, so the candidate join stays near-linear at 100x corpus.
    The driver embeddings concentrate near cosine 0, so few pairs
    survive c>=0.25 — the honest output of a scale-correct cascade;
    the verdict output makes every vector a checked row regardless
    (singletons included). Round 6 folds near_dedup_embeddings in
    (driver 50-query cap)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    pairs = S.lsh_near_neighbors(
        emb,
        dim=64,
        n_planes=64,
        bands=4,
        min_cosine=0.25,
        seed=42,
        round_sim=6,
        round_proj=9,
    ).localCheckpoint()  # pairs feed three consumers incl. an iterative CC
    from ..operators.graph import dedup_components

    verdicts = dedup_components(
        pairs.select("id_a", "id_b"),
        all_ids=emb.select("vec_id"),
        id_col="vec_id",
    )
    sym = pairs.select(
        F.col("id_a").alias("vec_id"), "cos_sim"
    ).unionAll(pairs.select(F.col("id_b").alias("vec_id"), "cos_sim"))
    nbrs = sym.groupBy("vec_id").agg(
        F.count("*").alias("n_neighbors"), F.max("cos_sim").alias("max_cos")
    )
    return (
        verdicts.join(nbrs, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("n_neighbors", F.lit(0)).alias("n_neighbors"),
            "max_cos",
            "survivor_id",
            "is_survivor",
        )
    )


_IVF_COS = (
    "round(list_sum(list_transform(list_zip({a}, {b}), x -> x[1]*x[2]))"
    " / (sqrt(list_sum(list_transform({a}, x -> x*x)))"
    " * sqrt(list_sum(list_transform({b}, x -> x*x)))), 6)"
)

# --- frozen PQ codebook (round 13, VERDICT r12 item 1) ----------------------
# Trained ONCE offline (train_pq m=8 n_codes=4 seed=13 on the sf0.01
# embeddings quantized to 1/16) then rounded to multiples of 1/8 and
# FROZEN — the kmeans_anomaly_scores precedent: the MLlib fit happens
# outside the query, the registered row replays only deterministic
# arithmetic. Every entry is dyadic (0 or ±1/8) and every corpus/query
# coordinate is quantized to 1/16 inside the query (floor-tie rule,
# the int8 precedent), so sub-space dots, argmin distances, LUT
# entries and the m-term ADC sums are EXACT in float64 and
# DECIMAL(28,12) alike — both engines compute bit-identical numbers
# and even exact argmin ties break identically (lowest code index).
_PQ_M, _PQ_SUB, _PQ_NCODES = 8, 8, 4
_PQ_BOOKS = (
    (
        (0.0, 0.0, 0.0, 0.0, 0.125, 0.0, -0.125, 0.0),
        (0.125, 0.0, 0.0, -0.125, 0.0, 0.0, 0.0, 0.0),
        (0.0, 0.0, 0.125, 0.0, 0.0, -0.125, 0.0, 0.0),
        (-0.125, 0.0, -0.125, 0.0, 0.0, 0.125, 0.125, 0.0),
    ),
    (
        (-0.125, -0.125, 0.0, 0.0, 0.0, 0.125, 0.0, 0.0),
        (0.0, 0.0, 0.0, 0.125, -0.125, 0.0, -0.125, 0.0),
        (0.0, -0.125, 0.0, -0.125, 0.0, -0.125, 0.0, 0.0),
        (0.0, 0.125, 0.0, 0.0, 0.125, 0.0, 0.125, 0.0),
    ),
    (
        (0.0, 0.125, 0.0, 0.0, 0.0, 0.0, 0.0, -0.125),
        (0.125, 0.0, 0.125, 0.0, 0.0, -0.125, 0.0, 0.0),
        (0.0, -0.125, -0.125, 0.0, 0.0, 0.0, 0.0, 0.0),
        (0.0, 0.0, 0.0, 0.0, 0.0, 0.125, 0.0, 0.0),
    ),
    (
        (0.0, -0.125, 0.0, 0.0, 0.0, 0.0, 0.125, 0.0),
        (0.125, 0.125, 0.125, 0.0, 0.0, 0.0, 0.0, 0.125),
        (-0.125, 0.0, 0.0, 0.0, 0.125, 0.0, 0.0, 0.0),
        (0.0, 0.0, 0.0, 0.125, -0.125, 0.0, 0.0, -0.125),
    ),
    (
        (0.0, 0.0, 0.0, 0.125, 0.0, -0.125, 0.0, 0.0),
        (0.0, 0.0, 0.0, -0.125, 0.0, 0.0, 0.125, 0.0),
        (-0.125, 0.0, 0.0, 0.0, 0.0, 0.125, 0.0, 0.0),
        (0.125, 0.0, 0.0, 0.0, 0.0, 0.0, -0.125, 0.0),
    ),
    (
        (0.0, 0.0, 0.0, -0.125, 0.0, -0.125, 0.0, 0.0),
        (0.0, -0.125, 0.0, 0.0, 0.0, 0.0, 0.0, 0.125),
        (0.0, 0.0, 0.0, 0.0, 0.0, 0.125, 0.0, -0.125),
        (-0.125, 0.125, -0.125, 0.0, 0.0, 0.0, 0.0, 0.125),
    ),
    (
        (0.125, 0.0, 0.0, -0.125, 0.0, 0.0, 0.125, 0.0),
        (-0.125, 0.0, 0.0, 0.0, 0.125, 0.0, 0.0, 0.0),
        (0.0, 0.0, 0.125, 0.0, 0.0, 0.0, -0.125, 0.0),
        (-0.125, 0.0, 0.0, 0.125, 0.0, 0.0, 0.0, 0.0),
    ),
    (
        (0.0, 0.0, -0.125, 0.0, 0.0, 0.0, 0.0, 0.0),
        (0.0, 0.0, 0.0, 0.0, -0.125, -0.125, 0.0, -0.125),
        (0.125, -0.125, 0.0, 0.0, 0.0, 0.0, 0.125, 0.0),
        (0.0, 0.0, 0.0, 0.0, 0.0, 0.125, -0.125, 0.0),
    ),
)


def _pq_books_values() -> str:
    """(j, c, cent) VALUES rows for the DuckDB codebook replay —
    repr() keeps the dyadic literals exact in both parsers."""
    rows = []
    for j, book in enumerate(_PQ_BOOKS):
        for c, cent in enumerate(book):
            lst = ", ".join(repr(float(x)) for x in cent)
            rows.append(f"({j}, {c}, [{lst}])")
    return ", ".join(rows)


#: FROZEN OPQ rotation for the driver row (round 14): a signed
#: permutation — orthogonal by construction and DYADIC, so the whole
#: rotated encode/LUT cascade stays exactly replayable in DuckDB.
#: rotated[i] = _PQ_ROT_SIGNS[i] * v[_PQ_ROT_PERM[i]]. A signed
#: permutation exercises every piece of the rotation PLUMBING the
#: trained path uses (encode rotates codes' inputs, serving rotates
#: the bounded query frame, the opq flag rides meta + pointer, norms
#: stay unrotated) — the plumbing cannot distinguish it from a dense
#: learned rotation; recall GAINS of learned rotations are pinned in
#: tests/test_pq.py where kmeans is available.
#: dim = _PQ_M * _PQ_SUB = 64; perm is the LCG bijection 37i+11 mod 64
#: (37 coprime to 64), signs a fixed mixed pattern — both frozen
#: formulas, no RNG.
_PQ_ROT_PERM = tuple((37 * i + 11) % 64 for i in range(64))
_PQ_ROT_SIGNS = tuple(1 if (23 * i + 7) % 5 < 3 else -1 for i in range(64))
_PQ_ROTATION = tuple(
    tuple(
        float(_PQ_ROT_SIGNS[i]) if j == _PQ_ROT_PERM[i] else 0.0
        for j in range(64)
    )
    for i in range(64)
)


def _pq_rot_sql(vec: str) -> str:
    """DuckDB list literal applying the frozen signed permutation to
    a list column (1-based indexing)."""
    return (
        "["
        + ", ".join(
            f"{s}*{vec}[{p + 1}]"
            for s, p in zip(_PQ_ROT_SIGNS, _PQ_ROT_PERM)
        )
        + "]"
    )


#: vectors taken down via the REAL IvfIndex.delete() (round 14, late
#: — the LAST index family's serving path under the driver hash;
#: NearDup r13, Bm25 + Pq earlier this round): 365 (rank-2 of query 0
#: in the ivf_int8 leg at sf0.01) and 450 (rank-2 of query 2) — both
#: sit in the served top-10, so the size-gated tombstone anti-join
#: over the label-pruned store is load-bearing. The oracle excludes
#: them from the SCORED rows only — the centroids were computed
#: before the takedown and stay frozen, exactly the store's
#: behavior (cents CTE keeps all vectors).
_IVF_DELETED = (365, 450)
_IVF_DELETED_SQL = ", ".join(str(i) for i in _IVF_DELETED)

#: vectors taken down via the REAL PqIndex.delete() after the build
#: (round 14, VERDICT r13 item 2 — a vector-side delete under the
#: driver hash): 387 (rank-2 of query 0 at sf0.01 in the ROTATED
#: cascade) and 402 (rank-2 of query 1) — both sit in the served
#: top-10, so the size-gated tombstone anti-join over the codes table
#: is load-bearing: a disabled filter returns the deleted ids and
#: flips the hash (re-picked when the frozen rotation landed — the
#: pre-rotation victims 365/386 fell out of the rotated shortlist,
#: which would have made the delete decorative). The oracle replays
#: the takedown by never encoding them (pq_dist excludes the ids),
#: exactly what serving-minus-tombstones computes.
_PQ_DELETED = (387, 402)
_PQ_DELETED_SQL = ", ".join(str(i) for i in _PQ_DELETED)

_IVF_ORACLE = f"""
    WITH corpus0 AS (
        SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    -- int8 symmetric quantization replay (operators/similarity.py::
    -- quantize_embeddings): scale = max|x|/127 (double), codes =
    -- floor(x/scale + 0.5) — floor, not round(): the tie rule is
    -- engine-independent — scale STORED as float32 (REAL round-trip),
    -- dequant = code * float64(scale). Every step one IEEE op.
    qparams AS (
        SELECT vec_id, label, vec,
               CASE WHEN list_max(list_transform(vec, x -> abs(x))) > 0
                    THEN list_max(list_transform(vec, x -> abs(x))) / 127.0
                    ELSE 1.0 END AS s
        FROM corpus0
    ),
    corpus AS (
        SELECT vec_id, label,
               list_transform(vec,
                   x -> floor(x / s + 0.5)
                        * CAST(CAST(s AS REAL) AS DOUBLE)) AS vec
        FROM qparams
    ),
    queries AS (
        SELECT vec_id AS query_id, vec AS qv FROM corpus0 WHERE vec_id < 3
    ),
    expl AS (
        SELECT label, generate_subscripts(vec, 1) AS pos, unnest(vec) AS val
        FROM corpus
    ),
    cmeans AS (
        SELECT label, pos, avg(val) AS mean_val FROM expl GROUP BY label, pos
    ),
    cents AS (
        SELECT label, list(mean_val ORDER BY pos) AS centroid FROM cmeans GROUP BY label
    ),
    probescored AS (
        SELECT q.query_id, c.label, q.qv,
               {_IVF_COS.format(a="c.centroid", b="q.qv")} AS cent_sim
        FROM cents c CROSS JOIN queries q
    ),
    probes AS (
        SELECT query_id, label, qv FROM (
            SELECT query_id, label, qv,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cent_sim DESC, label ASC) AS pr
            FROM probescored)
        WHERE pr <= 3
    ),
    scored AS (
        SELECT p.query_id, a.vec_id,
               {_IVF_COS.format(a="a.vec", b="p.qv")} AS cos_sim
        FROM corpus a JOIN probes p ON a.label = p.label
        WHERE a.vec_id NOT IN ({_IVF_DELETED_SQL})
    ),
    ranked AS (
        SELECT query_id, vec_id, cos_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id ASC) AS rank
        FROM scored
    ),
    -- ===== PQ leg (round 13): encode argmin -> per-query LUT -> ADC
    -- sum -> shortlist -> exact rerank, against the FROZEN literal
    -- codebook. All inputs dyadic (corpus quantized to 1/16 with the
    -- floor-tie rule, codebook entries 0/±1/8), so every distance,
    -- LUT entry and ADC sum is exact in both engines.
    qcorpus AS (
        SELECT vec_id,
               list_transform(vec, x -> floor(x * 16 + 0.5) / 16.0) AS qv
        FROM corpus0
    ),
    -- r14: the frozen signed-permutation OPQ rotation — encode and
    -- LUT read the ROTATED lists; norms and the exact rerank stay on
    -- the originals (rotation preserves them)
    qcorpus_rot AS (
        SELECT vec_id, {_pq_rot_sql("qv")} AS rv FROM qcorpus
    ),
    pq_books AS (
        SELECT * FROM (VALUES {_pq_books_values()}) AS t(j, c, cent)
    ),
    pq_queries AS (
        SELECT vec_id AS query_id, qv FROM qcorpus WHERE vec_id < 3
    ),
    -- encode replay: argmin_c ||c||^2 - 2<x_j, c> (the ||x_j||^2 term
    -- is constant per row), ties to the LOWEST code index — the
    -- numpy argmin convention pq_encode pins
    pq_dist AS (
        SELECT v.vec_id, b.j, b.c,
               list_sum(list_transform(b.cent, x -> x*x))
               - 2 * list_sum(list_transform(
                     list_zip(list_slice(v.rv, b.j*8 + 1, b.j*8 + 8),
                              b.cent),
                     p -> p[1]*p[2])) AS dist
        FROM qcorpus_rot v CROSS JOIN pq_books b
        WHERE v.vec_id NOT IN ({_PQ_DELETED_SQL})
    ),
    pq_codes AS (
        SELECT vec_id, j, c FROM (
            SELECT vec_id, j, c,
                   row_number() OVER (PARTITION BY vec_id, j
                                      ORDER BY dist ASC, c ASC) AS rn
            FROM pq_dist) WHERE rn = 1
    ),
    pq_norms AS (
        SELECT vec_id, sqrt(list_sum(list_transform(qv, x -> x*x))) AS nrm
        FROM qcorpus
    ),
    pq_luts AS (
        SELECT q.query_id, b.j, b.c,
               list_sum(list_transform(
                   list_zip(list_slice(r.rv, b.j*8 + 1, b.j*8 + 8),
                            b.cent),
                   p -> p[1]*p[2])) AS lut
        FROM pq_queries q
        JOIN qcorpus_rot r ON r.vec_id = q.query_id
        CROSS JOIN pq_books b
    ),
    pq_qn AS (
        SELECT vec_id AS query_id,
               sqrt(list_sum(list_transform(qv, x -> x*x))) AS qn
        FROM qcorpus WHERE vec_id < 3
    ),
    pq_adc AS (
        SELECT l.query_id, e.vec_id, sum(l.lut) AS adc
        FROM pq_codes e JOIN pq_luts l ON l.j = e.j AND l.c = e.c
        GROUP BY l.query_id, e.vec_id
    ),
    pq_scored AS (
        SELECT a.query_id, a.vec_id,
               round(CASE WHEN q.qn > 0 AND n.nrm > 0
                          THEN a.adc / (q.qn * n.nrm)
                          ELSE 0.0 END, 6) AS adc_sim
        FROM pq_adc a
        JOIN pq_qn q USING (query_id)
        JOIN pq_norms n USING (vec_id)
    ),
    pq_short AS (
        SELECT query_id, vec_id, adc_sim FROM (
            SELECT query_id, vec_id, adc_sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY adc_sim DESC, vec_id ASC) AS rk
            FROM pq_scored) WHERE rk <= 40
    ),
    pq_exact AS (
        SELECT s.query_id, s.vec_id, s.adc_sim,
               {_IVF_COS.format(a="v.qv", b="q.qv")} AS cos_sim
        FROM pq_short s
        JOIN qcorpus v ON v.vec_id = s.vec_id
        JOIN pq_queries q ON q.query_id = s.query_id
    ),
    pq_final AS (
        SELECT query_id, vec_id, cos_sim, adc_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos_sim DESC, vec_id ASC) AS rank
        FROM pq_exact
    )
    SELECT 'ivf_int8' AS leg, query_id, vec_id, cos_sim,
           CAST(NULL AS DOUBLE) AS adc_sim, rank
    FROM ranked WHERE rank <= 10
    UNION ALL
    SELECT 'pq_adc' AS leg, query_id, vec_id, cos_sim, adc_sim, rank
    FROM pq_final WHERE rank <= 10
    """


@query("ivf_cosine_topk", _IVF_ORACLE)
def ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k using the label column as the coarse
    quantizer cell. The whole cascade (per-cell mean centroids ->
    nprobe=3 nearest cells -> exact top-10 within probed cells) is
    deterministic relational algebra, rounded to 6 dp before each
    rank, so the oracle replays it end to end; recall vs brute force
    is additionally covered in tests/test_similarity.py.

    Round 10: the corpus side serves from the INT8-QUANTIZED store —
    the REAL quantize -> dequantize cascade (floor-tie codes, float32
    scale round-trip; IvfIndex(quantized=True)'s at-rest layout, ~4x
    smaller at 100 TB) runs inside the plan, and the oracle replays
    the exact same IEEE ops — so a defect anywhere in the
    quantization math flips a similarity and fails the hash. Queries
    stay float (the standard asymmetric serving shape).

    Round 11 (VERDICT r10 item 6): the cascade runs as ONE fused
    let-bound projection (similarity.quantize_roundtrip — identical
    IEEE ops, bit-equality pinned in tests/test_similarity.py) and
    the dequantized corpus is localCheckpoint'd before fanning out to
    the centroid aggregate AND the scoring join — previously both
    consumers re-evaluated the HOF cascade per reference, which is
    what had tripled the driver-row cost. The checkpoint is the
    serve-from-a-materialized-quantized-store shape: at production
    scale that materialization is the IvfIndex(quantized=True) table
    itself.

    Round 13 (VERDICT r12 item 1): a second LEG puts product
    quantization under the same hash — the REAL pq_encode (Arrow
    numpy argmin, lowest-code tie-break), pq_query_luts and
    pq_topk's _adc_dot zip_with + DECIMAL(28,12) fold + shortlist +
    exact rerank (keep_adc exposes the ADC score in the output), all
    against the FROZEN literal codebook _PQ_BOOKS. The corpus is
    quantized to 1/16 (floor-tie) first, so every number either
    engine computes before the final norms division is exact dyadic:
    a broken encode tie-break, the 1-based element_at LUT seam, or a
    widening decimal fold each flips adc_sim (or the shortlist) and
    fails the hash. Compression economics are measured in BASELINE
    (this leg pins ARITHMETIC; recall floors live in test_pq.py).

    Round 14 (VERDICT r13 item 2 — vector-side deletes under the
    hash): the pq leg now serves from a PERSISTED `PqIndex` in a
    deterministic scratch warehouse — build(books=) persists the
    frozen literal codebook through the offline-train/online-serve
    path (the codes table is the REAL at-rest artifact, encode ran
    through the index's own Arrow pass), then delete() tombstones two
    vectors that sat in the served top-10 (_PQ_DELETED), and topk()
    applies the size-gated tombstone anti-join over the codes before
    ADC. The oracle never encodes the deleted ids, so a tombstone
    that leaks into (or vanishes from) the codes scan flips the hash;
    a disabled filter returns the deleted ids and fails (negative
    control measured). The ivf_int8 leg stays the in-plan
    label-quantizer cascade — its kmeans-free oracle is what makes
    the whole row SQL-replayable; the kmeans-built IvfIndex serving
    path keeps its pytest + recall pins (tests/test_similarity.py,
    test_deletes.py)."""
    import os
    import re
    import tempfile

    from ..operators.pq import PqIndex, PqModel
    from ..sources.warehouse import Warehouse

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    emb_dq = emb.select(
        "vec_id",
        "label",
        S.quantize_roundtrip(F.col("embedding")).alias("embedding"),
    ).localCheckpoint()
    # r14 (late): the ivf leg serves from a PERSISTED IvfIndex — the
    # bring-your-own-quantizer build (assigned=True: label IS the
    # cell, the oracle's exact quantizer) persists the dequantized
    # store hive-partitioned by label, derives the per-cell mean
    # centroids exactly as the oracle's cents CTE, then delete()
    # tombstones two vectors sitting in the served top-10
    # (_IVF_DELETED) and topk() probes nprobe cells through the
    # size-gated anti-join. With this leg the LAST index family's
    # production serving path is under the driver hash.
    import os
    import re
    import tempfile

    from ..sources.warehouse import Warehouse

    iscratch = os.path.join(
        tempfile.gettempdir(),
        "ivf_idx_" + re.sub(r"\W+", "_", sf_dir).strip("_"),
    )
    ividx = S.IvfIndex(
        Warehouse(spark, iscratch), name="ivfserve", cell_col="label"
    )

    model = PqModel(
        m=_PQ_M, sub_dim=_PQ_SUB, n_codes=_PQ_NCODES, codebooks=_PQ_BOOKS
    )
    # dyadic 1/16 quantization (floor-tie) -> exact cross-engine dots;
    # one materialization feeds encode, queries AND the rerank store.
    # coalesce(2): the demo corpus is small, so don't pay 32 Arrow
    # worker spin-ups for the encode pass (at production scale the
    # codes table is a PqIndex build, not an in-plan encode)
    embq = (
        emb.select(
            "vec_id",
            F.transform(
                "embedding", lambda x: F.floor(x * 16 + F.lit(0.5)) / 16.0
            ).alias("embedding"),
        )
        .coalesce(2)
        .localCheckpoint()
    )
    pq_queries = embq.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    # persisted serving (round 14): build-with-frozen-books writes the
    # codes table through the index's own encode pass into a
    # deterministic scratch store (re-overwritten atomically per run,
    # tombstones reset by build — no cross-run state), then the REAL
    # delete() -> size-gated anti-join -> ADC path serves the leg
    scratch = os.path.join(
        tempfile.gettempdir(),
        "pq_idx_" + re.sub(r"\W+", "_", sf_dir).strip("_"),
    )
    pidx = PqIndex(Warehouse(spark, scratch), name="pqserve")
    # Both persisted-store maintenance cycles (build + delete, all
    # EAGER) run in one right-sized scope so an AQE-off external
    # session never schedules 200 real tasks per fixture-scale
    # shuffle (r15; measured flat on AQE-on sessions — the floor is
    # job barriers, see BASELINE). The served topk frames are built
    # AFTER the scope exits, so serving plans at the session's own
    # setting.
    from ..session import run_concurrently, scratch_shuffle_partitions

    def _ivf_cycle():
        ividx.build(emb_dq, assigned=True)
        ividx.delete(
            spark.createDataFrame(
                [(int(i),) for i in _IVF_DELETED], "vec_id: long"
            )
        )

    def _pq_cycle():
        # r14 (late): the frozen signed-permutation OPQ rotation rides
        # the store — encode quantizes the ROTATED vectors, serving
        # rotates the bounded query frame, the opq flag rides meta +
        # pointer, and the oracle replays the same dyadic permutation
        # (_pq_rot_sql). Breaking any of the rotation plumbing (stale
        # flag, unrotated query, wrong sign) flips adc_sim and the
        # hash.
        pidx.build(embq, books=model, rotation=_PQ_ROTATION)
        pidx.delete(
            spark.createDataFrame(
                [(int(i),) for i in _PQ_DELETED], "vec_id: long"
            )
        )

    with scratch_shuffle_partitions(spark, 8):
        # the two persisted cycles touch DISJOINT scratch stores —
        # overlap them so one cycle's tasks fill the other's job
        # barriers (guide §2.6); store contents and served plans are
        # unchanged
        run_concurrently(_ivf_cycle, _pq_cycle)

    ivf_leg = ividx.topk(queries_df, k=10, nprobe=3, sim_round=6).select(
        F.lit("ivf_int8").alias("leg"),
        "query_id",
        "vec_id",
        "cos_sim",
        F.lit(None).cast("double").alias("adc_sim"),
        "rank",
    )
    pq_leg = pidx.topk(
        pq_queries,
        k=10,
        rerank=embq,
        shortlist=40,
        sim_round=6,
        keep_adc=True,
    ).select(
        F.lit("pq_adc").alias("leg"),
        "query_id",
        "vec_id",
        "cos_sim",
        "adc_sim",
        "rank",
    )
    return ivf_leg.unionByName(pq_leg)


def _mm_oracle_sql() -> str:
    """DuckDB twin of multimodal_features — a FULL value oracle for the
    PNG decode path, closing round 4's last `no_oracle` row.

    Why this is possible without zlib in SQL: the image payloads are
    PNGs the query itself encodes from the doc's first 48 utf-8 bytes
    (cycled), and PNG encode→decode is the identity on pixels — so the
    EXPECTED pixel features are a pure function of the text, computable
    byte-by-byte in SQL (the driver corpus is ASCII at every SF, so
    ascii(substr(..)) == utf-8 byte). The Spark side computes features
    from the DECODED pixels (stdlib zlib inflate + scanline unfilter);
    any defect in chunk walking, inflate, or filters 0-4 yields pixels
    != text bytes and fails the value hash. Audio/video rows take the
    byte-histogram fallback, recomputed here over the full text.

    All divisions are integer-sum / exact-dyadic-or-identical-literal
    denominators, so the doubles are bit-identical across engines."""
    img_byte = (
        "CASE WHEN len = 0 THEN 0 "
        "ELSE ascii(substr(text, CAST(j % len AS INT) + 1, 1)) END"
    )
    img_hist = ",\n           ".join(
        f"length(list_filter(lumas, l -> least(l * 12 // 256, 11) = {k})) / 16.0"
        f" AS f{k + 4:02d}"
        for k in range(12)
    )
    raw_hist = ",\n           ".join(
        f"CASE WHEN len = 0 THEN 0.0 ELSE "
        f"length(list_filter(b, v -> v % 16 = {k})) / CAST(len AS DOUBLE) END"
        f" AS f{k:02d}"
        for k in range(16)
    )
    fcols = ", ".join(f"f.f{i:02d}" for i in range(16))
    return f"""
    WITH base AS (
        SELECT doc_id AS asset_id,
               CAST(doc_id % 3 AS INT) AS m,
               text,
               length(text) AS len
        FROM documents
    ),
    imgb AS (
        SELECT asset_id,
               list_transform(range(0, 48), j -> {img_byte}) AS b
        FROM base WHERE m = 0
    ),
    imgsum AS (
        SELECT asset_id,
               list_sum(list_transform(range(0, 16), i -> b[CAST(3*i+1 AS INT)])) AS sr,
               list_sum(list_transform(range(0, 16), i -> b[CAST(3*i+2 AS INT)])) AS sg,
               list_sum(list_transform(range(0, 16), i -> b[CAST(3*i+3 AS INT)])) AS sb,
               list_transform(range(0, 16),
                   i -> (299 * b[CAST(3*i+1 AS INT)] + 587 * b[CAST(3*i+2 AS INT)]
                         + 114 * b[CAST(3*i+3 AS INT)]) // 1000) AS lumas
        FROM imgb
    ),
    img AS (
        SELECT asset_id,
               sr / (255.0 * 16) AS f00,
               sg / (255.0 * 16) AS f01,
               sb / (255.0 * 16) AS f02,
               (299 * sr + 587 * sg + 114 * sb) / (1000.0 * 255.0 * 16) AS f03,
           {img_hist}
        FROM imgsum
    ),
    rawb AS (
        SELECT asset_id, m, len,
               list_transform(range(1, len + 1),
                              i -> ascii(substr(text, CAST(i AS INT), 1))) AS b
        FROM base WHERE m <> 0
    ),
    rawf AS (
        SELECT asset_id,
           {raw_hist}
        FROM rawb
    ),
    audio AS (
        SELECT asset_id,
               CAST(44 + 2 * len AS INT) AS a_n_bytes,
               CAST(8000 AS INT) AS a_sample_rate,
               CAST(len AS INT) AS a_n_frames,
               len / 8000.0 AS a_duration_s,
               round(CASE WHEN len = 0 THEN 0.0 ELSE
                   sqrt(list_sum(list_transform(b,
                       v -> ((v - 128) / 128.0) * ((v - 128) / 128.0))) / len)
               END, 6) AS a_rms,
               CASE WHEN len = 0 THEN 0.0 ELSE
                   list_max(list_transform(b, v -> abs(v - 128) / 128.0))
               END AS a_peak,
               CASE WHEN len <= 1 THEN 0.0 ELSE
                   len(list_filter(range(1, len),
                       i -> (b[CAST(i AS INT)] >= 128) <> (b[CAST(i + 1 AS INT)] >= 128)))
                   / CAST(len - 1 AS DOUBLE)
               END AS a_zcr
        FROM rawb WHERE m = 1
    ),
    features AS (SELECT * FROM img UNION ALL SELECT * FROM rawf)
    SELECT base.asset_id,
           CASE base.m WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS modality,
           {fcols},
           a.a_n_bytes, a.a_sample_rate, a.a_n_frames, a.a_duration_s,
           a.a_rms, a.a_peak, a.a_zcr
    FROM base JOIN features f ON base.asset_id = f.asset_id
    LEFT JOIN audio a ON base.asset_id = a.asset_id
    """


@query("multimodal_features", _mm_oracle_sql())
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing over driver data: documents' text bytes as
    opaque binary payloads -> Arrow-batched featurization via
    mapInPandas. Image-modality rows are wrapped into REAL 4x4 RGB8
    PNGs (pixels = the doc's first 48 utf-8 bytes, cycled —
    deterministic) by an Arrow-batched stage, so the registered query
    exercises the full stdlib-zlib PNG decode + scanline-unfilter path
    end-to-end; audio/video rows stay raw bytes and take the
    byte-histogram fallback. Known-answer codec tests (PPM/BMP24/PNG
    incl. all five scanline filters) live in tests/test_multimodal.py.

    Round 7 adds the AUDIO leg under the same identity trick: audio-
    modality rows are additionally wrapped into REAL RIFF/WAV PCM16
    payloads (one 8 kHz mono sample per text byte: (byte-128)*256, so
    normalized samples are exact dyadic (byte-128)/128 values) and
    decoded by operators/multimodal.py::audio_features — duration,
    RMS, peak and zero-crossing rate ride as a_* columns (null for
    image/video rows) that the oracle recomputes byte-by-byte; any
    defect in the RIFF chunk walk, fmt parse or sample decode shifts
    them and fails the value hash. Dyadic sums keep rms's sum-of-
    squares exact in any order; rms alone is rounded to 6 dp for the
    sqrt-vs-pow last ulp.

    HASH-CHECKED since round 5 (the last former `no_oracle` row): the
    16 feature dims ride as double columns f00..f15 and the DuckDB twin
    recomputes their exact expected values from the text bytes — see
    _mm_oracle_sql for why the PNG roundtrip makes that sound."""
    import struct

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
        F.lit("raw").alias("media_format"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )

    def wrap_images_as_png(batches):
        for pdf in batches:
            payloads, formats, metas = [], [], []
            for mod, pay, meta in zip(pdf["modality"], pdf["payload"], pdf["meta"]):
                raw = bytes(pay) if pay is not None else b""
                if mod == "image":
                    reps = 48 // max(len(raw), 1) + 1
                    rgb = (raw * reps)[:48] if raw else bytes(48)
                    payloads.append(M.encode_png(4, 4, rgb))
                    formats.append("png")
                    metas.append({"width": 4, "height": 4, "duration_ms": None})
                else:
                    payloads.append(raw)
                    formats.append("raw")
                    metas.append(meta)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "media_format": formats,
                    "payload": payloads,
                    "meta": metas,
                }
            )

    def wrap_audio_as_wav(batches):
        for pdf in batches:
            payloads = []
            for pay in pdf["payload"]:
                raw = bytes(pay) if pay is not None else b""
                pcm = struct.pack(
                    f"<{len(raw)}h", *((b - 128) * 256 for b in raw)
                )
                payloads.append(M.encode_wav(8000, 1, pcm))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "media_format": ["wav"] * len(payloads),
                    "payload": payloads,
                    "meta": pdf["meta"],
                }
            )

    wav_assets = assets.filter(F.col("modality") == "audio").mapInPandas(
        wrap_audio_as_wav, M.ASSET_SCHEMA
    )
    audio = M.audio_features(wav_assets).select(
        "asset_id",
        F.col("n_bytes").alias("a_n_bytes"),
        F.col("sample_rate").alias("a_sample_rate"),
        F.col("n_frames").alias("a_n_frames"),
        F.col("duration_s").alias("a_duration_s"),
        F.round("rms", 6).alias("a_rms"),
        F.col("peak").alias("a_peak"),
        F.col("zero_crossing_rate").alias("a_zcr"),
    )

    assets = assets.mapInPandas(wrap_images_as_png, M.ASSET_SCHEMA)
    feats = M.extract_features(assets)
    return feats.join(audio, "asset_id", "left").select(
        "asset_id",
        "modality",
        *[
            F.element_at("feature", i + 1).alias(f"f{i:02d}")
            for i in range(M.FEATURE_DIM)
        ],
        "a_n_bytes",
        "a_sample_rate",
        "a_n_frames",
        "a_duration_s",
        "a_rms",
        "a_peak",
        "a_zcr",
    )


def _corpus_report_oracle_sql() -> str:
    """DuckDB twin of corpus_health_report: every non-sketch column is
    an EXACT value (integer sums, int/int divisions, decimal-cast
    stopword average — all bit-deterministic), and the two
    percentile_approx columns become bound-verdict booleans the oracle
    expects TRUE (the approx_sketch_stats pattern: a sketch landing
    outside the exact q +/- 0.05 interpolated band flips the boolean
    and fails the value hash).

    Round 8 legs: n_gopher_pass is the EXACT per-source count of
    synthesized stopword-structured probes passing the real Gopher
    gate — the probe's word count is 5 * (6 + 2*(doc_id%10)), so
    passes_gopher reduces analytically to doc_id%10 >= 2 (every other
    published rule passes by construction: mean word length 3.6,
    stopword hits {{'the','and'}}, zero symbols/bullets/ellipses,
    100% alpha words). compression_separates_ok is a bound verdict:
    DuckDB has no zlib, so the oracle expects TRUE that every doc's
    8x-repeated text compresses below 0.30 (measured max 0.143 at
    sf0.01) while its 8-round md5-chain filler stays above 0.45
    (measured min 0.601) — a broken DEFLATE stage or a swapped
    payload flips the boolean and fails the value hash."""
    en = "x IN ('the','and','of','to','is')"
    de = "x IN ('der','die','und','das','ist')"
    es = "x IN ('el','la','los','es','y')"
    fr = "x IN ('le','la','et','les','est')"
    return f"""
    WITH per AS (
        SELECT source, doc_id,
               len({_SQL_TOKS}) AS nt,
               md5({_SQL_NORM}) AS fp,
               len(list_filter({_SQL_TOKS}, x -> {de})) AS s_de,
               len(list_filter({_SQL_TOKS}, x -> {en})) AS s_en,
               len(list_filter({_SQL_TOKS}, x -> {es})) AS s_es,
               len(list_filter({_SQL_TOKS}, x -> {fr})) AS s_fr,
               CAST(len(list_filter({_SQL_TOKS}, x -> {en})) AS DOUBLE)
                   / greatest(len({_SQL_TOKS}), 1) AS stop_r
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens,
           CAST(SUM(nt) AS DOUBLE) / COUNT(*) AS avg_doc_tokens,
           1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*) AS exact_dup_rate,
           AVG(CAST((greatest(s_de, s_en, s_es, s_fr) > 0
                     AND s_de <> greatest(s_de, s_en, s_es, s_fr)
                     AND s_en = greatest(s_de, s_en, s_es, s_fr)) AS DOUBLE)) AS pct_en,
           CAST(SUM(CAST(stop_r AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*)
               AS avg_stopword_ratio_exact,
           TRUE AS stopword_avg_ok,
           TRUE AS p50_ok,
           TRUE AS p95_ok,
           CAST(SUM(CASE WHEN CAST(doc_id % 10 AS INT) >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_gopher_pass,
           TRUE AS compression_separates_ok
    FROM per
    GROUP BY ROLLUP(source)
    """


@query("corpus_health_report", _corpus_report_oracle_sql())
def corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus observability artifact (operators/pipeline.py::
    corpus_report) under the driver gate: per-source rows plus the
    all-sources rollup (source = NULL), exactly as a curation run
    would log and alert on them.

    Check structure (the approx_sketch_stats precedent): n_docs,
    total_tokens, avg_doc_tokens, exact_dup_rate and pct_en are
    exact — integer sums and int/int divisions, plus 0/1 averages
    whose double sums are exact in any order — and hash-compare
    directly. The float average avg_stopword_ratio is re-computed
    through per-row DECIMAL casts (deterministic) as
    avg_stopword_ratio_exact, with a verdict boolean pinning the
    operator's double-summed value to it within 1e-9. The two
    percentile_approx columns (p50/p95 doc tokens) are engine-specific
    sketches, so they ride as bound verdicts: the sketch value must
    land inside the exact interpolated [q-0.05, q+0.05] quantile band
    (clamped to [0, 1]) computed in the same pass — generous enough
    for every group size at sf0.01 (+-1.25 ranks at n=25), tight
    enough that a broken sketch (min, max, garbage) flips it.

    Takes the driver slot of the former `user_event_type_arrays`
    (50-query cap; that row's array-agg surface stays hash-checked by
    grouped_result_mix and event_type_set_ops).

    Round 8 folds in two previously pytest-only gates (VERDICT r7
    items 5 and 6), both running the REAL operators over synthesized
    known-answer payloads:
    - Gopher (operators/text.py::gopher_quality_flags): the driver
      corpus fails the published rules wholesale (documented in
      BASELINE), so each doc gets a stopword-structured probe
      ('the rain and kept dogs ' x (6 + 2*(doc_id%10))) whose ONLY
      varying rule is the >=50 word count — the gate demonstrably
      separates (passes iff doc_id%10 >= 2), and n_gopher_pass is an
      exact hash-checked per-source count.
    - compression_ratio (the Arrow-batched zlib stage): DuckDB has no
      zlib, so the known-answer classes ride as a bound verdict
      (the approx_sketch_stats pattern): text*8 must compress < 0.30,
      the 8-round md5-chain filler must stay > 0.45 (measured
      0.143 / 0.601 extremes — wide margins for any zlib build).

    Scale shape: the operator is one map-side projection + ONE rollup
    shuffle (#sources + 1 rows out); the verdict frame adds a second
    aggregate over the same projection and a broadcast-sized join of
    (#sources + 1) rows; the round-8 legs add one Arrow-batched
    map stage + an id-keyed join of two narrow projections and a
    third rollup of the same bounded width."""
    from ..operators.pipeline import corpus_report
    from ..operators.text import (
        LANG_MARKERS,
        _marker_filter,
        compression_ratio,
        gopher_quality_flags,
        tokens,
    )
    from .queries import dsum

    docs = load_table(spark, sf_dir, "documents")
    rep = corpus_report(docs)

    toks = tokens(F.col("text"))
    per = docs.select(
        "source",
        F.size(toks).alias("nt"),
        (
            F.size(F.filter(toks, _marker_filter(LANG_MARKERS["en"]))).cast("double")
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("stop_r"),
    )
    n = F.count(F.lit(1))
    exact = per.rollup("source").agg(
        (dsum(F.col("stop_r"), 12) / n).alias("__stop_exact"),
        F.percentile(
            "nt",
            F.array(*[F.lit(q) for q in (0.45, 0.55, 0.90, 1.0)]),
        ).alias("__band"),
    )
    # round-8 known-answer legs: synthesized probes through the REAL
    # gopher gate and the REAL zlib stage (see docstring)
    md5s = [F.md5(F.col("text"))]
    for _ in range(7):
        md5s.append(F.md5(md5s[-1]))
    pay = docs.select(
        "doc_id",
        "source",
        F.repeat(
            F.lit("the rain and kept dogs "),
            ((F.col("doc_id") % 10) * 2 + 6).cast("int"),
        ).alias("__synth"),
        F.repeat(F.col("text"), 8).alias("__rep_txt"),
        F.concat(*md5s).alias("__inc_txt"),
    )
    pay = compression_ratio(pay, "__rep_txt", "__r_rep")
    pay = compression_ratio(pay, "__inc_txt", "__r_inc")
    gflags = gopher_quality_flags(pay, text_col="__synth", id_col="doc_id")
    probes = pay.select("doc_id", "source", "__r_rep", "__r_inc").join(
        gflags.select("doc_id", "passes_gopher"), "doc_id"
    )
    extra = probes.rollup("source").agg(
        F.sum(F.col("passes_gopher").cast("int")).cast("bigint").alias(
            "n_gopher_pass"
        ),
        F.bool_and(
            (F.col("__r_rep") < 0.30) & (F.col("__r_inc") > 0.45)
        ).alias("compression_separates_ok"),
    )

    key = F.coalesce(F.col("source"), F.lit("<ALL>"))
    joined = (
        rep.withColumn("__k", key)
        .join(exact.withColumn("__k", key).drop("source"), "__k")
        .join(extra.withColumn("__k", key).drop("source"), "__k")
    )

    def within(col, lo_i, hi_i):
        v = F.col(col).cast("double")
        return (v >= F.element_at("__band", lo_i)) & (
            v <= F.element_at("__band", hi_i)
        )

    return joined.select(
        "source",
        "n_docs",
        "total_tokens",
        "avg_doc_tokens",
        "exact_dup_rate",
        "pct_en",
        F.col("__stop_exact").alias("avg_stopword_ratio_exact"),
        (
            F.abs(F.col("avg_stopword_ratio") - F.col("__stop_exact")) <= 1e-9
        ).alias("stopword_avg_ok"),
        within("p50_doc_tokens", 1, 2).alias("p50_ok"),
        within("p95_doc_tokens", 3, 4).alias("p95_ok"),
        "n_gopher_pass",
        "compression_separates_ok",
    )
