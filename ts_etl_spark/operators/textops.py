"""Text-analysis operators over ``documents`` (SURVEY.md §2.4): token
counting, quality scoring, language-ID heuristic, document fingerprinting.

Everything is built-in expression work (regexp_count/length/md5 …) — fully
codegen'd, shuffle-free row-level transforms; at 100 TB these are pure
map-side operators limited only by scan bandwidth.

Determinism: all metrics are integer counts combined with a single double
division (bit-identical across engines), or md5 hex digests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ts_etl_spark.localrel import local_rows
from ts_etl_spark.sources.tables import load_table, spread_input

# language-ID marker regexes (shared literally with the DuckDB oracle).
# The synthetic corpus is vocabulary-salad, so this scores *markers*, not
# real language; the point is a deterministic argmax over marker counts.
LANG_MARKERS = {
    "en": r"\b(the|a|and|of|to|is|in)\b",
    "de": r"\b(der|die|das|und|ist|nicht)\b",
    "fr": r"\b(le|la|et|les|des|est)\b",
    "es": r"\b(el|los|las|y|es|una)\b",
}
CJK = r"[一-鿿]"

#: BPE-ish pretokenizer regex (GPT-2-style approximation): letter runs,
#: digit runs, single non-alnum-non-space marks — shared with the oracle.
BPE_PAT = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

#: rolling-hash modulus (fits in a long at every intermediate step even
#: under ANSI overflow checking: acc*31 + cp < 2^36)
RH_MOD = 2147483647


def ngram_array(toks, n: int):
    """Word-n-gram array (with duplicates) from a token-array expression,
    built as a ``zip_with`` chain over n shifted slices.

    Why not ``transform(sequence(1, len-n+1), i -> slice(toks, i, n))``:
    higher-order-function lambdas are evaluated INTERPRETED, and a lambda
    body that embeds the token expression re-evaluates it per ELEMENT — for
    a regex-split tokenizer that is one full split of the document per
    gram, turning a linear pass quadratic (measured 10×+ on the corpus).
    Here every lambda body only touches its two element arguments; the
    expensive tokenizer is referenced n times per ROW, outside any
    lambda."""
    cnt = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    out = F.slice(toks, 1, cnt)
    for i in range(1, n):
        out = F.zip_with(
            out, F.slice(toks, i + 1, cnt), lambda a, b: F.concat_ws(" ", a, b)
        )
    return out


def _rep_ratio(n: int):
    """Duplicate word-n-gram fraction — the Gopher-family repetition
    signal: (total - distinct) / total over the doc's word n-grams, NULL
    for docs too short to have any. Linear per document (array_distinct),
    pure map-side; a production variant for book-length docs would
    explode + groupBy instead of in-array dedup, at the cost of a shuffle."""
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    grams = toks if n == 1 else ngram_array(toks, n)
    total = F.size(toks) - (n - 1)
    distinct = F.size(F.array_distinct(grams))
    return F.when(
        total > 0, (total - distinct).cast("double") / total
    ).otherwise(F.lit(None).cast("double"))


def quality_pass_expr(text=None):
    """The classic pre-training quality gate — ≥10 whitespace tokens,
    ≥100 chars, alphabetic ratio ≥ 0.5 — as ONE shared definition
    (consumed by ``_metric_cols``, the curation pipeline through it, and
    ``operators.datacard``; change it here and every surface moves
    together). Empty documents gate FALSE, never NULL: the char-count
    conjunct is plain FALSE and three-valued AND short-circuits."""
    c = F.col("text") if text is None else text
    n_chars = F.length(c)
    alpha = F.length(F.regexp_replace(c, "[^a-zA-Z]", ""))
    ratio = F.when(n_chars > 0, alpha.cast("double") / n_chars)
    return (
        (F.size(F.split(F.trim(c), r"\s+")) >= 10)
        & (n_chars >= 100)
        & (ratio >= 0.5)
    )


def quality_pass_sql(expr: str = "text") -> str:
    """DuckDB twin of ``quality_pass_expr`` — keep in lockstep."""
    toks = (
        f"len(list_filter(regexp_split_to_array(trim({expr}), '\\s+'),"
        " x -> x != ''))"
    )
    ratio = (
        f"CASE WHEN length({expr}) > 0 THEN "
        f"CAST(length(regexp_replace({expr}, '[^a-zA-Z]', '', 'g')) AS DOUBLE)"
        f" / length({expr}) END"
    )
    return f"({toks} >= 10 AND length({expr}) >= 100 AND {ratio} >= 0.5)"


def _metric_cols() -> list:
    """Corpus-metric columns: token counts (whitespace + BPE-ish regex
    pretokenizer — the cheap proxy for LLM token budgeting), char-class
    ratios, duplicate-n-gram repetition signals, and the classic
    pre-training quality gate as a boolean."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    digits = F.length(F.regexp_replace(F.col("text"), "[^0-9]", ""))
    spaces = F.length(F.regexp_replace(F.col("text"), r"[^\s]", ""))

    # EMPTY documents are legal input (upstream stages like paragraph
    # dedup can empty a document entirely) and the session runs ANSI
    # mode, where an unguarded x/0 aborts the whole job — char-class
    # ratios surface as NULL instead. quality_pass stays a plain FALSE
    # for empty docs: n_chars >= 100 is FALSE, and FALSE AND NULL is
    # FALSE in three-valued logic, so the gate never goes NULL.
    def per_char(x):
        return F.when(n_chars > 0, x.cast("double") / n_chars)

    alpha_ratio = per_char(alpha)
    quality_pass = quality_pass_expr()
    return [
        n_tokens.alias("n_tokens"),
        F.regexp_count(F.col("text"), F.lit(BPE_PAT)).alias("n_bpe_tokens"),
        n_chars.alias("n_chars"),
        alpha_ratio.alias("alpha_ratio"),
        per_char(digits).alias("digit_ratio"),
        per_char(spaces).alias("space_ratio"),
        ((n_chars - spaces).cast("double") / n_tokens).alias("avg_token_len"),
        _rep_ratio(1).alias("word_rep_ratio"),
        _rep_ratio(2).alias("gram2_rep_ratio"),
        _rep_ratio(3).alias("gram3_rep_ratio"),
        quality_pass.alias("quality_pass"),
    ]


def lang_scores_exprs(text=None) -> dict:
    """Per-language marker-count score expressions over a text column —
    ONE shared definition (document signatures, per-paragraph
    code-switch detection)."""
    c = F.col("text") if text is None else text
    return {
        lang: F.regexp_count(F.lower(c), F.lit(pat))
        for lang, pat in LANG_MARKERS.items()
    }


def pred_lang_expr(text=None):
    """Marker-count language ID with deterministic argmax (ties in
    declaration order, zh only on CJK presence, else 'und') — the shared
    definition ``_signature_cols`` and ``mixed_language_signals``
    consume."""
    c = F.col("text") if text is None else text
    scores = lang_scores_exprs(c)
    cjk = F.regexp_count(c, F.lit(CJK))
    best = F.greatest(*scores.values())
    pred = F.when(cjk > 0, F.lit("zh"))
    for lang in LANG_MARKERS:  # declaration order = tie-break order
        pred = pred.when((best > 0) & (scores[lang] == best), F.lit(lang))
    return pred.otherwise(F.lit("und"))


def _signature_cols() -> list:
    """Identity-signal columns: marker-count language ID with deterministic
    argmax (``pred_lang_expr``), canonical-form md5 fingerprint
    (lower/whitespace-collapsed), and a polynomial rolling hash over the
    character stream (mod 2^31-1 — seed-free, reproducible in any engine,
    pmod-bounded so ANSI overflow checking never trips)."""
    scores = lang_scores_exprs()
    pred = pred_lang_expr()
    canon = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    chars = F.filter(F.split(F.col("text"), ""), lambda c: c != "")
    rhash = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: F.pmod(acc * 31 + F.ascii(ch), F.lit(RH_MOD)),
    )
    sel = [pred.alias("pred_lang")]
    sel += [scores[lang].alias(f"score_{lang}") for lang in LANG_MARKERS]
    sel += [F.md5(canon).alias("fingerprint"), rhash.alias("rhash")]
    return sel


# --------------------------------------------------------------------------
# PII detection / redaction
# --------------------------------------------------------------------------

#: PII patterns, applied in declaration order (email before URL is safe —
#: URLs here carry no '@'; IP before phone so the dotted quad is consumed
#: before the digit-run pattern can bite into it). Every pattern is valid
#: and equivalent in Java regex (Spark) and RE2 (DuckDB) — no backrefs, no
#: lookaround.
PII_PATTERNS = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    "url": (r"https?://[^\s]+", "[URL]"),
    "ip": (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "[IP]"),
    "phone": (r"\+?[0-9][0-9()\- ]{6,}[0-9]", "[PHONE]"),
}


def pii_count_cols(c) -> list:
    """Per-category PII match counts over a text column (codegen
    expressions, shuffle-free)."""
    return [
        F.regexp_count(c, F.lit(pat)).alias(f"n_{name}")
        for name, (pat, _) in PII_PATTERNS.items()
    ]


def redact_pii(c):
    """Replace every PII match with its category token, in declaration
    order. Chained ``regexp_replace`` — one pass per category, all inside a
    single codegen stage."""
    out = c
    for pat, token in PII_PATTERNS.values():
        out = F.regexp_replace(out, pat, token)
    return out


def _planted_pii_text():
    """The synthetic corpus contains no PII, so the registered query PLANTS
    deterministic PII derived from doc_id (same construction mirrored in the
    oracle SQL) — the operator under test is the detection/redaction above,
    which is what production runs over real text."""
    sid = F.col("doc_id").cast("string")
    tail = F.concat(
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" contact user"), sid, F.lit("@example.com now")),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" call +1-555-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".1 logged")
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(F.lit(" see https://example.org/d/"), sid, F.lit("?ref=1")),
        ).otherwise(F.lit("")),
    )
    return F.concat(F.col("text"), tail)


#: blocklist-arm term lists (round 11 — gates ``blocklist_signals``, the
#: content-policy sibling of PII redaction, behind the driver row).
#: INLINE: a curation-wordlist-sized set (literal-array path; terms drawn
#: from the synthetic vocabulary so hits are non-trivial, plus one
#: never-occurring term for the zero case). JOIN: the same idea pushed
#: past the inline limit with deterministic padding (the padding terms
#: mix letters+digits so no WORD_PAT token can ever equal one — the path
#: under test is the broadcast-join ROUTING and aggregation, and the
#: real-word subset keeps its hits non-trivial).
BLOCKLIST_INLINE_TERMS = ("hash", "slow", "spam", "vector")
_BL_JOIN_REAL = ("merge", "scan", "slow")
_BL_JOIN_PAD = 2100
BLOCKLIST_JOIN_TERMS = _BL_JOIN_REAL + tuple(
    f"blk{i:04d}" for i in range(_BL_JOIN_PAD)
)


def q_text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-policy signals over documents at the per-doc grain:

    - PII detection + redaction (the original entry): per-category match
      counts, a has_pii flag, the fully redacted text. Pure map-side
      regexp work — at 100 TB a shuffle-free scan-bandwidth pass.
    - ``bl_*`` (round 11) — the LITERAL-ARRAY blocklist path over
      ``BLOCKLIST_INLINE_TERMS``: ``_blocklist_exprs`` (the exact
      expressions+casts ``blocklist_signals`` emits at ≤ the inline
      limit) fused into the same shuffle-free projection as the PII
      columns (``pii_blocklist_projection``).
    - ``blb_*`` (round 11) — ``blocklist_signals`` with
      ``BLOCKLIST_JOIN_TERMS`` (2103 distinct terms > the 2048 inline
      limit): the BROADCAST-JOIN path — tokens explode map-side, probe
      the broadcast term table, one keyed per-doc aggregate, then the
      join back on doc_id. Those shuffles are the honest cost of a
      big-list blocklist; the PII + inline columns stay map-side
      (plan-asserted)."""
    # Round 16 re-A/B (the r15 neutral reading does not reproduce): the
    # regex-heavy projection and the blocklist tokenize both ran on the
    # single-split scan's one task; the guarded spread is pairwise
    # faster in every interleaved sample (entry 1.0-1.4 → 0.7-1.2 s at
    # sf0.1). ``pii_blocklist_projection`` itself stays a shuffle-free
    # map-side pass (plan-asserted) — the one exchange is the
    # narrow-input ramp, absent at production scan widths.
    docs = spread_input(load_table(spark, sf_dir, "documents"), "doc_id")
    blb = blocklist_signals(docs, BLOCKLIST_JOIN_TERMS).select(
        "doc_id",
        F.col("n_hits").alias("blb_n_hits"),
        F.col("n_distinct_hits").alias("blb_n_distinct_hits"),
        F.col("hit_frac").alias("blb_hit_frac"),
    )
    return pii_blocklist_projection(docs).join(blb, "doc_id")


def pii_blocklist_projection(docs: DataFrame) -> DataFrame:
    """The map-side column families of ``q_text_pii_redaction`` — PII
    counts/flag/redaction plus the INLINE blocklist signals
    (``_blocklist_exprs``, the identical expressions
    ``blocklist_signals`` emits on its literal-array path, same casts) —
    in ONE shuffle-free projection (plan-asserted: the 100 TB scan-
    bandwidth claim applies to this frame; only the >2048-term arm's
    explode/aggregate/join-back costs shuffles)."""
    aug = _planted_pii_text()
    counts = pii_count_cols(aug)
    has_pii = None
    for cc in counts:
        has_pii = cc if has_pii is None else has_pii + cc
    toks = _tokens_or_empty(F.col("text"))
    n, n_hits, n_distinct, frac = _blocklist_exprs(
        toks, sorted(set(BLOCKLIST_INLINE_TERMS))
    )
    return docs.select(
        "doc_id",
        *counts,
        (has_pii > 0).alias("has_pii"),
        redact_pii(aug).alias("redacted"),
        n.cast("bigint").alias("bl_n_tokens"),
        n_hits.cast("bigint").alias("bl_n_hits"),
        n_distinct.cast("int").alias("bl_n_distinct_hits"),
        frac.cast("double").alias("bl_hit_frac"),
    )


# --------------------------------------------------------------------------
# Benchmark-contamination check
# --------------------------------------------------------------------------

#: word-n-gram size for contamination detection (5 balances specificity
#: against the short synthetic docs; production sweeps 8..13)
CONTAM_N = 5
#: deterministic "benchmark" membership: every 97th doc stands in for the
#: held-out eval set a real pipeline would load as its own table
CONTAM_BENCH_MOD = 97


def _word_grams(n: int):
    """Distinct word-n-gram array over ``text`` (lowercased, whitespace
    split) — one expression, no explode until needed; docs with fewer than
    n words yield an empty array (``ngram_array``'s slices degrade to
    length 0)."""
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    return F.array_distinct(ngram_array(toks, n))


def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: for every corpus document, the
    fraction of its distinct word-5-grams that appear anywhere in the
    benchmark set (docs with doc_id % 97 == 0 stand in for the eval
    suite), PLUS the Bloom-prescreen columns (``operators/bloom.py``):
    ``n_bloom`` counts the grams the broadcast bitmap flags and
    ``bloom_no_false_negative`` asserts per gram that every exact match
    was flagged — the Bloom contract that makes the prescreen sound.

    Plan shape at 100 TB: a real benchmark gram set is SMALL and fixed
    (eval suites don't scale with the corpus), so the planner broadcasts it
    via the size threshold; corpus grams explode map-side and probe the
    broadcast hash set; one keyed shuffle for the per-document aggregate.
    Corpus-linear, no self-join. No hard hint: THIS stand-in benchmark is a
    fixed fraction of the corpus (it has no external eval table to read),
    so the threshold + AQE must keep the right to fall back to SMJ — same
    rule as the scaling-table joins in relational.py. The bloom columns
    show the cheaper alternative to the exact join: the bitmap aggregates
    to ONE broadcast row (m/8 bytes however large the benchmark) and each
    gram probes in O(k) codegen ops — at 100 TB that is the difference
    between shuffling benchmark rows everywhere and shipping 1 KB; the
    md5-derived bitmap is reproduced exactly by the oracle, so both
    engines flag identical gram sets."""
    from ts_etl_spark.operators.bloom import bloom_bitmap_df, bloom_probe_cols

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(_word_grams(CONTAM_N)).alias("g")
    )
    bench = (
        grams.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    bf = bloom_bitmap_df(bench, "g")
    # Round 16: the corpus leg (96/97 of the gram explode + the bloom
    # probe) ran on the single-split scan's one task; spreading the
    # corpus documents behind the guard cuts the entry 2.3-3.1 →
    # 0.9-1.6 s (interleaved A/B at sf0.1). Filter BEFORE the exchange
    # (guide §2.3) so bench docs never shuffle; the bench leg's 1/97
    # explode stays narrow. Gram counts are partitioning-independent.
    corpus_docs = spread_input(
        docs.select("doc_id", "text").filter(
            F.col("doc_id") % CONTAM_BENCH_MOD != 0
        ),
        "doc_id",
    )
    corpus = bloom_probe_cols(
        corpus_docs.select(
            "doc_id", F.explode(_word_grams(CONTAM_N)).alias("g")
        ),
        bf,
        "g",
    )
    scored = (
        corpus.join(bench, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_matched"),
            F.sum(F.col("bloom_hit").cast("int")).alias("n_bloom"),
            (
                F.sum(
                    F.when(
                        (F.coalesce("hit", F.lit(0)) == 1) & ~F.col("bloom_hit"),
                        1,
                    ).otherwise(0)
                )
                == 0
            ).alias("bloom_no_false_negative"),
        )
    )
    return scored.select(
        "doc_id",
        "n_grams",
        "n_matched",
        (F.col("n_matched").cast("double") / F.col("n_grams")).alias("contamination"),
        (F.col("n_matched") > 0).alias("contaminated"),
        F.col("n_bloom").cast("bigint").alias("n_bloom"),
        "bloom_no_false_negative",
    )


def q_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full text-analysis surface — corpus metrics AND identity signals
    — in ONE shuffle-free projection over documents (same grain, same scan;
    merging the two column families costs nothing and keeps every expression
    inside a single WholeStageCodegen stage)."""
    # spread the single-split local scan before the regex-heavy
    # projection (guide §2.5; no-op at scale — spread_input docstring):
    # the entire metric/signature column family otherwise evaluates on
    # the one scan task (measured 3.6s → 1.0s at sf0.1 / 32 cores)
    docs = spread_input(load_table(spark, sf_dir, "documents"), "doc_id")
    return docs.select("doc_id", *_metric_cols(), *_signature_cols())


QUERIES = {
    "text_analysis": q_text_analysis,
    "text_pii_redaction": q_text_pii_redaction,
    "text_contamination": q_text_contamination,
}

def _BLOOM_POS_SQL(gexpr: str) -> str:
    """DuckDB bloom position for gram expression ``gexpr`` with the hash
    index coming from the ``seeds`` CTE's ``j`` column — the j-column
    variant of ``bloom.bloom_position_sql``, in lockstep with the Spark
    ``bloom_position`` definition."""
    from ts_etl_spark.operators.sketches import _hex8_fold_sql

    fold = _hex8_fold_sql(
        f"substr(md5('bloom' || CAST(j AS VARCHAR) || '#' "
        f"|| CAST({gexpr} AS VARCHAR)), 1, 8)"
    )
    return f"(({fold}) % {_BLOOM_BITS})"


#: blocklist-arm SQL-twin constants (keep in lockstep with
#: _tokens_or_empty / blocklist_signals)
from ts_etl_spark.operators.bpe import WORD_PAT as _BL_WORD_PAT  # noqa: E402

_BL_INLINE_SQL = (
    "[" + ", ".join(f"'{t}'" for t in sorted(set(BLOCKLIST_INLINE_TERMS))) + "]"
)
_BL_JOIN_REAL_SQL = (
    "[" + ", ".join(f"'{t}'" for t in sorted(set(_BL_JOIN_REAL))) + "]"
)

from ts_etl_spark.operators.bloom import (  # noqa: E402 — SQL-twin constants
    BLOOM_BITS as _BLOOM_BITS,
    BLOOM_K as _BLOOM_K,
)

_LANG_SCORES_SQL = ",\n".join(
    f"len(regexp_extract_all(lower(text), '{pat}')) AS score_{lang}"
    for lang, pat in LANG_MARKERS.items()
)

#: DuckDB mirror of _planted_pii_text() — identical string construction
_PII_AUG_SQL = r"""
    text
    || CASE WHEN doc_id % 3 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
            ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1 logged'
            ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN ' see https://example.org/d/' || CAST(doc_id AS VARCHAR) || '?ref=1'
            ELSE '' END
"""

_PII_COUNTS_SQL = ",\n".join(
    f"CAST(len(regexp_extract_all(t, '{pat}')) AS INT) AS n_{name}"
    for name, (pat, _) in PII_PATTERNS.items()
)

_PII_REDACT_SQL = "t"
for _pat, _token in PII_PATTERNS.values():
    _PII_REDACT_SQL = f"regexp_replace({_PII_REDACT_SQL}, '{_pat}', '{_token}', 'g')"

ORACLE = {
    "text_analysis": rf"""
        WITH scored AS (
            SELECT doc_id, text,
                   regexp_split_to_array(lower(trim(text)), '\s+') AS lw,
                   {_LANG_SCORES_SQL},
                   len(regexp_extract_all(text, '{CJK}')) AS score_cjk
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
               CAST(len(regexp_extract_all(text, '{BPE_PAT}')) AS INT) AS n_bpe_tokens,
               CAST(length(text) AS INT) AS n_chars,
               CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                   / length(text) AS alpha_ratio,
               CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                   / length(text) AS digit_ratio,
               CAST(length(regexp_replace(text, '[^\s]', '', 'g')) AS DOUBLE)
                   / length(text) AS space_ratio,
               CAST(length(text) - length(regexp_replace(text, '[^\s]', '', 'g')) AS DOUBLE)
                   / len(regexp_split_to_array(trim(text), '\s+')) AS avg_token_len,
               CASE WHEN len(lw) > 0 THEN
                   CAST(len(lw) - len(list_distinct(lw)) AS DOUBLE) / len(lw)
               END AS word_rep_ratio,
               CASE WHEN len(lw) - 1 > 0 THEN
                   CAST((len(lw) - 1) - len(list_distinct(
                       [array_to_string(lw[i:i+1], ' ')
                        for i in generate_series(1, len(lw) - 1)])) AS DOUBLE)
                   / (len(lw) - 1)
               END AS gram2_rep_ratio,
               CASE WHEN len(lw) - 2 > 0 THEN
                   CAST((len(lw) - 2) - len(list_distinct(
                       [array_to_string(lw[i:i+2], ' ')
                        for i in generate_series(1, len(lw) - 2)])) AS DOUBLE)
                   / (len(lw) - 2)
               END AS gram3_rep_ratio,
               (len(regexp_split_to_array(trim(text), '\s+')) >= 10
                AND length(text) >= 100
                AND CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                        / length(text) >= 0.5) AS quality_pass,
               CASE WHEN score_cjk > 0 THEN 'zh'
                    WHEN greatest(score_en, score_de, score_fr, score_es) = 0 THEN 'und'
                    WHEN score_en = greatest(score_en, score_de, score_fr, score_es) THEN 'en'
                    WHEN score_de = greatest(score_en, score_de, score_fr, score_es) THEN 'de'
                    WHEN score_fr = greatest(score_en, score_de, score_fr, score_es) THEN 'fr'
                    ELSE 'es' END AS pred_lang,
               CAST(score_en AS INT) AS score_en,
               CAST(score_de AS INT) AS score_de,
               CAST(score_fr AS INT) AS score_fr,
               CAST(score_es AS INT) AS score_es,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                                [CAST(unicode(x) AS BIGINT) for x in string_split(text, '')]),
                   (acc, c) -> (acc * 31 + c) % {RH_MOD}
               ) AS rhash
        FROM scored
    """,
    "text_pii_redaction": f"""
        WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents),
        -- blocklist arms: the shared WORD_PAT token stream (lockstep
        -- with textops._tokens_or_empty)
        bl_toks AS (
            SELECT doc_id,
                   regexp_extract_all(lower(COALESCE(text, '')),
                                      '{_BL_WORD_PAT}') AS t
            FROM documents
        ),
        -- inline (literal-array) arm
        bl AS (
            SELECT doc_id,
                   CAST(len(t) AS BIGINT) AS bl_n_tokens,
                   CAST(len(list_filter(t,
                        x -> list_contains({_BL_INLINE_SQL}, x))) AS BIGINT)
                       AS bl_n_hits,
                   CAST(len(list_intersect(list_distinct(t),
                        {_BL_INLINE_SQL})) AS INT) AS bl_n_distinct_hits
            FROM bl_toks
        ),
        -- broadcast-join arm: the full >2048-term table is genuinely
        -- probed (padding generated, real words inline)
        blb_terms AS (
            SELECT unnest({_BL_JOIN_REAL_SQL}) AS w
            UNION ALL
            SELECT 'blk' || lpad(CAST(j AS VARCHAR), 4, '0')
            FROM generate_series(0, {_BL_JOIN_PAD - 1}) g(j)
        ),
        blb_tok AS (SELECT doc_id, unnest(t) AS w FROM bl_toks),
        blb AS (
            SELECT k.doc_id,
                   COALESCE(j.n_hits, 0) AS blb_n_hits,
                   COALESCE(j.n_distinct, 0) AS blb_n_distinct_hits,
                   CASE WHEN k.n_tokens > 0
                        THEN CAST(COALESCE(j.n_hits, 0) AS DOUBLE) / k.n_tokens
                   END AS blb_hit_frac
            FROM (SELECT doc_id, len(t) AS n_tokens FROM bl_toks) k
            LEFT JOIN (
                SELECT doc_id,
                       CAST(COUNT(*) FILTER (WHERE b.w IS NOT NULL) AS BIGINT)
                           AS n_hits,
                       CAST(COUNT(DISTINCT b.w) AS INT) AS n_distinct
                FROM blb_tok t LEFT JOIN blb_terms b ON t.w = b.w
                GROUP BY doc_id
            ) j USING (doc_id)
        )
        SELECT a.doc_id,
               {_PII_COUNTS_SQL},
               ({" + ".join(f"len(regexp_extract_all(t, '{pat}'))" for pat, _ in PII_PATTERNS.values())}) > 0 AS has_pii,
               {_PII_REDACT_SQL} AS redacted,
               bl.bl_n_tokens, bl.bl_n_hits, bl.bl_n_distinct_hits,
               CASE WHEN bl.bl_n_tokens > 0
                    THEN CAST(bl.bl_n_hits AS DOUBLE) / bl.bl_n_tokens
               END AS bl_hit_frac,
               blb.blb_n_hits, blb.blb_n_distinct_hits, blb.blb_hit_frac
        FROM aug a
        JOIN bl USING (doc_id)
        JOIN blb USING (doc_id)
    """,
    "text_contamination": f"""
        WITH words AS (
            SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
            FROM documents
        ),
        grams AS (
            SELECT DISTINCT doc_id,
                   array_to_string(w[ix.i:ix.i + {CONTAM_N - 1}], ' ') AS g
            FROM words,
                 LATERAL (SELECT unnest(generate_series(1, len(w) - {CONTAM_N - 1})) AS i) ix
        ),
        bench AS (
            SELECT DISTINCT g, 1 AS hit FROM grams WHERE doc_id % {CONTAM_BENCH_MOD} = 0
        ),
        -- Bloom mirror: occupied bit positions of the bench-gram bitmap
        -- (the md5 fold is the Spark bloom_position definition verbatim;
        -- position-set membership == bitmap bit test)
        seeds AS (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS j),
        bloom_pos AS (
            SELECT DISTINCT {_BLOOM_POS_SQL("bench.g")} AS p
            FROM bench, seeds
        ),
        corpus AS (SELECT * FROM grams WHERE doc_id % {CONTAM_BENCH_MOD} != 0),
        probed AS (
            SELECT doc_id, g, bool_and(bp.p IS NOT NULL) AS bloom_hit
            FROM (SELECT c.doc_id, c.g, {_BLOOM_POS_SQL("c.g")} AS p
                  FROM corpus c, seeds) cp
            LEFT JOIN bloom_pos bp USING (p)
            GROUP BY doc_id, g
        )
        SELECT doc_id,
               COUNT(*) AS n_grams,
               CAST(SUM(COALESCE(hit, 0)) AS BIGINT) AS n_matched,
               CAST(SUM(COALESCE(hit, 0)) AS DOUBLE) / COUNT(*) AS contamination,
               CAST(SUM(COALESCE(hit, 0)) AS BIGINT) > 0 AS contaminated,
               CAST(SUM(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom,
               CAST(SUM(CASE WHEN COALESCE(hit, 0) = 1 AND NOT bloom_hit
                             THEN 1 ELSE 0 END) AS BIGINT) = 0
                   AS bloom_no_false_negative
        FROM corpus
        LEFT JOIN bench USING (g)
        JOIN probed USING (doc_id, g)
        GROUP BY doc_id
    """,
}


def _tokens_or_empty(text):
    """Lowercased WORD_PAT tokens with NULL text yielding an EMPTY array:
    under ANSI Spark, size(regexp_extract_all(NULL)) is NULL, which would
    make the inline blocklist path disagree with the join path's
    coalesce-to-0 counts on NULL-text rows."""
    from ts_etl_spark.operators.bpe import WORD_PAT

    return F.coalesce(
        F.regexp_extract_all(F.lower(text), F.lit(WORD_PAT), 0),
        F.array().cast("array<string>"),
    )


def _blocklist_exprs(toks, tset: list):
    """(n_tokens, n_hits, n_distinct_hits, hit_frac) expressions for the
    inline (literal-array) blocklist path — ONE definition shared by
    ``blocklist_signals`` and the curation pipeline's inline gate."""
    lit_terms = F.array(*[F.lit(t) for t in tset])
    n = F.size(toks)
    n_hits = F.size(F.filter(toks, lambda t: F.array_contains(lit_terms, t)))
    n_distinct = F.size(F.array_intersect(F.array_distinct(toks), lit_terms))
    frac = F.when(n > 0, n_hits.cast("double") / n)
    return n, n_hits, n_distinct, frac


def blocklist_frac_expr(text, terms, inline_limit: int = 2048):
    """The blocklist hit FRACTION as one column expression over a text
    column (NULL for token-less docs) — for inline pipeline gates.
    Refuses term lists past ``inline_limit``: a giant literal array would
    cost O(tokens × terms) per document — use ``blocklist_signals``
    (which switches to the broadcast-join plan) and join its ``hit_frac``
    instead."""
    from ts_etl_spark.operators.bpe import WORD_PAT

    tset = sorted({t.lower() for t in terms})
    if not tset:
        raise ValueError("terms must be a non-empty collection")
    if len(tset) > inline_limit:
        raise ValueError(
            f"{len(tset)} terms exceed the inline limit ({inline_limit}); "
            "use blocklist_signals (broadcast-join path) and join hit_frac"
        )
    toks = _tokens_or_empty(text)
    return _blocklist_exprs(toks, tset)[3]


def blocklist_signals(
    docs,
    terms,
    text_col: str = "text",
    id_col: str = "doc_id",
    inline_limit: int = 2048,
):
    """Whole-token blocklist matching (the term-list content filter every
    curation pipeline runs — "adult/violence/spam wordlist" style):
    ``(id, n_tokens, n_hits, n_distinct_hits, hit_frac)`` per document,
    with ``hit_frac`` NULL for token-less documents (no evidence — same
    contract as the LM/classifier scorers). Matching is on the shared
    lowercased ``WORD_PAT`` token, so "class" never matches inside
    "classic" (substring regexes over raw text are the classic
    false-positive trap — the Scunthorpe problem).

    Plan shape by list size: at ≤ ``inline_limit`` terms the list ships
    as a LITERAL array and matching is a shuffle-free codegen projection
    (array_intersect / filter over the token array — the common case;
    curation wordlists are hundreds of terms). Past the limit, tokens
    explode and hash-join the broadcast term table, one partial-
    aggregated per-doc groupBy — linear either way, never a scan per
    term. Both paths emit the SAME schema (bigint counts, int
    n_distinct_hits, double hit_frac) so outputs union cleanly across
    the ``inline_limit`` boundary."""
    from ts_etl_spark.operators.bpe import WORD_PAT

    tset = sorted({t.lower() for t in terms})
    if not tset:
        raise ValueError("terms must be a non-empty collection")
    toks = _tokens_or_empty(text_col)
    if len(tset) <= inline_limit:
        n, n_hits, n_distinct, frac = _blocklist_exprs(toks, tset)
        return docs.select(
            id_col,
            n.cast("bigint").alias("n_tokens"),
            n_hits.cast("bigint").alias("n_hits"),
            n_distinct.cast("int").alias("n_distinct_hits"),
            frac.cast("double").alias("hit_frac"),
        )
    spark = docs.sparkSession
    term_df = local_rows(spark, [(t,) for t in tset], "w STRING")
    exploded = docs.select(F.col(id_col), F.explode(toks).alias("w"))
    per_doc = (
        exploded.join(F.broadcast(term_df.withColumn("__hit", F.lit(1))), "w", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce("__hit", F.lit(0))).alias("n_hits"),
            F.count_distinct(F.when(F.col("__hit") == 1, F.col("w"))).alias(
                "n_distinct_hits"
            ),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.coalesce("n_distinct_hits", F.lit(0)).cast("int").alias(
                "n_distinct_hits"
            ),
            F.when(
                F.coalesce("n_tokens", F.lit(0)) > 0,
                F.col("n_hits").cast("double") / F.col("n_tokens"),
            ).cast("double").alias("hit_frac"),
        )
    )


# --------------------------------------------------------------------------
# code-switch / mixed-language detection (round 7)
# --------------------------------------------------------------------------


def mixed_language_signals(
    docs,
    delimiter: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Per-document code-switching report: each PARAGRAPH gets the shared
    marker lang-ID (``pred_lang_expr``), and the document summarizes to
    ``(id, n_paragraphs, n_langs, dominant_lang, dominant_frac, mixed)``:

    - ``n_paragraphs``: all delimiter-split parts (blank included — the
      structural count, mirroring ``split_paragraphs``);
    - ``n_langs``: DISTINCT identified (non-'und') paragraph languages;
    - ``dominant_lang``: the modal identified language (count ties →
      lexicographically smallest; 'und' when nothing identifies);
    - ``dominant_frac``: the dominant language's share of IDENTIFIED
      paragraphs (NULL when none identify — no evidence, not 0);
    - ``mixed``: ``n_langs >= 2`` — the doc switches languages, the case
      a whole-document lang-ID silently mislabels and a per-language
      corpus split contaminates.

    Why paragraph-grained: whole-doc marker counts just pick the majority
    language; real code-switched web text (forums, wiki talk, quoted
    posts) alternates in blocks, which the paragraph grain sees.

    Plan: literal split + posexplode (corpus-linear), one (doc, lang)
    partial-aggregated groupBy, one per-doc aggregate; modal selection is
    ``min(struct(-count, lang))`` — no window, no second scan."""
    from ts_etl_spark.operators.paragraphs import PARA_DELIM, split_paragraphs

    delim = PARA_DELIM if delimiter is None else delimiter
    paras = split_paragraphs(docs, text_col, id_col, delim).select(
        id_col, pred_lang_expr(F.col("para")).alias("plang")
    )
    per = paras.groupBy(id_col, "plang").agg(F.count("*").alias("cnt"))
    known = F.col("plang") != "und"
    agg = per.groupBy(id_col).agg(
        F.sum("cnt").alias("n_paragraphs"),
        F.count(F.when(known, 1)).alias("n_langs"),
        F.min(
            F.when(
                known,
                F.struct((-F.col("cnt")).alias("nc"), F.col("plang").alias("l")),
            )
        ).alias("__dom"),
        F.sum(F.when(known, F.col("cnt"))).alias("__n_known"),
    )
    return agg.select(
        id_col,
        F.col("n_paragraphs").cast("int").alias("n_paragraphs"),
        F.col("n_langs").cast("int").alias("n_langs"),
        F.coalesce(F.col("__dom.l"), F.lit("und")).alias("dominant_lang"),
        F.when(
            F.col("__n_known") > 0,
            (-F.col("__dom.nc")).cast("double") / F.col("__n_known"),
        ).alias("dominant_frac"),
        (F.col("n_langs") >= 2).alias("mixed"),
    )


def mixed_language_sql(
    table: str = "documents", delimiter: str = "\n\n"
) -> str:
    """DuckDB twin of ``mixed_language_signals`` — same split, scores,
    argmax tie order, and modal rule; keep in lockstep."""
    delim = "'" + delimiter.replace("\\", "\\\\").replace("'", "''").replace(
        "\n", "' || chr(10) || '"
    ) + "'"
    score_cols = ",\n".join(
        f"len(regexp_extract_all(lower(p), '{pat}')) AS score_{lang}"
        for lang, pat in LANG_MARKERS.items()
    )
    best = "greatest(" + ", ".join(f"score_{l}" for l in LANG_MARKERS) + ")"
    pred = "CASE WHEN score_cjk > 0 THEN 'zh'\n"
    for lang in LANG_MARKERS:
        pred += (
            f" WHEN {best} > 0 AND score_{lang} = {best} THEN '{lang}'\n"
        )
    pred += " ELSE 'und' END"
    return f"""
        WITH paras AS (
            SELECT doc_id, unnest(string_split(text, {delim})) AS p
            FROM {table}
        ), scored AS (
            SELECT doc_id, {score_cols},
                   len(regexp_extract_all(p, '{CJK}')) AS score_cjk
            FROM paras
        ), langed AS (
            SELECT doc_id, {pred} AS plang FROM scored
        ), per AS (
            SELECT doc_id, plang, COUNT(*) AS cnt
            FROM langed GROUP BY 1, 2
        ), agg AS (
            SELECT doc_id,
                   CAST(SUM(cnt) AS INT) AS n_paragraphs,
                   CAST(COUNT(*) FILTER (plang != 'und') AS INT) AS n_langs,
                   MIN(CASE WHEN plang != 'und'
                            THEN struct_pack(nc := -cnt, l := plang) END)
                       AS dom,
                   SUM(CASE WHEN plang != 'und' THEN cnt END) AS n_known
            FROM per GROUP BY doc_id
        )
        SELECT doc_id, n_paragraphs, n_langs,
               COALESCE(dom.l, 'und') AS dominant_lang,
               CASE WHEN n_known > 0
                    THEN CAST(-dom.nc AS DOUBLE) / n_known END
                   AS dominant_frac,
               n_langs >= 2 AS mixed
        FROM agg
    """
