"""BM25 sparse lexical retrieval over ``documents`` — the keyword-side
counterpart of the dense retrieval stack in ``operators/similarity.py``
(a training-data pipeline needs BOTH: dense ANN for semantic near-dup /
SemDeDup, sparse BM25 for decontamination lookups, quality mining, and
near-dup candidate generation where lexical overlap is the signal).

Scoring is classic Okapi/Lucene BM25 with the non-negative idf::

    score(q, d) = Σ_{t ∈ q}  idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))
    idf(t)      = ln(1 + (N − df + 0.5) / (df + 0.5))

with k1 = 1.2, b = 0.75, query-term multiplicity ignored (the standard
short-query simplification). Reference parity: the reference engine has
no retrieval operator of any kind — it is a CSV/PRN normalization ETL
(/root/reference/src/index.ts, README.md; its sources are parsers/
renderers/utils only); BM25 is part of the mandated LLM-pipeline
extension surface, spec from Robertson & Zaragoza (2009) and Lucene's
BM25Similarity.

Cross-engine exactness (the oracle hash-matches bit-for-bit, the same
ladder as trainer_prep's mix arm):

1. ``tf``, ``df``, ``dl``, ``N`` are exact integers in both engines
   (same ``WORD_PAT`` tokenizer as the LM/BPE/embedding stack).
2. ``avgdl = Σdl / N``: the numerator is an exact integer sum (every
   partial sum of integers below 2^53 is exactly representable, so
   summation order cannot matter), the division is one correctly-rounded
   IEEE op — bit-identical however each engine schedules the aggregate.
3. ``idf`` is computed ONCE, driver-side, with CPython's ``math.log``;
   the oracle's DuckDB ``ln`` calls the same host libm on an identically
   computed argument (ints, +0.5, one division, +1.0 — all exact or
   correctly rounded), so the doubles agree bit-for-bit. Spark never
   evaluates a JVM ``ln`` (java.lang.Math.log is only 1-ulp-accurate and
   need not match libm) — the idf reaches the plan as a literal column.
4. The tf factor is pure +−×/ over doubles with the SAME expression
   tree on both sides (every constant is injected via ``repr()`` so both
   parsers bind the identical binary64 — derived constants are computed
   once in Python and shipped as literals, never re-derived in SQL text,
   so agreement does not hinge on whether a particular sum happens to
   round to its decimal literal); IEEE arithmetic is deterministic
   given the tree.
5. The per-(query, doc) sum is an ORDERED left fold over term-sorted
   score lists (``F.aggregate`` over ``sort_array`` / DuckDB
   ``list_reduce(list(... ORDER BY term))``; the 0.0 seed is absorbed —
   scores are strictly positive since idf > ln 1 = 0).
6. Ranking uses the ROUNDED score (6 digits) with doc_id tiebreak, so
   rank order is a pure function of values both engines already agree on.

Scale shape at 100 TB: tokenize + dl is a shuffle-free projection; the
term filter (``isin`` over a handful of query terms) prunes the exploded
stream BEFORE the only corpus-keyed shuffle (the per-(doc, term) tf
aggregate, partially aggregated map-side); idf and the query map are
broadcast literals; the stats pass is two bounded driver reads (one
integer triple + ≤|terms| df rows — the "lexicon pass" every BM25 build
performs; persist the lexicon in production instead of re-deriving it).
Top-k is TWO-PHASE so no single reducer sees the full postings list of a
popular term: a salted per-(q, bucket) window keeps ``top_k`` per bucket
(well-distributed shuffle), then the global window ranks the surviving
``salt_buckets × top_k`` rows per query — bounded regardless of corpus
size. Exact top-k per query is preserved: the global winner set is a
subset of every bucket's local winner set.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ts_etl_spark.localrel import local_rows
from ts_etl_spark.operators.bpe import WORD_PAT

K1 = 1.2
B = 0.75
#: derived constants computed ONCE in Python and injected (repr) into
#: BOTH plans. For THESE values `1.2 + 1.0 == 2.2` happens to hold in
#: binary64, but the contract must not hinge on such coincidences
#: (`0.1 + 0.2 != 0.3` does not) — so the oracle never re-derives a
#: constant in SQL text; it binds the repr of the Python double.
K1_PLUS_1 = K1 + 1.0
ONE_MINUS_B = 1.0 - B
BM25_TOP_K = 5
#: phase-1 salt width for the two-phase top-k (see module docstring)
SALT_BUCKETS = 16

#: fixed query set over the corpus vocabulary: 'dup' is the one rare
#: term (df ≈ 5% of docs — high idf), the rest sit near df ≈ 76% so the
#: dl normalization and tf saturation, not df, decide those rankings.
BM25_QUERIES: dict[int, str] = {
    0: "hash join table",
    1: "dup scan",
    2: "slow query filter sort",
    3: "the big data stream",
}


def idf(n_docs: int, df: int) -> float:
    """The Lucene non-negative idf — THE shared expression both the
    corpus-scan stats and the incremental-lexicon stats must call, so
    the bit-exactness contract (module docstring point 3) is pinned in
    exactly one place: ints, +0.5, one division, +1.0, one libm log."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _query_terms(queries: dict[int, str]) -> list[tuple[int, str]]:
    """Distinct (q_id, term) pairs, term-sorted within query."""
    return [
        (q_id, t)
        for q_id in sorted(queries)
        for t in sorted(set(queries[q_id].split()))
    ]


def _tokens(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, ws, dl) — the tokenized projection shared by the stats
    pass and the scoring plan. NULL text coalesces to '' (dl = 0) so the
    corpus count N and avgdl agree with the oracle's identical coalesce
    — Spark's size(NULL) is -1, which would poison the sum."""
    ws = F.regexp_extract_all(
        F.lower(F.coalesce(F.col(text_col), F.lit(""))), F.lit(WORD_PAT), 0
    )
    return docs.select(
        F.col(id_col).alias("doc_id"), ws.alias("ws"), F.size(ws).alias("dl")
    )


def bm25_stats(
    docs: DataFrame,
    queries: dict[int, str] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[int, float, dict[str, float]]:
    """The lexicon pass: ``(N, avgdl, {term: idf})`` from two bounded
    driver reads (one integer triple; ≤|distinct query terms| df rows).
    idf uses CPython math.log — see module docstring point 3."""
    queries = BM25_QUERIES if queries is None else queries
    terms = sorted({t for _, t in _query_terms(queries)})
    toks = _tokens(docs, text_col, id_col)
    n_docs, sum_dl = toks.agg(
        F.count(F.lit(1)), F.coalesce(F.sum("dl"), F.lit(0))
    ).first()
    if n_docs == 0:
        raise ValueError("bm25_stats: empty corpus")
    avgdl = sum_dl / n_docs  # exact int sum, one IEEE division (point 2)
    df_rows = (
        toks.select("doc_id", F.explode("ws").alias("w"))
        .filter(F.col("w").isin(terms))
        .groupBy("w")
        .agg(F.countDistinct("doc_id").alias("df"))
        .collect()
    )
    idfs = {r["w"]: idf(n_docs, r["df"]) for r in df_rows}
    return n_docs, avgdl, idfs


def _live_qmap(
    queries: dict[int, str], idfs: dict[str, float]
) -> list[tuple[int, str, float]]:
    """(q_id, term, idf) for query terms with df > 0 — terms with df = 0
    have no tf rows to join, so dropping them up front keeps the
    broadcast map and the isin pushdown carrying only live terms."""
    return [(q, t, idfs[t]) for q, t in _query_terms(queries) if t in idfs]


def _bm25_rank(
    tf: DataFrame,
    qmap: list[tuple[int, str, float]],
    avgdl: float,
    top_k: int,
) -> DataFrame:
    """The shared ranking body over a ``(doc_id, dl, term, tf)`` frame —
    ONE implementation on purpose: the corpus-scan path (``bm25_topk``)
    and the postings-index path (``streaming.ingest
    .bm25_topk_from_index``) must produce bit-identical scores, and
    sharing the expression tree plus the ordered fold plus the two-phase
    top-k makes that structural rather than a claim to re-verify."""
    spark = tf.sparkSession
    qdf = local_rows(spark, qmap, "q_id long, term string, idf double")
    # the tf factor — expression tree pinned to the oracle's (point 4)
    tfd = F.col("tf").cast("double")
    dld = F.col("dl").cast("double")
    den = tfd + F.lit(K1) * (F.lit(ONE_MINUS_B) + F.lit(B) * (dld / F.lit(avgdl)))
    sc = (F.col("idf") * (tfd * F.lit(K1_PLUS_1))) / den
    scored = tf.join(F.broadcast(qdf), "term").select(
        "q_id", "doc_id", "term", sc.alias("sc")
    )
    summed = (
        scored.groupBy("q_id", "doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("term", "sc"))).alias("ts"))
        .select(
            "q_id",
            "doc_id",
            F.round(
                F.aggregate(
                    "ts", F.lit(0.0), lambda acc, x: acc + x["sc"]
                ),
                6,
            ).alias("score"),
        )
    )
    # two-phase exact top-k (see module docstring): local winners per
    # (q_id, salt bucket), then the global rank over a bounded set
    local_w = Window.partitionBy(
        "q_id", F.pmod(F.col("doc_id"), F.lit(SALT_BUCKETS))
    ).orderBy(F.col("score").desc(), "doc_id")
    global_w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), "doc_id")
    return (
        summed.withColumn("lrn", F.row_number().over(local_w))
        .filter(F.col("lrn") <= top_k)
        .withColumn("rn", F.row_number().over(global_w))
        .filter(F.col("rn") <= top_k)
        .select("q_id", "doc_id", "score", "rn")
    )


def bm25_topk(
    docs: DataFrame,
    queries: dict[int, str] | None = None,
    stats: tuple[int, float, dict[str, float]] | None = None,
    top_k: int = BM25_TOP_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact BM25 top-k per query: (q_id, doc_id, score, rn), score
    rounded to 6 digits, rank ties broken by doc_id. ``stats`` lets a
    caller reuse a persisted lexicon (and the oracle-gated arm memoize
    the pass); omitted, the lexicon pass runs here. This path tokenizes
    the corpus per call — the batch-sweep shape; a deployment serving
    repeated queries should maintain the postings index
    (``streaming.ingest.update_bm25_lexicon``) and rank through
    ``streaming.ingest.bm25_topk_from_index``, which touches only the
    matching postings and is exact-equal to this by construction."""
    queries = BM25_QUERIES if queries is None else queries
    if stats is None:
        stats = bm25_stats(docs, queries, text_col, id_col)
    _, avgdl, idfs = stats  # idfs, not idf — don't shadow the helper
    qmap = _live_qmap(queries, idfs)
    if not qmap:
        return local_rows(
            docs.sparkSession, [], "q_id long, doc_id long, score double, rn int"
        )
    terms = sorted({t for _, t, _ in qmap})
    toks = _tokens(docs, text_col, id_col)
    tf = (
        toks.select("doc_id", "dl", F.explode("ws").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "dl", "term")  # dl is per-doc — a free key
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return _bm25_rank(tf, qmap, avgdl, top_k)


def q_bm25_scan(spark, sf_dir: str) -> DataFrame:
    """Bench supplement: the corpus-scan BM25 path END TO END — stats
    pass + full tokenize + rank, no stats memo on purpose (the gated
    ``embed_topk`` arm memoizes the stats pass; this entry times what a
    one-off decontamination sweep actually pays). NOT a ``queries()``
    entry (the registry is consolidated to 50); correctness is covered
    by tests/test_bm25.py. The delta vs ``bm25_indexed`` is the
    per-query saving the persisted postings index buys."""
    from ts_etl_spark.sources.tables import load_table, spread_input

    # single-split ramp (guide §2.5, no-op at scale): the stats pass and
    # the scoring tokenize otherwise both run on the one scan task
    docs = spread_input(
        load_table(spark, sf_dir, "documents"), "doc_id"
    ).select("doc_id", "text")
    return bm25_topk(docs)


def q_bm25_indexed(spark, sf_dir: str) -> DataFrame:
    """``q_bm25_scan`` answered from a PRE-MATERIALIZED postings
    lexicon (``streaming.ingest``'s ``bm25_lexicon_path`` shape built
    via the adoption bootstrap): the query touches only matching
    postings plus the two skinny stats tables — never a corpus
    tokenize. Bench SUPPLEMENT only; exact equality with the scan path
    is tested (tests/test_ingest.py). Staging uses a driver-side
    tempdir — bench-harness plumbing, not the production path
    (``ingest_batch`` maintains the real lexicon incrementally)."""
    import atexit
    import shutil
    import tempfile

    from ts_etl_spark.execution import memo
    from ts_etl_spark.operators.relational import load_table
    from ts_etl_spark.streaming.ingest import (
        bm25_topk_from_index,
        bootstrap_bm25_lexicon,
    )

    def stage():
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        d = tempfile.mkdtemp(prefix="tsetl_bench_lex_")
        if not bootstrap_bm25_lexicon(spark, docs, d):
            # degenerate empty table: defer to the scan supplement,
            # whose stats pass raises the canonical empty-corpus
            # ValueError, instead of staging an empty lexicon. Memoize
            # the SENTINEL (and drop the unused tempdir now) so
            # repeated bench samples neither accumulate tempdirs nor
            # re-probe the empty corpus every call.
            shutil.rmtree(d, ignore_errors=True)
            return None
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        return d

    # the staged lexicon directory is memoized per (application, sf_dir):
    # built on the first call (which bench's min-of-N discards; the cold
    # number is recorded separately) and reused by later samples, so the
    # measured number is the steady-state QUERY cost a persisted postings
    # index buys.
    d = memo(spark, sf_dir, "bm25_lex/staged", stage)
    if d is None:
        return q_bm25_scan(spark, sf_dir)
    return bm25_topk_from_index(spark, d)


def bm25_oracle_sql(
    queries: dict[int, str] | None = None, top_k: int = BM25_TOP_K
) -> str:
    """The DuckDB twin as a SELECT producing (q_id, doc_id, score, rn)
    — every float constant injected via repr from the SAME Python
    values the Spark plan uses (module docstring points 3-6)."""
    queries = BM25_QUERIES if queries is None else queries
    # caller-supplied terms are embedded in SQL text: escape single
    # quotes so a term like "o'brien" cannot break (or inject into)
    # the oracle query; the fixed BM25_QUERIES are all WORD_PAT-clean
    values = ", ".join(
        f"({int(q)}, '{t.replace(chr(39), chr(39) * 2)}')"
        for q, t in _query_terms(queries)
    )
    return f"""
        WITH bm25_dl AS (
            SELECT doc_id,
                   regexp_extract_all(lower(coalesce(text, '')),
                                      '{WORD_PAT}') AS ws
            FROM documents
        ), bm25_docs AS (
            SELECT doc_id, ws, len(ws) AS dl FROM bm25_dl
        ), bm25_stats AS (
            -- exact integer sum / count, one division (docstring pt 2)
            SELECT COUNT(*) AS n,
                   CAST(COALESCE(SUM(dl), 0) AS DOUBLE) / COUNT(*) AS avgdl
            FROM bm25_docs
        ), bm25_q(q_id, term) AS (
            VALUES {values}
        ), bm25_tf AS (
            SELECT doc_id, dl, w AS term, COUNT(*) AS tf
            FROM (SELECT doc_id, dl, unnest(ws) AS w FROM bm25_docs)
            WHERE w IN (SELECT term FROM bm25_q)
            GROUP BY doc_id, dl, w
        ), bm25_idf AS (
            -- ln on the host libm over an identically-computed argument
            -- == the CPython math.log the Spark literal came from (pt 3)
            SELECT term,
                   ln(1.0 + (s.n - df + 0.5) / (df + 0.5)) AS idf
            FROM (SELECT term, COUNT(DISTINCT doc_id) AS df
                  FROM bm25_tf GROUP BY term), bm25_stats s
        ), bm25_sc AS (
            SELECT q.q_id, tf.doc_id, tf.term,
                   (i.idf * (CAST(tf.tf AS DOUBLE) * {K1_PLUS_1!r})) /
                   (CAST(tf.tf AS DOUBLE)
                    + {K1!r} * ({ONE_MINUS_B!r}
                                + {B!r} * (CAST(tf.dl AS DOUBLE) / s.avgdl)))
                   AS sc
            FROM bm25_tf tf
            JOIN bm25_q q ON q.term = tf.term
            JOIN bm25_idf i ON i.term = tf.term
            CROSS JOIN bm25_stats s
        ), bm25_sum AS (
            -- ordered left fold by term (docstring pt 5)
            SELECT q_id, doc_id,
                   round(list_reduce(list(sc ORDER BY term),
                                     (a, x) -> a + x), 6) AS score
            FROM bm25_sc GROUP BY q_id, doc_id
        )
        SELECT q_id, doc_id, score, rn FROM (
            SELECT q_id, doc_id, score,
                   CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                        ORDER BY score DESC, doc_id) AS INT) AS rn
            FROM bm25_sum
        ) WHERE rn <= {top_k}
    """
