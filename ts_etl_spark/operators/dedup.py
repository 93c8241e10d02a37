"""Deduplication operators over ``documents`` (SURVEY.md §2.4; core
training-data-pipeline surface).

- exact dedup: hash groupBy on the full text — one partial-agg shuffle.
- n-gram Jaccard: word-3-gram shingles, exact pairwise similarity above a
  threshold via PREFIX FILTERING (DF-ordered prefixes + length filter +
  exact verification) — guaranteed recall at the threshold with near-linear
  candidate generation; the probabilistic scale path is MinHash-LSH below.
- MinHash-LSH: 64 permutations (xxhash64 with seed literals — deterministic
  across engines and partitionings), banded 32×2, candidate pairs from
  band-bucket self-join, then EXACT Jaccard verification of candidates.
  Output = verified pairs ≥ 0.4, which equals the exact-Jaccard answer
  whenever LSH recall holds (P[miss] ≤ 0.4% at J=0.4, ≤0.01% at J=0.5 for
  b=32, r=2) — so it shares the exact-SQL oracle.
  At 100 TB: shingle explode + 2 shuffles (signature groupBy, band
  self-join); no quadratic blowup because banding localizes comparisons.
- SimHash: 60-bit signatures from md5-derived token hashes (engine-portable
  — DuckDB reproduces them exactly, see SIMHASH_BITS), pigeonhole-banded
  (4 chunks, Hamming ≤ 3 ⇒ ≥1 chunk equal), ``bit_count(xor)``
  verification. Fully SQL-oracle-checked.

All tokenization is ``split(lower(trim(text)), '\\s+')`` — mirrored exactly
in the DuckDB oracle SQL. Docs with < 3 tokens produce no shingles in both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ts_etl_spark.localrel import local_rows
from ts_etl_spark.operators.urls import (
    PSL_FIXTURE_RULES as _PSL_RULES,
    strip_www_sql as _strip_www_sql,
    url_host_sql as _url_host_sql,
)
from ts_etl_spark.sources.tables import load_table, spread_input

N_MINHASH = 64
LSH_BANDS = 32
LSH_ROWS = 2  # N_MINHASH = LSH_BANDS * LSH_ROWS
JACCARD_THRESHOLD = 0.4
#: dedup_ngram_topk only ranks pairs at/above this Jaccard — which makes the
#: EXACT prefix-filtering join applicable (guaranteed recall ≥ threshold)
NGRAM_TOPK_THRESHOLD = 0.35


def tokens_col(c=None):
    c = F.col("text") if c is None else c
    return F.split(F.lower(F.trim(c)), r"\s+")


def shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, shs) over any (doc_id, text) frame: the distinct word-3-gram
    shingle SET per document as an array column. Built via the zip_with
    chain (``textops.ngram_array``) so the regex tokenizer is never
    embedded in a lambda body — interpreted HOF lambdas re-evaluate
    embedded subtrees per element, which would re-split the document once
    per shingle."""
    from ts_etl_spark.operators.textops import ngram_array

    toks = tokens_col()
    sh = F.array_distinct(ngram_array(toks, 3))
    return docs.filter(F.size(toks) >= 3).select("doc_id", sh.alias("shs"))


def shingle_sets_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``shingle_sets`` over the documents table.

    The scan is spread (``spread_input``) BEFORE the shingle projection:
    the higher-order-function shingling is the compute-heavy step."""
    return shingle_sets(spread_input(load_table(spark, sf_dir, "documents"), "doc_id"))


#: per-domain document cap for the domain_drop arm — sized so sf0.01's
#: 25-docs-per-source corpus drops a non-trivial tail (5/domain) and the
#: arm scales linearly with the corpus
DOMAIN_CAP = 20

#: planted paragraphs for the para arm (the synthetic docs carry no
#: newlines) — mirrored verbatim in the oracle SQL
PARA_HEADER = "shared corpus header boilerplate paragraph"
PARA_FOOTER = "standard license footer paragraph text"

#: suffixes cycled by doc_id for the psl arm's synthetic hosts — three
#: multi-label PSL rules (incl. the 3-label one), one plain TLD, and one
#: suffix NO rule matches (naive-fallback path). Mirrored in the oracle.
PSL_ARM_SUFFIXES = ("com", "co.uk", "ac.uk", "com.au", "k12.ma.us", "xyz")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus pruning provenance as a tagged union (op, doc_id, n, key):

    - ``op='exact_group'`` — exact duplicate groups (the original entry):
      ``doc_id`` the representative (min id per text), ``n`` the copy
      count, ``key`` the text.
    - ``op='domain_drop'`` — per-domain cap (``operators.urls``): each
      document gets a synthetic absolute URL built from its ``source``
      (deterministic, so the oracle reproduces it), the domain key is
      ``strip_www(url_host(url))``, and within a domain documents rank by
      (n_chars DESC, doc_id) — prefer longer documents; rows ranked past
      DOMAIN_CAP are emitted as drops with ``n`` the rank and ``key`` the
      domain. Exercises the engine-portable URL extraction in the gated
      path; the skew-guarded ``domain_cap`` (count-prefiltered window)
      provides the same verdicts as provenance (equivalence tested).
    - ``op='para'`` (round 9) — CCNet-style paragraph-level dedup
      (``operators.paragraphs.dedup_paragraphs``, mode ``df``): the
      synthetic documents carry no newlines, so the arm PLANTS
      deterministic multi-paragraph documents (the ``text_pii_redaction``
      planting pattern): a corpus-wide shared header paragraph, the
      document's own text, then a shared license footer on every 4th doc
      or a doc_id-unique tail otherwise — mirrored expression-for-
      expression in the oracle. The rewritten document is the verdict:
      the header drops everywhere, the footer drops on the %4 docs, the
      body paragraph drops exactly where the raw text is an exact
      cross-document duplicate (cross-checked by the exact_group arm),
      unique tails survive. ``doc_id`` the document, ``n`` the kept-
      paragraph count, ``key`` the rewritten text.
    - ``op='psl'`` (round 10) — the PRODUCTION registered-domain path
      (``urls.registered_domain_psl`` with the 20-rule
      ``PSL_FIXTURE_RULES`` suffix table) behind the gate: each document
      gets a synthetic host cycling through ``PSL_ARM_SUFFIXES`` (multi-
      label rules where the naive last-two-labels answer is WRONG, a
      plain TLD where it agrees, and an unmatched suffix exercising the
      naive fallback), every 5th doc www-prefixed (www can be the
      registrable label — PSL matching must not pre-strip it). ``key``
      is the registered domain, ``n`` its label count; the oracle
      re-runs the longest-matching-suffix algorithm against a VALUES
      table of the same rules. The naive ``registered_domain`` remains
      only as the documented fallback inside the lookup."""
    from pyspark.sql.window import Window

    from ts_etl_spark.operators.urls import (
        PSL_FIXTURE_RULES,
        registered_domain_psl,
        strip_www,
        url_host,
    )

    docs = load_table(spark, sf_dir, "documents")
    exact_arm = (
        docs.groupBy("text")
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count("*").alias("n_copies"))
        .select(
            F.lit("exact_group").alias("op"),
            F.col("rep_doc_id").alias("doc_id"),
            F.col("n_copies").alias("n"),
            F.col("text").alias("key"),
        )
    )
    url = F.concat(
        F.lit("https://www."),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit("?utm_source=feed"),
    )
    w = Window.partitionBy("domain").orderBy(F.col("n_chars").desc(), "doc_id")
    domain_arm = (
        docs.select("doc_id", "n_chars", strip_www(url_host(url)).alias("domain"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") > DOMAIN_CAP)
        .select(
            F.lit("domain_drop").alias("op"),
            "doc_id",
            F.col("rank").cast("long").alias("n"),
            F.col("domain").alias("key"),
        )
    )
    from ts_etl_spark.operators.paragraphs import dedup_paragraphs

    planted = docs.select(
        "doc_id",
        F.concat(
            F.lit(PARA_HEADER),
            F.lit("\n\n"),
            F.col("text"),
            F.lit("\n\n"),
            F.when(F.col("doc_id") % 4 == 0, F.lit(PARA_FOOTER)).otherwise(
                F.concat(
                    F.lit("unique tail paragraph "),
                    F.col("doc_id").cast("string"),
                )
            ),
        ).alias("text"),
    )
    para_arm = dedup_paragraphs(planted, mode="df", min_df=2).select(
        F.lit("para").alias("op"),
        "doc_id",
        F.col("n_kept").alias("n"),
        F.col("text").alias("key"),
    )
    sfx = F.element_at(
        F.array(*[F.lit(s) for s in PSL_ARM_SUFFIXES]),
        (F.col("doc_id") % len(PSL_ARM_SUFFIXES)).cast("int") + 1,
    )
    phost = F.concat(
        F.when(F.col("doc_id") % 5 == 0, F.lit("www")).otherwise(F.col("lang")),
        F.lit("."),
        F.col("source"),
        F.lit("."),
        sfx,
    )
    purl = F.concat(F.lit("https://"), phost, F.lit("/d/"),
                    F.col("doc_id").cast("string"))
    psl_table = local_rows(
        spark, [(s,) for s in PSL_FIXTURE_RULES], "suffix STRING"
    )
    psl_arm = registered_domain_psl(
        docs.select("doc_id", purl.alias("__url")), "__url", psl_table,
        out_col="__reg",
    ).select(
        F.lit("psl").alias("op"),
        "doc_id",
        F.size(F.split(F.col("__reg"), r"\.")).cast("long").alias("n"),
        F.col("__reg").alias("key"),
    )
    # para_nd arm (round 11) — paragraph-level NEAR-dup pairs
    # (``paragraphs.paragraph_neardup_pairs``: split → composite ids →
    # MinHash-LSH → decode), the templated-boilerplate detector, behind
    # the gate. The synthetic corpus has no near-dup paragraph structure,
    # so the arm PLANTS it (the para-arm pattern): doc pairs (2k, 2k+1)
    # share a boilerplate template whose group token gK interleaves every
    # other word — same-group paragraphs differ only in the trailing
    # edition token (7 shingles each, 6 shared → Jaccard exactly 0.75,
    # well above the 0.4 LSH recall floor), while CROSS-group template
    # shingles all contain gK (Jaccard 0, candidate probability ~0: no
    # quadratic candidate set at any SF). The per-doc solo paragraph
    # interleaves dX the same way, so it pairs with nothing. Expected
    # output: exactly one (2k, 2k+1) pair per group, linear in SF; the
    # oracle re-derives exact paragraph-shingle Jaccard over ALL pairs
    # at the threshold — the minhash-oracle equivalence pattern. ``key``
    # packs doc_b:para_a:para_b:round(jaccard·1e6) (exact integer
    # rationals in both engines; floor(x·1e6+0.5) as in the mix arm).
    from ts_etl_spark.operators.paragraphs import paragraph_neardup_pairs

    pg = F.floor(F.col("doc_id") / 2).cast("long").cast("string")
    pid = F.col("doc_id").cast("string")
    pnd_docs = docs.select(
        "doc_id",
        F.concat(
            F.lit("boiler g"), pg, F.lit(" plate g"), pg,
            F.lit(" notice g"), pg, F.lit(" keep edition d"), pid,
            F.lit("\n\n"),
            F.lit("solo d"), pid, F.lit(" alpha d"), pid,
            F.lit(" beta d"), pid,
        ).alias("text"),
    )
    # Round 16 re-A/B: the paragraph LSH (split → shingle → minhash →
    # band join → exact verify) on the single-split scan's one task was
    # alone this entry's wall — 2.8-3.3 s as-is vs 1.2-1.5 s spread,
    # entry 3.5-4.1 → ~2 s. (The round-15 rejection measured a spread of
    # the WHOLE entry input, which re-executes the exchange under every
    # union arm; this one sits under the pnd arm only.) Guard-gated:
    # production-width scans keep the shuffle-free shape. Pair set and
    # jaccard are partitioning-independent (deterministic signatures,
    # exact verify).
    pnd_docs = spread_input(pnd_docs, "doc_id")
    pnd_arm = paragraph_neardup_pairs(pnd_docs).select(
        F.lit("para_nd").alias("op"),
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("n"),
        F.concat(
            F.col("doc_b").cast("string"), F.lit(":"),
            F.col("para_a").cast("string"), F.lit(":"),
            F.col("para_b").cast("string"), F.lit(":"),
            F.floor(F.col("jaccard") * 1000000 + F.lit(0.5))
            .cast("long").cast("string"),
        ).alias("key"),
    )
    return (
        exact_arm.unionByName(domain_arm)
        .unionByName(para_arm)
        .unionByName(psl_arm)
        .unionByName(pnd_arm)
    )


def q_dedup_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 pairs by exact word-3-gram Jaccard among pairs with
    J ≥ NGRAM_TOPK_THRESHOLD, via PREFIX FILTERING (the PPJoin family) —
    exact, not probabilistic: order each document's shingles by ascending
    global document frequency (rare first; ties by shingle), keep only the
    first |s| - ⌈t·|s|⌉ + 1 as the prefix; any pair with J ≥ t must share a
    prefix shingle, so candidates = prefix-equality join + the length
    filter t·|A| ≤ |B| ≤ |A|/t + the POSITIONAL filter, then exact
    verification on the full sets. The positional filter is the PPJoin
    refinement: a match at prefix positions (pa, pb) bounds the achievable
    overlap by min(|A|-pa, |B|-pb) + 1 (all shared shingles sort at or
    after the first shared one), and J ≥ t needs overlap
    ≥ ⌈t·(|A|+|B|)/(1+t)⌉ — pairs whose every prefix match fails the bound
    are pruned before verification (halves the candidate set at sf0.1,
    517k → 260k, with recall intact: the bound provably holds at the
    FIRST shared prefix shingle of any truly-similar pair).

    Plan shape at 100 TB: DF counting is one groupBy over exploded
    shingles; prefix selection is a per-doc window (one keyed shuffle); the
    candidate join touches only rare-first prefixes, so bucket occupancy —
    and with it join output — stays near-linear instead of the quadratic
    all-shingle equality join. (The former unthresholded variant joined on
    EVERY shared shingle — the documented scale hazard this replaces.)

    Deterministic tiebreak on ids; Jaccard values are exact integer
    rationals in both engines."""
    from pyspark.sql.window import Window

    t = NGRAM_TOPK_THRESHOLD
    sets = shingle_sets_df(spark, sf_dir).persist()
    ex = sets.select("doc_id", F.size("shs").alias("nsh"), F.explode("shs").alias("sh"))
    # only REPEATED shingles need an explicit df — absent rows default to 1
    # in the left join below, so the ordering join runs against the (much
    # smaller) repeated-shingle table and the planner broadcasts it when it
    # fits, instead of shuffling every exploded shingle
    df_repeated = (
        ex.groupBy("sh").agg(F.count("*").alias("df")).filter(F.col("df") >= 2)
    )
    pos_w = Window.partitionBy("doc_id").orderBy("df", "sh")
    prefix = (
        ex.join(df_repeated, "sh", "left")
        .withColumn("df", F.coalesce("df", F.lit(1)))
        .withColumn("pos", F.row_number().over(pos_w))
        .filter(F.col("pos") <= F.col("nsh") - F.ceil(F.lit(t) * F.col("nsh")) + 1)
        # a prefix shingle with global df == 1 occurs in exactly one document
        # and can never produce a candidate pair — dropping it here shrinks
        # the self-join input to only REPEATED prefix shingles (most shingles
        # in a real corpus are unique, so this is the bulk of the rows)
        .filter(F.col("df") >= 2)
        .select("sh", "doc_id", "nsh", "pos")
    )
    x = prefix.select(
        "sh", F.col("doc_id").alias("id_a"), F.col("nsh").alias("na"), F.col("pos").alias("pa")
    )
    y = prefix.select(
        F.col("sh").alias("sh_y"),
        F.col("doc_id").alias("id_b"),
        F.col("nsh").alias("nb"),
        F.col("pos").alias("pb"),
    )
    # overlap needed for J >= t; achievable overlap from this match's positions
    req_overlap = F.ceil(F.lit(t / (1.0 + t)) * (F.col("na") + F.col("nb")))
    best_overlap = F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb")) + 1
    cands = (
        x.join(
            y,
            (F.col("sh") == F.col("sh_y"))
            & (F.col("id_a") < F.col("id_b"))
            & (F.col("nb") >= F.lit(t) * F.col("na"))
            & (F.col("na") >= F.lit(t) * F.col("nb")),
        )
        .filter(best_overlap >= req_overlap)
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("shs").alias("shs_a"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("shs").alias("shs_b"))
    common = F.size(F.array_intersect("shs_a", "shs_b"))
    union = F.size("shs_a") + F.size("shs_b") - common
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", (common.cast("double") / union).alias("jaccard"))
        .filter(F.col("jaccard") >= t)
        .orderBy(F.col("jaccard").desc(), "id_a", "id_b")
        .limit(20)
    )


def minhash_bands(sets: DataFrame) -> DataFrame:
    """Skinny (doc_id, band, bh) LSH band keys from a (doc_id, shs) frame.

    - signatures: ``array_min(transform(shingles, xxhash64(i, _)))`` per
      permutation — ONE narrow projection over the scan, no explode, no
      shuffle, no 64-way aggregation. Each shingle STRING is hashed once;
      the 64 permutations then hash cheap longs (seeded xxhash64) — ~an
      order of magnitude less string hashing.
    - The signature is ONE nested higher-order expression producing a
      64-long array — not 64 named columns. Unrolling into 64 projections
      generates a huge whole-stage-codegen method (slow to JIT-compile and
      past the JIT inlining sweet spot): measured 2.3× slower warm and
      +1.2 s cold vs this form at sf0.1. The seed is the sequence element
      (int, identical hash input to the previous per-column int literal).
    - banding: 32 rows per doc (vs one per shingle); the shingle arrays do
      NOT travel through any downstream shuffle."""
    hashed = sets.select(
        "doc_id", F.transform("shs", lambda s: F.xxhash64(s)).alias("hs")
    )
    sig = hashed.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(N_MINHASH - 1)),
            lambda i: F.array_min(F.transform(F.col("hs"), lambda h: F.xxhash64(i, h))),
        ).alias("sg"),
    )
    return sig.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
                lambda j: F.struct(
                    j.alias("band"),
                    F.xxhash64(
                        *[
                            F.element_at(F.col("sg"), j * LSH_ROWS + r + 1)
                            for r in range(LSH_ROWS)
                        ]
                    ).alias("bh"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))


def minhash_lsh_pairs(
    docs: DataFrame, persisted: list[DataFrame] | None = None
) -> DataFrame:
    """MinHash-LSH near-dup pairs over any (doc_id, text) frame — the
    frame-level core of ``q_dedup_minhash_lsh``, reusable by compositions
    (``pipelines.curation``) that already hold a cached documents scan and
    must not trigger a second one.

    Plan shape (the one you'd want at 100 TB): narrow signature projection
    (see ``minhash_bands``), one shuffle for the band-bucket self-join —
    banding localizes comparisons so the join is linear in bucket
    occupancy, never all-pairs — then exact Jaccard verification on the
    candidates only (``size(array_intersect(...))``, no third shuffle).

    Pass ``persisted`` (a list) to receive the internal shingle-set cache
    for caller-side unpersist once the lazy result is materialized (the
    same contract as ``dedup_incremental``/``curate_documents``)."""
    # the shingle sets feed three consumers (signatures + both verification
    # sides); persist so tokenization/shingling runs once. MEMORY_AND_DISK
    # by default — at cluster scale this spills rather than OOMs.
    sets = shingle_sets(docs).persist()
    if persisted is not None:
        persisted.append(sets)
    bands = minhash_bands(sets)
    x = bands.select("band", "bh", F.col("doc_id").alias("id_a"))
    y = bands.select(
        F.col("band").alias("band_y"), F.col("bh").alias("bh_y"), F.col("doc_id").alias("id_b")
    )
    cands = (
        x.join(
            y,
            (F.col("band") == F.col("band_y"))
            & (F.col("bh") == F.col("bh_y"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # exact verification: join the (few) candidates back to the shingle sets
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("shs").alias("shs_a"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("shs").alias("shs_b"))
    common = F.size(F.array_intersect("shs_a", "shs_b"))
    union = F.size("shs_a") + F.size("shs_b") - common
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", (common.cast("double") / union).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: ``minhash_lsh_pairs`` over the documents table,
    spread before shingling (see ``shingle_sets_df``)."""
    docs = spread_input(load_table(spark, sf_dir, "documents"), "doc_id")
    return minhash_lsh_pairs(docs)


#: SimHash signature width. 60 bits = 15 hex digits of md5 — chosen so the
#: per-token hash is ENGINE-PORTABLE: Spark computes
#: ``conv(substr(md5(tok),1,15),16,10)`` and DuckDB reproduces the identical
#: value via a hex-digit fold, which is what makes the full SQL oracle
#: possible (xxhash64, the usual choice, exists only in Spark).
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4  # 15 bits each; Hamming ≤ 3 ⇒ ≥ 1 chunk equal (pigeonhole)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3 over 60-bit signatures).

    Fully oracle-checked: token hashes are md5-derived (see SIMHASH_BITS)
    so DuckDB reproduces signatures, banding, and Hamming distances
    bit-for-bit. Plan shape: explode distinct tokens → one groupBy for the
    60 bit-votes (partial-agg shuffle) → pigeonhole band self-join on
    (chunk, 15-bit value) → exact ``bit_count(xor)`` verification."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens_col())).alias("tok")
    )
    th = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    aggs = [
        F.sum(
            F.when(F.shiftright(th, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(SIMHASH_BITS)
    ]
    votes = tok.groupBy("doc_id").agg(*aggs)
    sig_expr = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        sig_expr = bit if sig_expr is None else sig_expr + bit
    sigs = votes.select("doc_id", sig_expr.alias("sig"))
    chunk_bits = SIMHASH_BITS // SIMHASH_CHUNKS
    chunks = F.array(
        *[
            F.struct(
                F.lit(j).alias("chunk"),
                F.shiftright(F.col("sig"), j * chunk_bits)
                .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                .alias("cv"),
            )
            for j in range(SIMHASH_CHUNKS)
        ]
    )
    banded = sigs.select("doc_id", "sig", F.explode(chunks).alias("c")).select(
        "doc_id", "sig", F.col("c.chunk").alias("chunk"), F.col("c.cv").alias("cv")
    )
    x, y = banded.alias("x"), banded.alias("y")
    return (
        x.join(
            y,
            (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.cv") == F.col("y.cv"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("id_a"),
            F.col("y.doc_id").alias("id_b"),
            F.bit_count(F.col("x.sig").bitwiseXOR(F.col("y.sig"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 3)
    )


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the verified
    MinHash-LSH pair graph, by iterative min-label propagation
    (Pregel-style). Each iteration is a pair of hash joins + a grouped min —
    all distributed; the driver loop only checks a scalar convergence count
    per round (exactly how Pregel/GraphFrames iterate), and rounds are
    bounded by component diameter (near-dup clusters are near-cliques, so
    2-3 rounds in practice; hard cap keeps adversarial chains finite).

    Output per component: representative (min doc_id), member count, and
    the sorted member list joined to a comma string (scalar columns only).
    The oracle reproduces the components with a recursive CTE."""
    pairs = q_dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    labels = min_label_components(pairs)
    members = F.sort_array(F.collect_list("node"))
    return labels.groupBy(F.col("comp").alias("rep_doc_id")).agg(
        F.count("*").alias("n_members"),
        F.array_join(F.transform(members, lambda m: m.cast("string")), ",").alias(
            "members"
        ),
    )


#: edge-count threshold below which components run as a driver-local
#: union-find instead of the distributed Pregel loop (route-by-size,
#: the blocklist_frac_expr pattern): each Pregel round costs a fixed
#: ~0.4 s of job/checkpoint overhead regardless of data size, which
#: dwarfs a millisecond union-find on the small pair lists dedup
#: pipelines actually produce. 100k edges collect to a few MB.
SMALL_COMPONENT_EDGES = 100_000


def _local_union_find(edge_rows) -> dict[int, int]:
    """Min-label components of a small collected edge list: classic
    union-find with path compression; labels canonicalized to the
    component's min node id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            # union by MIN so the root is already the canonical label
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def min_label_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 20,
    small_edges: int = SMALL_COMPONENT_EDGES,
) -> DataFrame:
    """Connected components over an undirected (id_a, id_b) pair list —
    returns (node, comp) with comp the component's min node id.

    ROUTE BY SIZE: a bounded ``limit(small_edges + 1)`` probe collects
    the edge list when it fits (the ``bpe.py`` capped-collect pattern);
    small graphs — the common case, since the pair lists feeding this
    are already deduplicated candidate sets — resolve as a driver-local
    union-find in milliseconds, with exactly the same labels. Larger
    graphs run the iterative min-label propagation (the
    Pregel/GraphFrames recipe) below; pass ``small_edges=0`` to force
    it. ``nodes`` never collects: isolated vertices label themselves
    through a distributed left join either way.

    ``nodes`` optionally names the full vertex frame (one ``node``
    column); isolated vertices then appear with comp = their own id.
    Without it, only endpoints of edges are labeled.

    Distributed path: each iteration is a pair of hash joins + a grouped
    min — all distributed; the driver loop checks one scalar convergence
    count per round, rounds bounded by component diameter (near-dup
    clusters are near-cliques: 2-3 rounds in practice; ``max_iter`` caps
    adversarial chains). Exhausting ``max_iter`` without converging
    RAISES rather than returning silently-wrong labels — a chain longer
    than the iteration budget would otherwise split one component in
    two, and consumers like ``component_safe_splits`` build correctness
    guarantees on these labels. (The local path is exact for ANY
    diameter — no budget.)

    Every round ``localCheckpoint``s the new label frame: each iteration
    references the previous labels TWICE (neighbor min + the update
    join), so without lineage truncation the logical plan DOUBLES per
    round and Catalyst analysis goes exponential — a 9-round chain hangs
    the driver before any executor works. This is the same
    checkpoint-interval discipline GraphFrames applies to its Pregel
    loops. The returned frame is materialized; caller unpersists after
    its downstream results are computed (a no-op for the local path's
    plain frame)."""
    if small_edges:
        probe = (
            pairs.select("id_a", "id_b").limit(small_edges + 1).collect()
        )
        if len(probe) <= small_edges:
            spark = pairs.sparkSession
            labels_map = _local_union_find((r[0], r[1]) for r in probe)
            local = local_rows(
                spark,
                list(labels_map.items()) or [],
                "node LONG, comp LONG",
            )
            if nodes is None:
                return local
            return (
                nodes.select("node")
                .join(local.withColumnRenamed("comp", "__c"), "node", "left")
                .select(
                    "node", F.coalesce("__c", F.col("node")).alias("comp")
                )
            )
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .localCheckpoint(eager=True)
    )
    base = (
        nodes.select("node")
        if nodes is not None
        else edges.select(F.col("src").alias("node")).distinct()
    )
    labels = base.select("node", F.col("node").alias("comp")).localCheckpoint(
        eager=True
    )
    converged = False
    for _ in range(max_iter):
        nb = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("comp").alias("nb_comp"))
        )
        new_labels = (
            labels.join(nb, labels.node == nb.src, "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce("nb_comp", F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        labels.unpersist()
        raise RuntimeError(
            f"min_label_components did not converge within {max_iter} "
            "iterations (a component chain longer than the budget); "
            "raise max_iter"
        )
    return labels


def canonical_fingerprint(c=None):
    """md5 of the lower/whitespace-collapsed text — the exact-dup key the
    curation pipeline dedups on (catches trivially-reformatted copies)."""
    c = F.col("text") if c is None else c
    return F.md5(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")))


def canonical_fingerprint_sql(expr: str = "text") -> str:
    """DuckDB twin of ``canonical_fingerprint`` — the one definition SQL
    mirrors should interpolate instead of restating the normalization."""
    return f"md5(trim(regexp_replace(lower({expr}), '\\s+', ' ', 'g')))"


def dedup_incremental(
    corpus: DataFrame | None,
    batch: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    persisted: list[DataFrame] | None = None,
    corpus_fp: DataFrame | None = None,
    corpus_bands: DataFrame | None = None,
    corpus_sets: DataFrame | None = None,
) -> DataFrame:
    """Deduplicate a NEW batch against an EXISTING corpus — the operation a
    continuously-fed pipeline runs per ingest, without ever re-running the
    corpus×corpus self-join. Both inputs are (doc_id, text) frames; batch
    ids must be greater than corpus ids (ingest order). Returns every batch
    document with ``kept`` and a first-failing ``drop_reason``
    (exact_corpus / exact_batch / near_corpus / near_batch).

    Semantics match the one-shot greedy-by-id dedup over corpus ∪ batch
    restricted to batch rows (tested equivalence), so incremental ingestion
    converges to the same corpus as batch recuration.

    Plan shape at 100 TB: the corpus side touches only three SKINNY
    derived relations — the (doc_id, fp) fingerprint set, the
    (doc_id, band, bh) LSH band index, and (for exact-Jaccard candidate
    verification) the (doc_id, shs) shingle sets. By default all three
    derive from ``corpus`` text per call (fine for one-shot use); a
    continuous ingest passes them PRE-MATERIALIZED via ``corpus_fp`` /
    ``corpus_bands`` / ``corpus_sets`` (all three together — appended
    per batch by ``streaming.ingest``, see ``DEDUP_INDEX`` there), in
    which case ``corpus`` may be None and the corpus TEXT is never
    scanned: the per-batch cost is linear in the batch plus the index
    probes, not the corpus. Nothing here is quadratic in either input.

    Both shingle-set frames feed multiple consumers (b_sets: bands + two
    verification sides; c_sets, when derived here: bands + corpus-side
    verification), so both are persisted (a passed ``corpus_sets`` is a
    plain materialized table read once — not cached here).  The result is
    lazy, so the unpersist belongs to the CALLER once the result is
    materialized: pass ``persisted`` (a list) to receive the cached
    frames — a long-running ``foreachBatch`` stream that skips this leaks
    cached blocks every micro-batch (``streaming/ingest.ingest_batch`` is
    the reference usage)."""
    given = (corpus_fp is not None, corpus_bands is not None,
             corpus_sets is not None)
    if any(given) and not all(given):
        raise ValueError(
            "corpus_fp, corpus_bands and corpus_sets must be passed together"
        )
    use_index = all(given)
    if corpus is None and not use_index:
        raise ValueError(
            "corpus may only be None when the three materialized "
            "corpus-side relations are passed"
        )
    b_sets = shingle_sets(batch).persist()
    if use_index:
        c_sets = corpus_sets
    else:
        c_sets = shingle_sets(corpus).persist()
    if persisted is not None:
        persisted.append(b_sets)
        if not use_index:
            persisted.append(c_sets)

    # --- exact layer: canonical fingerprints ---
    b_fp = batch.select("doc_id", canonical_fingerprint().alias("fp"))
    if use_index:
        # semi-join build side tolerates duplicate keys — no distinct
        c_fp = corpus_fp.select("fp")
    else:
        c_fp = corpus.select(canonical_fingerprint().alias("fp")).distinct()
    exact_corpus = b_fp.join(c_fp, "fp", "left_semi").select("doc_id")
    from pyspark.sql.window import Window

    fp_w = Window.partitionBy("fp").orderBy("doc_id")
    exact_batch = (
        b_fp.withColumn("rk", F.row_number().over(fp_w))
        .filter(F.col("rk") > 1)
        .select("doc_id")
    )

    # --- near layer: batch bands probe corpus bands + batch self-join ---
    b_bands = minhash_bands(b_sets)
    c_bands = corpus_bands if use_index else minhash_bands(c_sets)
    vs_corpus = b_bands.alias("b").join(
        c_bands.alias("c"),
        (F.col("b.band") == F.col("c.band")) & (F.col("b.bh") == F.col("c.bh")),
    ).select(
        F.col("b.doc_id").alias("id_b"), F.col("c.doc_id").alias("id_a")
    )
    vs_batch = b_bands.alias("x").join(
        b_bands.alias("y"),
        (F.col("x.band") == F.col("y.band"))
        & (F.col("x.bh") == F.col("y.bh"))
        & (F.col("x.doc_id") > F.col("y.doc_id")),
    ).select(F.col("x.doc_id").alias("id_b"), F.col("y.doc_id").alias("id_a"))

    def _verified(cands: DataFrame, other_sets: DataFrame) -> DataFrame:
        sa = other_sets.select(
            F.col("doc_id").alias("id_a"), F.col("shs").alias("shs_a")
        )
        sb = b_sets.select(F.col("doc_id").alias("id_b"), F.col("shs").alias("shs_b"))
        common = F.size(F.array_intersect("shs_a", "shs_b"))
        union = F.size("shs_a") + F.size("shs_b") - common
        return (
            cands.distinct()
            .join(sa, "id_a")
            .join(sb, "id_b")
            .filter((common.cast("double") / union) >= threshold)
            .select(F.col("id_b").alias("doc_id"))
            .distinct()
        )

    near_corpus = _verified(vs_corpus, c_sets)
    near_batch = _verified(vs_batch, b_sets)

    reason = (
        F.when(F.col("__exact_corpus"), "exact_corpus")
        .when(F.col("__exact_batch"), "exact_batch")
        .when(F.col("__near_corpus"), "near_corpus")
        .when(F.col("__near_batch"), "near_batch")
    )

    out = batch
    for name, ids in (
        ("__exact_corpus", exact_corpus),
        ("__exact_batch", exact_batch),
        ("__near_corpus", near_corpus),
        ("__near_batch", near_batch),
    ):
        out = out.join(
            ids.withColumn(name, F.lit(True)), "doc_id", "left"
        ).withColumn(name, F.coalesce(name, F.lit(False)))
    return (
        out.withColumn("drop_reason", reason)
        .withColumn("kept", F.col("drop_reason").isNull())
        .drop("__exact_corpus", "__exact_batch", "__near_corpus", "__near_batch")
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-facing incremental-dedup run: treat the first ~90% of doc_ids
    as the EXISTING corpus and the top ~10% as a freshly-ingested batch,
    then run ``dedup_incremental`` (batch-vs-corpus only — never
    corpus×corpus). This is the per-micro-batch work a continuous ingest
    pays (``streaming/ingest.ingest_batch``), timed here so the continuous
    story has a perf number tracked round-over-round.

    NOT in the ``queries()`` registry (the driver verifies the first 50
    entries and the surface is consolidated to exactly 50); correctness is
    covered by ``tests/test_incremental.py``'s one-shot-equivalence proof,
    so this entry exists for the bench protocol only (bench.py SUPPLEMENT).

    The 90/10 split threshold comes from a 1-row max() aggregate joined as
    a broadcast scalar — no driver collect, and at 100 TB the corpus side
    still only contributes its two skinny derived relations (fingerprints +
    band index; see ``dedup_incremental``'s plan-shape notes)."""
    docs = spread_input(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    thr = docs.agg((F.max("doc_id") * 0.9).cast("long").alias("__thr"))
    corpus = (
        docs.join(F.broadcast(thr))
        .filter(F.col("doc_id") <= F.col("__thr"))
        .select("doc_id", "text")
    )
    batch = (
        docs.join(F.broadcast(thr))
        .filter(F.col("doc_id") > F.col("__thr"))
        .select("doc_id", "text")
    )
    return dedup_incremental(corpus, batch)


def q_dedup_incremental_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``q_dedup_incremental`` against a PRE-MATERIALIZED corpus-side
    index (``streaming.ingest`` round-10 shape): same 90/10 split, but
    the corpus contributes parquet-backed (fp, bands, sets) tables
    instead of deriving them from text, and ``corpus=None`` makes the
    no-corpus-text-scan claim structural. Bench SUPPLEMENT only (not a
    ``queries()`` entry); the measured delta vs ``dedup_incremental``
    IS the per-batch saving the materialized index buys. The split cut
    and staging use driver-side scalars/tempfiles — bench-harness
    plumbing, not the production path (``ingest_batch`` maintains the
    real index incrementally)."""
    import atexit
    import shutil
    import tempfile

    from ts_etl_spark.execution import memo

    docs = spread_input(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )

    def stage():
        mx = docs.agg(F.max("doc_id")).first()[0]
        if mx is None:
            return None
        d = tempfile.mkdtemp(prefix="tsetl_bench_didx_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        cut = int(mx * 0.9)
        corpus = docs.filter(F.col("doc_id") <= cut)
        sets = shingle_sets(corpus).persist()
        try:
            corpus.select(
                "doc_id", canonical_fingerprint().alias("fp")
            ).write.parquet(f"{d}/fp")
            sets.write.parquet(f"{d}/sets")
            minhash_bands(sets).write.parquet(f"{d}/bands")
        finally:
            sets.unpersist()
        return d, cut

    # the staged directory is memoized per (application, sf_dir): built on
    # the first call (the bench warmup / first sample, which min-of-3
    # discards) and reused by later samples, so the measured number is the
    # steady-state PROBE cost a continuous ingest pays. An empty table
    # memoizes a None sentinel and answers like the plain supplement.
    staged = memo(spark, sf_dir, "dedup_index/staged", stage)
    if staged is None:
        return q_dedup_incremental(spark, sf_dir)
    d, cut = staged
    batch = docs.filter(F.col("doc_id") > cut)
    return dedup_incremental(
        None,
        batch,
        corpus_fp=spark.read.schema("doc_id LONG, fp STRING").parquet(f"{d}/fp"),
        corpus_bands=spark.read.schema(
            "doc_id LONG, band INT, bh BIGINT"
        ).parquet(f"{d}/bands"),
        corpus_sets=spark.read.schema(
            "doc_id LONG, shs ARRAY<STRING>"
        ).parquet(f"{d}/sets"),
    )


def q_dedup_simhash_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, the LSH-pair connected components, AND the
    winnowed repeated-substring audit in one tagged union (the
    registry-consolidation pattern; each arm keeps its own standalone
    plan — banded signature self-join; Pregel min-label loop; winnow
    window + fingerprint groupBy — and the union adds no exchange).
    Unified schema ``(op, k1, k2, n, s)``: simhash rows carry
    (id_a, id_b, hamming); component rows carry (rep_doc_id, NULL,
    n_members, member list); winnow rows (round 8 — the
    ``operators.substrings`` MOSS-style substring-dedup audit behind the
    driver gate) carry (doc_id, span start pos, n_docs sharing the
    fingerprint, fingerprint as string)."""
    from ts_etl_spark.operators.substrings import repeated_spans

    ns = F.lit(None).cast("string")
    sim = q_dedup_simhash(spark, sf_dir).select(
        F.lit("simhash").alias("op"),
        F.col("id_a").alias("k1"),
        F.col("id_b").alias("k2"),
        F.col("hamming").cast("bigint").alias("n"),
        ns.alias("s"),
    )
    comp = q_dedup_components(spark, sf_dir).select(
        F.lit("component").alias("op"),
        F.col("rep_doc_id").alias("k1"),
        F.lit(None).cast("bigint").alias("k2"),
        F.col("n_members").alias("n"),
        F.col("members").alias("s"),
    )
    docs = load_table(spark, sf_dir, "documents")
    winnow = repeated_spans(docs).select(
        F.lit("winnow").alias("op"),
        F.col("doc_id").alias("k1"),
        F.col("pos").cast("bigint").alias("k2"),
        F.col("n_docs").alias("n"),
        F.col("fp").cast("string").alias("s"),
    )
    return sim.unionByName(comp).unionByName(winnow)


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_topk": q_dedup_ngram_topk,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash_components": q_dedup_simhash_components,
}

_SHINGLES_CTE = r"""
    toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        FROM documents
    ),
    positions AS (
        SELECT doc_id, unnest(t) AS tok,
               unnest(generate_series(1, len(t))) AS i
        FROM toks
    ),
    shingled AS (
        SELECT doc_id,
               tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS sh
        FROM positions
        WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ),
    shingles AS (
        SELECT DISTINCT doc_id, sh FROM shingled WHERE sh IS NOT NULL
    ),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jac AS (
        SELECT id_a, id_b,
               CAST(common AS DOUBLE) / (ca.n + cb.n - common) AS jaccard
        FROM pairs
        JOIN counts ca ON ca.doc_id = id_a
        JOIN counts cb ON cb.doc_id = id_b
    )
"""

def _para_arm_sql() -> str:
    """Paragraph-dedup oracle body (DuckDB) — reads the planted ``docs``
    CTE from the enclosing dedup_exact oracle query."""
    from ts_etl_spark.operators.paragraphs import dedup_paragraphs_sql

    return dedup_paragraphs_sql(mode="df", min_df=2)


ORACLE = {
    "dedup_exact": f"""
        WITH urls AS (
            SELECT doc_id, n_chars,
                   'https://www.' || source || '.example.com/' || lang || '/'
                       || CAST(doc_id AS VARCHAR) || '?utm_source=feed' AS url
            FROM documents
        ), dom AS (
            SELECT doc_id, n_chars,
                   {_strip_www_sql(_url_host_sql('url'))} AS domain
            FROM urls
        ), ranked AS (
            SELECT doc_id, domain,
                   ROW_NUMBER() OVER (PARTITION BY domain
                        ORDER BY n_chars DESC, doc_id) AS rank
            FROM dom
        ), docs AS (
            -- the para arm's planted multi-paragraph corpus: keep in
            -- lockstep with q_dedup_exact's `planted` expression
            SELECT doc_id,
                   '{PARA_HEADER}' || chr(10) || chr(10) || text
                       || chr(10) || chr(10)
                       || CASE WHEN doc_id % 4 = 0 THEN '{PARA_FOOTER}'
                          ELSE 'unique tail paragraph '
                               || CAST(doc_id AS VARCHAR) END AS text
            FROM documents
        ), psl_rules AS (
            SELECT * FROM (VALUES {", ".join(f"('{s}')" for s in _PSL_RULES)}) AS r(suffix)
        ), psl_lab AS (
            -- synthetic hosts in lockstep with q_dedup_exact's psl arm
            SELECT doc_id, host, string_split(host, '.') AS labels,
                   len(string_split(host, '.')) AS n_lab
            FROM (
                -- lower() mirrors url_host's normalization (the Spark arm
                -- lowercases every host); without it the twin would hold
                -- only because the current fixture lang/source values
                -- happen to be lowercase
                SELECT doc_id,
                       lower((CASE WHEN doc_id % 5 = 0 THEN 'www' ELSE lang END)
                         || '.' || source || '.' ||
                       (CASE CAST(doc_id % {len(PSL_ARM_SUFFIXES)} AS INT)
                             {" ".join(f"WHEN {i} THEN '{s}'" for i, s in enumerate(PSL_ARM_SUFFIXES[:-1]))}
                             ELSE '{PSL_ARM_SUFFIXES[-1]}' END)) AS host
                FROM documents
            )
        ), pnd_paras AS (
            -- para_nd arm's planted two-paragraph docs (lockstep with
            -- q_dedup_exact's pnd_docs), one row per paragraph
            SELECT doc_id, 0 AS para_idx,
                   'boiler g' || g || ' plate g' || g || ' notice g' || g
                       || ' keep edition d' || i AS ptext
            FROM (SELECT doc_id, CAST(doc_id // 2 AS VARCHAR) AS g,
                         CAST(doc_id AS VARCHAR) AS i FROM documents)
            UNION ALL
            SELECT doc_id, 1,
                   'solo d' || i || ' alpha d' || i || ' beta d' || i
            FROM (SELECT doc_id, CAST(doc_id AS VARCHAR) AS i FROM documents)
        ), pnd_pos AS (
            SELECT doc_id, para_idx, unnest(t) AS tok,
                   unnest(generate_series(1, len(t))) AS i
            FROM (SELECT doc_id, para_idx,
                         regexp_split_to_array(lower(trim(ptext)), '\\s+') AS t
                  FROM pnd_paras)
        ), pnd_sh AS (
            SELECT DISTINCT doc_id, para_idx, sh FROM (
                SELECT doc_id, para_idx,
                       tok || ' ' || lead(tok, 1) OVER w || ' '
                           || lead(tok, 2) OVER w AS sh
                FROM pnd_pos
                WINDOW w AS (PARTITION BY doc_id, para_idx ORDER BY i)
            ) WHERE sh IS NOT NULL
        ), pnd_cnt AS (
            SELECT doc_id, para_idx, COUNT(*) AS n FROM pnd_sh GROUP BY 1, 2
        ), pnd_jac AS (
            -- exact Jaccard over shared-shingle candidates; composite-id
            -- ordering (doc, para) lexicographic == the bit-packed order
            SELECT p.doc_a, p.para_a, p.doc_b, p.para_b,
                   CAST(p.common AS DOUBLE) / (ca.n + cb.n - p.common)
                       AS jaccard
            FROM (
                SELECT a.doc_id AS doc_a, a.para_idx AS para_a,
                       b.doc_id AS doc_b, b.para_idx AS para_b,
                       COUNT(*) AS common
                FROM pnd_sh a JOIN pnd_sh b ON a.sh = b.sh
                 AND (a.doc_id < b.doc_id
                      OR (a.doc_id = b.doc_id AND a.para_idx < b.para_idx))
                GROUP BY 1, 2, 3, 4
            ) p
            JOIN pnd_cnt ca ON ca.doc_id = p.doc_a AND ca.para_idx = p.para_a
            JOIN pnd_cnt cb ON cb.doc_id = p.doc_b AND cb.para_idx = p.para_b
        ), psl_best AS (
            -- the PSL algorithm: longest rule-matching label tail
            SELECT t.doc_id, MAX(t.tail_len) AS best_len
            FROM (
                SELECT doc_id, n_lab - j + 1 AS tail_len,
                       array_to_string(labels[j:n_lab], '.') AS tail
                FROM psl_lab, LATERAL unnest(generate_series(1, n_lab)) AS g(j)
            ) t JOIN psl_rules r ON t.tail = r.suffix
            GROUP BY t.doc_id
        ), psl_reg AS (
            SELECT l.doc_id,
                   CASE WHEN b.best_len IS NOT NULL AND l.n_lab > b.best_len
                        THEN array_to_string(
                            l.labels[l.n_lab - b.best_len : l.n_lab], '.')
                        WHEN regexp_extract({_strip_www_sql('l.host')},
                                            '([^.]+\\.[^.]+)$', 1) != ''
                        THEN regexp_extract({_strip_www_sql('l.host')},
                                            '([^.]+\\.[^.]+)$', 1)
                        ELSE {_strip_www_sql('l.host')}
                   END AS reg
            FROM psl_lab l LEFT JOIN psl_best b ON b.doc_id = l.doc_id
        )
        SELECT 'exact_group' AS op, MIN(doc_id) AS doc_id,
               COUNT(*) AS n, text AS key
        FROM documents GROUP BY text
        UNION ALL
        SELECT 'domain_drop' AS op, doc_id, CAST(rank AS BIGINT) AS n,
               domain AS key
        FROM ranked WHERE rank > {DOMAIN_CAP}
        UNION ALL
        SELECT 'para' AS op, doc_id, CAST(n_kept AS BIGINT) AS n,
               text AS key
        FROM ({_para_arm_sql()})
        UNION ALL
        SELECT 'psl' AS op, doc_id,
               CAST(len(string_split(reg, '.')) AS BIGINT) AS n,
               reg AS key
        FROM psl_reg
        UNION ALL
        SELECT 'para_nd' AS op, doc_a AS doc_id, doc_b AS n,
               CAST(doc_b AS VARCHAR) || ':' || CAST(para_a AS VARCHAR)
                   || ':' || CAST(para_b AS VARCHAR) || ':'
                   || CAST(CAST(floor(jaccard * 1000000 + 0.5) AS BIGINT)
                           AS VARCHAR) AS key
        FROM pnd_jac WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
    "dedup_ngram_topk": f"""
        WITH {_SHINGLES_CTE}
        SELECT * FROM jac WHERE jaccard >= {NGRAM_TOPK_THRESHOLD}
        ORDER BY jaccard DESC, id_a, id_b LIMIT 20
    """,
    # LSH output == exact answer at the threshold (recall ≥ 99.6%)
    "dedup_minhash_lsh": f"""
        WITH {_SHINGLES_CTE}
        SELECT * FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
    """,
    "_simhash_arm": f"""
        WITH toks AS (
            SELECT DISTINCT doc_id,
                   unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
            FROM documents
        ), hashed AS (
            SELECT doc_id,
                   CAST(list_sum([(strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1)::BIGINT
                        << ((15 - i) * 4) for i in generate_series(1, 15)]) AS BIGINT) AS h
            FROM toks
        ), votes AS (
            SELECT doc_id,
                   {", ".join(f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}" for i in range(60))}
            FROM hashed GROUP BY doc_id
        ), sigs AS (
            SELECT doc_id,
                   CAST({" + ".join(f"(CASE WHEN s{i} > 0 THEN (1::BIGINT << {i}) ELSE 0::BIGINT END)" for i in range(60))} AS BIGINT) AS sig
            FROM votes
        ), banded AS (
            SELECT doc_id, sig, chunk, (sig >> (chunk * 15)) & 32767 AS cv
            FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS chunk) ch
        ), pairs AS (
            SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                   CAST(bit_count(xor(x.sig, y.sig)) AS INT) AS hamming
            FROM banded x JOIN banded y
              ON x.chunk = y.chunk AND x.cv = y.cv AND x.doc_id < y.doc_id
        )
        SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
    """,
    "_components_arm": f"""
        WITH RECURSIVE {_SHINGLES_CTE},
        und AS (
            SELECT id_a AS a, id_b AS b FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
            UNION
            SELECT id_b AS a, id_a AS b FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
        ),
        nodes AS (SELECT DISTINCT a AS node FROM und),
        reach(node, lbl) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT u.b, r.lbl FROM reach r JOIN und u ON u.a = r.node
        ),
        comp AS (SELECT node, MIN(lbl) AS comp FROM reach GROUP BY node)
        SELECT comp AS rep_doc_id, COUNT(*) AS n_members,
               array_to_string(list_sort(list(node)), ',') AS members
        FROM comp GROUP BY comp
    """,
}

def _winnow_arm_sql() -> str:
    from ts_etl_spark.operators.substrings import (
        MIN_DOCS,
        winnow_fingerprints_sql,
    )

    return f"""
        WITH fps AS ({winnow_fingerprints_sql()}),
        rep AS (
            SELECT fp, COUNT(*) AS n_docs
            FROM (SELECT DISTINCT doc_id, fp FROM fps)
            GROUP BY fp HAVING COUNT(*) >= {MIN_DOCS}
        )
        SELECT f.doc_id, f.pos, f.fp, r.n_docs
        FROM fps f JOIN rep r USING (fp)
    """


ORACLE["dedup_simhash_components"] = f"""
    SELECT 'simhash' AS op, id_a AS k1, id_b AS k2,
           CAST(hamming AS BIGINT) AS n, CAST(NULL AS VARCHAR) AS s
    FROM ({ORACLE.pop("_simhash_arm")})
    UNION ALL
    SELECT 'component' AS op, rep_doc_id AS k1, CAST(NULL AS BIGINT) AS k2,
           n_members AS n, members AS s
    FROM ({ORACLE.pop("_components_arm")})
    UNION ALL
    SELECT 'winnow' AS op, doc_id AS k1, CAST(pos AS BIGINT) AS k2,
           n_docs AS n, CAST(fp AS VARCHAR) AS s
    FROM ({_winnow_arm_sql()})
"""
