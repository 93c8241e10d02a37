"""Training-data curation pipeline: the operator surface composed into the
end-to-end corpus-preparation flow a large-scale LLM data pipeline runs —
quality gate → canonical/exact dedup → MinHash-LSH near-dup removal →
language filter → greedy token budget — with full per-document provenance.

Every stage reuses an already-oracle-checked operator (textops metrics and
signatures, dedup.q_dedup_minhash_lsh, skew.bucketed_running_sum), so the
pipeline adds POLICY, not new computation. Plan shape at 100 TB:

- metrics/signals: one shuffle-free codegen projection over the scan.
- canonical dedup: one (fingerprint) keyed window — group size = duplicate
  multiplicity, bounded in practice (a pathological viral-text key is the
  salted-aggregate case; the rank only needs min, which AQE skew-split
  handles).
- near-dup removal: the LSH pair list (banded candidates, exact verify) is
  orders of magnitude smaller than the corpus; survivors anti-join against
  its id_b side — one broadcast-able skinny join.
- token budget: skew-safe two-level cumulative sum (bucketed_running_sum),
  never a single-partition global sort.

Provenance contract: the returned frame has EVERY input document, `kept`
boolean, and a `drop_reason` in dropped rows (first failing stage in
pipeline order: quality → blocklist (when `blocklist` is set) →
classifier (when `clf_threshold` is set) →
exact_dup → near_dup → language → budget), so corpus composition is
auditable and each stage's yield is one groupBy away. When
`paragraph_dedup` is set, `text` and every metric reflect the
paragraph-REWRITTEN document, not the stored one — cleaning precedes
scoring by design.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ts_etl_spark.operators.dedup import JACCARD_THRESHOLD, minhash_lsh_pairs
from ts_etl_spark.operators.skew import bucketed_running_sum
from ts_etl_spark.operators.textops import _metric_cols, _signature_cols
from ts_etl_spark.sinks.table_sink import write_parquet
from ts_etl_spark.sources.tables import load_table, spread_input


def curate_documents(
    spark: SparkSession,
    sf_dir: str,
    languages: Sequence[str] | None = None,
    jaccard_threshold: float = JACCARD_THRESHOLD,
    token_budget: int | None = None,
    persisted: list[DataFrame] | None = None,
    clf_threshold: float | None = None,
    paragraph_dedup: str | None = None,
    blocklist: Sequence[str] | None = None,
    blocklist_max_frac: float = 0.0,
    substring_mask: bool | tuple[int, int, int] | None = None,
    domain_cap_n: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Run the curation flow over ``documents``; return every document with
    metrics, signals, and provenance (``kept`` / ``drop_reason``).

    Policies (each documented where it diverges from a naive formulation):

    - exact dedup dedups on the CANONICAL fingerprint (lowercased,
      whitespace-collapsed md5 from textops) — catches trivially-reformatted
      copies, keeps the lowest doc_id of each group.
    - near-dup removal is greedy-by-id over verified LSH pairs (cosine of
      the pair list: keep ``id_a``, drop ``id_b``): every dropped document
      has a surviving near-duplicate with a smaller id. Pairs are computed
      over the FULL corpus (not post-filter survivors) so the pair list is
      reusable across policy changes; a doc dropped by quality may still
      "shield" its near-dups — by design, the kept representative is then
      absent, which is the conservative direction (drops more, never keeps
      two near-dups).
    - ``paragraph_dedup`` (round 5, off by default): rewrite documents
      through ``operators.paragraphs.dedup_paragraphs`` (mode ``"df"`` or
      ``"keep_first"``) BEFORE any scoring, so shared boilerplate
      paragraphs never pollute metrics, fingerprints or shingles.
    - ``blocklist`` (round 5, off by default): whole-token term-list
      content filter — drop documents whose blocklist hit fraction
      exceeds ``blocklist_max_frac`` (default 0.0: any hit drops);
      token-less documents have no evidence and pass to the other gates.
    - ``clf_threshold`` (round 5, off by default): the model-based gate
      after the heuristic one — drop documents whose hashing-trick
      linear score (``operators.classifier``, derived stand-in weights;
      pre-score the corpus yourself for externally-trained weights)
      falls below the threshold. Token-less documents score NULL and
      pass through to the heuristic gate's verdict.
    - ``substring_mask`` (round 7, off by default): rewrite documents
      through ``operators.substrings.mask_repeated_spans`` (True for the
      module defaults, or a ``(k, w, min_docs)`` tuple) BEFORE any
      scoring — cross-document repeated spans (license boilerplate,
      chrome) vanish before they pollute metrics, fingerprints or
      shingles, the same slot as ``paragraph_dedup`` (compose both:
      paragraphs first, spans second).
    - ``domain_cap_n`` (round 7, off by default): keep at most N
      documents per ``source`` (longest-first by n_chars, ties by
      doc_id — the ``operators.urls.domain_cap`` policy); excess drops
      with reason ``domain_cap``. Verdicts are computed over the FULL
      corpus ordering, not post-filter survivors — deterministic and
      policy-stable (re-running with a different quality gate never
      reshuffles which documents the cap selects).
    - token budget is greedy by ascending doc_id over BPE-ish token counts
      of documents that survived every other stage: a document is in budget
      while the cumulative count BEFORE it is under the budget (so the
      boundary document that crosses the line is kept — budget is a target,
      not a hard ceiling; flip the comparison for a hard cap).

    The result is lazy, so unpersisting the internal caches belongs to the
    caller once the result is materialized: pass ``persisted`` (a list) to
    receive the cached frames — a long-lived session that skips this keeps
    the corpus-scan cache resident forever (``cli.run_curate`` is the
    reference usage; one-shot bench/driver runs clear the whole cache
    instead). EXCEPTION: with ``substring_mask`` the masking stage
    materializes EAGERLY at call time into a localCheckpoint (its
    lineage otherwise rides inside every downstream stage — see the
    inline comment), and its temporary raw/winnow caches are released
    here, not via ``persisted``.

    ``checkpoint_dir`` (round 9): localCheckpoint blocks are
    executor-LOCAL and non-replicated — after lineage truncation, a
    single executor loss fails the job, the one reliability gap
    acceptable on local[n] but not on a 1000-executor run. Pass a
    reliable-storage directory (HDFS/S3 in production) and the masked
    corpus STAGES there as parquet instead; the downstream stages read
    the staged files, so executor loss just re-reads. Identical output
    either way (tested); the staged directory is the caller's to manage
    (it is the recovery point, so it is NOT auto-deleted) — and
    symmetrically the pipeline REFUSES a directory that already has
    content (round 10): staging uses overwrite mode, so a mispointed
    path would otherwise be silently destroyed.
    """
    # ONE cached scan of documents feeds both the metric projection and the
    # LSH near-dup pass (the pipeline's two text consumers) — at 100 TB you
    # never want the corpus read and re-tokenized twice.  The scan is
    # spread (``spread_input``) so paragraph dedup, masking and shingling
    # run across the cores, and the cache holds only the skinny
    # (doc_id, text) projection.
    docs = spread_input(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    if paragraph_dedup is not None:
        from ts_etl_spark.operators.paragraphs import dedup_paragraphs

        docs = dedup_paragraphs(docs, mode=paragraph_dedup).select(
            "doc_id", "text"
        )
    if substring_mask:
        from ts_etl_spark.operators.substrings import (
            MIN_DOCS,
            WINNOW_K,
            WINNOW_W,
            mask_repeated_spans,
        )

        k_, w_, m_ = (
            substring_mask
            if isinstance(substring_mask, (tuple, list))
            else (WINNOW_K, WINNOW_W, MIN_DOCS)
        )
        # masking reads its input several times (winnow selection, the
        # candidate gram phase, the final rebuild join) — cache the raw
        # text projection so those are memory reads, not corpus rescans
        raw = docs.persist()
        mask_caches: list[DataFrame] = []
        masked = mask_repeated_spans(
            raw, k=k_, w=w_, min_docs=m_, persisted=mask_caches
        ).select("doc_id", F.col("clean_text").alias("text"))
        # localCheckpoint, not persist: every downstream stage (metrics,
        # fingerprints, LSH, cap, budget) references the masked frame,
        # and a mere cache keeps the whole winnow lineage inside each
        # reference — measured ~5 s of pure driver planning/AQE overhead
        # per run at sf0.1 on the resulting mega-plan. Checkpointing cuts
        # the plan at a leaf (11 s → 6 s for the registered entry) and
        # lets the raw/winnow caches release immediately; blocks are
        # freed by the ContextCleaner when the frame is GC'd (the
        # _track_persists contract). Trade-off: the masking stage
        # materializes EAGERLY at construction time (documented — the
        # rest of the result stays lazy). CAVEAT: localCheckpoint blocks
        # are executor-local, non-replicated — an executor loss after
        # truncation fails the job; callers needing the reliable barrier
        # pass checkpoint_dir and the masked frame stages to storage.
        if checkpoint_dir is not None:
            # fail fast on a populated directory: the write below would
            # silently erase whatever is there, and a caller mispointing
            # the recovery path at real data (the corpus itself, a prior
            # run's staging they meant to keep) must hear about it, not
            # lose it. EXCEPTION: a torn staging artifact from a crashed
            # previous attempt — no _SUCCESS marker and nothing but
            # Spark output files (part-*/_temporary/.crc) — may be
            # overwritten, or retrying after exactly the failure this
            # recovery point exists to survive would need manual
            # cleanup. A committed prior run (_SUCCESS present) or any
            # foreign file still refuses. Checked through the Hadoop FS
            # seam so hdfs:// and s3a:// paths behave like file://.
            from ts_etl_spark.fs import hadoop_fs

            fs, p = hadoop_fs(spark, checkpoint_dir)
            if fs.exists(p) and len(fs.listStatus(p)) > 0:
                names = [st.getPath().getName() for st in fs.listStatus(p)]
                committed = "_SUCCESS" in names
                spark_output_only = all(
                    n.startswith(("part-", ".", "_temporary", "_started", "_committed"))
                    for n in names
                )
                # a mid-write crash leaves the committer's _temporary
                # dir behind; requiring it keeps the retry from
                # swallowing a COMMITTED dataset of bare part-files
                # written by another tool (or one whose _SUCCESS an
                # object-store lifecycle rule pruned) — those still
                # refuse. Known refusal shapes that need one manual
                # delete: the rare crash-after-_temporary-cleanup
                # sliver, and committer-v2 job ABORTS (abortJob removes
                # _temporary but v2's already-committed part-files
                # remain). Bare part-files are indistinguishable from a
                # committed foreign dataset, so safety wins and the
                # message says exactly what to do.
                torn_evidence = "_temporary" in names
                if committed or not spark_output_only or not torn_evidence:
                    raise ValueError(
                        f"checkpoint_dir {checkpoint_dir!r} exists and is "
                        "non-empty; refusing to overwrite it — only a TORN "
                        "staging artifact (no _SUCCESS, Spark output files "
                        "only, _temporary still present) is retried in "
                        "place. If you are certain this directory is "
                        "wreckage of a previous staging attempt (e.g. a "
                        "committer-v2 abort, which removes _temporary but "
                        "leaves part-files), delete it and re-run; the "
                        "staged masked corpus is a caller-managed recovery "
                        "point and is never auto-cleared"
                    )
            masked.write.mode("overwrite").parquet(checkpoint_dir)
            docs = spark.read.parquet(checkpoint_dir)
        else:
            docs = masked.localCheckpoint(eager=True)
        raw.unpersist()
        for df in mask_caches:
            df.unpersist()
    else:
        docs = docs.persist()
    if persisted is not None and not substring_mask:
        # the masked path's docs is a checkpoint, not a cache — nothing
        # for the caller to release (ContextCleaner owns the blocks)
        persisted.append(docs)
    scored = docs.select("doc_id", "text", *_metric_cols(), *_signature_cols())
    if clf_threshold is not None:
        from ts_etl_spark.operators.classifier import derived_score_expr

        scored = scored.withColumn(
            "clf_score", derived_score_expr(text=F.col("text"))
        )
    if blocklist is not None:
        from ts_etl_spark.operators.textops import (
            blocklist_frac_expr,
            blocklist_signals,
        )

        tset = sorted({t.lower() for t in blocklist})
        if len(tset) <= 2048:
            scored = scored.withColumn(
                "block_frac", blocklist_frac_expr(F.col("text"), tset)
            )
        else:
            # wordlists past the inline limit go through the broadcast-
            # join plan (a literal array that size would cost
            # O(tokens x terms) per document in codegen)
            sig = blocklist_signals(docs, tset).select(
                "doc_id", F.col("hit_frac").alias("block_frac")
            )
            scored = scored.join(sig, "doc_id", "left")

    # exact/canonical dedup: rank within fingerprint, rep = lowest doc_id
    from pyspark.sql.window import Window

    fp_w = Window.partitionBy("fingerprint").orderBy("doc_id")
    scored = scored.withColumn(
        "is_exact_dup", F.row_number().over(fp_w) > 1
    )

    # near-dup removal: verified LSH pairs, drop the higher id of each pair
    pairs = minhash_lsh_pairs(docs, persisted=persisted).filter(
        F.col("jaccard") >= jaccard_threshold
    )
    near_dropped = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    scored = scored.join(
        near_dropped.withColumn("is_near_dup", F.lit(True)), "doc_id", "left"
    ).withColumn("is_near_dup", F.coalesce("is_near_dup", F.lit(False)))

    lang_ok = (
        F.col("pred_lang").isin(*languages) if languages else F.lit(True)
    )
    scored = scored.withColumn("lang_ok", lang_ok)

    if domain_cap_n is not None:
        from ts_etl_spark.operators.urls import domain_cap

        # skinny (id, source, n_chars) projection — no text column; cached
        # because domain_cap consumes it three times (count prefilter,
        # ranking join, provenance join)
        src = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "source", "n_chars")
            .persist()
        )
        if persisted is not None:
            persisted.append(src)
        capped = domain_cap(
            src,
            "source",
            domain_cap_n,
            order_cols=[F.col("n_chars").desc(), F.col("doc_id")],
        )
        over_cap = (
            capped.filter(~F.col("kept"))
            .select("doc_id")
            .withColumn("over_domain_cap", F.lit(True))
        )
        scored = scored.join(over_cap, "doc_id", "left").withColumn(
            "over_domain_cap", F.coalesce("over_domain_cap", F.lit(False))
        )

    # first failing stage in pipeline order (null = survived all gates);
    # NULL clf_score (token-less) is not < threshold, so those documents
    # answer to the heuristic gate alone
    reason = F.when(~F.col("quality_pass"), "quality")
    if blocklist is not None:
        reason = reason.when(
            F.col("block_frac") > F.lit(blocklist_max_frac), "blocklist"
        )
    if clf_threshold is not None:
        reason = reason.when(
            F.col("clf_score") < F.lit(clf_threshold), "classifier"
        )
    reason = reason.when(F.col("is_exact_dup"), "exact_dup").when(
        F.col("is_near_dup"), "near_dup"
    )
    if domain_cap_n is not None:
        reason = reason.when(F.col("over_domain_cap"), "domain_cap")
    reason = reason.when(~F.col("lang_ok"), "language")
    scored = scored.withColumn("drop_reason", reason)

    if token_budget is None:
        return scored.withColumn("kept", F.col("drop_reason").isNull())

    # Below the budget branch, `scored` feeds TWO consumers (the survivors
    # cumsum and the final provenance join) and its metric/signature
    # projection is the pipeline's most expensive compute — without a cache
    # the whole projection (plus the fingerprint window) runs once per
    # branch (measured 4.6s → 2.7s at sf0.1 when cached).  MEMORY_AND_DISK
    # by default, so at cluster scale this spills instead of OOMing; at
    # 100 TB you would persist only the skinny (doc_id, n_bpe_tokens,
    # drop_reason) slice for the cumsum branch and let the final join
    # re-read the corpus, but sharing one materialization is the right
    # default shape either way.
    scored = scored.persist()
    if persisted is not None:
        persisted.append(scored)

    # greedy token budget over surviving docs, skew-safe global cumsum
    survivors = scored.filter(F.col("drop_reason").isNull())
    budgeted = bucketed_running_sum(
        survivors.withColumn("__all", F.lit(0)),
        key="__all",
        order="doc_id",
        value="n_bpe_tokens",
        out="cum_tokens",
        broadcast_ranges=True,  # constant key: 1-row range frame
    ).drop("__all")
    in_budget = (F.col("cum_tokens") - F.col("n_bpe_tokens")) < F.lit(token_budget)
    budgeted = budgeted.select(
        "doc_id",
        F.col("cum_tokens").alias("cum_tokens"),
        (~in_budget).alias("over_budget"),
    )
    out = (
        scored.join(budgeted, "doc_id", "left")
        .withColumn(
            "drop_reason",
            F.coalesce(
                "drop_reason", F.when(F.col("over_budget"), "budget")
            ),
        )
        .withColumn("kept", F.col("drop_reason").isNull())
        .drop("over_budget")
    )
    return out


def write_curated(df: DataFrame, path: str) -> None:
    """Persist the kept documents partitioned by predicted language — the
    layout downstream per-language sampling reads with partition pruning."""
    write_parquet(df.filter(F.col("kept")), path, partition_by=["pred_lang"])


# --------------------------------------------------------------------------
# Driver-gated entry: the whole pipeline, summarized per (stage, language)
# --------------------------------------------------------------------------

#: policy constants for the registered entry (mirrored in the oracle SQL)
CURATION_LANGS = ("en", "de", "fr", "es")
CURATION_BUDGET = 10_000
#: per-source document cap for the registered policy (the urls.domain_cap
#: stage; same cap as the dedup_exact domain_drop arm)
CURATION_DOMAIN_CAP = 20


def q_pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation pipeline as one oracle-checked query:
    curate with the standard policy (substring masking + language
    allowlist + per-source domain cap + token budget), then report corpus
    composition — document and BPE-token counts per (outcome stage,
    predicted language). Every stage of the flow (winnowed repeated-span
    masking, quality gate, canonical exact dedup, MinHash-LSH near-dup
    removal, per-domain cap, language filter, greedy token budget)
    contributes to the summary, so a regression anywhere in the
    composition breaks the hash — since round 8 the REGISTERED policy
    includes the round-7 ``substring_mask`` and ``domain_cap_n`` stages
    (the README's full composed pipeline), each mirrored in the oracle
    (``substrings.mask_repeated_spans_sql``; the domain ranking window).
    The summary grain keeps the driver row narrow while the full
    per-document provenance frame stays available via
    ``curate_documents``."""
    cur = curate_documents(
        spark,
        sf_dir,
        languages=CURATION_LANGS,
        token_budget=CURATION_BUDGET,
        substring_mask=True,
        domain_cap_n=CURATION_DOMAIN_CAP,
    )
    return cur.groupBy(
        F.coalesce("drop_reason", F.lit("kept")).alias("stage"),
        "pred_lang",
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bpe_tokens").alias("bpe_tokens"),
    )


def _curation_oracle_sql() -> str:
    """DuckDB mirror of the full pipeline: the repeated-span masking twin
    (documents are REWRITTEN before any scoring — every downstream
    expression reads ``mdocs``) + textops metric/signature expressions +
    fingerprint window + the exact-Jaccard pair CTE (the LSH-equivalent
    answer, same as the dedup_minhash_lsh oracle) over the MASKED text +
    the per-source cap ranking (over the ORIGINAL table's n_chars, like
    the Spark side) + the budget running sum + the summary aggregate."""
    from ts_etl_spark.operators.dedup import _SHINGLES_CTE
    from ts_etl_spark.operators.substrings import mask_repeated_spans_sql
    from ts_etl_spark.operators.textops import BPE_PAT, CJK, LANG_MARKERS

    lang_scores = ",\n".join(
        f"len(regexp_extract_all(lower(text), '{pat}')) AS score_{lang}"
        for lang, pat in LANG_MARKERS.items()
    )
    langs_in = ", ".join(f"'{lang}'" for lang in CURATION_LANGS)
    # one shingle/jaccard definition (dedup's), retargeted at the masked
    # corpus — near-dup pairs are computed over what the pipeline scores
    shingles_masked = _SHINGLES_CTE.replace("FROM documents", "FROM mdocs")
    return rf"""
        WITH mdocs AS (
            SELECT doc_id, clean_text AS text
            FROM ({mask_repeated_spans_sql()})
        ),
        {shingles_masked},
        ranked_src AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (PARTITION BY source
                        ORDER BY n_chars DESC, doc_id) AS rnk
            FROM documents
        ),
        scored AS (
            SELECT doc_id,
                   {lang_scores},
                   len(regexp_extract_all(text, '{CJK}')) AS score_cjk,
                   CAST(len(regexp_extract_all(text, '{BPE_PAT}')) AS INT) AS n_bpe_tokens,
                   (len(regexp_split_to_array(trim(text), '\s+')) >= 10
                    AND length(text) >= 100
                    AND CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                            / length(text) >= 0.5) AS quality_pass,
                   md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
            FROM mdocs
        ),
        sig AS (
            SELECT doc_id, n_bpe_tokens, quality_pass,
                   CASE WHEN score_cjk > 0 THEN 'zh'
                        WHEN greatest(score_en, score_de, score_fr, score_es) = 0 THEN 'und'
                        WHEN score_en = greatest(score_en, score_de, score_fr, score_es) THEN 'en'
                        WHEN score_de = greatest(score_en, score_de, score_fr, score_es) THEN 'de'
                        WHEN score_fr = greatest(score_en, score_de, score_fr, score_es) THEN 'fr'
                        ELSE 'es' END AS pred_lang,
                   ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) > 1
                       AS is_exact_dup
            FROM scored
        ),
        near AS (
            SELECT DISTINCT id_b AS doc_id FROM jac
            WHERE jaccard >= {JACCARD_THRESHOLD}
        ),
        reasons AS (
            SELECT s.*,
                   CASE WHEN NOT s.quality_pass THEN 'quality'
                        WHEN s.is_exact_dup THEN 'exact_dup'
                        WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                        WHEN r.rnk > {CURATION_DOMAIN_CAP} THEN 'domain_cap'
                        WHEN s.pred_lang NOT IN ({langs_in}) THEN 'language'
                        END AS drop_reason0
            FROM sig s
            LEFT JOIN near n USING (doc_id)
            JOIN ranked_src r USING (doc_id)
        ),
        budget AS (
            SELECT doc_id,
                   COALESCE(SUM(n_bpe_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       >= {CURATION_BUDGET} AS over_budget
            FROM reasons WHERE drop_reason0 IS NULL
        ),
        final AS (
            SELECT r.doc_id, r.pred_lang, r.n_bpe_tokens,
                   COALESCE(r.drop_reason0,
                            CASE WHEN b.over_budget THEN 'budget' END) AS drop_reason
            FROM reasons r LEFT JOIN budget b USING (doc_id)
        )
        SELECT COALESCE(drop_reason, 'kept') AS stage, pred_lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_bpe_tokens) AS BIGINT) AS bpe_tokens
        FROM final GROUP BY 1, 2
    """


QUERIES = {
    "pipeline_curation": q_pipeline_curation,
}

ORACLE = {
    "pipeline_curation": _curation_oracle_sql(),
}
