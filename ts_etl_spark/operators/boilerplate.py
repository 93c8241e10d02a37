"""Boilerplate detection: n-grams shared by many documents are template
text (headers, footers, navigation, license blurbs), and a document made
mostly of them adds little training signal. This is the cross-document
companion to textops' WITHIN-document repetition signals.

Plan shape, corpus-linear end to end:

1. distinct word-n-grams per document (one expression + explode — reuses
   textops' ``_word_grams`` machinery);
2. document frequency per gram: one partial-aggregated groupBy (each
   gram counted once per doc because the per-doc array is distinct);
3. boilerplate grams = df ≥ max(min_docs, min_doc_frac · corpus size) —
   the corpus size is a 1-row broadcast scalar, the threshold folds into
   a filter on the df table;
4. per-document score: join the doc's grams against the (small —
   frequency-thresholded) boilerplate gram set and aggregate the hit
   fraction. The boilerplate set shrinks as the threshold rises, so the
   planner broadcasts it when it fits; no hard hint (it scales with
   template diversity, not corpus size, but the fallback must stay
   available — the scaling-table rule).

Every document is returned (gram-less docs score 0.0), mirroring the
keep-every-row contract of the LM scorer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts_etl_spark.operators.textops import _word_grams

BOILER_N = 5


def boilerplate_scores(
    docs: DataFrame,
    n: int = BOILER_N,
    min_doc_frac: float = 0.05,
    min_docs: int = 2,
    persisted: list[DataFrame] | None = None,
) -> DataFrame:
    """(doc_id, n_grams, n_boiler, boiler_frac) per document: the share of
    the document's distinct word-n-grams that are corpus boilerplate
    (appearing in ≥ max(min_docs, min_doc_frac·N) documents).

    The exploded gram frame feeds both the document-frequency aggregate
    and the scoring join. Pass ``persisted`` (a list) to cache it across
    the two consumers (tokenization is the dominant cost — one scan, not
    two) and receive the cached frame for caller-side release once the
    lazy result is materialized — the same seam as ``minhash_lsh_pairs``.
    WITHOUT the seam the frame is deliberately NOT cached: the grams
    recompute once, but a lazy result can never leak a corpus-scale cache
    in a long-lived session (there would be no release point)."""
    if n < 1:
        raise ValueError("n must be a positive gram size")
    if not 0 < min_doc_frac <= 1:
        raise ValueError("min_doc_frac must be in (0, 1]")
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2 (df 1 is never boilerplate)")
    grams = docs.select("doc_id", F.explode(_word_grams(n)).alias("g"))
    if persisted is not None:
        grams = grams.persist()
        persisted.append(grams)
    total = docs.select(
        F.count("*").alias("__n_docs")
    )  # 1 row — broadcast scalar
    boiler = (
        grams.groupBy("g")
        .agg(F.count("*").alias("df"))
        .join(F.broadcast(total), F.lit(True))
        .filter(
            F.col("df")
            >= F.greatest(
                F.lit(min_docs),
                F.ceil(F.lit(min_doc_frac) * F.col("__n_docs")),
            )
        )
        .select("g", F.lit(1).alias("hit"))
    )
    scored = (
        grams.join(boiler, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_grams"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("int").alias("n_boiler"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_boiler", F.lit(0)).alias("n_boiler"),
            F.when(
                F.coalesce("n_grams", F.lit(0)) > 0,
                F.col("n_boiler").cast("double") / F.col("n_grams"),
            )
            .otherwise(F.lit(0.0))
            .alias("boiler_frac"),
        )
    )
