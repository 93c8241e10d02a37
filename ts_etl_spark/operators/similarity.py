"""Similarity search over ``embeddings`` (SURVEY.md §2.4).

- ``embed_topk``: brute-force cosine top-k for a fixed query set — the
  oracle-checked baseline. Dot products run JVM-side via
  ``zip_with``/``aggregate`` over double-cast arrays (sequential
  left-to-right summation, matching DuckDB's list_cosine_similarity on
  DOUBLE[]); results rounded to 6 decimals to absorb any last-ulp
  summation-order difference.
- ``embed_neardup_label``: near-dup pairs within a label via multi-probe
  IVF blocking (candidates-then-verify; the blocking is part of the query
  semantics and the oracle mirrors the cell assignment in SQL) —
  oracle-checked exactly at any SF, recall vs the unblocked definition
  documented in the docstring.
- ``embed_ann_ivf``: IVF-style approximate top-k — deterministic coarse
  quantizer (seed vectors as centroids), nprobe=4 — the 100 TB scale path
  where brute force is quadratic. The quantizer is deterministic, so the
  oracle mirrors assignment + probing in SQL (full hash-match); recall vs
  ``embed_topk`` is additionally asserted in tests.

Why IVF and not random-hyperplane LSH for the ANN scale path: hyperplane
LSH bucket-collision probability is ``(1 - θ/π)^bits`` per band; on this
corpus (uniform random 64-dim vectors, best-neighbor cosine ≈ 0.5 ⇒
θ ≈ 60°) an 8-bit band collides at ~4%, so usable recall needs so many
bands the candidate set degenerates toward all-pairs. IVF probes a fixed
fraction of cells regardless of the similarity distribution, which is the
defensible bound on uniform data and strictly better on clustered (real)
embeddings. (SimHash banding IS used where it fits — text near-dup in
operators/dedup.py, where true near-dups have Jaccard ≫ baseline.)

Scale notes: brute force is O(Q·N) with Q small (broadcast the query set —
no shuffle of the big side); IVF assigns each vector to its nearest seed
centroid in one broadcast-join pass, then probes only 2/8 cells per query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ts_etl_spark.execution import memo, overlap
from ts_etl_spark.localrel import local_rows
from ts_etl_spark.sources.tables import load_table, spread_input

N_QUERIES = 10  # query set: vec_id < 10
TOP_K = 5
NEARDUP_THRESHOLD = 0.42
#: near-dup blocking: 16 deterministic seed centroids (vec_id 100..115),
#: each vector assigned to its 3 nearest cells (multi-probe). Candidate
#: pairs = same (label, cell); at bounded cell occupancy the self-join is
#: linear in candidates, never all-pairs-within-label.
BLOCK_CENTROIDS = 16
BLOCK_ASSIGN = 3
#: inc-arm corpus/batch boundary: vec_id < INC_SPLIT is the "previously
#: ingested" corpus, [INC_SPLIT, INC_END) the landing batch — a FIXED
#: window (embeddings carry 500+ vectors at every SF) so the arm's cost
#: is SF-constant. Ignoring ids ≥ INC_END is sound: domination is
#: strict-smaller-id, so verdicts for ids < INC_END never depend on
#: later vectors, and the one-shot equivalence restricted to the batch
#: window is unchanged.
INC_SPLIT = 250
INC_END = 500
IVF_CENTROIDS = 8
# On clustered (real) embeddings few probes suffice; the synthetic corpus is
# UNIFORM random, where IVF recall converges to nprobe/K by construction —
# probe half the cells so the operator stays meaningfully testable.
IVF_NPROBE = 4


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double summation (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the HOF-heavy dot-product work across the cores
    e = spread_input(load_table(spark, sf_dir, "embeddings"), "vec_id")
    v = as_double(F.col("embedding"))
    return e.select("vec_id", "label", v.alias("v"), norm(v).alias("nrm"))


def brute_topk(vecs: DataFrame, q: DataFrame, top_k: int = TOP_K) -> DataFrame:
    """Exact cosine top-k of a (vec_id, v, nrm) corpus against a broadcast
    (q_id, qv, qn) query frame — the big side streams through unshuffled."""
    from pyspark.sql.window import Window

    pairs = vecs.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
    cos = dot(F.col("v"), F.col("qv")) / (F.col("nrm") * F.col("qn"))
    w = Window.partitionBy("q_id").orderBy(F.col("cosine_raw").desc(), F.col("vec_id"))
    return (
        pairs.select("q_id", "vec_id", cos.alias("cosine_raw"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cosine_raw", 6).alias("cosine"),
            "rn",
        )
    )


def q_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding surface's entry points as a tagged union
    (op, q_id, neighbor_id, cosine, rn):

    - ``op='topk'`` — brute-force cosine top-k per query vector
      (vec_id < N_QUERIES; the original entry, unchanged).
    - ``op='embdoc'`` (round 11) — ``operators.embedding.
      embed_documents``' default hashed-BoW embedder over the documents
      table, exploded to one row per (document, component): ``q_id`` the
      doc_id, ``neighbor_id`` the component index 0..dim-1, ``cosine``
      the component value rounded to 6 digits, ``rn`` the 1-based
      component position. This gates the operator every similarity
      entry DEPENDS on (the text→vector bridge) end to end — tokenize →
      md5 bucket/sign → per-(doc,bucket) sum → densify → L2-normalize —
      against a DuckDB mirror built from the same md5 arithmetic
      (``classifier._hash8``'s hex fold). Cross-engine exactness: the
      per-bucket sums are small INTEGERS (sums of ±1), so the squared
      norm is an exact integer-valued double regardless of summation
      order; sqrt and the division are IEEE correctly-rounded, and the
      6-digit rounding absorbs nothing (values are already identical) —
      the same argument as the classifier's bit-exact activation.
      Token-less / fully-cancelled documents embed NULL and emit no
      rows (both sides).
    - ``op='bm25'`` (round 12) — sparse lexical retrieval
      (``operators.bm25.bm25_topk``): exact Okapi BM25 top-k over the
      documents table for the fixed ``BM25_QUERIES`` set; ``q_id`` the
      query id, ``neighbor_id`` the doc_id, ``cosine`` the 6-digit BM25
      score, ``rn`` the rank. The keyword-side retrieval counterpart of
      the dense arms — cross-engine bit equality via integer tf/df/dl,
      shared-libm idf literals, a pinned IEEE expression tree, and an
      ordered per-term fold (the full ladder in the bm25 module
      docstring). The lexicon pass (N, avgdl, per-term df) is memoized
      per (application, dataset) like the IVF frames.
    - ``op='bm25idx'`` (round 14) — ONE sentinel row gating the
      postings-INDEX retrieval path (``streaming.ingest.
      bm25_topk_from_index`` over a bootstrapped temp lexicon, the
      production serving shape) against the scan arm above: Spark
      computes the exact two-way frame difference between the indexed
      and scan rankings and reduces it to ``cosine`` = 1.0 on exact
      equality (0.0 breaks the hash on any divergence — score, rank,
      membership, anything), ``neighbor_id`` = the scan ranking's row
      count (the oracle re-derives it as COUNT over its own bm25
      subquery), ``q_id`` = -1, ``rn`` = 1. The shared ``_bm25_rank``
      body makes equality structural; this row makes it DRIVER-GATED —
      previously the index-backed route was the one production path
      proven only by tests. The temp lexicon is the bench supplement's
      memoized staging (one bootstrap per application+dataset)."""
    from ts_etl_spark.operators.bm25 import (
        bm25_stats,
        bm25_topk,
        q_bm25_indexed,
    )
    from ts_etl_spark.operators.embedding import embed_documents

    vecs = _vectors(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    topk_arm = brute_topk(vecs, q).select(
        F.lit("topk").alias("op"), "q_id", "neighbor_id", "cosine", "rn"
    )
    docs = load_table(spark, sf_dir, "documents")
    # Round 16 re-A/B (the round-15 "stage overlap hides the narrow
    # scans" reading no longer holds on current numbers): the embdoc
    # arm ALONE is 3.0-3.3 s — the whole entry's wall — because the
    # full-corpus embed (tokenize → hash → densify → normalize) runs on
    # the single-split scan's one task. Spreading JUST this arm's input
    # (projected to the two columns it needs, guide §2.3/§2.5) cuts the
    # arm to 0.7-0.8 s and the entry to ~1.3-1.5 s; the bm25 arm's
    # spread was neutral-to-negative and stays as-is, and the exchange
    # is guard-gated so production plans are untouched.
    embdoc_arm = (
        embed_documents(spread_input(docs.select("doc_id", "text"), "doc_id"))
        .filter(F.col("embedding").isNotNull())
        .select("doc_id", F.posexplode("embedding").alias("pos", "x"))
        .select(
            F.lit("embdoc").alias("op"),
            F.col("doc_id").alias("q_id"),
            F.col("pos").cast("long").alias("neighbor_id"),
            F.round("x", 6).alias("cosine"),
            (F.col("pos") + 1).cast("int").alias("rn"),
        )
    )
    stats = memo(
        spark, sf_dir, "ivf/bm25_stats", lambda: bm25_stats(docs)
    )
    scan_rank = bm25_topk(docs, stats=stats)
    bm25_arm = scan_rank.select(
        F.lit("bm25").alias("op"),
        "q_id",
        F.col("doc_id").alias("neighbor_id"),
        F.col("score").alias("cosine"),
        "rn",
    )

    def _bm25idx_gate() -> tuple:
        idx_rank = q_bm25_indexed(spark, sf_dir)
        n_scan = scan_rank.count()
        diff = (
            scan_rank.exceptAll(idx_rank).count()
            + idx_rank.exceptAll(scan_rank).count()
        )
        return n_scan, diff == 0

    n_scan, idx_equal = memo(spark, sf_dir, "ivf/bm25idx_gate", _bm25idx_gate)
    bm25idx_arm = local_rows(
        spark,
        [("bm25idx", -1, n_scan, 1.0 if idx_equal else 0.0, 1)],
        "op STRING, q_id LONG, neighbor_id LONG, cosine DOUBLE, rn INT",
    )
    return (
        topk_arm.unionByName(embdoc_arm)
        .unionByName(bm25_arm)
        .unionByName(bm25idx_arm)
    )


def q_embed_neardup_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space near-duplicate detection as a tagged union
    (op, label, id_a, id_b, cosine):

    - ``op='pair'`` — near-dup pairs (cosine ≥ threshold) within a label
      via multi-probe IVF blocking (the original entry, unchanged).
    - ``op='sem_drop'`` — SemDeDup clustered semantic dedup
      (``semantic_dedup``): one row per DROPPED vector; ``label`` carries
      the blocking cell, ``id_b`` the dominating (smaller-id) neighbor —
      not necessarily itself kept (it may in turn be dominated by an even
      smaller id; the provenance chain, not this row, reaches the keeper)
      — ``cosine`` the dominating similarity. Same deterministic seed
      centroids, 1-assign cells, threshold SEMDEDUP_THRESHOLD — fully
      mirrored in SQL.
    - ``op='knn'`` — the corpus-wide k-NN graph (``knn_graph``) over the
      SAME 1-assign cells: ``id_a`` the source, ``id_b`` the neighbor,
      ``label`` the neighbor rank 1..KNN_K. The sem and knn arms share
      ONE memoized+persisted cell-assignment and in-cell edge frame
      (``cell_edges``) — the edge self-join runs once, not per arm.
    - ``op='inc'`` — ``semantic_dedup_incremental`` of the fixed batch
      window (vec_id in [INC_SPLIT, INC_END)) against the corpus slice
      below it; the oracle is the sem arm restricted to batch ids via
      the proven batch-boundary equivalence (see the arm's inline
      comment). The window is SF-constant so the arm's cost doesn't
      scale with the corpus — gating the code path, not re-deduping the
      world.

    The blocking is part of the query SEMANTICS and the oracle reproduces
    the cell assignment in SQL: each vector goes to its BLOCK_ASSIGN=3
    nearest of BLOCK_CENTROIDS=16 deterministic seed centroids (assignment
    similarity rounded to 6 decimals, ties broken by centroid id — so both
    engines pick identical cells); candidate pairs share (label, cell);
    only candidates get an exact cosine. Output is therefore exactly
    hash-matchable at ANY scale factor. Recall vs the unblocked all-pairs
    definition is a documented property, not part of the contract (this
    corpus is uniform random — near-threshold pairs are fundamentally
    unblockable with guaranteed recall in d=64): measured 2/2 at sf0.01,
    45/54 at sf0.1. On real (clustered) embeddings the same blocking
    concentrates true near-dups into shared cells.

    Plan shape at 100 TB: one broadcast join against the centroids (no
    shuffle of the vector table), a skinny (label, cell, id) band shuffle
    for the candidate self-join, distinct candidate ids, then two hash
    joins to fetch vectors for exact verification — with K ∝ √N centroids
    the candidate fraction is ~m²/K of all-pairs and cells stay bounded."""
    from pyspark.sql.window import Window

    vecs = memo(spark, sf_dir, "ivf/vecs", lambda: _vectors(spark, sf_dir).persist())
    cents = vecs.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 100 + BLOCK_CENTROIDS)
    ).select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn"))

    csim = F.round(dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn")), 6)
    assign_w = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("c_id"))
    # ONE broadcast centroid join + ranking window serves all three arms:
    # rn <= 3 rows are the pair arm's multi-probe cells, the rn == 1 slice
    # is the sem/knn arms' 1-assign frame. Memoized + persisted per
    # (application, dataset) so repeated plan builds reuse it.
    ranked3 = memo(
        spark, sf_dir, "ivf/neardup_ranked3",
        lambda: (
            vecs.join(F.broadcast(cents), F.lit(True))
            .select("vec_id", "label", "v", "nrm", "c_id", csim.alias("csim"))
            .withColumn("rn", F.row_number().over(assign_w))
            .filter(F.col("rn") <= BLOCK_ASSIGN)
            .select(
                "vec_id", "label", "v", "nrm", F.col("c_id").alias("cell"), "rn"
            )
            .persist()
        ),
    )
    cells = ranked3.select("vec_id", "label", "cell")
    a = cells.select("label", "cell", F.col("vec_id").alias("id_a"))
    b = cells.select(
        F.col("label").alias("label_b"), F.col("cell").alias("cell_b"),
        F.col("vec_id").alias("id_b"),
    )
    cands = (
        a.join(
            b,
            (F.col("label") == F.col("label_b"))
            & (F.col("cell") == F.col("cell_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("label", "id_a", "id_b")
        .distinct()
    )
    va = vecs.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    vb = vecs.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    pair_arm = (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select("label", "id_a", "id_b", cos.alias("c"))
        .filter(F.col("c") >= NEARDUP_THRESHOLD)
        .select(
            F.lit("pair").alias("op"),
            F.col("label").cast("int").alias("label"),
            "id_a",
            "id_b",
            F.round("c", 6).alias("cosine"),
        )
    )
    # the edge self-join (the entry's dominant cost) computes once over
    # the 1-assign slice; each arm reads the cached skinny
    # (cell, src, dst, c) rows
    assigned1 = ranked3.filter(F.col("rn") == 1).select(
        "vec_id", "v", "nrm", "cell"
    )
    edges = memo(
        spark, sf_dir, "ivf/neardup_edges",
        lambda: cell_edges(assigned1).persist(),
    )
    sem_arm = (
        semantic_dedup(
            vecs, cents, SEMDEDUP_THRESHOLD, assigned=assigned1, edges=edges
        )
        .filter(~F.col("kept"))
        .select(
            F.lit("sem_drop").alias("op"),
            F.col("cell").cast("int").alias("label"),
            F.col("vec_id").alias("id_a"),
            F.col("dup_of").alias("id_b"),
            F.col("dup_cosine").alias("cosine"),
        )
    )
    knn_arm = knn_graph(vecs, cents, KNN_K, edges=edges).select(
        F.lit("knn").alias("op"),
        F.col("rank").cast("int").alias("label"),
        F.col("vec_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        "cosine",
    )
    # inc arm (round 8): semantic_dedup_incremental behind the driver
    # gate — the corpus is the 1-assign slice below INC_SPLIT, the batch
    # everything at/above it, and the PROVEN batch-boundary equivalence
    # (incremental == one-shot over the union restricted to batch rows,
    # tests/test_semantic_incremental.py) makes the oracle exactly the
    # sem arm's drop rows filtered to batch ids: if the incremental code
    # path ever diverges from the one-shot semantics, the hash breaks.
    inc_prov = semantic_dedup_incremental(
        vecs.filter(
            (F.col("vec_id") >= INC_SPLIT) & (F.col("vec_id") < INC_END)
        ).select("vec_id", "v", "nrm"),
        assigned1.filter(F.col("vec_id") < INC_SPLIT),
        cents,
        SEMDEDUP_THRESHOLD,
    )
    inc_arm = inc_prov.filter(~F.col("kept")).select(
        F.lit("inc").alias("op"),
        F.col("cell").cast("int").alias("label"),
        F.col("vec_id").alias("id_a"),
        F.col("dup_of").alias("id_b"),
        F.col("dup_cosine").alias("cosine"),
    )
    return (
        pair_arm.unionByName(sem_arm)
        .unionByName(knn_arm)
        .unionByName(inc_arm)
    )


#: SemDeDup drop threshold (cell-blocked cosine; rounded to 6 decimals
#: before comparison so both engines agree at the boundary). Lower than
#: NEARDUP_THRESHOLD because 1-assign cells see fewer pairs than the
#: 3-probe within-label blocking — 0.38 yields a stable non-trivial drop
#: set on the synthetic corpus at every tested SF.
#:
#: CALIBRATE PER EMBEDDER at production scale (measured, round-11 soak):
#: this default is tuned for the driver's embeddings table. With the
#: 64-dim hashed-BoW default embedder, unrelated documents already
#: measure cosine noise of sigma ~ 1/sqrt(dim) = 0.125 (plus any shared
#: boilerplate tail as a positive offset), so at 25k docs a threshold
#: of 0.38 sits ~2 sigma above baseline and every 1-assign cell
#: accumulates a dominator that "semantically drops" the entire tail of
#: the corpus. Streaming deployments on hashed-BoW should pass
#: ``sem_threshold`` well above the noise floor (0.8 drops bag-equal
#: paraphrases and survives unrelated docs at any corpus size).
SEMDEDUP_THRESHOLD = 0.38


def cell_edges(assigned: DataFrame, round_sim: int = 6) -> DataFrame:
    """DIRECTED in-cell cosine edges ``(cell, src, dst, c)`` over a
    1-assign frame (an ``ivf_assign(..., n_assign=1)`` result): every
    ordered pair of distinct vectors sharing a cell, with the exact cosine
    rounded to ``round_sim`` decimals. The cosine is elementwise-symmetric
    (IEEE products commute and the summation order is positional), so the
    two directions of a pair carry identical ``c``.

    This is the shared candidate structure under both ``semantic_dedup``
    (undirected threshold edges = ``src < dst AND c >= t``) and
    ``knn_graph`` (per-``src`` top-k) — build it once, persist it, and
    feed both, instead of running the in-cell self-join per consumer.

    Scale shape: ONE shuffle on ``cell``; output is O(N·m) skinny rows at
    cell occupancy m (constant when K ∝ N centroids)."""
    a = assigned.select(
        "cell",
        F.col("vec_id").alias("src"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = assigned.select(
        F.col("cell").alias("cell_b"),
        F.col("vec_id").alias("dst"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), round_sim
    )
    return a.join(
        b, (F.col("cell") == F.col("cell_b")) & (F.col("src") != F.col("dst"))
    ).select("cell", "src", "dst", cos.alias("c"))


def semantic_dedup(
    vecs: DataFrame,
    cents: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    round_sim: int = 6,
    assigned: DataFrame | None = None,
    edges: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style clustered semantic deduplication (the
    cluster-then-prune recipe of Abbas et al. 2023, arXiv:2303.09540):
    assign every vector to its nearest centroid CELL, compute pairwise
    cosine only WITHIN a cell, and drop near-duplicates above
    ``threshold`` keeping one representative — the embedding-space
    near-dup removal that catches paraphrases exact/MinHash dedup cannot.

    Keep policy (deterministic + engine-portable): a vector DROPS iff
    some smaller-id vector in its cell has rounded cosine ≥ threshold
    ("dominated by a smaller id" — one self-join and one argmax, no
    iteration). This drops a superset of the greedy sequential
    keep-first-scan set (any greedy drop has an earlier kept close
    neighbor, which dominates it); the superset relation is tested.

    Returns per-vector provenance, never silently filtering:
    ``(vec_id, cell, kept, dup_of, dup_cosine)`` where ``dup_of`` is the
    dominating neighbor with the highest rounded cosine (ties → smallest
    id) and both are NULL for kept rows.

    Scale shape: centroid assignment is one broadcast join (the vector
    table never shuffles for it); the in-cell self-join is ONE shuffle on
    ``cell``, pairwise work bounded by cell occupancy — with K ∝ N
    centroids (the SemDeDup paper's regime) occupancy, and thus cost per
    vector, stays constant as the corpus grows. Use
    ``train_ivf_centroids`` for the production quantizer on real
    clustered embeddings; deterministic seed centroids keep the gated
    entry oracle-mirrorable.

    ``assigned`` / ``edges`` let a caller inject the pre-built (persisted)
    1-assign frame and ``cell_edges`` result so sibling consumers (the
    knn arm, incremental dedup) share one subplan instead of re-running
    the in-cell self-join."""
    from pyspark.sql.window import Window

    if assigned is None:
        assigned = ivf_assign(vecs, cents, n_assign=1)
    if edges is None:
        edges = cell_edges(assigned, round_sim)
    # undirected threshold edges: the directed frame carries each pair
    # twice with identical rounded c — keep the src<dst direction
    dup_edges = edges.filter(
        (F.col("src") < F.col("dst")) & (F.col("c") >= threshold)
    ).select(
        "cell", F.col("src").alias("id_a"), F.col("dst").alias("id_b"), "c"
    )
    w = Window.partitionBy("id_b").orderBy(F.col("c").desc(), F.col("id_a"))
    drops = (
        dup_edges.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("id_b").alias("vec_id"),
            F.col("id_a").alias("dup_of"),
            F.col("c").alias("dup_cosine"),
        )
    )
    return (
        assigned.select("vec_id", "cell")
        .join(drops, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
            "dup_cosine",
        )
    )


def semantic_dedup_incremental(
    batch: DataFrame,
    corpus_assigned: DataFrame,
    cents: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    round_sim: int = 6,
) -> DataFrame:
    """SemDeDup a NEW batch of vectors against an EXISTING corpus without
    ever re-running the corpus×corpus self-join — the per-ingest form of
    ``semantic_dedup`` (the ``dedup_incremental`` pattern at the
    embedding layer: paraphrase-level dedup no longer requires a
    full-corpus recuration).

    ``batch`` is a (vec_id, v, nrm) frame; ``corpus_assigned`` is the
    MATERIALIZED 1-assign frame (vec_id, v, nrm, cell) of every vector
    PREVIOUSLY SEEN — an ``ivf_assign(..., n_assign=1)`` result kept as a
    table and only APPENDED per ingest, so the per-batch cost is linear
    in the batch and the occupancy of the cells it touches, never the
    corpus. Batch ids must be greater than corpus ids (ingest order), the
    same contract as ``dedup_incremental`` — VALIDATED by
    ``streaming.ingest.semantic_gate`` (an out-of-order id in the index
    raises there); callers invoking this directly own the check.

    A batch vector DROPS iff some smaller-id vector in its cell — from
    the corpus or earlier in the batch — has rounded cosine ≥
    ``threshold``; because batch ids exceed corpus ids, corpus verdicts
    are unaffected by the batch, so incremental ingestion converges to
    exactly the one-shot ``semantic_dedup`` over the union restricted to
    batch rows (tested equivalence). Returns the batch's provenance frame
    ``(vec_id, cell, kept, dup_of, dup_cosine)``.

    To advance the corpus append ALL batch rows' (vec_id, v, nrm, cell) —
    kept AND dropped — to ``corpus_assigned``'s table: under the
    dominated-by-smaller-id policy dropped vectors still dominate later
    arrivals (cosine is not transitive, so their dominators cannot stand
    in for them), and a kept-only index would make verdicts depend on
    where the batch boundaries happened to fall. The index therefore
    grows with vectors SEEN, the price of batch-boundary-independent,
    engine-portable one-shot semantics. NOTE: dropped batch rows may name
    a dropped earlier row as ``dup_of`` (dominating neighbor, not keeper).

    Plan shape at 100 TB: ONE broadcast assign of the batch, then one
    join keyed on ``cell`` between the batch and (corpus ∪ batch) — the
    corpus side is a skinny pre-assigned scan that partition-prunes to
    the batch's cells when the table is laid out by cell."""
    b_assigned = ivf_assign(batch, cents, n_assign=1)
    both = corpus_assigned.select("cell", "vec_id", "v", "nrm").unionByName(
        b_assigned.select("cell", "vec_id", "v", "nrm")
    )
    a = both.select(
        "cell",
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = b_assigned.select(
        F.col("cell").alias("cell_b"),
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), round_sim
    )
    dup_edges = (
        a.join(b, (F.col("cell") == F.col("cell_b")) & (F.col("id_a") < F.col("id_b")))
        .select("cell", "id_a", "id_b", cos.alias("c"))
        .filter(F.col("c") >= threshold)
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("id_b").orderBy(F.col("c").desc(), F.col("id_a"))
    drops = (
        dup_edges.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("id_b").alias("vec_id"),
            F.col("id_a").alias("dup_of"),
            F.col("c").alias("dup_cosine"),
        )
    )
    return (
        b_assigned.select("vec_id", "cell")
        .join(drops, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.col("dup_of").isNull().alias("kept"),
            "dup_of",
            "dup_cosine",
        )
    )


#: k-NN graph fan-out: 3 neighbors per vector keeps the gated entry's row
#: count linear and small while still exercising rank ties and short cells
KNN_K = 3


def knn_graph(
    vecs: DataFrame,
    cents: DataFrame,
    k: int = KNN_K,
    round_sim: int = 6,
    assigned: DataFrame | None = None,
    edges: DataFrame | None = None,
) -> DataFrame:
    """Corpus-wide k-nearest-neighbor graph via IVF cell blocking — the
    backbone structure for SemDeDup-style pruning, graph clustering, and
    label propagation over a training corpus.

    Every vector goes to its single nearest centroid cell
    (``ivf_assign`` with n_assign=1 — deterministic: similarity rounded
    to ``round_sim`` decimals, ties to the smaller centroid id); directed
    candidate edges are all in-cell ordered pairs; each edge gets an
    exact cosine (rounded before ranking so cross-engine rank order is
    identical); per-source ``row_number`` keeps the top ``k`` (ties to
    the smaller neighbor id). Vectors in singleton cells yield no rows —
    the graph is honest about what the blocking can see. Recall vs the
    unblocked exact graph is a property of the quantizer, not the
    contract (use ``train_ivf_centroids`` on real clustered embeddings;
    this corpus is uniform random, where 1-cell recall converges to 1/K
    by construction).

    Returns ``(vec_id, neighbor_id, cosine, rank)``, up to ``k`` rows
    per vector.

    Scale shape: assignment is one broadcast join (the vector table
    never shuffles for it); candidates are ONE shuffle on ``cell`` with
    per-vector work bounded by cell occupancy m; the ranking shuffle
    carries skinny (src, dst, cosine) rows. With K ∝ N centroids (the
    SemDeDup regime) m stays constant, so the whole graph is O(N·m) —
    never all-pairs — and each stage is a single bounded exchange.

    ``assigned`` / ``edges`` inject a pre-built 1-assign frame /
    ``cell_edges`` result (see ``semantic_dedup``) so the in-cell
    self-join is shared, not recomputed, when both consumers run."""
    from pyspark.sql.window import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if edges is None:
        if assigned is None:
            assigned = ivf_assign(vecs, cents, n_assign=1)
        edges = cell_edges(assigned, round_sim)
    w = Window.partitionBy("src").orderBy(F.col("c").desc(), F.col("dst"))
    return (
        edges.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("src").alias("vec_id"),
            F.col("dst").alias("neighbor_id"),
            F.col("c").alias("cosine"),
            "rank",
        )
    )


#: trained-quantizer gate for the ann entry: k-means config is FIXED (seed,
#: iterations) and the recall floor sits well under the measured minimum
#: (0.4 at sf0.01 and sf0.1; uniform random corpus converges to
#: nprobe/K = 0.5 by construction) so the boolean is stable across SFs and
#: partitionings while still failing loudly if the trained path breaks.
IVF_TRAIN_SEED = 7
IVF_TRAIN_ITER = 3
TRAINED_RECALL_FLOOR = 0.2

#: int8 arm gates (round 9): per-query floors sit well under the measured
#: minimums (recall min 0.8 at sf0.01, 1.0 at sf0.1; |Δcosine| max 0.0024
#: at both SFs — the 1/254-per-coordinate quantization bound) so the
#: booleans are SF-stable while a quantization regression still flips them.
Q8_RECALL_FLOOR = 0.5
Q8_ERR_BOUND = 0.02

#: pca arm (round 12 — gates ``pca_reduce``, the declared bridge to
#: ANN-after-PCA): reduced dimension and the bounded-boolean floors.
#: Eigenvectors are not cross-engine bit-mirrorable (iterative float
#: SVD), so the arm follows the ``quantiles_sketches`` /
#: ``trained_recall_ok`` pattern — Spark PROVES bounded properties of
#: the fitted model and the projected rows and emits booleans the
#: oracle asserts TRUE, plus exact counts DuckDB genuinely mirrors.
#: The variance floor sits well under the measured ratio on the
#: near-isotropic synthetic embeddings (16/64 dims capture ~0.38 at
#: sf0.01 and sf0.1; a broken fit scores ~0) so the boolean is
#: SF-stable while a real regression still flips it. The orthonormal
#: and match tolerances are float-roundoff bounds: k×k Gram off-identity
#: peaks at ~1e-15 for a correct fit, and the empirical captured/total
#: variance ratio agrees with the model's explainedVariance to ~1e-12
#: (both are averages of the same n values under different summation
#: orders) — 1e-8/1e-6 leave three-plus orders of headroom.
PCA_K = 16
PCA_VAR_FLOOR = 0.15
PCA_ORTHO_TOL = 1e-8
PCA_MATCH_TOL = 1e-6

def _pca_gate_row(vecs: DataFrame) -> tuple:
    """The pca arm's driver-side evidence: fit ``pca_reduce(PCA_K)`` on
    the (vec_id, v, nrm) corpus frame, project every row, and reduce the
    result to ONE literal row of exact counts and bounded booleans —

    - ``n_proj``: rows that came back with a projection (= non-null
      embeddings; DuckDB mirrors it as ``COUNT(embedding)``);
    - ``k_meas``: the MEASURED projection length, taken only when every
      row agrees (min == max), else -1 — a projection that stopped
      producing ``PCA_K``-long arrays breaks the hash against the
      oracle's literal;
    - ``var_ok``: captured variance ratio ≥ PCA_VAR_FLOOR;
    - ``ortho_ok``: the component rows are orthonormal (max |CCᵀ − I| ≤
      PCA_ORTHO_TOL, k×d driver-side numpy on the model dict);
    - ``recon_ok``: the PCA identity holds END TO END — the empirical
      avg‖proj‖² / avg‖x − mean‖² equals the model's claimed
      Σ explainedVariance within PCA_MATCH_TOL, and captured ≤ total.
      Because ‖proj‖² = ‖P(x−mean)‖² only reproduces the captured
      variance when the projection matrix actually is the fitted
      orthonormal top-k basis applied to correctly CENTERED inputs,
      this one scalar catches a wrong mean, uncentered transform,
      mis-scaled components, or score/loading mix-up.

    ‖x − mean‖² expands algebraically (nrm² − 2⟨x, mean⟩ + ‖mean‖²)
    so the aggregate stays a single flat HOF per row — no nested
    zip_with (the Catalyst re-inlining trap measured in round 7).
    One distributed aggregate over the projected frame; the fit itself
    is Spark ML PCA (distributed Gram, d×d driver state)."""
    import numpy as np

    projected, info = pca_reduce(vecs, PCA_K, emb_col="v", out_col="proj")
    mean = info["mean"]
    mean_sq = float(sum(m * m for m in mean))
    mean_lit = F.array(*[F.lit(m) for m in mean])
    tot_sq = (
        F.col("nrm") * F.col("nrm")
        - 2.0 * dot(F.col("v"), mean_lit)
        + F.lit(mean_sq)
    )
    cap_sq = dot(F.col("proj"), F.col("proj"))
    row = (
        projected.filter(F.col("proj").isNotNull())
        .agg(
            F.count("*").alias("n"),
            F.min(F.size("proj")).alias("kmin"),
            F.max(F.size("proj")).alias("kmax"),
            F.avg(tot_sq).alias("tot"),
            F.avg(cap_sq).alias("cap"),
        )
        .first()
    )
    n_proj = int(row.n)
    k_meas = int(row.kmin) if row.kmin == row.kmax else -1
    var_ratio = float(sum(info["explained_variance"]))
    C = np.array(info["components"], dtype=np.float64)  # k x d
    ortho_err = float(np.abs(C @ C.T - np.eye(len(C))).max())
    emp_ratio = float(row.cap) / float(row.tot) if row.tot else 0.0
    return (
        n_proj,
        k_meas,
        bool(var_ratio >= PCA_VAR_FLOOR),
        bool(ortho_err <= PCA_ORTHO_TOL),
        bool(
            row.cap <= row.tot * (1.0 + PCA_MATCH_TOL)
            and abs(emp_ratio - var_ratio) <= PCA_MATCH_TOL
        ),
    )


def _pq_gate_row(
    vecs: DataFrame,
    q: DataFrame,
    exact_full: DataFrame,
    cb: DataFrame,
    enc: DataFrame,
) -> tuple:
    """The pq arm's driver-side evidence (the ``_pca_gate_row``
    pattern): over the SHARED memoized codebooks + encoded corpus
    (``cb``/``enc`` — also consumed by ``_ivfpq_gate_row``, so training
    and the full-corpus encode run once per dataset), run the
    ADC-shortlist + exact-re-rank query path and reduce to ONE literal
    row of exact counts and bounded booleans —

    - ``n_codes``: vectors encoded (= non-null embeddings; DuckDB
      mirrors it as ``COUNT(embedding)``);
    - ``m_meas``: the MEASURED code length, taken only when every row
      agrees (min == max), else -1 — codes that stopped being
      ``PQ_M``-long break the hash against the oracle's literal;
    - ``pq_recall_ok``: min per-query recall of the re-ranked top-k vs
      the exact brute-force top-k ≥ PQ_RECALL_FLOOR;
    - ``pq_err_ok``: max |ADC score − exact cosine| over every
      shortlist candidate ≤ PQ_ADC_ERR_BOUND (the approximation the
      shortlist ranking runs on is itself bounded, not just the final
      recall);
    - ``pq_mse_ok``: mean relative reconstruction error
      (qerr / ‖x‖²) ≤ PQ_MSE_BOUND over nonzero vectors — the
      codebook-quality invariant (qerr falls out of the encode's
      argmin pass exactly)."""
    from pyspark.sql.window import Window

    nn = vecs.filter(F.col("v").isNotNull())
    stats = (
        enc.join(nn.select("vec_id", "nrm"), "vec_id")
        .agg(
            F.count("*").alias("n"),
            F.min(F.size("codes")).alias("mmin"),
            F.max(F.size("codes")).alias("mmax"),
            F.avg(
                F.when(
                    F.col("nrm") > 0,
                    F.col("qerr") / (F.col("nrm") * F.col("nrm")),
                )
            ).alias("mse"),
        )
        .first()
    )
    cand = _pq_candidates(vecs, enc, cb, q).persist()
    try:
        err_row = cand.agg(
            F.max(F.abs(F.col("adc") - F.col("cosine"))).alias("err")
        ).first()
        w = Window.partitionBy("q_id").orderBy(
            F.col("cosine").desc(), "vec_id"
        )
        rr = (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= TOP_K)
            .select("q_id", F.col("vec_id").alias("neighbor_id"))
        )
        recall_row = (
            q.select("q_id")
            .join(
                rr.join(
                    exact_full.select("q_id", "neighbor_id"),
                    ["q_id", "neighbor_id"],
                )
                .groupBy("q_id")
                .agg(F.count("*").alias("__h")),
                "q_id",
                "left",
            )
            .agg(
                F.min(F.coalesce("__h", F.lit(0))).alias("min_hits")
            )
            .first()
        )
    finally:
        cand.unpersist()
    n_codes = int(stats.n)
    m_meas = (
        int(stats.mmin)
        if stats.mmin is not None and stats.mmin == stats.mmax
        else -1
    )
    # degenerate inputs (no queries, all-null or all-zero-norm rows)
    # leave the aggregates NULL — fail the gate booleans rather than
    # crash the entry (review finding, round 13; the ok/pca arms'
    # coalesce discipline)
    min_hits = 0 if recall_row.min_hits is None else int(recall_row.min_hits)
    return (
        n_codes,
        m_meas,
        bool(min_hits / TOP_K >= PQ_RECALL_FLOOR),
        bool(
            err_row.err is not None
            and float(err_row.err) <= PQ_ADC_ERR_BOUND
        ),
        bool(stats.mse is not None and float(stats.mse) <= PQ_MSE_BOUND),
    )


#: composed IVF-PQ gate (round 14): min per-query recall of
#: ``ivf_pq_topk`` against the ROUTED-EXACT ranking (``ivf_topk`` over
#: the same seed cells) — the right decomposition, because the routing
#: loss is deterministic given the seed quantizer (the exact-checked
#: seed arm pins it) and what the composed row must gate is the
#: PQ-stage loss WITHIN the admitted candidate set. Measured
#: 1.0/1.0/0.8 at sf0.001/0.01/0.1 with the round-14 Lloyd codebooks
#: and shortlist 80; 0.6 leaves 1.33x headroom (the PQ arm's floor,
#: same worst-case data).
IVFPQ_RECALL_FLOOR = 0.6


def _ivfpq_gate_row(
    vecs: DataFrame,
    q: DataFrame,
    cents: DataFrame,
    seed_topk: DataFrame,
    cb: DataFrame,
    enc: DataFrame,
    res: DataFrame | None = None,
) -> tuple:
    """The composed-IVF-PQ arm's driver-side evidence (round 14 —
    closes the last test-proven-but-ungated production route):
    ``ivf_pq_topk`` (coarse routing → ADC over probed cells' codes →
    exact re-rank) runs END TO END over the shared memoized
    codebooks/codes and the registered entry's own seed quantizer, and
    reduces to ONE literal row —

    - ``nq``: queries answered (DuckDB mirrors it as the count of
      norm-positive query vectors);
    - ``k_meas``: the MEASURED per-query result count, taken only when
      every query agrees (min == max), else -1 — vs the oracle's
      literal TOP_K;
    - ``ivfpq_recall_ok``: min per-query recall vs the ROUTED-EXACT
      top-k (``seed_topk`` — the same probes, exactly ranked)
      ≥ IVFPQ_RECALL_FLOOR: the PQ stage loses boundedly little within
      the admitted set (routing loss itself is pinned by the
      exact-checked seed rows);
    - ``ivfpq_sound_ok``: ZERO results outside a probed cell — every
      (q_id, neighbor) pair the composed path returns is admitted by
      the deterministic cell assignment (re-derived independently here
      via ``ivf_assign`` and anti-joined);
    - ``ivfpq_exact_ok``: on the pairs shared with the routed-exact
      frame the returned cosine EQUALS the exact cosine (both sides
      round to 6 digits over the same expression tree) — the re-rank
      really is exact through the composition, max |Δ| == 0.

    Degenerate inputs (no norm-positive queries) leave the aggregates
    NULL — fail the booleans rather than crash (the pq arm's
    discipline). ``res`` optionally passes a precomputed (persisted)
    ``ivf_pq_topk`` frame — round 15 shares ONE composed-route result
    between this arm and the ``q_id = -4`` serving-index arm (which
    proves the persisted index frame-equal to it), halving the gate's
    ADC query cost; owned frames are unpersisted here, shared ones are
    the caller's."""
    own = res is None
    if own:
        res = ivf_pq_topk(vecs, enc, cb, cents, q).persist()
    try:
        crow = (
            res.groupBy("q_id")
            .agg(F.count("*").alias("c"))
            .agg(
                F.count("*").alias("nq"),
                F.min("c").alias("cmin"),
                F.max("c").alias("cmax"),
            )
            .first()
        )
        assigned = ivf_assign(vecs, cents, n_assign=1).select(
            "vec_id", "cell"
        )
        probes = (
            ivf_assign(
                q.filter(F.col("qn") > 0).select(
                    F.col("q_id").alias("vec_id"),
                    F.col("qv").alias("v"),
                    F.col("qn").alias("nrm"),
                ),
                cents,
                n_assign=IVF_NPROBE,
            )
            .select(F.col("vec_id").alias("q_id"), "cell")
        )
        admitted = assigned.join(probes, "cell").select(
            "q_id", F.col("vec_id").alias("neighbor_id")
        )
        viol = (
            res.select("q_id", "neighbor_id")
            .join(admitted, ["q_id", "neighbor_id"], "left_anti")
            .count()
        )
        joined = res.select("q_id", "neighbor_id", "cosine").join(
            seed_topk.select(
                "q_id", "neighbor_id", F.col("cosine").alias("xcos")
            ),
            ["q_id", "neighbor_id"],
        )
        stats = joined.groupBy("q_id").agg(
            F.count("*").alias("__h"),
            F.max(F.abs(F.col("cosine") - F.col("xcos"))).alias("__gap"),
        )
        rrow = (
            q.filter(F.col("qn") > 0)
            .select("q_id")
            .join(stats, "q_id", "left")
            .agg(
                F.min(F.coalesce("__h", F.lit(0))).alias("min_hits"),
                F.max(F.coalesce("__gap", F.lit(0.0))).alias("max_gap"),
            )
            .first()
        )
    finally:
        if own:
            res.unpersist()
    nq = int(crow.nq or 0)
    k_meas = (
        int(crow.cmin)
        if crow.cmin is not None and crow.cmin == crow.cmax
        else -1
    )
    min_hits = 0 if rrow.min_hits is None else int(rrow.min_hits)
    return (
        nq,
        k_meas,
        bool(min_hits / TOP_K >= IVFPQ_RECALL_FLOOR),
        bool(viol == 0),
        bool(rrow.max_gap is not None and float(rrow.max_gap) == 0.0),
    )


def _ann_index_gate_row(
    spark: SparkSession,
    vecs: DataFrame,
    q: DataFrame,
    cents: DataFrame,
    cb: DataFrame,
    res: DataFrame,
) -> tuple:
    """The persisted-serving-index arm's driver-side evidence (round 15
    — closes the last asymmetry between the sparse and dense retrieval
    stacks): a ``streaming.ann_index`` index is BUILT IN TWO BATCHES in
    a driver-side tempdir under the real fold protocol (the bm25idx
    temp-lexicon staging pattern, ``similarity.py`` q_embed_topk), with
    the entry's own seed quantizer and the memoized PQ codebooks
    injected so the persisted state is comparable value-for-value, and
    reduces to ONE literal row —

    - ``n_codes``: distinct vectors in the persisted codes table
      (DuckDB mirrors it as ``COUNT(embedding)``);
    - ``k_meas``: the MEASURED uniform per-query result count of the
      index-served ranking (min == max, else -1) vs the literal TOP_K;
    - ``annidx_exact_ok``: the index-served ranking is FRAME-EQUAL to
      the in-session ``ivf_pq_topk`` composition (``res`` — the same
      frame the -3 arm verifies): exact two-way ``exceptAll`` count 0,
      so a single diverging score, rank or membership breaks the hash;
    - ``annidx_replay_ok``: re-folding the LAST batch is a byte-level
      no-op (row count unchanged) — the max-batch-id replay protocol
      proven inside the sweep;
    - ``annidx_cover_ok``: the coverage invariant — totals' summed
      (n_docs, n_vecs) equal the corpus's (all, non-null) vector counts
      AND the codes table holds exactly n_vecs distinct vectors (the
      ``verify_ann_index`` probe, inlined over the vector frame).

    The tempdir is deleted after the row is reduced (every aggregate
    materializes first); the row itself is memoized per (application,
    dataset) like the other construction-time gates."""
    import shutil
    import tempfile

    from ts_etl_spark.streaming.ann_index import (
        ANN_TOTALS_SCHEMA,
        ann_index_paths,
        ann_topk_from_index,
        train_ann_model,
        update_ann_index,
    )

    d = tempfile.mkdtemp(prefix="tsetl_ann_gate_")
    try:
        train_ann_model(spark, vecs, d, cents=cents, codebooks=cb)
        mx = vecs.agg(F.max("vec_id")).first()[0]
        split = int(mx) // 2
        update_ann_index(
            spark, vecs.filter(F.col("vec_id") <= split), d, 1
        )
        update_ann_index(
            spark, vecs.filter(F.col("vec_id") > split), d, 2
        )
        p = ann_index_paths(d)
        rows_before = spark.read.parquet(p["codes"]).count()
        # replay of the last folded batch: the protocol must no-op
        update_ann_index(
            spark, vecs.filter(F.col("vec_id") > split), d, 2
        )
        replay_ok = (
            spark.read.parquet(p["codes"]).count() == rows_before
        )
        # the verification tail overlaps (guide §2.6): the served-query
        # leg (query + exceptAll pair + per-query counts) and the three
        # independent count reads run concurrently — same values, the
        # wall is the slowest leg instead of the sum
        served = ann_topk_from_index(spark, d, vecs, q).persist()
        try:
            with overlap() as submit:
                # the two independent count reads start first; the served
                # frame is then materialized ONCE on this thread before
                # the two legs that consume it fork — a lazy persist read
                # by concurrent threads computes the serving plan once
                # per thread until the blocks land (the round-15
                # exact_full/ivfpq_res lesson, closed here too)
                f_ncodes = submit(
                    lambda: spark.read.parquet(p["codes"])
                    .select("vec_id")
                    .distinct()
                    .count()
                )
                f_tot = submit(
                    lambda: spark.read.schema(ANN_TOTALS_SCHEMA)
                    .parquet(p["totals"])
                    .distinct()
                    .agg(F.sum("n_docs"), F.sum("n_vecs"))
                    .first()
                )
                served.count()
                f_diff = submit(
                    lambda: served.exceptAll(res).count()
                    + res.exceptAll(served).count()
                )
                f_crow = submit(
                    lambda: served.groupBy("q_id")
                    .agg(F.count("*").alias("c"))
                    .agg(F.min("c").alias("cmin"), F.max("c").alias("cmax"))
                    .first()
                )
                counts = vecs.agg(
                    F.count(F.lit(1)).alias("na"), F.count("v").alias("nn")
                ).first()
                diff = f_diff.result()
                crow = f_crow.result()
                n_codes = f_ncodes.result()
                tot = f_tot.result()
        finally:
            served.unpersist()
        cover_ok = (
            int(tot[0]) == int(counts.na)
            and int(tot[1]) == int(counts.nn)
            and n_codes == int(counts.nn)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)
    k_meas = (
        int(crow.cmin)
        if crow.cmin is not None and crow.cmin == crow.cmax
        else -1
    )
    return (n_codes, k_meas, bool(diff == 0), bool(replay_ok), cover_ok)


def q_embed_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: deterministic coarse quantizer (seed vectors
    vec_id in [100, 100+IVF_CENTROIDS) as centroids), nprobe=IVF_NPROBE
    (4 of 8 cells) — PLUS the k-means-trained production quantizer behind
    the same driver gate via a bounded-recall boolean.

    The seed-centroid ranking is fully oracle-checked: the quantizer is
    deterministic, so the DuckDB oracle mirrors the cell assignment and
    probe selection in SQL (the same technique as ``embed_neardup_label``);
    assignment/probe similarities are rounded to 6 decimals with a c_id
    tiebreak so both engines pick identical cells regardless of float
    summation order.

    ``trained_recall_ok`` puts the PRODUCTION path — ``train_ivf_centroids``
    (MLlib k-means, fixed seed/iterations) feeding the same ``ivf_topk`` —
    inside the correctness gate: Spark computes the trained quantizer's
    top-k recall against the exact brute-force ranking and asserts it
    clears TRAINED_RECALL_FLOOR per query; the oracle (which cannot mirror
    iterative float k-means) asserts the boolean TRUE — the
    ``quantiles_sketches`` bounded-error-property pattern.  A regression
    anywhere in training, assignment, or probing flips the boolean and
    breaks the hash.

    ``q8_recall_ok`` / ``q8_err_ok`` (round 9) put the int8-quantized
    path (``quantized_topk`` — 8× smaller vectors, integer arithmetic,
    the storage/bandwidth lever at 100 TB) behind the same gate: per
    query, the quantized top-k must recall ≥ Q8_RECALL_FLOOR of the
    exact double-space top-k, and on the intersection pairs the
    quantized cosine must stay within Q8_ERR_BOUND of the exact score.
    The oracle (which cannot reproduce float→int8 rounding) asserts
    both booleans TRUE; the exact brute-force frame is computed ONCE
    and shared by the trained-recall and q8 gates.

    The ``q_id = -1`` sentinel row (round 12) gates ``pca_reduce`` —
    the dimensionality-reduction bridge to ANN-after-PCA, previously
    the one library operator with no driver row: fit + full-corpus
    projection run end to end and reduce to exact counts plus three
    bounded booleans (see ``_pca_gate_row``), carried in the entry's
    existing columns as ``neighbor_id`` = projected-row count (the
    oracle re-derives it as COUNT(embedding)), ``cosine``/``rn`` =
    the MEASURED uniform projection length vs the oracle's literal
    PCA_K, and the three boolean columns = variance-floor /
    orthonormality / reconstruction-identity verdicts the oracle
    asserts TRUE. Memoized like the other construction-time actions.

    The ``q_id = -2`` sentinel row (round 13) gates the PRODUCT
    QUANTIZATION path the same way (``pq_train`` / ``pq_encode`` /
    ``pq_topk`` — the 32×-compression vector-store standard, next rung
    past int8's 8×): train + full-corpus encode + the ADC-shortlist +
    exact-re-rank query run end to end and reduce to ``neighbor_id`` =
    encoded-vector count (oracle: COUNT(embedding)), ``cosine``/``rn``
    = the MEASURED uniform code length vs the literal PQ_M, and three
    bounded booleans — min per-query re-ranked recall vs the SAME
    shared brute-force frame, max ADC-vs-exact score error over the
    shortlist, mean relative reconstruction error (see
    ``_pq_gate_row``).

    The ``q_id = -3`` sentinel row (round 14) gates the COMPOSED
    production route ``ivf_pq_topk`` (coarse routing × PQ codes —
    previously test-proven but outside the driver sweep): queries
    answered + the measured uniform per-query result count vs the
    literal TOP_K, plus three booleans — recall vs the ROUTED-EXACT
    ranking (isolating the PQ-stage loss; the routing loss is pinned
    by the exact-checked seed rows), routing soundness (zero results
    outside a probed cell), and exact-cosine equality through the
    composition (see ``_ivfpq_gate_row``). The PQ codebooks and
    encoded corpus are memoized ONCE and shared by the -2 and -3
    arms.

    The ``q_id = -4`` sentinel row (round 15) gates the PERSISTED
    serving index (``streaming.ann_index`` — the production deployment
    shape where codes, norms and the model live as replay-safe ingest
    state tables instead of session memos): a two-batch index is built
    in a tempdir under the real fold protocol and the row carries the
    persisted code count (oracle: COUNT(embedding)), the measured
    uniform per-query result count vs the literal TOP_K, and three
    booleans — index-served ranking frame-equal to the in-session
    composition, replay-fold no-op, and the coverage invariant (see
    ``_ann_index_gate_row``). The -3 and -4 arms share one memoized
    ``ivf_pq_topk`` result frame."""
    vecs = memo(
        spark, sf_dir, "ivf/vecs", lambda: _vectors(spark, sf_dir).persist()
    )
    cents = vecs.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 100 + IVF_CENTROIDS)
    ).select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn"))
    q = vecs.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    seed_topk = ivf_topk(vecs, cents, q, nprobe=IVF_NPROBE)

    # ONE brute-force pass (the entry's dominant cost) feeds both the
    # trained-recall gate and the q8 gates; memoized + persisted like
    # vecs/tcents — N_QUERIES·TOP_K rows, bounded
    exact_full = memo(
        spark,
        sf_dir,
        "ivf/exact",
        lambda: brute_topk(vecs, q)
        .select("q_id", "neighbor_id", "cosine")
        .persist(),
    )
    exact = exact_full.select("q_id", "neighbor_id")

    # Round 15 (guide §2.6 — overlap independent jobs): the cold build
    # used to run every gate construction back-to-back, so its wall was
    # the SUM of the chain even though only the PQ ladder orders most of
    # it. The constructions now run as a small dependency-aware pool:
    # the trained-quantizer fit and the PCA gate are submitted first
    # (no ladder dependency at all); the main thread builds the ladder
    # prefix (codebooks → codes → one materialization of the shared
    # composed-route frame); then the three gates that only need that
    # prefix — pq, composed-IVF-PQ, and the persisted-index gate (the
    # cold build's dominant leg: a real two-batch index fold) — run
    # concurrently. Warm (memoized) passes are unchanged.
    with overlap() as submit:
        f_tcents = submit(
            memo,
            spark,
            sf_dir,
            "ivf/tcents",
            lambda: train_ivf_centroids(
                vecs, k=IVF_CENTROIDS, seed=IVF_TRAIN_SEED,
                max_iter=IVF_TRAIN_ITER,
            ),
        )
        f_pca = submit(
            memo, spark, sf_dir, "ivf/pca_gate", lambda: _pca_gate_row(vecs)
        )
        nn = vecs.filter(F.col("v").isNotNull())
        pq_cb = memo(spark, sf_dir, "ivf/pq_cb", lambda: pq_train(nn))
        pq_codes = memo(
            spark, sf_dir, "ivf/pq_codes", lambda: pq_encode(nn, pq_cb).persist()
        )
        # materialize the two shared persisted frames BEFORE the gates
        # fork: a lazy persist() consumed by concurrent threads computes
        # once per thread until the blocks land
        exact_full.count()
        # ONE composed-route ADC query serves both the -3 verification and
        # the -4 frame-equality reference (round 15); persisted + memoized
        # like the other construction-time frames (N_QUERIES·TOP_K rows).
        # Materialized ONCE here (count of a ≤N_QUERIES·TOP_K frame)
        # before the two consumer gates race, so neither recomputes it.
        ivfpq_res = memo(
            spark,
            sf_dir,
            "ivf/ivfpq_res",
            lambda: (
                lambda df: (df.count(), df)[1]
            )(ivf_pq_topk(vecs, pq_codes, pq_cb, cents, q).persist()),
        )
        f_pq_gate = submit(
            memo,
            spark,
            sf_dir,
            "ivf/pq_gate",
            lambda: _pq_gate_row(vecs, q, exact_full, pq_cb, pq_codes),
        )
        f_ivfpq_gate = submit(
            memo,
            spark,
            sf_dir,
            "ivf/ivfpq_gate",
            lambda: _ivfpq_gate_row(
                vecs, q, cents, seed_topk, pq_cb, pq_codes, res=ivfpq_res
            ),
        )
        n_idx, ki_meas, ai_x_ok, ai_r_ok, ai_c_ok = memo(
            spark,
            sf_dir,
            "ivf/ann_idx_gate",
            lambda: _ann_index_gate_row(spark, vecs, q, cents, pq_cb, ivfpq_res),
        )
        n_codes, m_meas, pqr_ok, pqe_ok, pqm_ok = f_pq_gate.result()
        nq, kq_meas, ivq_r_ok, ivq_s_ok, ivq_e_ok = f_ivfpq_gate.result()
        tcents = f_tcents.result()
        n_proj, k_meas, var_ok, ortho_ok, recon_ok = f_pca.result()

    trained = ivf_topk(vecs, tcents, q, nprobe=IVF_NPROBE).select(
        "q_id", "neighbor_id"
    )
    hits = trained.join(exact, ["q_id", "neighbor_id"]).groupBy("q_id").agg(
        F.count("*").alias("__nh")
    )
    q8 = quantized_topk(vecs, q).select("q_id", "neighbor_id", "qcos")
    q8_stats = (
        q8.join(exact_full, ["q_id", "neighbor_id"])
        .groupBy("q_id")
        .agg(
            F.count("*").alias("__qh"),
            F.max(F.abs(F.col("qcos") - F.col("cosine"))).alias("__qerr"),
        )
    )
    ok = (
        q.select("q_id")
        .join(hits, "q_id", "left")
        .join(q8_stats, "q_id", "left")
        .select(
            "q_id",
            (
                F.coalesce("__nh", F.lit(0)) / F.lit(TOP_K)
                >= F.lit(TRAINED_RECALL_FLOOR)
            ).alias("trained_recall_ok"),
            (
                F.coalesce("__qh", F.lit(0)) / F.lit(TOP_K)
                >= F.lit(Q8_RECALL_FLOOR)
            ).alias("q8_recall_ok"),
            (
                F.coalesce("__qerr", F.lit(0.0)) <= F.lit(Q8_ERR_BOUND)
            ).alias("q8_err_ok"),
        )
    )
    arm_schema = (
        "q_id LONG, neighbor_id LONG, cosine DOUBLE, rn INT, "
        "trained_recall_ok BOOLEAN, q8_recall_ok BOOLEAN, q8_err_ok BOOLEAN"
    )
    pca_arm = local_rows(
        spark,
        [(-1, n_proj, float(k_meas), k_meas, var_ok, ortho_ok, recon_ok)],
        arm_schema,
    )
    pq_arm = local_rows(
        spark,
        [(-2, n_codes, float(m_meas), m_meas, pqr_ok, pqe_ok, pqm_ok)],
        arm_schema,
    )
    ivfpq_arm = local_rows(
        spark,
        [(-3, nq, float(kq_meas), kq_meas, ivq_r_ok, ivq_s_ok, ivq_e_ok)],
        arm_schema,
    )
    annidx_arm = local_rows(
        spark,
        [(-4, n_idx, float(ki_meas), ki_meas, ai_x_ok, ai_r_ok, ai_c_ok)],
        arm_schema,
    )
    return (
        seed_topk.join(ok, "q_id")
        .select(
            "q_id",
            "neighbor_id",
            "cosine",
            "rn",
            "trained_recall_ok",
            "q8_recall_ok",
            "q8_err_ok",
        )
        .unionByName(pca_arm)
        .unionByName(pq_arm)
        .unionByName(ivfpq_arm)
        .unionByName(annidx_arm)
    )


def train_ivf_centroids(
    vecs: DataFrame, k: int, seed: int = 7, max_iter: int = 20
) -> DataFrame:
    """Train IVF coarse-quantizer centroids with distributed k-means
    (``pyspark.ml.clustering.KMeans``) instead of the deterministic seed
    vectors ``q_embed_ann_ivf`` uses.

    The registered query keeps seed centroids because the DuckDB oracle
    must reproduce the assignment; THIS is the production path for real
    (clustered) embedding corpora, where learned cells align with the data
    distribution and recall at fixed nprobe improves accordingly. Returns
    (c_id, cv, cn) shaped exactly like the seed-centroid frame so
    ``ivf_assign`` works with either source.

    Like ``pq_train`` (round 14), a training frame of
    ≤ PQ_DRIVER_TRAIN_MAX vectors — the shared driver-local k-means
    threshold — is collected once (canonical sorted order, so the
    result is partition-independent) and fit with the deterministic
    numpy Lloyd: the single MLlib fit this replaces is per-job
    scheduling overhead on sample-sized data (~5.5 s of the gated
    entry's cold build at sf0.1, on 2,000 vectors). Above the
    threshold the distributed MLlib fit runs as before; at 100 TB you
    train the coarse quantizer on a sample either way."""
    spark = vecs.sparkSession
    nn = vecs.filter(F.col("v").isNotNull())
    X, _d = _collect_train_matrix(nn, "v")
    if X is not None:
        rows = [
            (i, c) for i, c in enumerate(_lloyd(X, k, seed, max_iter))
        ]
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feats = nn.select("vec_id", array_to_vector("v").alias("features"))
        model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(feats)
        rows = [
            (i, [float(x) for x in c])
            for i, c in enumerate(model.clusterCenters())
        ]
    cents = local_rows(spark, rows, "c_id INT, cv ARRAY<DOUBLE>")
    return cents.select("c_id", "cv", norm(F.col("cv")).alias("cn"))


def ivf_assign(vecs: DataFrame, cents: DataFrame, n_assign: int = 1) -> DataFrame:
    """Assign each vector to its ``n_assign`` nearest centroids by cosine
    (broadcast join — the vector table never shuffles). Returns
    (vec_id, v, nrm, cell)."""
    from pyspark.sql.window import Window

    sim = F.round(dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn")), 6)
    w = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), F.col("c_id"))
    return (
        vecs.join(F.broadcast(cents), F.lit(True))
        .select("vec_id", "v", "nrm", "c_id", sim.alias("csim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_assign)
        .select("vec_id", "v", "nrm", F.col("c_id").alias("cell"))
    )


def ivf_topk(
    vecs: DataFrame,
    cents: DataFrame,
    queries: DataFrame,
    nprobe: int,
    top_k: int = TOP_K,
) -> DataFrame:
    """IVF top-k against an arbitrary centroid frame (seed or k-means
    trained): assign the corpus once, probe each query's ``nprobe`` nearest
    cells, exact cosine on the probed candidates only."""
    from pyspark.sql.window import Window

    assigned = ivf_assign(vecs, cents, n_assign=1)
    probes = (
        ivf_assign(
            queries.select(
                F.col("q_id").alias("vec_id"),
                F.col("qv").alias("v"),
                F.col("qn").alias("nrm"),
            ),
            cents,
            n_assign=nprobe,
        )
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            "cell",
        )
    )
    cand = assigned.join(probes, "cell").filter(F.col("vec_id") != F.col("q_id"))
    cos = dot(F.col("v"), F.col("qv")) / (F.col("nrm") * F.col("qn"))
    w = Window.partitionBy("q_id").orderBy(F.col("cosine_raw").desc(), F.col("vec_id"))
    return (
        cand.select("q_id", "vec_id", cos.alias("cosine_raw"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cosine_raw", 6).alias("cosine"),
            "rn",
        )
    )


# --------------------------------------------------------------------------
# int8 quantization — the storage/bandwidth scale lever
# --------------------------------------------------------------------------


def quantize_embeddings(vecs: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization of (vec_id, v, nrm):
    ``scale = max|x| / 127``, ``q_i = round(x_i / scale)`` (tinyint array).
    8× smaller than the double representation (the difference between a
    100 TB and a 12.5 TB vector store); relative per-coordinate error
    ≤ 1/254. Returns (vec_id, qv array<tinyint>, scale, qn) where qn is
    the norm of the QUANTIZED integer vector (precomputed once, like nrm).

    Zero vectors get scale 0 and an all-zero qv — dequantizes exactly."""
    amax = F.array_max(F.transform("v", lambda x: F.abs(x)))
    scale = (amax / F.lit(127.0)).alias("scale")
    qv = F.transform(
        "v",
        lambda x: F.when(F.col("scale") > 0, F.round(x / F.col("scale")))
        .otherwise(F.lit(0))
        .cast("tinyint"),
    )
    with_scale = vecs.select("vec_id", "v", scale)
    out = with_scale.select("vec_id", "scale", qv.alias("qv"))
    qd = F.aggregate(
        F.zip_with("qv", "qv", lambda a, b: (a.cast("long") * b.cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return out.select("vec_id", "qv", "scale", F.sqrt(qd.cast("double")).alias("qn"))


def dot_q(a: Column, b: Column) -> Column:
    """Integer dot product of two int8 arrays (long accumulation — 64 dims
    of ±127 peaks at ~1e6, nowhere near overflow)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantized_topk(
    vecs: DataFrame, queries: DataFrame, top_k: int = TOP_K
) -> DataFrame:
    """Brute-force cosine top-k in int8 space: both sides quantized, the
    score is the integer dot over the product of quantized norms — scale
    factors cancel in the cosine, so no dequantization happens at all; the
    scan reads 1/8 the bytes and the arithmetic is integer. Recall vs the
    exact double-space ranking is a tested property (cosine error is
    bounded by the quantization step).

    Zero-norm vectors (which ``quantize_embeddings`` round-trips exactly)
    have no defined cosine; they are EXCLUDED from both sides explicitly
    here rather than silently dropped as NULL/divide-by-zero scores."""
    from pyspark.sql.window import Window

    qc = quantize_embeddings(vecs).filter(F.col("qn") > 0)
    qq = quantize_embeddings(
        queries.select(
            F.col("q_id").alias("vec_id"), F.col("qv").alias("v"), F.col("qn").alias("nrm")
        )
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("qv").alias("q_qv"),
        F.col("qn").alias("q_qn"),
    ).filter(F.col("q_qn") > 0)
    pairs = qc.join(F.broadcast(qq), F.col("vec_id") != F.col("q_id"))
    cos = dot_q(F.col("qv"), F.col("q_qv")).cast("double") / (
        F.col("qn") * F.col("q_qn")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("qcos").desc(), F.col("vec_id"))
    return (
        pairs.select("q_id", "vec_id", cos.alias("qcos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "qcos", "rn")
    )


# --------------------------------------------------------------------------
# Product quantization (round 13) — the vector-store compression standard
# --------------------------------------------------------------------------

#: PQ layout: d=64 splits into PQ_M=8 subspaces of 8 dims, each encoded
#: as one of PQ_K=256 codebook entries → 8 bytes per vector vs 256 for
#: float32 (32×, the IVF-PQ deployment standard) or 512 for the double
#: arrays this repo stores (64×). int8 (8×) remains the cheap lever;
#: PQ is the next rung.
PQ_M = 8
PQ_K = 256
PQ_TRAIN_SEED = 11
#: 10 Lloyd iterations: k-means|| init is already good and the gate
#: floors are calibrated WITH this value (more iterations measurably
#: buy nothing on the gate data while the m fits are the arm's
#: dominant cold cost)
PQ_TRAIN_ITER = 10
#: ADC shortlist size re-ranked exactly (the production IVF-PQ query
#: shape: approximate-distance candidate generation, exact re-rank).
#: 80, recalibrated in round 14 with the driver-local Lloyd codebooks:
#: at sf0.1 (2,000 near-isotropic vectors — the PQ worst case) the
#: worst query's re-ranked recall was 0.60 at shortlist 50 and 0.80 at
#: 80 with codebooks of the same measured ADC quality; the shortlist
#: is the query-time knob that buys recall headroom for a bounded
#: extra exact re-rank (80 rows per query), unlike retraining.
PQ_SHORTLIST = 80
#: gate floors, re-measured in round 14 (driver-local Lloyd training,
#: shortlist 80) on the synthetic (near-isotropic — the PQ worst case,
#: see pca_reduce's adoption note) embeddings at sf0.001/0.01/0.1:
#: min per-query reranked recall 1.0/1.0/0.8, max ADC score error
#: ~0.11-0.19, mean relative reconstruction error ~0.10-0.23 — floors
#: leave ≥1.33x headroom without going vacuous
PQ_RECALL_FLOOR = 0.6
PQ_ADC_ERR_BOUND = 0.3
PQ_MSE_BOUND = 0.5


#: above this many training vectors, pq_train falls back to the
#: distributed MLlib path; at or below it, the whole training frame is
#: collected and all m codebooks fit driver-side with numpy Lloyd —
#: 8 MLlib fits on a small sample are pure per-job scheduling overhead
#: (~16 s of the gated arm's cold build at sf0.1 was the fits, on
#: 2,000 vectors), while the numpy fits finish in milliseconds. Driver
#: memory at the threshold: 65,536 × d doubles (~34 MB at d=64) plus
#: one n×k distance matrix per subspace step (~134 MB) — bounded. At
#: 100 TB you train on a sample anyway (every tokenizer/sketch trainer
#: here samples), so the driver path IS the production path; the MLlib
#: branch covers callers that insist on training over an
#: above-threshold frame.
PQ_DRIVER_TRAIN_MAX = 65_536


class _EmptyTrainInput(ValueError):
    """No non-null training vectors — distinct from numpy's own
    ValueErrors (e.g. ragged rows) so callers re-wording the
    empty-input message cannot mis-report a genuinely corrupt corpus
    as empty (review finding, round 14)."""


def _collect_train_matrix(nn: DataFrame, col: str):
    """Driver-local fit feed shared by ``pq_train``,
    ``train_ivf_centroids`` and ``pca_reduce``: returns
    ``(X_or_None, d)`` — the canonically sorted float64 matrix when the
    frame holds ≤ PQ_DRIVER_TRAIN_MAX non-null vectors, else None (the
    caller falls through to the distributed MLlib path) — plus the
    vector width in either case. Two BOUNDED jobs: a limit(N+1) count
    decides the branch without shipping vectors (an above-threshold
    frame previously collected and discarded 65k vectors — a driver
    memory spike at wide d), then either the full below-threshold
    collect or a single-row width probe. The lexicographic row sort
    makes the downstream fit a pure function of the training SET —
    partition/read order cannot change one double. Raises
    ``_EmptyTrainInput`` (a ValueError) on an empty/all-null frame;
    numpy's ragged-row ValueError propagates untouched."""
    import numpy as np

    cnt = nn.limit(PQ_DRIVER_TRAIN_MAX + 1).count()
    if cnt == 0:
        raise _EmptyTrainInput(
            "k-means training needs at least one non-null vector"
        )
    if cnt > PQ_DRIVER_TRAIN_MAX:
        return None, len(nn.select(col).first()[0])
    X = np.array(
        [r[0] for r in nn.select(col).collect()], dtype=np.float64
    )
    return X[np.lexsort(X.T[::-1])], int(X.shape[1])


#: driver-local k-means++ restarts: MLlib's k-means|| init oversamples
#: candidates, which a single greedy k-means++ pass does not match —
#: measured at sf0.1 (2,000 near-isotropic vectors, the PQ worst case)
#: as min re-ranked recall 0.60 single-init vs 0.80 for MLlib. Multiple
#: deterministic restarts with lowest-inertia selection recover the
#: gap at millisecond cost.
PQ_LLOYD_RESTARTS = 5


def _lloyd(X, k: int, seed: int, max_iter: int):
    """Deterministic driver-side k-means over ``X`` (n × dsub float64):
    PQ_LLOYD_RESTARTS seeded k-means++ inits, each run ``max_iter``
    Lloyd steps, lowest final inertia wins (first on ties — seeds are
    enumerated in a fixed order). Assignment ties break to the SMALLER
    center index (numpy argmin — matching ``pq_encode``'s smaller-code
    tie-break); empty clusters re-seed at the point currently farthest
    from its center (first max on ties). With n ≤ k distinct rows the
    unique rows themselves are the (lossless) codebook — the same
    degenerate-k behavior as MLlib's fit. Returns a list of center
    rows (≤ k)."""
    import numpy as np

    uniq = np.unique(X, axis=0)  # lexicographically sorted — canonical
    if len(uniq) <= k:
        return [c.tolist() for c in uniq]
    xsq = (X * X).sum(axis=1)

    def one_run(run_seed: int):
        rng = np.random.default_rng(run_seed)
        # k-means++: distance to the nearest chosen center drives
        # sampling. Distances via the ||x||² − 2x·c + ||c||² expansion
        # (one matvec, no n×d temporaries) and inverse-CDF sampling via
        # searchsorted (rng.choice re-validates p per call) — both
        # deterministic given the rng sequence.
        cents = [X[int(rng.integers(len(X)))]]
        c = cents[0]
        d2 = np.maximum(xsq - 2.0 * (X @ c) + (c @ c), 0.0)
        for _ in range(1, k):
            cum = np.cumsum(d2)
            tot = cum[-1]
            if tot > 0:
                idx = int(
                    np.searchsorted(cum, rng.random() * tot, side="right")
                )
                idx = min(idx, len(X) - 1)
            else:
                idx = int(rng.integers(len(X)))
            c = X[idx]
            cents.append(c)
            d2 = np.minimum(
                d2, np.maximum(xsq - 2.0 * (X @ c) + (c @ c), 0.0)
            )
        C = np.stack(cents)
        rows = np.arange(len(X))
        for _ in range(max_iter):
            # argmin_c ||x − c||² = argmin_c (||c||² − 2x·c): the ||x||²
            # term is constant per row, so it stays out of the n×k
            # broadcast (one temporary instead of three)
            score = (C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
            assign = score.argmin(axis=1)
            # vectorized center update (a per-center Python loop was the
            # whole fit cost: 256 mask+mean pairs per iteration)
            counts = np.bincount(assign, minlength=k)
            sums = np.empty_like(C)
            for dcol in range(X.shape[1]):
                sums[:, dcol] = np.bincount(
                    assign, weights=X[:, dcol], minlength=k
                )
            new_c = C.copy()
            filled = counts > 0
            new_c[filled] = sums[filled] / counts[filled, None]
            empty = np.flatnonzero(~filled)
            if empty.size:
                # re-seed empties at the points currently farthest from
                # their centers (stable order — deterministic)
                far = np.argsort(
                    -(xsq + score[rows, assign]), kind="stable"
                )
                new_c[empty] = X[far[: empty.size]]
            if np.array_equal(new_c, C):
                break
            C = new_c
        score = (C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
        return float((xsq + score.min(axis=1)).sum()), C

    best = min(
        (one_run(seed + 7919 * r) for r in range(PQ_LLOYD_RESTARTS)),
        key=lambda t: t[0],
    )
    return [c.tolist() for c in best[1]]


def pq_train(
    vecs: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    seed: int = PQ_TRAIN_SEED,
    max_iter: int = PQ_TRAIN_ITER,
    emb_col: str = "v",
) -> DataFrame:
    """Train per-subspace PQ codebooks (Jégou et al. 2011): split the
    d dims into ``m`` contiguous subspaces and fit an independent
    k-means (fixed seed — deterministic) in each. Returns the codebook
    frame ``(j, code, cent array<double>)`` — m·k rows of d/m doubles
    each, trivially broadcastable.

    Two fit paths behind one contract (round 14 — the BPE
    driver-local-merge-loop precedent, ``operators/bpe.py``): a
    training frame of ≤ PQ_DRIVER_TRAIN_MAX vectors is collected ONCE
    (sorted lexicographically first, so the result is independent of
    partition/read order) and all m codebooks fit driver-side with a
    seeded numpy Lloyd (``_lloyd``) — the m MLlib jobs this replaces
    are per-job-scheduling-bound on sample-sized data (they were ~16 s
    of the gated arm's cold build at sf0.1, on 2,000 vectors; the
    numpy fits are milliseconds). Above the threshold the original
    MLlib path runs, its m independent fits pooled on driver threads
    (measured 21.5 s sequential vs ~6 s pooled) over a persisted
    training frame. At 100 TB you train on a sample and encode the
    full corpus with the fixed codebooks — so the driver path is the
    production shape, not a shortcut."""
    nn = vecs.filter(F.col(emb_col).isNotNull())
    spark = vecs.sparkSession
    try:
        X, d = _collect_train_matrix(nn, emb_col)
    except _EmptyTrainInput:
        raise ValueError(
            "pq_train needs at least one non-null vector"
        ) from None
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible into {m} subspaces")
    dsub = d // m
    if X is not None:
        rows = [
            (j, c, cent)
            for j in range(m)
            for c, cent in enumerate(
                _lloyd(X[:, j * dsub : (j + 1) * dsub], k, seed + j, max_iter)
            )
        ]
        return local_rows(
            spark, rows, "j INT, code INT, cent ARRAY<DOUBLE>"
        )

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = nn.select(
        *[
            array_to_vector(
                F.slice(F.col(emb_col), j * dsub + 1, dsub)
            ).alias(f"f{j}")
            for j in range(m)
        ]
    ).persist()

    def fit(j: int):
        model = KMeans(
            k=k, seed=seed + j, maxIter=max_iter, featuresCol=f"f{j}"
        ).fit(train)
        return [
            (j, c, [float(x) for x in cent])
            for c, cent in enumerate(model.clusterCenters())
        ]

    try:
        with overlap() as submit:
            parts = [f.result() for f in [submit(fit, j) for j in range(m)]]
    finally:
        train.unpersist()
    rows = [r for part in parts for r in part]
    return local_rows(spark, rows, "j INT, code INT, cent ARRAY<DOUBLE>")


def pq_encode(
    vecs: DataFrame,
    codebooks: DataFrame,
    m: int = PQ_M,
    emb_col: str = "v",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode each vector against the codebooks: per subspace, the
    L2-nearest codebook entry. Returns ``(vec_id, codes array<int>,
    qerr double)`` where ``qerr = Σ_j min-dist² = ‖x − recon‖²``
    EXACTLY — the quantization error falls out of the same argmin
    pass, no reconstruction join needed.

    Scale shape: subvector fan-out (m rows per vector) → broadcast
    codebook join (the canonical O(m·k·d/m)=O(k·d) arithmetic per
    vector) → per-(vec, j) struct-min with map-side partial
    aggregation (ties break to the smaller code — deterministic) →
    one groupBy assembling the code array. Only skinny
    (id, j, code, d2) rows ever shuffle; the double vectors never
    do. The distance is UNROLLED over the (statically known) subspace
    width instead of a zip_with/aggregate HOF — HOF lambdas evaluate
    interpreted per element, and this expression runs m·k times per
    vector (the §6 HOF-lambda lesson; measured ~2× on the encode).
    NULL vectors are excluded (the width probe and the fan-out both
    look only at non-null rows); an all-null or empty frame encodes to
    an empty result rather than a driver TypeError."""
    first = vecs.filter(F.col(emb_col).isNotNull()).select(emb_col).first()
    if first is None:
        return local_rows(
            vecs.sparkSession, [], "vec_id LONG, codes ARRAY<INT>, qerr DOUBLE"
        )
    d = len(first[0])
    dsub = d // m
    dist = None
    for i in range(dsub):
        t = F.col("sub").getItem(i) - F.col("cent").getItem(i)
        term = t * t
        dist = term if dist is None else dist + term
    subs = vecs.filter(F.col(emb_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col(emb_col), j * dsub + 1, dsub)
                    for j in range(m)
                ]
            )
        ).alias("j", "sub"),
    )
    best = (
        subs.join(F.broadcast(codebooks), "j")
        .select(
            "vec_id",
            "j",
            F.struct(dist.alias("d2"), F.col("code")).alias("dc"),
        )
        .groupBy("vec_id", "j")
        .agg(F.min("dc").alias("dc"))
    )
    # one sorted collect serves both outputs; qerr sums the per-subspace
    # d2 in ASCENDING-j order rather than F.sum's shuffle-merge order —
    # float addition is order-dependent in the last ulp, and the
    # serving index's crash ladder needs a replayed encode to re-derive
    # BYTE-identical rows so the readers' DISTINCT collapses them
    # (review finding, round 15). The m-element fold lambda runs once
    # per vector, not per codebook entry — outside the §6 HOF lesson's
    # m·k hot path.
    srt = F.array_sort(
        F.collect_list(
            F.struct(
                "j",
                F.col("dc.code").alias("code"),
                F.col("dc.d2").alias("d2"),
            )
        )
    )
    return (
        best.groupBy("vec_id")
        .agg(srt.alias("s"))
        .select(
            "vec_id",
            F.transform(F.col("s"), lambda s: s["code"]).alias("codes"),
            F.aggregate(
                F.col("s"), F.lit(0.0), lambda a, s: a + s["d2"]
            ).alias("qerr"),
        )
    )


def _pq_candidates(
    vecs: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    shortlist: int = PQ_SHORTLIST,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """ADC shortlist with exact verification scores: for each query,
    rank the corpus by the asymmetric-distance approximation (lookup
    tables over the codes — the scan reads codes + norms, never the
    double vectors), keep the top ``shortlist``, and compute the EXACT
    cosine on just those rows. Returns (q_id, vec_id, adc, cosine).

    The per-query LUT (m×k inner products of the query subvector with
    every codebook entry) is built driver-side from the collected
    query rows — queries are a bounded handful by contract (the
    brute_topk broadcast assumption) — and shipped as one broadcast
    literal frame; the ADC score is m array lookups + adds per
    (query, vector), whole-stage codegen. Unrouted, nothing shuffles
    until the bounded shortlist window; routed (``pairs``), the skinny
    admitted-pair relation equi-joins the codes by vec_id — the
    pruning happens before any per-query expansion.

    A ``codes`` frame that already carries ``nrm`` (the persisted
    serving index, ``streaming.ann_index`` — norms are stored next to
    the codes at encode time) skips the vecs join entirely: the ADC
    stage then reads NOTHING but index state, and ``vecs`` is touched
    only by the bounded exact re-rank point-lookup."""
    from pyspark.sql.window import Window

    cb = {(r["j"], r["code"]): list(r["cent"]) for r in codebooks.collect()}
    m = 1 + max(j for j, _ in cb)
    k = 1 + max(c for _, c in cb)
    q_rows = queries.filter(F.col("qn") > 0).collect()
    if not q_rows:
        return local_rows(
            vecs.sparkSession, [], "q_id LONG, vec_id LONG, adc DOUBLE, cosine DOUBLE"
        )
    d = len(q_rows[0]["qv"])
    dsub = d // m
    lut_rows = []
    for qr in q_rows:
        qv = list(qr["qv"])
        lut = [
            [
                (
                    sum(
                        qv[j * dsub + i] * cb[(j, c)][i] for i in range(dsub)
                    )
                    if (j, c) in cb
                    else float("-inf")
                )
                for c in range(k)
            ]
            for j in range(m)
        ]
        lut_rows.append((qr["q_id"], list(qr["qv"]), float(qr["qn"]), lut))
    spark = vecs.sparkSession
    luts = local_rows(
        spark,
        lut_rows,
        "q_id LONG, qv ARRAY<DOUBLE>, qn DOUBLE, lut ARRAY<ARRAY<DOUBLE>>",
    )
    if "nrm" in codes.columns:
        base = codes.filter(F.col("nrm") > 0)
    else:
        base = codes.join(
            vecs.select("vec_id", "nrm").filter(F.col("nrm") > 0), "vec_id"
        )
    if pairs is None:
        scored = base.join(F.broadcast(luts), F.col("vec_id") != F.col("q_id"))
    else:
        # cell routing (ivf_pq_topk): attach q_id by an EQUI join on the
        # admitted (q_id, vec_id) pairs BEFORE the query expansion — a
        # semi-join above the all-pairs broadcast join would still
        # enumerate |corpus|×|queries| rows first (Catalyst cannot push
        # a semi keyed on both legs below the join; review finding,
        # round 13). Here only admitted pairs ever materialize. ``pairs``
        # must be UNIQUE on (q_id, vec_id) — ivf_pq_topk's routing is by
        # construction (each vector has ONE assigned cell) — or
        # duplicate candidates would double-rank in the shortlist.
        scored = (
            base.join(pairs, "vec_id")
            .join(F.broadcast(luts), "q_id")
            .filter(F.col("vec_id") != F.col("q_id"))
        )
    adc_dot = None
    for j in range(m):
        term = F.element_at(
            F.col("lut").getItem(j), F.col("codes").getItem(j) + F.lit(1)
        )
        adc_dot = term if adc_dot is None else adc_dot + term
    adc = adc_dot / (F.col("nrm") * F.col("qn"))
    w = Window.partitionBy("q_id").orderBy(F.col("adc").desc(), "vec_id")
    cand = (
        scored.select("q_id", "vec_id", adc.alias("adc"))
        .withColumn("crn", F.row_number().over(w))
        .filter(F.col("crn") <= shortlist)
    )
    exact = dot(F.col("v"), F.col("qv")) / (F.col("nrm") * F.col("qn"))
    return (
        cand.join(vecs.select("vec_id", "v", "nrm"), "vec_id")
        .join(F.broadcast(luts.select("q_id", "qv", "qn")), "q_id")
        .select("q_id", "vec_id", "adc", exact.alias("cosine"))
    )


def pq_topk(
    vecs: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    top_k: int = TOP_K,
    shortlist: int = PQ_SHORTLIST,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """PQ approximate top-k, production shape: ADC candidate
    generation over the 32×-compressed codes, exact re-rank of the
    bounded shortlist (so the returned cosines are EXACT — rank
    quality, not score quality, is the approximation, and recall is
    the gated property). ``pairs`` optionally restricts the ADC scan
    to admitted (q_id, vec_id) pairs — ``ivf_pq_topk`` passes the
    coarse quantizer's cell routing here."""
    from pyspark.sql.window import Window

    cand = _pq_candidates(vecs, codes, codebooks, queries, shortlist, pairs)
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_k)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cosine", 6).alias("cosine"),
            "rn",
        )
    )


def ivf_pq_topk(
    vecs: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    cents: DataFrame,
    queries: DataFrame,
    nprobe: int = IVF_NPROBE,
    top_k: int = TOP_K,
    shortlist: int = PQ_SHORTLIST,
) -> DataFrame:
    """Full IVF-PQ (Jégou et al. 2011): the coarse quantizer routes
    each query to its ``nprobe`` nearest cells and only THOSE cells'
    codes are ADC-scored, then the PQ shortlist re-ranks exactly —
    the compounded reduction (scan nprobe/K of the corpus, each code
    32× smaller than the float vector) that makes billion-vector
    search interactive. Composes the two tested halves verbatim:
    ``ivf_assign`` for routing (the oracle-mirrored IVF operator) and
    ``pq_topk``'s candidate/re-rank machinery — with every cell
    probed and a full-corpus shortlist this degrades exactly to
    ``brute_topk`` (tested), so the approximation comes only from the
    two knobs, never from the plumbing."""
    assigned = ivf_assign(vecs, cents, n_assign=1).select("vec_id", "cell")
    probes = (
        ivf_assign(
            queries.select(
                F.col("q_id").alias("vec_id"),
                F.col("qv").alias("v"),
                F.col("qn").alias("nrm"),
            ),
            cents,
            n_assign=nprobe,
        )
        .select(F.col("vec_id").alias("q_id"), "cell")
    )
    pairs = assigned.join(probes, "cell").select("q_id", "vec_id")
    return pq_topk(
        vecs, codes, codebooks, queries, top_k, shortlist, pairs=pairs
    )


def pca_reduce(
    vecs: DataFrame,
    k: int,
    emb_col: str = "embedding",
    out_col: str = "proj",
) -> tuple[DataFrame, dict]:
    """Mean-centered PCA dimensionality reduction for an embedding
    column — the compression step before ANN when the stored dimension is
    larger than the intrinsic one (project once, then run IVF / top-k /
    quantization on vectors k/d the size).

    Returns ``(projected, model)``: every input row plus ``out_col`` (a
    length-``k`` double array of centered principal-component scores;
    NULL for rows with a NULL ``emb_col`` — the same contract as
    ``embed_documents``'s token-less docs, which are the usual source of
    NULL embeddings), and the broadcastable model dict (``mean``: d
    doubles, ``components``: k×d row-major, ``explained_variance``: k
    ratios) for projecting future batches or an external engine. The fit
    uses only the non-NULL rows; at least one is required.

    Scale shape: the mean is ONE d-wide aggregate; the covariance/SVD run
    inside Spark ML's PCA (distributed Gram accumulation — d×d driver
    memory, fine for embedding-sized d); projection is a JVM matrix-vector
    transform per row, no Python in the loop. Centering is explicit
    because ``ml.feature.PCA`` fits components on the COVARIANCE
    (mean-centered) yet ``transform`` projects raw uncentered inputs —
    uncentered scores shift every vector by a constant, which preserves
    euclidean distances but silently changes cosines and reconstruction
    arithmetic; explicit centering gives the canonical scores every other
    PCA implementation reports.

    Adoption gate: PCA compression presumes SPECTRAL DECAY. Check
    ``sum(model["explained_variance"])`` before trusting the projection —
    real text/image embeddings concentrate variance in few directions,
    but near-isotropic vectors (like this repo's synthetic embeddings:
    16/64 dims capture only ~38%, ANN recall@10 drops to ~0.26) lose
    neighbor structure with nothing gained; the parity test's
    low-rank-plus-noise fixture shows the favourable regime (>99.9%
    captured at the intrinsic rank).

    Fit paths (round 14 — the pq_train/train_ivf_centroids precedent):
    a corpus of ≤ PQ_DRIVER_TRAIN_MAX non-null vectors is collected
    once and fit with a driver-side numpy SVD (the MLlib PCA fit it
    replaces was ~5 s of per-job scheduling on 2,000 vectors); the
    projection then runs JVM-side as k unrolled centered dot products
    (whole-stage codegen — no Python in the loop either way). Above the
    threshold the distributed MLlib fit runs as before. Both paths
    return the identical (projected, model) contract: same
    k×d components shape, same n−1 variance denominator, same
    variance-RATIO semantics (eigenvalue over TOTAL trace)."""
    nn = vecs.filter(F.col(emb_col).isNotNull())
    try:
        X, d = _collect_train_matrix(nn, emb_col)
    except _EmptyTrainInput:
        raise ValueError(
            f"pca_reduce needs at least one row with a non-null {emb_col!r}"
        ) from None
    if not 1 <= k <= d:
        raise ValueError(f"k must be in [1, {d}], got {k}")
    dv = as_double(F.col(emb_col))
    if X is not None:
        import numpy as np

        mean_arr = X.mean(axis=0)
        Xc = X - mean_arr
        # eigendecomposition of the d×d sample covariance, NOT an SVD
        # of Xc: svd(full_matrices=False) yields only min(n, d)
        # components, crashing legal n < k ≤ d calls that the Gram-based
        # MLlib fit (d×d, independent of n) always handled (review
        # finding, round 14). eigh always yields d eigenpairs.
        denom = max(len(X) - 1, 1)
        cov = (Xc.T @ Xc) / denom
        w, v = np.linalg.eigh(cov)
        order = np.argsort(w)[::-1]
        w, v = w[order], v[:, order]
        total = float(w.sum())
        mean = [float(m) for m in mean_arr]
        comps = [[float(x) for x in v[:, j]] for j in range(k)]
        ratios = [
            float(w[j] / total) if total > 0 else 0.0 for j in range(k)
        ]
        # projection as k centered dot products in the ALLOWED HOF form
        # (zip_with/aggregate whose lambdas touch only element args,
        # §6), assembled as ONE parsed SQL expression. Two rejected
        # shapes, both measured: building the term tree out of Column
        # objects costs ~4·k·d py4j round-trips (~8 s at k=16, d=64),
        # and a fully UNROLLED k·d sum blows Janino's 64 KB method
        # limit (codegen falls back interpreted anyway, with an ERROR
        # in the log). The interpreted HOF evaluation is bounded by the
        # driver-local threshold (≤65,536 rows — ms at gate scale); the
        # distributed MLlib path serves larger corpora.
        centered_col = F.zip_with(dv, F.lit(mean), lambda a, b: a - b)
        body = ", ".join(
            "aggregate(zip_with(__cd, array("
            + ", ".join(repr(x) for x in comps[j])
            + "), (x, y) -> x * y), 0D, (a, x) -> a + x)"
            for j in range(k)
        )
        projected_nn = (
            nn.withColumn("__cd", centered_col)
            .withColumn(out_col, F.expr(f"array({body})"))
            .drop("__cd")
        )
        info = {
            "mean": mean,
            "components": comps,
            "explained_variance": ratios,
        }
    else:
        from pyspark.ml.feature import PCA as MLPCA
        from pyspark.ml.functions import array_to_vector, vector_to_array

        mean_row = nn.agg(
            *[F.avg(dv.getItem(i)).alias(f"m{i}") for i in range(d)]
        ).first()
        mean = [float(mean_row[i]) for i in range(d)]
        centered = nn.withColumn(
            "__c",
            array_to_vector(
                F.zip_with(
                    dv,
                    F.array(*[F.lit(m) for m in mean]),
                    lambda a, b: a - b,
                )
            ),
        )
        model = MLPCA(k=k, inputCol="__c", outputCol="__p").fit(centered)
        projected_nn = (
            model.transform(centered)
            .withColumn(out_col, vector_to_array(F.col("__p")))
            .drop("__c", "__p")
        )
        pc = model.pc.toArray()  # d x k, column-major components
        info = {
            "mean": mean,
            "components": [
                [float(pc[i][j]) for i in range(d)] for j in range(k)
            ],
            "explained_variance": [
                float(x) for x in model.explainedVariance
            ],
        }
    null_rows = vecs.filter(F.col(emb_col).isNull()).withColumn(
        out_col, F.lit(None).cast("array<double>")
    )
    return projected_nn.unionByName(null_rows), info


# embdoc-arm SQL-twin constants (oracle side of q_embed_topk's embdoc
# arm) — imported here, used inside the ORACLE f-string below; keep in
# lockstep with operators/embedding.py's _hash_int/_sign/WORD_PAT
from ts_etl_spark.operators.bpe import WORD_PAT as _EMB_WORD_PAT  # noqa: E402
from ts_etl_spark.operators.embedding import DEFAULT_DIM as _EMB_DIM  # noqa: E402
from ts_etl_spark.operators.sketches import _hex8_fold_sql as _emb_fold_sql  # noqa: E402

_EMB_BUCKET_SQL = (
    "(" + _emb_fold_sql("substr(md5('emb#' || w), 1, 8)") + f") % {_EMB_DIM}"
)

from ts_etl_spark.operators.bm25 import bm25_oracle_sql as _bm25_oracle_sql  # noqa: E402

_BM25_SQL = _bm25_oracle_sql()


QUERIES = {
    "embed_topk": q_embed_topk,
    "embed_neardup_label": q_embed_neardup_label,
    "embed_ann_ivf": q_embed_ann_ivf,
}

ORACLE = {
    "embed_topk": f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), q AS (
            SELECT vec_id AS q_id, v AS qv FROM v WHERE vec_id < {N_QUERIES}
        ), scored AS (
            SELECT q.q_id, v.vec_id AS neighbor_id,
                   list_cosine_similarity(v.v, q.qv) AS cosine_raw
            FROM v, q WHERE v.vec_id != q.q_id
        ), ranked AS (
            SELECT q_id, neighbor_id, cosine_raw,
                   CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                        ORDER BY cosine_raw DESC, neighbor_id) AS INT) AS rn
            FROM scored
        ),
        -- embdoc arm: the hashed-BoW document embedder re-derived from
        -- the same md5 arithmetic (keep in lockstep with
        -- operators/embedding.py: WORD_PAT tokens, bucket = hex-fold of
        -- md5('emb#'||w)[1:8] mod dim, sign = parity of hex digit 9,
        -- per-bucket ±1 sums, L2 normalization over the dense vector)
        emb_toks AS (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '{_EMB_WORD_PAT}')) AS w
            FROM documents
        ), emb_cells AS (
            SELECT doc_id,
                   CAST(({_EMB_BUCKET_SQL}) AS INT) AS bucket,
                   CASE WHEN (strpos('0123456789abcdef',
                                     substr(md5('emb#' || w), 9, 1)) - 1) % 2 = 0
                        THEN 1 ELSE -1 END AS s
            FROM emb_toks
        ), emb_summed AS (
            SELECT doc_id, bucket, CAST(SUM(s) AS DOUBLE) AS v
            FROM emb_cells GROUP BY doc_id, bucket
        ), emb_nrm AS (
            -- the squared norm is a sum of INTEGER-valued doubles (the
            -- bucket sums are counts of ±1), so it is exact under any
            -- summation order — cross-engine bit-equality holds with no
            -- ordering pin (unlike the mix arm's fractional shares)
            SELECT doc_id, sqrt(SUM(v * v)) AS nr FROM emb_summed
            GROUP BY doc_id
        ), emb_grid AS (
            SELECT n.doc_id, g.j AS bucket, n.nr
            FROM emb_nrm n,
                 LATERAL unnest(generate_series(0, {_EMB_DIM - 1})) AS g(j)
            WHERE n.nr > 0
        ), emb_vals AS (
            SELECT g.doc_id, g.bucket, COALESCE(s.v, 0) / g.nr AS x
            FROM emb_grid g
            LEFT JOIN emb_summed s
              ON s.doc_id = g.doc_id AND s.bucket = g.bucket
        )
        SELECT 'topk' AS op, q_id, neighbor_id,
               round(cosine_raw, 6) AS cosine, rn
        FROM ranked WHERE rn <= {TOP_K}
        UNION ALL
        SELECT 'embdoc' AS op, doc_id AS q_id,
               CAST(bucket AS BIGINT) AS neighbor_id,
               round(x, 6) AS cosine, CAST(bucket + 1 AS INT) AS rn
        FROM emb_vals
        UNION ALL
        -- bm25 arm: the sparse-retrieval twin (operators/bm25.py builds
        -- this subquery from the SAME Python constants the Spark plan
        -- uses — see its module docstring's exactness ladder)
        SELECT 'bm25' AS op, q_id, doc_id AS neighbor_id,
               score AS cosine, rn
        FROM ({_BM25_SQL})
        UNION ALL
        -- bm25idx arm (round 14): Spark proves the postings-index path
        -- frame-equal to the scan path (cosine 1.0 on exact equality;
        -- any divergence writes 0.0 and breaks the hash) and carries
        -- the scan ranking's row count, which the oracle re-derives
        -- from its own bm25 subquery
        SELECT 'bm25idx' AS op, CAST(-1 AS BIGINT) AS q_id,
               (SELECT COUNT(*) FROM ({_BM25_SQL})) AS neighbor_id,
               1.0 AS cosine, 1 AS rn
    """,
    "embed_neardup_label": f"""
        WITH v AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), c AS (
            SELECT vec_id AS c_id, v AS cv FROM v
            WHERE vec_id >= 100 AND vec_id < {100 + BLOCK_CENTROIDS}
        ), sims AS (
            SELECT v.vec_id, v.label, c.c_id,
                   round(list_cosine_similarity(v.v, c.cv), 6) AS csim
            FROM v, c
        ), cells AS (
            SELECT vec_id, label, c_id AS cell FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, c_id) AS rn
                FROM sims
            ) WHERE rn <= {BLOCK_ASSIGN}
        ), cands AS (
            SELECT DISTINCT a.label, a.vec_id AS id_a, b.vec_id AS id_b
            FROM cells a JOIN cells b
              ON a.label = b.label AND a.cell = b.cell AND a.vec_id < b.vec_id
        ), cell1 AS (
            -- SemDeDup arm: 1-assign cells from the SAME centroid ranking
            SELECT vec_id, c_id AS cell FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY csim DESC, c_id) AS rn
                FROM sims
            ) WHERE rn = 1
        ), sem_edges AS (
            SELECT a.cell, a.vec_id AS id_k, b.vec_id AS id_d,
                   round(list_cosine_similarity(va.v, vb.v), 6) AS c
            FROM cell1 a JOIN cell1 b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            JOIN v va ON va.vec_id = a.vec_id
            JOIN v vb ON vb.vec_id = b.vec_id
            WHERE round(list_cosine_similarity(va.v, vb.v), 6)
                  >= {SEMDEDUP_THRESHOLD}
        ), sem_drop AS (
            SELECT cell, id_d, id_k, c FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY id_d
                              ORDER BY c DESC, id_k) AS rn
                FROM sem_edges
            ) WHERE rn = 1
        ), knn_edges AS (
            -- knn arm: DIRECTED in-cell pairs over the SAME 1-assign cells
            -- (cell_edges' SQL twin — src != dst, rounded cosine)
            SELECT a.vec_id AS src, b.vec_id AS dst,
                   round(list_cosine_similarity(va.v, vb.v), 6) AS c
            FROM cell1 a JOIN cell1 b
              ON a.cell = b.cell AND a.vec_id != b.vec_id
            JOIN v va ON va.vec_id = a.vec_id
            JOIN v vb ON vb.vec_id = b.vec_id
        ), knn AS (
            SELECT src, dst, c,
                   CAST(ROW_NUMBER() OVER (PARTITION BY src
                        ORDER BY c DESC, dst) AS INT) AS rank
            FROM knn_edges
        )
        SELECT 'pair' AS op, CAST(cands.label AS INT) AS label, id_a, id_b,
               round(list_cosine_similarity(va.v, vb.v), 6) AS cosine
        FROM cands
        JOIN v va ON va.vec_id = id_a
        JOIN v vb ON vb.vec_id = id_b
        WHERE list_cosine_similarity(va.v, vb.v) >= {NEARDUP_THRESHOLD}
        UNION ALL
        SELECT 'sem_drop' AS op, CAST(cell AS INT) AS label,
               id_d AS id_a, id_k AS id_b, c AS cosine
        FROM sem_drop
        UNION ALL
        SELECT 'knn' AS op, rank AS label, src AS id_a, dst AS id_b,
               c AS cosine
        FROM knn WHERE rank <= {KNN_K}
        UNION ALL
        -- inc arm: by the tested batch-boundary equivalence, incremental
        -- semantic dedup of the fixed batch window against the corpus
        -- slice below it drops EXACTLY the one-shot drops among batch
        -- ids (domination is strict-smaller-id, so ids >= INC_END are
        -- irrelevant to these verdicts)
        SELECT 'inc' AS op, CAST(cell AS INT) AS label,
               id_d AS id_a, id_k AS id_b, c AS cosine
        FROM sem_drop WHERE id_d >= {INC_SPLIT} AND id_d < {INC_END}
    """,
    "embed_ann_ivf": f"""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ), c AS (
            SELECT vec_id AS c_id, v AS cv FROM v
            WHERE vec_id >= 100 AND vec_id < {100 + IVF_CENTROIDS}
        ), assigned AS (
            SELECT vec_id, v, cell FROM (
                SELECT v.vec_id, v.v, c.c_id AS cell,
                       ROW_NUMBER() OVER (PARTITION BY v.vec_id
                            ORDER BY round(list_cosine_similarity(v.v, c.cv), 6) DESC,
                                     c.c_id) AS arn
                FROM v, c
            ) WHERE arn = 1
        ), q AS (
            SELECT vec_id AS q_id, v AS qv FROM v WHERE vec_id < {N_QUERIES}
        ), probes AS (
            SELECT q_id, qv, cell FROM (
                SELECT q.q_id, q.qv, c.c_id AS cell,
                       ROW_NUMBER() OVER (PARTITION BY q.q_id
                            ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC,
                                     c.c_id) AS prn
                FROM q, c
            ) WHERE prn <= {IVF_NPROBE}
        ), cand AS (
            SELECT p.q_id, a.vec_id,
                   list_cosine_similarity(a.v, p.qv) AS cosine_raw
            FROM assigned a JOIN probes p ON a.cell = p.cell
            WHERE a.vec_id != p.q_id
        ), ranked AS (
            SELECT q_id, vec_id, cosine_raw,
                   CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                        ORDER BY cosine_raw DESC, vec_id) AS INT) AS rn
            FROM cand
        )
        SELECT q_id, vec_id AS neighbor_id, round(cosine_raw, 6) AS cosine, rn,
               -- Spark computes the k-means-trained quantizer's recall vs
               -- the exact brute-force top-k and asserts it clears the
               -- floor; iterative float k-means has no SQL mirror, so the
               -- oracle asserts the bounded property (quantiles_sketches
               -- pattern)
               TRUE AS trained_recall_ok,
               -- round-9 int8 arm: float->int8 rounding has no SQL
               -- mirror either; Spark computes per-query quantized
               -- recall vs the same brute-force frame and the max
               -- |quantized - exact| cosine gap on intersection pairs,
               -- asserting both clear their floors (Q8_RECALL_FLOOR,
               -- Q8_ERR_BOUND)
               TRUE AS q8_recall_ok,
               TRUE AS q8_err_ok
        FROM ranked WHERE rn <= {TOP_K}
        UNION ALL
        -- pca arm (round 12): iterative float SVD has no SQL mirror;
        -- Spark proves the bounded properties (variance floor,
        -- orthonormality, reconstruction identity) and the exact
        -- projected-row count / uniform projection length — the oracle
        -- re-derives the count relationally and asserts the booleans
        -- and the k literal (a fit or projection regression flips a
        -- boolean or moves a count and breaks the hash)
        SELECT -1 AS q_id,
               (SELECT COUNT(embedding) FROM embeddings) AS neighbor_id,
               CAST({PCA_K} AS DOUBLE) AS cosine,
               CAST({PCA_K} AS INT) AS rn,
               TRUE AS trained_recall_ok,
               TRUE AS q8_recall_ok,
               TRUE AS q8_err_ok
        UNION ALL
        -- pq arm (round 13): iterative float k-means codebooks have no
        -- SQL mirror; Spark proves the bounded properties (re-ranked
        -- recall floor, ADC score error bound, reconstruction-error
        -- bound) and the exact encoded-vector count / uniform code
        -- length — the oracle re-derives the count relationally and
        -- asserts the booleans and the m literal
        SELECT -2 AS q_id,
               (SELECT COUNT(embedding) FROM embeddings) AS neighbor_id,
               CAST({PQ_M} AS DOUBLE) AS cosine,
               CAST({PQ_M} AS INT) AS rn,
               TRUE AS trained_recall_ok,
               TRUE AS q8_recall_ok,
               TRUE AS q8_err_ok
        UNION ALL
        -- ivfpq arm (round 14): the COMPOSED route (coarse routing x
        -- PQ codes x exact re-rank). The oracle re-derives the
        -- norm-positive query count and the literal per-query result
        -- count; the three booleans (recall vs the routed-exact
        -- ranking, routing soundness via the deterministic cell
        -- assignment, exact-cosine equality through the composition)
        -- have no SQL mirror for the code side, so the oracle asserts
        -- them TRUE (the trained/q8/pq pattern)
        SELECT -3 AS q_id,
               (SELECT COUNT(*) FROM v WHERE vec_id < {N_QUERIES}
                 AND list_sum(list_transform(v, x -> x*x)) > 0
               ) AS neighbor_id,
               CAST({TOP_K} AS DOUBLE) AS cosine,
               CAST({TOP_K} AS INT) AS rn,
               TRUE AS trained_recall_ok,
               TRUE AS q8_recall_ok,
               TRUE AS q8_err_ok
        UNION ALL
        -- persisted serving-index arm (round 15): the index is built
        -- in two batches under the real fold protocol and Spark proves
        -- it frame-equal to the in-session composition, replay-fold
        -- idempotent, and coverage-complete; the oracle re-derives the
        -- persisted code count (every non-null embedding encodes
        -- exactly once) and the literal per-query result count, and
        -- asserts the three protocol booleans TRUE (no SQL mirror for
        -- parquet state folds — the trained/q8/pq/ivfpq pattern)
        SELECT -4 AS q_id,
               (SELECT COUNT(embedding) FROM embeddings) AS neighbor_id,
               CAST({TOP_K} AS DOUBLE) AS cosine,
               CAST({TOP_K} AS INT) AS rn,
               TRUE AS trained_recall_ok,
               TRUE AS q8_recall_ok,
               TRUE AS q8_err_ok
    """,
}
