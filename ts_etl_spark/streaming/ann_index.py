"""Persisted IVF-PQ vector serving index (round 15): the dense-retrieval
twin of the BM25 postings lexicon (``streaming.ingest``'s
``bm25_lexicon_path`` stack).

Before this module, every vector-serving artifact — PQ codebooks, the
encoded corpus, IVF cell assignments — was computed per session and
memoized in memory (``execution.memo``): at 100 TB that
is a full-corpus encode per application start. Here they are INGEST
STATE TABLES maintained per batch under the same replay protocol the
lexicon uses, so ``ann_topk_from_index`` answers queries from persisted
state alone and a restarted application pays nothing.

Layout under ``index_path`` (``ann_index_paths``):

- ``cents/`` + ``codebooks/`` + ``meta/`` — the MODEL: the IVF coarse
  quantizer's centroids and the per-subspace PQ codebooks, each row
  tagged with a generation; ``meta`` is written LAST and is the
  generation's commit marker (a torn train leaves uncommitted rows that
  readers never select and a retry re-appends identically — the
  totals-last discipline of ``update_bm25_lexicon``). The model is
  trained ONCE per index lifetime (bootstrap, on a sample — the
  driver-local-fit production shape); retraining is ``rebuild_ann_index``
  (drop + re-derive, the ``rebuild_bm25_lexicon`` remedy), because codes
  encoded under one generation are meaningless against another's
  codebooks. The ``gen`` column is the audit trail and the forward path
  for an online per-cell re-encode, should one ever be needed.
- ``codes/`` — the encoded corpus, HIVE-PARTITIONED BY CELL
  (``cell=<n>`` directories — the ``tbucket=`` precedent): per-batch
  appends of ``(vec_id, codes, qerr, nrm, batch_id)``. A query's probed
  cells become partition filters, so the scan PLANS over nprobe/n_cells
  of the index's files no matter how many batches accumulated, and each
  row is the ~32×-compressed code plus one double — the float vectors
  never enter the ADC scan. ``nrm`` is persisted so scoring needs no
  side lookup; ``qerr`` (exact ‖x − recon‖², free out of the encode
  argmin) feeds the drift telemetry.
- ``totals/`` — per-batch ``(n_docs, n_vecs, batch_id)``; ALSO the
  presence/commit marker, always written last. Replay detection is by
  MAX batch id exactly as the lexicon: equal = replay no-op, below =
  restarted id sequence that refuses loudly.
- ``qdrift/`` — per-batch quantization-error telemetry
  (``batch=<id>`` dirs, overwrite-idempotent like the PSI drift log):
  the mean RELATIVE reconstruction error qerr/‖x‖² of the batch's
  codes. Codebooks are trained once but the corpus grows per batch — a
  distribution shift degrades recall SILENTLY (the ADC ranking just
  gets worse); this row makes it a flagged, reportable signal
  (``cli.py drift-report --ann``) long before anyone notices bad
  neighbors. Flag threshold ``ANN_QDRIFT_THRESHOLD`` = the same bound
  the PQ gate floors use (``PQ_MSE_BOUND``): an in-distribution batch
  sits well under it by construction, a shifted one walks up.

Crash/replay analysis (the ``update_bm25_lexicon`` ladder):

- crash between the codes append and totals: the replay (same batch —
  the corpus has not advanced) re-derives byte-identical rows
  (deterministic encode/assign against the committed model) and
  re-appends them; readers' DISTINCT collapses the whole-file
  duplicates.
- crash after totals, before the corpus append (``ingest_batch`` folds
  this index BEFORE the corpus, like the lexicon): presence recorded,
  replay no-ops — and if the checkpoint is abandoned the coverage probe
  (``verify_ann_index``, run by ``compact_ingest_state``) detects the
  ghost batch with the rebuild remedy.
- a zero-kept batch appends an empty codes frame but DOES append its
  totals row — presence must be recorded or the stream would re-derive
  the batch forever.

Scale shape at 100 TB: the per-batch fold cost is linear in the batch
(encode = broadcast-codebook join over batch vectors only); a query
reads nprobe/n_cells of the code files (planning-time pruning) × ~32×
compression, plus a bounded exact re-rank point-lookup against the
vector store; compaction rewrites PER CELL
(``compact_bucketed_state_table`` with ``cell=`` prefix) so
files-per-cell returns to ~1 between drains.

No reference counterpart (extension surface): the reference engine
(``/root/reference/src/``) is a format-translation pipeline; this is
the §2.4 LLM-data-pipeline serving layer, designed Spark-first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ts_etl_spark.execution import overlap
from ts_etl_spark.fs import delete_dir, path_exists
from ts_etl_spark.localrel import local_rows

#: the encoded corpus (codes table); ``cell`` is the hive partition
#: column appended on read (values come from the directory names)
ANN_CODES_SCHEMA = (
    "vec_id LONG, codes ARRAY<INT>, qerr DOUBLE, nrm DOUBLE, batch_id BIGINT"
)
ANN_CODES_READ_SCHEMA = ANN_CODES_SCHEMA + ", cell INT"
#: model tables — every row carries its generation; ``meta`` commits it
ANN_CENTS_SCHEMA = "gen INT, c_id INT, cv ARRAY<DOUBLE>, cn DOUBLE"
ANN_CODEBOOKS_SCHEMA = "gen INT, j INT, code INT, cent ARRAY<DOUBLE>"
ANN_META_SCHEMA = "gen INT, n_cells INT, m INT, d INT"
#: per-batch fold record + presence marker (written last)
ANN_TOTALS_SCHEMA = "n_docs BIGINT, n_vecs BIGINT, batch_id BIGINT"
#: per-batch quantization-drift telemetry row
ANN_QDRIFT_SCHEMA = "gen INT, n_vecs BIGINT, mean_rel_err DOUBLE, flagged BOOLEAN"

#: reserved id for the adoption bootstrap fold — below every real
#: streaming epoch id (the BM25_BOOTSTRAP_ID precedent)
ANN_BOOTSTRAP_ID = -1

#: qdrift flag threshold: mean relative reconstruction error of a batch's
#: codes. Equals operators.similarity.PQ_MSE_BOUND — the bound the PQ
#: gate's mse boolean enforces on the TRAINING corpus, so an
#: in-distribution batch clears it with the same ≥1.33× headroom the
#: gate floors were calibrated with, while a genuine shift (codes
#: quantized against codebooks fit on different data) walks past it.
ANN_QDRIFT_THRESHOLD = 0.5


def ann_index_paths(base: str) -> dict[str, str]:
    """The six tables of an ANN serving-index deployment (see the
    module docstring for each one's role)."""
    return {
        "cents": f"{base}/cents",
        "codebooks": f"{base}/codebooks",
        "meta": f"{base}/meta",
        "codes": f"{base}/codes",
        "totals": f"{base}/totals",
        "qdrift": f"{base}/qdrift",
    }


def doc_vectors(docs: DataFrame) -> DataFrame:
    """(vec_id, v, nrm) from a (doc_id, text) frame via the default
    document embedder — the text→vector bridge ``ingest_batch`` folds
    through this index (same embedder seam as the semantic gate; swap
    ``operators.embedding.embed_documents`` for a real model in
    production). Token-less documents embed NULL and stay in the frame:
    they count toward the coverage totals (``n_docs``) but are never
    encoded (``n_vecs``)."""
    from ts_etl_spark.operators.embedding import embed_documents
    from ts_etl_spark.operators.similarity import as_double, norm

    v = as_double(F.col("embedding"))
    return embed_documents(docs).select(
        F.col("doc_id").alias("vec_id"), v.alias("v"), norm(v).alias("nrm")
    )


def train_ann_model(
    spark: SparkSession,
    vecs: DataFrame,
    index_path: str,
    n_cells: int | None = None,
    m: int | None = None,
    k: int | None = None,
    cents: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> int:
    """Train and COMMIT the index's model: IVF centroids
    (``train_ivf_centroids`` — driver-local Lloyd below the sample
    threshold, MLlib above) and PQ codebooks (``pq_train``), written as
    one generation with ``meta`` last as the commit marker. Returns the
    committed generation.

    ``cents``/``codebooks`` inject pre-trained frames (shape
    ``(c_id, cv, cn)`` / ``(j, code, cent)``) — the gate and tests pass
    the session-memoized artifacts so the persisted index is
    frame-exactly comparable to the in-session composition; production
    callers omit them and train here.

    REFUSES to train a second generation while the index holds codes:
    codes are meaningless against any codebooks but the ones that
    encoded them, and readers assume all committed codes belong to the
    latest committed generation. The retrain path is
    ``rebuild_ann_index`` (drop + re-derive — the lexicon's remedy
    shape); ``qdrift`` tells you when it is due. A TORN train (model
    rows landed, meta missing) re-runs safely: the retry re-derives
    identical rows under the same generation (deterministic fits over
    the same training frame — the index has no codes yet, so the corpus
    cannot have advanced under the single-writer protocol) and the
    readers' DISTINCT collapses the duplicates."""
    from ts_etl_spark.operators.similarity import (
        IVF_CENTROIDS,
        IVF_TRAIN_ITER,
        IVF_TRAIN_SEED,
        PQ_K,
        PQ_M,
        pq_train,
        train_ivf_centroids,
    )

    p = ann_index_paths(index_path)
    if path_exists(spark, p["totals"]):
        raise RuntimeError(
            f"ANN index at {index_path} already holds folded codes; "
            "training a new model generation would orphan every code "
            "encoded under the old codebooks — run rebuild_ann_index "
            "(CLI ann-rebuild) to retrain and re-encode in one pass"
        )
    gen = 0
    if path_exists(spark, p["meta"]):
        committed = (
            spark.read.schema(ANN_META_SCHEMA)
            .parquet(p["meta"])
            .agg(F.max("gen"))
            .first()[0]
        )
        if committed is not None:
            # a committed model with no codes yet: nothing to orphan,
            # but a second train would duplicate the generation — the
            # existing model is authoritative (deterministic anyway)
            return int(committed)
    nn = vecs.filter(F.col("v").isNotNull())
    if cents is None:
        cents = train_ivf_centroids(
            nn,
            k=n_cells or IVF_CENTROIDS,
            seed=IVF_TRAIN_SEED,
            max_iter=IVF_TRAIN_ITER,
        )
    if codebooks is None:
        codebooks = pq_train(nn, m=m or PQ_M, k=k or PQ_K)
    g = F.lit(gen).cast("int")
    # cast to the declared table schema: injected frames may carry wider
    # types (the gate's seed centroids derive c_id from a LONG vec_id)
    cent_rows = cents.select(
        g.alias("gen"),
        F.col("c_id").cast("int").alias("c_id"),
        F.col("cv").cast("array<double>").alias("cv"),
        F.col("cn").cast("double").alias("cn"),
    )
    cb_rows = codebooks.select(
        g.alias("gen"),
        F.col("j").cast("int").alias("j"),
        F.col("code").cast("int").alias("code"),
        F.col("cent").cast("array<double>").alias("cent"),
    )
    # the two model writes and the two dimension aggregates are mutually
    # independent (guide §2.6 — overlap independent driver actions); all
    # four complete before meta commits, so the totals-last discipline is
    # untouched
    with overlap() as submit:
        f_cw = submit(
            lambda: cent_rows.write.mode("append").parquet(p["cents"])
        )
        f_bw = submit(
            lambda: cb_rows.write.mode("append").parquet(p["codebooks"])
        )
        f_dims = submit(
            lambda: cents.agg(
                F.count(F.lit(1)).alias("nc"), F.min(F.size("cv")).alias("d")
            ).first()
        )
        f_m = submit(
            lambda: codebooks.agg((F.max("j") + 1).alias("m")).first()
        )
        f_cw.result()
        f_bw.result()
        dims = f_dims.result()
        mrow = f_m.result()
    meta = local_rows(
        spark, [(gen, int(dims.nc), int(mrow.m), int(dims.d))], ANN_META_SCHEMA
    )
    # THE commit point for the generation — meta last
    meta.write.mode("append").parquet(p["meta"])
    return gen


def _ann_model(
    spark: SparkSession, index_path: str
) -> tuple[int, DataFrame, DataFrame, int, int]:
    """(gen, cents, codebooks, n_cells, m) of the latest COMMITTED
    model generation. Raises with the bootstrap/rebuild remedy when no
    generation is committed; the DISTINCT collapses torn-train
    duplicates (complete identical rows)."""
    p = ann_index_paths(index_path)
    if not path_exists(spark, p["meta"]):
        raise ValueError(
            f"no ANN index model at {index_path} — bootstrap_ann_index "
            "trains and folds a pre-existing corpus in one pass (CLI "
            "ann-rebuild re-derives a broken index)"
        )
    meta = (
        spark.read.schema(ANN_META_SCHEMA)
        .parquet(p["meta"])
        .distinct()
        .orderBy(F.col("gen").desc())
        .first()
    )
    if meta is None:
        raise ValueError(
            f"ANN index model table at {index_path} is empty — a torn "
            "bootstrap; re-run bootstrap_ann_index (CLI ann-rebuild)"
        )
    gen = int(meta.gen)
    cents = (
        spark.read.schema(ANN_CENTS_SCHEMA)
        .parquet(p["cents"])
        .filter(F.col("gen") == gen)
        .distinct()
        .drop("gen")
    )
    codebooks = (
        spark.read.schema(ANN_CODEBOOKS_SCHEMA)
        .parquet(p["codebooks"])
        .filter(F.col("gen") == gen)
        .distinct()
        .drop("gen")
    )
    return gen, cents, codebooks, int(meta.n_cells), int(meta.m)


def _append_codes(
    spark: SparkSession,
    vecs: DataFrame,
    p: dict[str, str],
    gen: int,
    cents: DataFrame,
    codebooks: DataFrame,
    n_cells: int,
    m: int,
    batch_id: int,
) -> None:
    """Encode + assign one batch and append its rows — the shared body
    of the per-batch fold and the adoption bootstrap. Codes first
    (cell-partitioned, ≤ n_cells files per batch), qdrift second
    (overwrite-idempotent telemetry), totals LAST (the presence
    marker). Only skinny (id, codes, qerr, nrm) rows ever shuffle; the
    double vectors stay in the encode/assign map-side joins."""
    from ts_etl_spark.operators.similarity import ivf_assign, pq_encode

    # ONE materialization of the (possibly embedder-backed) vector
    # frame: the rows plan references it through three legs (encode,
    # assign, norm join) plus the n_docs count below — unpersisted,
    # each leg re-ran the document embedder per fold, and the adoption
    # bootstrap paid ~4 full-corpus embeds (review finding, round 15).
    # Persisted here, not by callers: the fold owns the frame's scope.
    vecs = vecs.persist()
    nn = vecs.filter(F.col("v").isNotNull())
    enc = pq_encode(nn, codebooks, m=m)
    assigned = ivf_assign(nn, cents, n_assign=1).select("vec_id", "cell")
    rows = (
        enc.join(assigned, "vec_id")
        .join(nn.select("vec_id", "nrm"), "vec_id")
        .select(
            "vec_id",
            "codes",
            "qerr",
            "nrm",
            F.lit(int(batch_id)).cast("long").alias("batch_id"),
            F.col("cell").cast("int").alias("cell"),
        )
        .localCheckpoint(eager=True)
    )
    try:
        # Round 16 (guide §2.6): the fold's commit-protocol actions over
        # the checkpointed rows — the codes write, ONE fused stats
        # aggregate (row count + the qdrift mean in one job; avg skips
        # the NULLs the old filter dropped, same value), and the n_docs
        # count — are mutually independent, so they overlap instead of
        # running back-to-back. All three complete before the qdrift
        # write starts, so the crash ladder's write ORDER (codes →
        # qdrift → totals) is exactly as before.
        with overlap() as submit:
            f_stats = submit(
                lambda: rows.agg(
                    F.count(F.lit(1)).alias("nv"),
                    F.avg(
                        F.when(
                            F.col("nrm") > 0,
                            F.col("qerr") / (F.col("nrm") * F.col("nrm")),
                        )
                    ).alias("e"),
                ).first()
            )
            f_docs = submit(vecs.count)
            f_codes = submit(
                lambda: (
                    rows.repartition(n_cells, "cell")
                    .sortWithinPartitions("cell", "vec_id")
                    .write.partitionBy("cell")
                    .mode("append")
                    .parquet(p["codes"])
                )
            )
            stats = f_stats.result()
            n_docs = f_docs.result()
            f_codes.result()
        n_vecs = int(stats.nv)
        mean_rel = float(stats.e) if stats.e is not None else 0.0
        # telemetry before the presence marker: a crash in between
        # replays into an overwrite of the same batch=<id> dir. The
        # one-row frames are ONE-slice local relations (localrel
        # rationale): one task scans, one file lands, no
        # repartition/coalesce step at all.
        local_rows(
            spark,
            [(gen, n_vecs, mean_rel, bool(mean_rel > ANN_QDRIFT_THRESHOLD))],
            ANN_QDRIFT_SCHEMA,
        ).write.mode("overwrite").parquet(
            f"{p['qdrift']}/batch={int(batch_id)}"
        )
        local_rows(
            spark, [(n_docs, n_vecs, int(batch_id))], ANN_TOTALS_SCHEMA
        ).write.mode("append").parquet(p["totals"])
    finally:
        rows.unpersist()
        vecs.unpersist()


def update_ann_index(
    spark: SparkSession, vecs: DataFrame, index_path: str, batch_id: int
) -> None:
    """Fold one batch of vectors ``(vec_id, v, nrm)`` into the
    persisted serving index: encode against the committed codebooks,
    assign cells against the committed centroids, append
    cell-partitioned codes + the qdrift telemetry row + the totals
    presence marker (in that order — see the module docstring's crash
    ladder). Replay-safe by MAX batch id: equal = no-op, below =
    restarted id sequence that refuses loudly (``rebuild_ann_index`` is
    the remedy — matching any historic id would let a checkpoint reset
    silently drop every new batch). Requires a committed model
    (``bootstrap_ann_index`` / ``train_ann_model``)."""
    p = ann_index_paths(index_path)
    gen, cents, codebooks, n_cells, m = _ann_model(spark, index_path)
    if path_exists(spark, p["totals"]):
        last = (
            spark.read.schema(ANN_TOTALS_SCHEMA)
            .parquet(p["totals"])
            .agg(F.max("batch_id"))
            .first()[0]
        )
        if last is not None and int(batch_id) == int(last):
            return  # replay of the last folded batch
        if last is not None and int(batch_id) < int(last):
            raise RuntimeError(
                f"ANN index at {index_path} last folded batch "
                f"{int(last)}, got out-of-order batch {int(batch_id)} — "
                "a restarted batch-id sequence cannot be folded safely; "
                "rebuild_ann_index re-derives the index from the corpus"
            )
    _append_codes(
        spark, vecs, p, gen, cents, codebooks, n_cells, m, int(batch_id)
    )


def bootstrap_ann_index(
    spark: SparkSession,
    vecs: DataFrame,
    index_path: str,
    cents: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> bool:
    """Adopt the serving index on a PRE-EXISTING corpus: when no index
    exists yet and the vector frame is non-empty, train the model and
    fold the ENTIRE frame once under ``ANN_BOOTSTRAP_ID`` — without
    this, enabling ``ann_index_path`` on a live deployment would
    silently cover only post-adoption batches (the
    ``bootstrap_bm25_lexicon`` precedent). Idempotent and crash-safe: a
    torn bootstrap re-runs and its duplicate rows collapse under the
    readers' DISTINCT. ``ingest_batch`` calls this before every
    per-batch fold (one existence check per batch once adopted).
    Returns True if a bootstrap fold ran.

    A corpus with documents but NO embeddable one (every embedding
    NULL) cannot train a model: without a committed model the adoption
    is DEFERRED (return False) rather than crashing the fold with the
    trainer's empty-input error — which, since the ANN fold runs before
    the corpus append, would wedge ingest permanently (review finding,
    round 15). ``ingest_batch`` then trains on the first embeddable
    BATCH and re-invokes this bootstrap, which proceeds under the
    now-committed model and folds the whole token-less history so the
    coverage totals still count every corpus document."""
    p = ann_index_paths(index_path)
    if path_exists(spark, p["totals"]):
        return False
    if vecs.first() is None:
        return False  # fresh deployment — batch folds build the index
    if (
        not path_exists(spark, p["meta"])
        and cents is None
        and vecs.filter(F.col("v").isNotNull()).first() is None
    ):
        return False  # nothing to train on yet — defer adoption
    gen = train_ann_model(
        spark, vecs, index_path, cents=cents, codebooks=codebooks
    )
    _, mcents, mcbs, n_cells, m = _ann_model(spark, index_path)
    _append_codes(
        spark, vecs, p, gen, mcents, mcbs, n_cells, m, ANN_BOOTSTRAP_ID
    )
    return True


def ann_topk_from_index(
    spark: SparkSession,
    index_path: str,
    vecs: DataFrame,
    queries: DataFrame,
    nprobe: int | None = None,
    top_k: int | None = None,
    shortlist: int | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k answered from the PERSISTED index — the
    production serving path: the committed centroids route each query
    to its ``nprobe`` nearest cells, the scan PLANS over only those
    cells' ``cell=<n>`` directories (partition pruning at any batch
    count — the probed cells become literal partition filters,
    mirroring ``bm25_topk_from_index``'s bucket isin), the ADC stage
    scores the pruned codes using the PERSISTED norms (no vector-store
    touch), and the bounded shortlist re-ranks exactly against ``vecs``
    (the one point-lookup a serving deployment pays — shortlist ×
    queries rows). Frame-identical to the in-session
    ``operators.similarity.ivf_pq_topk`` over the same model by
    construction (same deterministic assignment at fold time, same
    persisted-double norms, same ``pq_topk`` body) — and driver-gated
    as the ``q_id = -4`` sentinel of ``embed_ann_ivf``. The DISTINCT
    collapses torn-append duplicates (complete identical rows)."""
    from ts_etl_spark.operators.similarity import (
        IVF_NPROBE,
        PQ_SHORTLIST,
        TOP_K,
        ivf_assign,
        pq_topk,
    )

    nprobe = IVF_NPROBE if nprobe is None else nprobe
    top_k = TOP_K if top_k is None else top_k
    shortlist = PQ_SHORTLIST if shortlist is None else shortlist
    p = ann_index_paths(index_path)
    _gen, cents, codebooks, _n_cells, _m = _ann_model(spark, index_path)
    if not path_exists(spark, p["codes"]):
        raise ValueError(
            f"ANN index at {index_path} has a model but no codes table "
            "— a torn bootstrap; re-run bootstrap_ann_index (CLI "
            "ann-rebuild)"
        )
    probes = ivf_assign(
        queries.filter(F.col("qn") > 0).select(
            F.col("q_id").alias("vec_id"),
            F.col("qv").alias("v"),
            F.col("qn").alias("nrm"),
        ),
        cents,
        n_assign=nprobe,
    ).select(F.col("vec_id").alias("q_id"), "cell")
    # queries are a bounded handful by contract (the brute_topk
    # broadcast assumption) — collecting the probe routing is queries ×
    # nprobe skinny rows, and it is what turns the probed cells into
    # PLANNING-TIME partition filters
    probe_rows = probes.collect()
    if not probe_rows:
        return local_rows(
            spark, [], "q_id LONG, neighbor_id LONG, cosine DOUBLE, rn INT"
        )
    cells = sorted({int(r["cell"]) for r in probe_rows})
    codes_df = (
        spark.read.schema(ANN_CODES_READ_SCHEMA)
        .parquet(p["codes"])
        .filter(F.col("cell").isin(cells))
        .distinct()
    )
    pairs_df = local_rows(
        spark,
        [(int(r["q_id"]), int(r["cell"])) for r in probe_rows],
        "q_id LONG, cell INT",
    )
    pairs = (
        codes_df.select("vec_id", "cell")
        .join(F.broadcast(pairs_df), "cell")
        .select("q_id", "vec_id")
    )
    return pq_topk(
        vecs,
        codes_df.select("vec_id", "codes", "nrm"),
        codebooks,
        queries,
        top_k,
        shortlist,
        pairs=pairs,
    )


class AnnIndexDriftError(RuntimeError):
    """An ANN index whose recorded coverage disagrees with the corpus
    (ghost batch: totals committed, corpus append never landed,
    checkpoint abandoned) or whose codes table disagrees with its own
    totals (state maintained outside the fold protocol). Carries the
    counts so handlers can report without re-probing."""

    def __init__(
        self,
        index_path: str,
        idx_docs: int,
        corpus_n: int,
        idx_vecs: int,
        code_rows: int,
        compacted: dict[str, int] | None = None,
    ):
        self.index_path = index_path
        self.idx_docs = idx_docs
        self.corpus_n = corpus_n
        self.idx_vecs = idx_vecs
        self.code_rows = code_rows
        self.compacted = dict(compacted or {})
        super().__init__(
            f"ANN index at {index_path} records {idx_docs} docs / "
            f"{idx_vecs} encoded vectors but the corpus holds "
            f"{corpus_n} docs and the codes table {code_rows} vectors: "
            "a ghost batch (totals committed, corpus append never "
            "landed, checkpoint abandoned) or state maintained outside "
            "the fold protocol — served rankings silently miss or "
            "phantom documents. If a drain crashed mid-batch and its "
            "checkpoint is intact, restart the stream first: the "
            "pending replay repairs this window without a rebuild. "
            "Otherwise run rebuild_ann_index (CLI ann-rebuild) to "
            "re-derive the index from the corpus"
        )


def verify_ann_index(
    spark: SparkSession, corpus_path: str, index_path: str
) -> tuple[int, int]:
    """Coverage/ghost invariant probe, the ``verify_bm25_lexicon``
    shape: ``(index_n_docs, corpus_rows)``, raising
    ``AnnIndexDriftError`` on EITHER mismatch —

    - coverage: the totals' summed ``n_docs`` vs the corpus doc count
      (every kept doc is folded exactly once, totals last);
    - internal: the totals' summed ``n_vecs`` vs the codes table's
      distinct vec count (a lost/extra code file, or appends outside
      the protocol).

    Cheap: one distinct-sum over the skinny totals, one
    distinct-vec_id count over the codes (id column only — the code
    arrays are never read), one column-pruned corpus count. A MISSING
    corpus path raises rather than reading as 0 documents (the
    verify_bm25_lexicon review finding)."""
    p = ann_index_paths(index_path)
    if not path_exists(spark, p["totals"]):
        raise ValueError(f"no ANN index at {index_path}")
    if not path_exists(spark, corpus_path):
        raise ValueError(
            f"verify_ann_index: no corpus at {corpus_path!r} — a "
            "missing path is not an empty corpus (check the path)"
        )
    tot = (
        spark.read.schema(ANN_TOTALS_SCHEMA)
        .parquet(p["totals"])
        .distinct()
        .agg(
            F.coalesce(F.sum("n_docs"), F.lit(0)),
            F.coalesce(F.sum("n_vecs"), F.lit(0)),
        )
        .first()
    )
    idx_docs, idx_vecs = int(tot[0]), int(tot[1])
    code_rows = 0
    if path_exists(spark, p["codes"]):
        code_rows = int(
            spark.read.schema(ANN_CODES_READ_SCHEMA)
            .parquet(p["codes"])
            .select("vec_id")
            .distinct()
            .count()
        )
    corpus_n = (
        spark.read.parquet(corpus_path).select("doc_id").count()
    )
    if idx_docs != corpus_n or idx_vecs != code_rows:
        raise AnnIndexDriftError(
            index_path, idx_docs, corpus_n, idx_vecs, code_rows
        )
    return idx_docs, corpus_n


def rebuild_ann_index(
    spark: SparkSession, corpus_path: str, index_path: str
) -> None:
    """Drop and re-derive the serving index from the stored corpus —
    the remedy for a ghost batch, a restarted batch-id sequence, or
    codebook drift flagged by qdrift (the retrain path: a fresh model
    generation trains on the CURRENT corpus and every vector re-encodes
    against it). One corpus scan. REFUSES a corpus path that does not
    exist, before deleting anything (the rebuild_bm25_lexicon review
    finding: a typo'd path would otherwise silently destroy the index
    while \"rebuilding\" nothing). Stale compaction siblings go with
    the tables — a crashed compaction's manifest must not resurrect a
    pre-rebuild generation's files (the round-14 review finding)."""
    from ts_etl_spark.streaming.ingest import (
        _compact_manifest,
        _compact_staging,
    )

    if not path_exists(spark, corpus_path):
        raise ValueError(
            f"rebuild_ann_index: no corpus at {corpus_path!r} — "
            "refusing to delete the index and rebuild from nothing "
            "(check the path)"
        )
    for d in ann_index_paths(index_path).values():
        delete_dir(spark, _compact_staging(d))
        delete_dir(spark, _compact_manifest(d))
        if path_exists(spark, d):
            delete_dir(spark, d)
    docs = spark.read.parquet(corpus_path).select("doc_id", "text")
    bootstrap_ann_index(spark, doc_vectors(docs), index_path)
