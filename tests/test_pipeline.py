"""End-to-end curation pipeline (ts_etl_spark/pipelines/curation.py):
provenance completeness, per-stage policy invariants, and the partitioned
write layout."""

import os

import pytest
from pyspark.sql import functions as F

from ts_etl_spark.operators.dedup import JACCARD_THRESHOLD, q_dedup_minhash_lsh
from ts_etl_spark.pipelines import curate_documents, write_curated


def test_curation_single_documents_scan(spark, sf_smoke):
    """The pipeline's text consumers never rescan the corpus: the masking
    stage reads the text column through ONE cached scan while it
    materializes into a localCheckpoint at construction, so the final
    plan reads the checkpointed masked frame (an RDD leaf) — no text
    parquet scan at all. The only parquet scan left is the domain-cap
    arm's skinny (doc_id, source, n_chars) projection, which carries no
    text."""
    import re

    from ts_etl_spark.pipelines.curation import q_pipeline_curation
    from ts_etl_spark.plans.audit import plan_str

    p = plan_str(q_pipeline_curation(spark, sf_smoke), "formatted")
    scans = len(re.findall(r"\(\d+\) Scan parquet", p))
    text_scans = len(re.findall(r"ReadSchema:[^\n]*\btext\b", p))
    assert text_scans == 0, f"text column scanned {text_scans}x post-mask"
    assert scans <= 1, f"{scans} parquet scans (expected only the skinny cap)"
    assert "Scan ExistingRDD" in p, "masked frame read from the checkpoint"
    assert "InMemoryTableScan" in p, "scored projection cached"


def test_provenance_covers_every_document(spark, sf_smoke):
    docs_n = spark.read.parquet(f"{sf_smoke}/documents.parquet").count()
    out = curate_documents(spark, sf_smoke)
    rows = out.collect()
    assert len(rows) == docs_n
    for r in rows:
        assert r.kept == (r.drop_reason is None)


def test_stage_invariants(spark, sf_smoke):
    out = curate_documents(spark, sf_smoke).persist()
    kept = out.filter("kept")

    # every kept doc passed the quality gate
    assert kept.filter(~F.col("quality_pass")).count() == 0

    # kept docs have unique canonical fingerprints
    n_kept = kept.count()
    assert n_kept > 0
    assert kept.select("fingerprint").distinct().count() == n_kept

    # no verified near-dup pair survives intact: for every pair at/above the
    # threshold, the higher id must be dropped
    pairs = q_dedup_minhash_lsh(spark, sf_smoke).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    kept_ids = kept.select(F.col("doc_id").alias("id_b"))
    surviving_b = pairs.join(kept_ids, "id_b", "left_semi")
    assert surviving_b.count() == 0

    # drop reasons follow pipeline order: an exact-dup reason implies the
    # quality gate passed (quality would have claimed the row first)
    bad = out.filter((F.col("drop_reason") == "exact_dup") & ~F.col("quality_pass"))
    assert bad.count() == 0
    out.unpersist()


def test_language_filter(spark, sf_smoke):
    out = curate_documents(spark, sf_smoke, languages=["en"])
    assert out.filter("kept").filter(F.col("pred_lang") != "en").count() == 0
    # language drops exist and carry the right reason
    dropped = out.filter(F.col("drop_reason") == "language")
    assert dropped.filter(F.col("pred_lang") == "en").count() == 0


def test_token_budget_greedy_by_id(spark, sf_smoke):
    budget = 2000
    out = curate_documents(spark, sf_smoke, token_budget=budget).persist()
    kept = out.filter("kept").orderBy("doc_id").collect()
    assert kept, "budget too small for any document"

    # greedy prefix property: cumulative count before each kept doc < budget
    cum = 0
    for r in kept:
        assert cum < budget
        cum += r.n_bpe_tokens

    # every budget-dropped doc survived all other gates and sits after the
    # last kept doc in id order
    bdropped = out.filter(F.col("drop_reason") == "budget").collect()
    last_kept = kept[-1].doc_id
    for r in bdropped:
        assert r.quality_pass and not r.is_exact_dup and not r.is_near_dup
        assert r.doc_id > last_kept
    out.unpersist()


def test_budget_matches_plain_window(spark, sf_smoke):
    """The skew-safe two-level cumsum must equal the single-window cumsum."""
    from pyspark.sql.window import Window

    out = curate_documents(spark, sf_smoke, token_budget=10**9)
    got = {
        r.doc_id: r.cum_tokens
        for r in out.filter("kept").select("doc_id", "cum_tokens").collect()
    }
    survivors = curate_documents(spark, sf_smoke).filter("kept")
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.doc_id: r.want
        for r in survivors.select(
            "doc_id", F.sum("n_bpe_tokens").over(w).alias("want")
        ).collect()
    }
    assert got == want


def test_cli_run_curate(spark, sf_smoke, tmp_path):
    from ts_etl_spark.cli import run_curate

    # other tests in this shared session may hold caches; the contract
    # under test is that run_curate releases every cache IT created
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    dest = str(tmp_path / "corpus")
    counts = run_curate(
        sf_smoke, dest, languages=["en"], token_budget=5000, spark=spark
    )
    assert counts.get("kept", 0) > 0
    back = spark.read.parquet(dest)
    assert back.count() == counts["kept"]
    assert set(counts) <= {"kept", "quality", "exact_dup", "near_dup", "language", "budget"}
    # no cached blocks created by the call may outlive it: run_curate is
    # the repeated-invocation seam of a long-lived session (same contract
    # as streaming/ingest's per-batch unpersist)
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    assert after <= before, f"leaked caches: {after - before}"


def test_cli_run_curate_with_packing(spark, sf_smoke, tmp_path):
    """--pack-tokens makes the written corpus trainer-ready: every kept
    document carries a bin assignment and no mixed bin exceeds the
    budget."""
    from ts_etl_spark.cli import run_curate

    dest = str(tmp_path / "corpus")
    counts = run_curate(sf_smoke, dest, pack_tokens=2048, spark=spark)
    back = spark.read.parquet(dest)
    assert {"pack_group", "bin_idx"} <= set(back.columns)
    assert back.filter(F.col("bin_idx").isNull()).count() == 0
    bins = back.groupBy("pack_group", "bin_idx").agg(
        F.sum("n_bpe_tokens").alias("tokens"), F.count("*").alias("docs")
    )
    assert (
        bins.filter((F.col("tokens") > 2048) & (F.col("docs") > 1)).count()
        == 0
    )
    assert back.count() == counts.get("kept", 0)


def test_cli_trainer_prep_flow_end_to_end(spark, sf_smoke, tmp_path):
    """The full trainer-prep flow through the CLI seams the way a user
    runs it: curate → pack → chunk → split, each stage reading the
    previous stage's parquet output."""
    from ts_etl_spark.cli import run_chunk, run_curate, run_pack, run_split

    curated = str(tmp_path / "curated")
    counts = run_curate(sf_smoke, curated, spark=spark)
    kept = counts.get("kept", 0)
    assert kept > 0

    packed = str(tmp_path / "packed")
    pstats = run_pack(curated, packed, max_tokens=2048, spark=spark)
    assert pstats["docs"] == kept and pstats["bins"] >= 1
    back = spark.read.parquet(packed)
    assert {"pack_group", "bin_idx", "oversize"} <= set(back.columns)
    bins = back.groupBy("pack_group", "bin_idx").agg(
        F.sum("n_bpe_tokens").alias("tokens"),
        F.max(F.col("oversize").cast("int")).alias("over"),
    )
    assert bins.filter((F.col("tokens") > 2048) & (F.col("over") == 0)).count() == 0

    chunked = str(tmp_path / "chunked")
    n_chunks = run_chunk(packed, chunked, chunk_chars=256, overlap=32, spark=spark)
    assert n_chunks >= kept  # every doc keeps >= 1 chunk
    chunks = spark.read.parquet(chunked)
    assert {"doc_id", "chunk_idx", "char_start", "chunk"} <= set(chunks.columns)
    # stable keys: (doc_id, chunk_idx) unique across the whole output
    assert (
        chunks.select("doc_id", "chunk_idx").distinct().count() == n_chunks
    )

    splits = str(tmp_path / "splits")
    scounts = run_split(
        packed, splits, {"train": 0.8, "val": 0.1, "test": 0.1}, spark=spark
    )
    assert sum(scounts.values()) == kept
    assert set(scounts) <= {"train", "val", "test"}
    sback = spark.read.parquet(splits)
    assert sback.select("doc_id").distinct().count() == kept


def test_write_curated_partitions_by_language(spark, sf_smoke, tmp_path):
    out = curate_documents(spark, sf_smoke)
    dest = str(tmp_path / "curated")
    write_curated(out, dest)
    parts = {p for p in os.listdir(dest) if p.startswith("pred_lang=")}
    assert parts  # hive-style layout present
    back = spark.read.parquet(dest)
    assert back.count() == out.filter("kept").count()
    # partition pruning: a single-language read scans only that directory
    langs = sorted(p.split("=", 1)[1] for p in parts)
    one = back.filter(F.col("pred_lang") == langs[0])
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(pred_lang" in plan or "pred_lang" in plan


def test_classifier_stage_gates_by_score(spark, sf_smoke):
    """With clf_threshold set, documents below the model score drop with
    reason 'classifier' AFTER the heuristic gate (quality keeps
    precedence), and the kept set equals a manual re-derivation."""
    from ts_etl_spark.operators.classifier import score_hashed_linear

    base = {r.doc_id: r for r in curate_documents(spark, sf_smoke).collect()}
    scores = {
        r.doc_id: r.score
        for r in score_hashed_linear(
            spark.read.parquet(f"{sf_smoke}/documents.parquet").select(
                "doc_id", "text"
            )
        ).collect()
    }
    live = sorted(v for v in scores.values() if v is not None)
    thr = live[len(live) // 2]  # median: guarantees both outcomes exist
    gated = {
        r.doc_id: r
        for r in curate_documents(
            spark, sf_smoke, clf_threshold=thr
        ).collect()
    }
    assert set(gated) == set(base)
    n_clf = 0
    for d, r in gated.items():
        if base[d].drop_reason == "quality":
            assert r.drop_reason == "quality", d  # heuristics first
        elif scores[d] is not None and scores[d] < thr:
            assert r.drop_reason == "classifier", (d, scores[d])
            n_clf += 1
    assert n_clf > 0


def test_paragraph_dedup_stage_rewrites_before_scoring(spark, tmp_path):
    """paragraph_dedup='df' strips corpus-shared paragraphs before any
    metric/fingerprint computation: the footer disappears from every
    document's curated text, a document that WAS only boilerplate empties
    out and falls to the quality gate (no crash — empty documents are
    legal input to the metric projection), and survivors' metrics reflect
    the cleaned text."""
    footer = "all rights reserved contact the operator for details " * 2
    body_a = "a genuinely informative body paragraph with many words " * 4
    body_c = "another unique document body with plenty of words here " * 4
    rows = [
        (1, f"{body_a.strip()}\n\n{footer.strip()}"),
        (2, footer.strip()),  # all boilerplate
        (3, f"{body_c.strip()}\n\n{footer.strip()}"),
    ]
    d = tmp_path / "para_sf"
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(rows, "doc_id LONG, text STRING").write.mode(
        "overwrite"
    ).parquet(str(d / "documents.parquet"))

    plain = {r.doc_id: r for r in curate_documents(spark, str(d)).collect()}
    # without the stage the footer-only doc survives the heuristics (it
    # may still fall to near-dup against footer-heavy neighbours)
    assert plain[2].drop_reason != "quality"

    cleaned = {
        r.doc_id: r
        for r in curate_documents(
            spark, str(d), paragraph_dedup="df"
        ).collect()
    }
    assert set(cleaned) == {1, 2, 3}
    # footer stripped from every document BEFORE scoring
    for doc in (1, 3):
        assert "all rights reserved" not in cleaned[doc].text
        assert cleaned[doc].n_chars < plain[doc].n_chars
        assert cleaned[doc].drop_reason is None
    # the all-boilerplate document emptied out and fails the heuristics
    assert cleaned[2].text == ""
    assert cleaned[2].drop_reason == "quality"
    # char-ratio metrics on the empty doc are NULL, not a crash
    assert cleaned[2].alpha_ratio is None


def test_blocklist_stage_gates_by_fraction(spark, tmp_path):
    """With blocklist set, documents over the hit fraction drop with
    reason 'blocklist' after quality and before the classifier."""
    good = "a perfectly ordinary informative document with many plain words " * 3
    spam = ("buy cheap pills now " * 8 + good).strip()
    rows = [(1, good.strip()), (2, spam), (3, "short")]
    d = tmp_path / "bl_sf"
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(rows, "doc_id LONG, text STRING").write.mode(
        "overwrite"
    ).parquet(str(d / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in curate_documents(
            spark, str(d), blocklist=["pills", "cheap"], blocklist_max_frac=0.05
        ).collect()
    }
    assert out[1].drop_reason is None
    assert out[2].drop_reason == "blocklist"
    assert out[3].drop_reason == "quality"  # heuristics keep precedence


def test_domain_cap_stage(spark, tmp_path):
    """domain_cap_n keeps the N longest docs per source; excess drops
    with reason 'domain_cap' (after dedup, before language)."""
    texts = [
        "astronomy telescopes reveal distant spiral galaxies through careful nightly "
        "observation sessions conducted yearly from remote mountain observatories",
        "gardening manuals describe pruning mature fruit trees during dormant winter "
        "months while protecting tender roots beneath thick organic mulch layers",
        "sailing vessels navigate treacherous coastal waters using paper charts "
        "magnetic compasses and printed tide tables kept aboard every voyage",
        "pottery students shape delicate clay bowls on spinning wheels inside "
        "sunlit studios while instructors demonstrate glazing techniques nearby",
    ]
    rows = [
        (i, texts[i], "srcA", 500 - i) for i in range(4)
    ] + [
        (
            10,
            "bakery apprentices knead sourdough loaves before dawn while wood "
            "fired ovens warm slowly toward their steady baking temperature",
            "srcB",
            80,
        )
    ]
    d = tmp_path / "cap_sf"
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id LONG, text STRING, source STRING, n_chars LONG"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in curate_documents(spark, str(d), domain_cap_n=2).collect()
    }
    # srcA: ranked by n_chars desc (500-i) -> docs 0,1 kept; 2,3 capped
    assert out[2].drop_reason == "domain_cap"
    assert out[3].drop_reason == "domain_cap"
    assert out[0].drop_reason is None and out[1].drop_reason is None
    assert out[10].drop_reason is None  # under-cap domain untouched


def test_substring_mask_stage(spark, tmp_path):
    """substring_mask strips cross-document repeated spans BEFORE
    scoring, so shared boilerplate cannot create near-dup pairs."""
    boiler = "this license text is repeated verbatim across unrelated documents always"
    a = "completely original analysis of interesting topics with unique vocabulary choices"
    b = "different thoughtful writing about other matters using separate wording entirely"
    rows = [(1, f"{a} {boiler}"), (2, f"{boiler} {b}")]
    d = tmp_path / "sm_sf"
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(rows, "doc_id LONG, text STRING").write.mode(
        "overwrite"
    ).parquet(str(d / "documents.parquet"))
    plain = {
        r.doc_id: r for r in curate_documents(spark, str(d)).collect()
    }
    masked = {
        r.doc_id: r
        for r in curate_documents(
            spark, str(d), substring_mask=(4, 6, 2)
        ).collect()
    }
    for w in boiler.split():
        assert w not in masked[1].text.split()
        assert w not in masked[2].text.split()
    assert "original" in masked[1].text and "thoughtful" in masked[2].text


def test_substring_mask_reliable_barrier_identical(spark, sf_smoke, tmp_path):
    """checkpoint_dir stages the masked corpus to storage instead of the
    executor-local localCheckpoint (the 100 TB reliability barrier — a
    localCheckpoint block dies with its executor; staged parquet
    re-reads). The output must be IDENTICAL either way, and the staged
    directory must exist afterwards (it is the recovery point, never
    auto-deleted)."""
    ck = str(tmp_path / "mask_stage")
    cols = ["doc_id", "text", "kept", "drop_reason", "n_bpe_tokens"]
    local = sorted(
        (tuple(r[c] for c in cols) for r in
         curate_documents(spark, sf_smoke, substring_mask=True)
         .select(*cols).collect())
    )
    staged = sorted(
        (tuple(r[c] for c in cols) for r in
         curate_documents(
             spark, sf_smoke, substring_mask=True, checkpoint_dir=ck
         ).select(*cols).collect())
    )
    assert staged == local
    assert os.path.isdir(ck) and any(
        f.endswith(".parquet") for f in os.listdir(ck)
    ), "staged barrier persisted to reliable storage"
    # round-10 guard: the staging write is mode('overwrite'), so a
    # populated checkpoint_dir — a mispointed corpus, or this very
    # staging from the previous run — must be refused, not erased
    with pytest.raises(ValueError, match="non-empty"):
        curate_documents(
            spark, sf_smoke, substring_mask=True, checkpoint_dir=ck
        )
    assert any(f.endswith(".parquet") for f in os.listdir(ck)), (
        "refusal left the existing content untouched"
    )


def test_cli_curate_accepts_new_flags(spark, sf_smoke, tmp_path, monkeypatch):
    import ts_etl_spark.cli as cli

    seen = {}

    def fake_run_curate(*a, **kw):
        seen.update(kw)
        return {}

    monkeypatch.setattr(cli, "run_curate", fake_run_curate)
    rc = cli.main(
        ["curate", sf_smoke, str(tmp_path / "o"), "--substring-mask", "5,8,3",
         "--domain-cap", "7"]
    )
    assert rc == 0
    assert seen["substring_mask"] == (5, 8, 3)
    assert seen["domain_cap_n"] == 7
    seen.clear()
    rc = cli.main(["curate", sf_smoke, str(tmp_path / "o2"), "--substring-mask"])
    assert rc == 0 and seen["substring_mask"] is True


def test_torn_staging_artifact_is_retried_in_place(spark, sf_smoke, tmp_path):
    """Round-11 (advice): a crash DURING the staging write leaves a torn
    directory (Spark output files, no _SUCCESS). The non-empty refusal
    must not reject exactly the failure the recovery point exists to
    survive — torn staging is overwritten in place; committed runs
    (covered above) and foreign content still refuse."""
    ck = str(tmp_path / "torn")
    os.makedirs(f"{ck}/_temporary/0")
    with open(f"{ck}/part-00000-dead-c000.snappy.parquet", "w") as f:
        f.write("torn half-written part file")
    with open(f"{ck}/.part-00000-dead-c000.snappy.parquet.crc", "w") as f:
        f.write("crc")
    out = curate_documents(
        spark, sf_smoke, substring_mask=True, checkpoint_dir=ck
    )
    assert out.count() > 0
    assert os.path.exists(f"{ck}/_SUCCESS"), "retry committed the staging"

    # foreign content has no Spark output shape — still refused even
    # without a _SUCCESS marker
    ck2 = str(tmp_path / "foreign")
    os.makedirs(ck2)
    with open(f"{ck2}/notes.txt", "w") as f:
        f.write("someone's data")
    with pytest.raises(ValueError, match="non-empty"):
        curate_documents(
            spark, sf_smoke, substring_mask=True, checkpoint_dir=ck2
        )
    assert os.path.exists(f"{ck2}/notes.txt"), "foreign content untouched"

    # round-11 review fix: bare part-files WITHOUT the committer's
    # _temporary dir could be a committed dataset written by another
    # tool (or one whose _SUCCESS a lifecycle rule pruned) — refused,
    # only genuine mid-write wreckage (_temporary present) retries
    ck3 = str(tmp_path / "bare_parts")
    os.makedirs(ck3)
    with open(f"{ck3}/part-00000.parquet", "w") as f:
        f.write("committed data from another tool")
    with pytest.raises(ValueError, match="non-empty"):
        curate_documents(
            spark, sf_smoke, substring_mask=True, checkpoint_dir=ck3
        )
    assert os.path.exists(f"{ck3}/part-00000.parquet"), "data untouched"
