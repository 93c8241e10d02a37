"""CLI front end (reference O21/O22/O23): ``python -m ts_etl_spark <in> <out>``.

Reads latin1 bytes from stdin, writes UTF-8 data to stdout; all diagnostics
go to stderr (reference src/index.ts:79,85,93-94 — stdout is exclusively
data). Input/output types are validated case-insensitively against the
registries; invalid args exit 1 (index.ts:22-40,134-137).

stdin is not a Spark source, so the blob is materialized to a temp file
first (SURVEY.md §7.4 hard part 3) — inherent to the single-pipe contract,
irrelevant to the file/parquet scale path.
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
from contextlib import contextmanager

from ts_etl_spark import sinks, sources
from ts_etl_spark.session import owned_session
from ts_etl_spark.sources.csv_source import validate_csv_text


def debug_log(*args) -> None:
    """DEBUG-gated stderr tracing (reference index.ts:11-19)."""
    if os.environ.get("DEBUG"):
        print("[DEBUG]", *args, file=sys.stderr)


def run_conversion(
    input_type: str,
    output_type: str,
    in_bytes: bytes,
    out,
    csv_delimiter: str = ",",
    spark=None,
) -> None:
    """Programmatic engine API (reference runConversion, index.ts:42-103):
    the stdin blob goes to a temp file, which ``run_conversion_path``
    converts."""
    tmp = tempfile.NamedTemporaryFile(
        mode="wb", suffix=f".{input_type.lower()}", delete=False
    )
    try:
        tmp.write(in_bytes)
        tmp.close()
        debug_log(f"materialized stdin -> {tmp.name}")
        run_conversion_path(
            input_type, output_type, tmp.name, out, csv_delimiter, spark
        )
    finally:
        os.unlink(tmp.name)


def run_conversion_path(
    input_type: str,
    output_type: str,
    in_path: str,
    out,
    csv_delimiter: str = ",",
    spark=None,
) -> None:
    """File-path conversion: Spark reads the file directly — no stdin blob,
    no temp-file hop, and the scan parallelizes over splits (the scale path;
    the stdin mode exists only for the reference's single-pipe contract).
    The CSV structural validation (reference csvParser.ts:55-57 hard error)
    still runs driver-side on the raw latin1 bytes."""
    input_type = input_type.lower()
    output_type = output_type.lower()
    if input_type not in sources.SOURCES:
        raise ValueError(f"Invalid input type: {input_type}")
    sink = sinks.create_sink(output_type)
    kwargs = {}
    if input_type == "csv":
        with open(in_path, "rb") as f:
            validate_csv_text(f.read().decode("latin1"), csv_delimiter)
        kwargs = {"delimiter": csv_delimiter}
    with owned_session(spark, "ts-etl-spark-cli") as spark:
        df = sources.create_source(input_type, spark, in_path, **kwargs)
        print(f"Starting conversion: {input_type} -> {output_type}", file=sys.stderr)
        sink(df, out)
        print("Conversion completed successfully.", file=sys.stderr)


def run_curate(
    sf_dir: str,
    out_dir: str,
    languages: list[str] | None = None,
    token_budget: int | None = None,
    jaccard: float | None = None,
    pack_tokens: int | None = None,
    clf_threshold: float | None = None,
    paragraph_dedup: str | None = None,
    blocklist: list[str] | None = None,
    blocklist_max_frac: float = 0.0,
    substring_mask: bool | tuple[int, int, int] | None = None,
    domain_cap_n: int | None = None,
    spark=None,
) -> dict[str, int]:
    """Run the corpus-curation pipeline over ``<sf_dir>/documents.parquet``
    and write survivors to ``out_dir`` partitioned by language. With
    ``pack_tokens``, survivors additionally carry training-bin assignments
    (``pack_group``/``bin_idx`` from ``operators.packing``) so the written
    corpus is trainer-ready. Returns the per-stage drop counts (also
    logged to stderr)."""
    from pyspark.sql import functions as F

    from ts_etl_spark.operators.dedup import JACCARD_THRESHOLD
    from ts_etl_spark.pipelines import curate_documents, write_curated

    caches: list = []
    with owned_session(spark, "ts-etl-spark-curate") as spark:
        try:
            out = curate_documents(
                spark,
                sf_dir,
                languages=languages,
                jaccard_threshold=jaccard if jaccard is not None else JACCARD_THRESHOLD,
                token_budget=token_budget,
                persisted=caches,
                clf_threshold=clf_threshold,
                paragraph_dedup=paragraph_dedup,
                blocklist=blocklist,
                blocklist_max_frac=blocklist_max_frac,
                substring_mask=substring_mask,
                domain_cap_n=domain_cap_n,
            ).persist()
            caches.append(out)
            # counts from the PERSISTED pre-join frame: the pack join below is
            # 1:1 and cannot change drop_reason counts, while counting through
            # it would execute the whole unpersisted packing stage once for
            # the collect and again for the write
            counts = {
                (r["drop_reason"] or "kept"): r["count"]
                for r in out.groupBy("drop_reason").count().collect()
            }
            if pack_tokens is not None:
                from ts_etl_spark.operators.packing import pack_sequences

                bins = pack_sequences(
                    out.filter(F.col("kept")).select("doc_id", "n_bpe_tokens"),
                    pack_tokens,
                    tokens_col="n_bpe_tokens",
                ).select("doc_id", "pack_group", "bin_idx")
                out = out.join(bins, "doc_id", "left")
            for stage, n in sorted(counts.items()):
                print(f"curate: {stage} = {n}", file=sys.stderr)
            write_curated(out, out_dir)
            return counts
        finally:
            # release in finally: a failed write must not leak corpus-scale
            # caches into a long-lived session
            for frame in caches:
                frame.unpersist()


def _curate_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="ts-etl-spark curate",
        description="Curate the documents table into a training corpus.",
    )
    parser.add_argument("sf_dir", help="input dir containing documents.parquet")
    parser.add_argument("out_dir", help="output dir for curated parquet")
    parser.add_argument(
        "--languages", help="comma-separated predicted-language allowlist"
    )
    parser.add_argument("--budget", type=int, help="greedy BPE-token budget")
    parser.add_argument(
        "--jaccard", type=float, help="near-dup removal threshold (default 0.4)"
    )
    parser.add_argument(
        "--pack-tokens",
        type=int,
        help="also assign survivors to fixed-token training bins of this size",
    )
    parser.add_argument(
        "--clf-threshold",
        type=float,
        help="model-based quality gate: drop documents whose hashing-trick "
        "linear score falls below this (operators/classifier.py)",
    )
    parser.add_argument(
        "--paragraph-dedup",
        choices=["df", "keep_first", "within_doc"],
        help="strip repeated paragraphs across the corpus before scoring "
        "(operators/paragraphs.py)",
    )
    parser.add_argument(
        "--blocklist",
        help="comma-separated whole-token blocklist; documents over "
        "--blocklist-max-frac hit fraction drop with reason 'blocklist'",
    )
    parser.add_argument(
        "--blocklist-max-frac", type=float, default=0.0,
        help="max tolerated blocklist hit fraction (default 0.0: any hit)",
    )
    parser.add_argument(
        "--substring-mask",
        nargs="?",
        const="default",
        metavar="K,W,MIN_DOCS",
        help="strip cross-document repeated spans before scoring "
        "(operators/substrings.py winnowing); optional K,W,MIN_DOCS "
        "override the defaults",
    )
    parser.add_argument(
        "--domain-cap",
        type=int,
        help="keep at most N documents per source (longest first); excess "
        "drops with reason 'domain_cap'",
    )
    return parser


def _curate(args: argparse.Namespace) -> None:
    run_curate(
        args.sf_dir,
        args.out_dir,
        languages=args.languages.split(",") if args.languages else None,
        token_budget=args.budget,
        jaccard=args.jaccard,
        pack_tokens=args.pack_tokens,
        clf_threshold=args.clf_threshold,
        paragraph_dedup=args.paragraph_dedup,
        blocklist=(
            [t.strip() for t in args.blocklist.split(",") if t.strip()]
            if args.blocklist
            else None
        ),
        blocklist_max_frac=args.blocklist_max_frac,
        substring_mask=(
            True
            if args.substring_mask == "default"
            else tuple(int(x) for x in args.substring_mask.split(","))
            if args.substring_mask
            else None
        ),
        domain_cap_n=args.domain_cap,
    )


def run_pack(
    in_dir: str,
    out_dir: str,
    max_tokens: int,
    tokens_col: str = "n_bpe_tokens",
    spark=None,
) -> dict[str, int]:
    """Assign every document of a curated parquet corpus to a fixed-token
    training bin (``operators.packing``) and write the corpus back with
    ``pack_group``/``bin_idx`` columns. When ``tokens_col`` is absent the
    engine's BPE-ish token counter derives it from ``text``. Returns
    ``{"docs": ..., "bins": ...}`` (also logged to stderr)."""
    from pyspark.sql import functions as F

    from ts_etl_spark.operators.packing import pack_sequences

    with owned_session(spark, "ts-etl-spark-pack") as spark:
        df = spark.read.parquet(in_dir)
        if tokens_col not in df.columns:
            from ts_etl_spark.operators.textops import BPE_PAT

            df = df.withColumn(
                tokens_col, F.regexp_count(F.col("text"), F.lit(BPE_PAT))
            )
        bins = pack_sequences(
            df.select("doc_id", tokens_col), max_tokens, tokens_col=tokens_col
        ).select("doc_id", "pack_group", "bin_idx", "oversize")
        out = df.join(bins, "doc_id")
        out.write.mode("overwrite").parquet(out_dir)
        written = spark.read.parquet(out_dir)
        stats = written.agg(
            F.count("*").alias("docs"),
            F.count_distinct("pack_group", "bin_idx").alias("bins"),
        ).first()
        counts = {"docs": stats["docs"], "bins": stats["bins"]}
        print(f"pack: {counts['docs']} docs into {counts['bins']} bins", file=sys.stderr)
        return counts


def run_explain(
    name: str,
    sf_dir: str = "/root/testdata/sf0.001",
    mode: str = "formatted",
    out=None,
    spark=None,
) -> int:
    """Print the optimized physical plan of a registered query — the
    plan-audit loop (`.explain` and iterate) as a first-class CLI
    surface. ``name`` is any key of the engine's query registry; pass
    ``list`` to enumerate them.

    Caveat: NOT side-effect-free for every entry. A few queries
    materialize driver-side scalars while BUILDING their plan (e.g.
    ``quantiles_sketches`` / ``corpus_quality_signals`` run their heavy
    aggregates eagerly and the printed plan covers only the
    local-relation tail), and some persist intermediates; exactly the
    DataFrames persisted DURING plan construction are unpersisted before
    returning — the session's other caches are never touched."""
    from ts_etl_spark.operators import all_queries
    from ts_etl_spark.plans.audit import plan_str

    out = out if out is not None else sys.stdout
    registry = all_queries()
    if name == "list":
        for k in registry:
            print(k, file=out)
        return 0
    if name not in registry:
        print(
            f"Unknown query {name!r}; run `explain list` for the registry",
            file=sys.stderr,
        )
        return 1
    persisted: list = []
    with owned_session(spark, "ts-etl-spark-explain") as spark:
        try:
            with _track_persists(persisted):
                df = registry[name](spark, sf_dir)
            print(plan_str(df, mode), file=out)
            return 0
        finally:
            # plan CONSTRUCTION may persist intermediates (see caveat);
            # release exactly those — never the caller's own caches, and
            # never frames the construction memo retains for the application
            # lifetime (the memo would keep handing out unpersisted frames
            # and the shared subplan would silently recompute per consumer)
            from ts_etl_spark.execution import memoized_frame_ids

            keep = memoized_frame_ids()
            for pdf in persisted:
                if id(pdf) not in keep:
                    pdf.unpersist()


@contextmanager
def _track_persists(recorded: list):
    """Append every DataFrame persisted while the block runs to
    ``recorded``, so callers can release exactly the caches a
    query-construction side effect created — ``catalog.clearCache()``
    would also wipe the embedding application's own cached frames/tables.

    Patches ``persist``/``cache`` on the concrete (classic) DataFrame
    class for the duration; ``cache()`` does not route through
    ``persist()`` in PySpark, so both are wrapped. ``localCheckpoint``
    blocks (e.g. the component queries' Pregel rounds) are NOT tracked:
    they belong to frames that go out of scope when the explain returns,
    and the ContextCleaner releases them on GC.

    NOT safe under concurrent plan construction: the patch is global to
    the class, so persist() calls from a concurrent thread's job land in
    ``recorded`` and get released by this caller. run_explain is a
    single-threaded CLI/debug surface; keep it that way or scope the
    recording by thread."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    orig_persist, orig_cache = _CDF.persist, _CDF.cache

    def persist(self, *a, **kw):
        recorded.append(self)
        return orig_persist(self, *a, **kw)

    def cache(self):
        recorded.append(self)
        return orig_cache(self)

    _CDF.persist, _CDF.cache = persist, cache
    try:
        yield recorded
    finally:
        _CDF.persist, _CDF.cache = orig_persist, orig_cache


def _explain_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="ts-etl-spark explain",
        description="Show the optimized physical plan of a registered query.",
    )
    parser.add_argument("name", help="registry key, or 'list'")
    parser.add_argument(
        "--sf-dir", default="/root/testdata/sf0.001", help="table directory"
    )
    parser.add_argument(
        "--mode",
        default="formatted",
        choices=["simple", "extended", "formatted", "cost", "codegen"],
    )
    return parser


def _explain(args: argparse.Namespace) -> int:
    return run_explain(args.name, args.sf_dir, args.mode)


def run_shard(
    in_dir: str,
    out_dir: str,
    n_shards: int,
    keys: list[str],
    order: list[str] | None = None,
    seed: str = "shard",
    spark=None,
) -> dict[int, int]:
    """Lay a corpus out as deterministic training shards
    (``pipelines.shards.write_training_shards``): shard=<k> directories,
    one file each, reproducible membership and order. Returns the
    per-shard row-count manifest (also logged to stderr)."""
    from ts_etl_spark.pipelines.shards import write_training_shards

    with owned_session(spark, "ts-etl-spark-shard") as spark:
        df = spark.read.parquet(in_dir)
        manifest = write_training_shards(
            df, out_dir, n_shards, keys, order_cols=order, seed=seed
        )
        for k in sorted(manifest):
            print(f"shard: {k} = {manifest[k]} rows", file=sys.stderr)
        return manifest


def _shard_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="ts-etl-spark shard",
        description="Write a corpus as deterministic training shards.",
    )
    parser.add_argument("in_dir", help="input parquet corpus")
    parser.add_argument("out_dir", help="output shard directory")
    parser.add_argument("--n-shards", type=int, default=16)
    parser.add_argument(
        "--keys", default="doc_id",
        help="comma-separated identity columns for shard assignment",
    )
    parser.add_argument(
        "--order", help="comma-separated within-shard order columns "
        "(defaults to the keys)",
    )
    parser.add_argument("--seed", default="shard", help="hash seed")
    return parser


def _shard(args: argparse.Namespace) -> None:
    run_shard(
        args.in_dir,
        args.out_dir,
        args.n_shards,
        args.keys.split(","),
        order=args.order.split(",") if args.order else None,
        seed=args.seed,
    )


def _pack_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="ts-etl-spark pack",
        description="Pack a curated corpus into fixed-token training bins.",
    )
    parser.add_argument("in_dir", help="input parquet corpus (doc_id [+ token col])")
    parser.add_argument("out_dir", help="output parquet with bin assignments")
    parser.add_argument(
        "--max-tokens", type=int, default=2048, help="bin token budget"
    )
    parser.add_argument(
        "--tokens-col",
        default="n_bpe_tokens",
        help="token-count column (derived from text when absent)",
    )
    return parser


def _pack(args: argparse.Namespace) -> None:
    run_pack(args.in_dir, args.out_dir, args.max_tokens, args.tokens_col)


def run_chunk(
    in_dir: str,
    out_dir: str,
    chunk_chars: int = 2048,
    overlap: int = 256,
    spark=None,
) -> int:
    """Split every document of a parquet corpus into overlapping character
    spans (``operators.chunking``) and write the chunk table. Returns the
    chunk count."""
    from ts_etl_spark.operators.chunking import chunk_documents

    with owned_session(spark, "ts-etl-spark-chunk") as spark:
        df = spark.read.parquet(in_dir).select("doc_id", "text")
        chunk_documents(df, chunk_chars, overlap).write.mode(
            "overwrite"
        ).parquet(out_dir)
        n = spark.read.parquet(out_dir).count()
        print(f"chunk: {n} chunks", file=sys.stderr)
        return n


def _chunk_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="ts-etl-spark chunk",
        description="Split a corpus into overlapping character chunks.",
    )
    parser.add_argument("in_dir", help="input parquet corpus (doc_id, text)")
    parser.add_argument("out_dir", help="output parquet of chunks")
    parser.add_argument("--chars", type=int, default=2048, help="chunk size")
    parser.add_argument("--overlap", type=int, default=256, help="chunk overlap")
    return parser


def _chunk(args: argparse.Namespace) -> None:
    run_chunk(args.in_dir, args.out_dir, args.chars, args.overlap)


def run_split(
    in_dir: str,
    out_dir: str,
    weights: dict[str, float],
    seed: str = "split",
    spark=None,
) -> dict[str, int]:
    """Deterministically assign every document to a named split
    (``pipelines.sampling.assign_splits`` — growth-stable md5 intervals)
    and write the corpus partitioned by split. Returns per-split counts."""
    from ts_etl_spark.pipelines.sampling import assign_splits

    with owned_session(spark, "ts-etl-spark-split") as spark:
        df = spark.read.parquet(in_dir)
        out = assign_splits(df, weights, ["doc_id"], seed=seed)
        out.write.mode("overwrite").partitionBy("split").parquet(out_dir)
        counts = {
            r["split"]: r["count"]
            for r in spark.read.parquet(out_dir).groupBy("split").count().collect()
        }
        for name, n in sorted(counts.items()):
            print(f"split: {name} = {n}", file=sys.stderr)
        return counts


def _parse_weights(spec: str) -> dict[str, float]:
    weights: dict[str, float] = {}
    for part in spec.split(","):
        name, _, frac = part.partition("=")
        if not name or not frac:
            raise ValueError(f"bad weights spec {spec!r}; use name=frac,…")
        weights[name.strip()] = float(frac)
    return weights


def _split_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="ts-etl-spark split",
        description="Assign deterministic train/val/test splits.",
    )
    parser.add_argument("in_dir", help="input parquet corpus (doc_id, ...)")
    parser.add_argument("out_dir", help="output parquet partitioned by split")
    parser.add_argument(
        "--weights",
        default="train=0.8,val=0.1,test=0.1",
        help="comma-separated name=frac weights (normalized)",
    )
    parser.add_argument("--seed", default="split", help="hash seed")
    return parser


def _split(args: argparse.Namespace) -> None:
    run_split(args.in_dir, args.out_dir, _parse_weights(args.weights), args.seed)


def run_optimize(
    in_dir: str,
    out_dir: str,
    zorder: list[str] | None = None,
    target_file_bytes: int | None = None,
    equal_frequency: list[str] | None = None,
    spark=None,
) -> int:
    """Rewrite a parquet directory for scan efficiency (copy-on-write).
    Plain mode compacts to ~target-sized files; ``zorder`` additionally
    Morton-clusters the listed columns so footer min/max stats prune files
    on ANY of them (columns in ``equal_frequency`` bucket by quantile rank
    — the skewed-column mode). Returns the output file count."""
    from ts_etl_spark.pipelines.maintenance import (
        DEFAULT_TARGET_FILE_BYTES,
        compact_parquet,
    )

    target = target_file_bytes or DEFAULT_TARGET_FILE_BYTES
    with owned_session(spark, "ts-etl-spark-optimize") as spark:
        if zorder:
            from ts_etl_spark.pipelines.layout import cluster_parquet

            n = cluster_parquet(
                spark, in_dir, out_dir, zorder, target_file_bytes=target,
                equal_frequency=equal_frequency or (),
            )
            print(
                f"optimize: z-ordered by {','.join(zorder)} into {n} files",
                file=sys.stderr,
            )
        else:
            n = compact_parquet(
                spark, in_dir, out_dir, target_file_bytes=target
            )
            print(f"optimize: compacted into {n} files", file=sys.stderr)
        return n


def _optimize_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="ts-etl-spark optimize",
        description="Compact (or Z-order cluster) a parquet directory.",
    )
    parser.add_argument("in_dir", help="input parquet directory")
    parser.add_argument("out_dir", help="output parquet directory")
    parser.add_argument(
        "--zorder",
        help="comma-separated columns (1..4) to Morton-cluster the layout by",
    )
    parser.add_argument(
        "--zorder-eqfreq",
        help="subset of --zorder columns to bucket by quantile rank "
        "(equal-frequency — use for heavily skewed columns)",
    )
    parser.add_argument(
        "--target-mb",
        type=int,
        help="target output file size in MiB (default 128)",
    )
    return parser


def _optimize(args: argparse.Namespace) -> None:
    run_optimize(
        args.in_dir,
        args.out_dir,
        zorder=args.zorder.split(",") if args.zorder else None,
        target_file_bytes=(
            args.target_mb * 1024 * 1024 if args.target_mb else None
        ),
        equal_frequency=(
            args.zorder_eqfreq.split(",") if args.zorder_eqfreq else None
        ),
    )


def run_profile(path: str, out, spark=None) -> int:
    """Profile a parquet table (one aggregate pass: rows, nulls, approx
    distinct, min/max per column) and stream the long-format result to
    ``out`` as JSON lines. Returns the number of metric rows."""
    import json as _json

    from ts_etl_spark.pipelines.maintenance import profile_table

    with owned_session(spark, "ts-etl-spark-profile") as spark:
        n = 0
        for row in profile_table(spark.read.parquet(path)).toLocalIterator():
            out.write(_json.dumps(row.asDict()) + "\n")
            n += 1
        print(f"profile: {n} metric rows", file=sys.stderr)
        return n


def _profile_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="ts-etl-spark profile",
        description="One-pass column profile of a parquet table (JSON lines).",
    )
    parser.add_argument("path", help="parquet file or directory")
    return parser


def _profile(args: argparse.Namespace) -> None:
    run_profile(args.path, sys.stdout)


def run_sql(
    query: str, sf_dir: str, out, fmt: str = "jsonl", spark=None
) -> int:
    """Ad-hoc Spark SQL over the scale tables: registers every table under
    ``sf_dir`` as a view and streams the result to ``out`` as JSON lines or
    CSV. Rows are fetched with ``toLocalIterator`` (one partition resident
    at a time) — the result never has to fit in driver memory. Returns the
    row count."""
    from ts_etl_spark.sources.tables import register_views

    with owned_session(spark, "ts-etl-spark-sql") as spark:
        register_views(spark, sf_dir)
        df = spark.sql(query)
        n = 0
        if fmt == "jsonl":
            from pyspark.sql import functions as F

            it = df.select(
                F.to_json(F.struct(*df.columns)).alias("j")
            ).toLocalIterator()
            for row in it:
                out.write(row.j + "\n")
                n += 1
        elif fmt == "csv":
            import csv as _csv

            w = _csv.writer(out)
            w.writerow(df.columns)
            for row in df.toLocalIterator():
                w.writerow(row)
                n += 1
        else:
            raise ValueError(f"Invalid sql output format: {fmt}")
        print(f"sql: {n} rows", file=sys.stderr)
        return n


def _sql_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="ts-etl-spark sql",
        description="Run Spark SQL over the scale tables (registered as views).",
    )
    parser.add_argument("query", help="SQL text, or '-' to read from stdin")
    parser.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
        help="directory of <table>.parquet files (default $SPARK_GRAFT_SF_DIR)",
    )
    parser.add_argument(
        "--format", choices=("jsonl", "csv"), default="jsonl", help="output format"
    )
    return parser


def _sql(args: argparse.Namespace) -> None:
    query = sys.stdin.read() if args.query == "-" else args.query
    run_sql(query, args.sf_dir, sys.stdout, fmt=args.format)


def run_sem_train(
    docs_path: str,
    out_cents: str,
    k: int = 16,
    seed: int = 7,
    max_iter: int = 5,
    spark=None,
) -> int:
    """Train the semantic-gate coarse quantizer OFFLINE: read a
    (doc_id, text) parquet corpus, embed it (``embed_documents`` —
    hashing default; swap the seam in library use), k-means the vectors
    (``train_ivf_centroids``), and write the centroid table in the
    ``streaming.ingest.SEM_CENTS_SCHEMA`` layout that ``ingest
    --sem-index`` consumes. Returns the number of centroids written."""
    from ts_etl_spark.operators.embedding import embed_documents
    from ts_etl_spark.operators.similarity import (
        as_double,
        norm,
        train_ivf_centroids,
    )
    from pyspark.sql import functions as F

    with owned_session(spark, "ts-etl-spark-sem-train") as spark:
        docs = spark.read.parquet(docs_path).select("doc_id", "text")
        v = as_double(F.col("embedding"))
        vecs = (
            embed_documents(docs)
            .filter(F.col("embedding").isNotNull())
            .select(
                F.col("doc_id").alias("vec_id"),
                v.alias("v"),
                norm(v).alias("nrm"),
            )
        )
        cents = train_ivf_centroids(vecs, k=k, seed=seed, max_iter=max_iter)
        cents.write.mode("overwrite").parquet(out_cents)
        n = spark.read.parquet(out_cents).count()
        print(f"sem-train: wrote {n} centroids to {out_cents}", file=sys.stderr)
        return n


def _sem_train_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="ts-etl-spark sem-train",
        description="Train the semantic-gate quantizer from a document corpus.",
    )
    parser.add_argument("docs_path", help="(doc_id, text) parquet corpus")
    parser.add_argument("out_cents", help="centroid table output path")
    parser.add_argument("--k", type=int, default=16, help="number of centroids")
    parser.add_argument("--seed", type=int, default=7)
    parser.add_argument("--max-iter", type=int, default=5)
    return parser


def _sem_train(args: argparse.Namespace) -> None:
    run_sem_train(
        args.docs_path, args.out_cents, args.k, args.seed, args.max_iter
    )


def run_ingest(
    landing_dir: str,
    corpus_path: str,
    checkpoint: str,
    threshold: float | None = None,
    max_files: int | None = 1,
    stats_path: str | None = None,
    len_hdr_path: str | None = None,
    bm25_lexicon_path: str | None = None,
    drift_path: str | None = None,
    hh_path: str | None = None,
    sem_index_path: str | None = None,
    sem_cents_path: str | None = None,
    sem_threshold: float | None = None,
    win_index_path: str | None = None,
    dedup_index_path: str | None = None,
    compact_after: bool = False,
    lease_path: str | None = None,
    spark=None,
) -> dict[str, int]:
    """Drain the landing directory into the corpus through the full
    dedup-on-ingest stack (``streaming.ingest.run_streaming_ingest``) —
    fingerprint/MinHash incremental dedup, optional corpus-stats sketch,
    length-quantile HDR histogram (``--len-hdr``), PSI drift log,
    attempt heavy hitters, and (with ``sem_index_path`` +
    ``sem_cents_path``) the paraphrase-level semantic gate, and (with
    ``win_index_path``) the incremental substring gate, and (with
    ``dedup_index_path``) the materialized corpus-side dedup relations
    that keep per-batch dedup corpus-scan-free. With ``compact_after``,
    follow the drain with ``compact_ingest_state`` over the corpus and
    every configured index — the drain leaves one file set per
    micro-batch per table, and compacting right after (while this
    process still holds the single-writer role) keeps the NEXT drain's
    per-batch cost from paying the accumulated file-listing overhead.
    Returns {"corpus_docs": N} after the drain (also logged to
    stderr)."""
    from ts_etl_spark.operators.dedup import JACCARD_THRESHOLD
    from ts_etl_spark.streaming.ingest import IngestConfig, run_streaming_ingest

    with owned_session(spark, "ts-etl-spark-ingest") as spark:
        run_streaming_ingest(
            spark,
            landing_dir,
            corpus_path,
            checkpoint,
            IngestConfig(
                threshold=(
                    threshold if threshold is not None else JACCARD_THRESHOLD
                ),
                stats_path=stats_path,
                len_hdr_path=len_hdr_path,
                bm25_lexicon_path=bm25_lexicon_path,
                drift_path=drift_path,
                hh_path=hh_path,
                sem_index_path=sem_index_path,
                sem_cents_path=sem_cents_path,
                sem_threshold=sem_threshold,
                win_index_path=win_index_path,
                dedup_index_path=dedup_index_path,
                lease_path=lease_path,
            ),
            max_files,
        )
        if compact_after:
            from ts_etl_spark.streaming.ingest import compact_ingest_state

            try:
                compacted = compact_ingest_state(
                    spark,
                    corpus_path=corpus_path,
                    dedup_index_path=dedup_index_path,
                    win_index_path=win_index_path,
                    sem_index_path=sem_index_path,
                    bm25_lexicon_path=bm25_lexicon_path,
                    # the drain released its lease; re-take the same one
                    # so nothing else slips in between drain and compact
                    lease_path=lease_path,
                )
            except (RuntimeError, OSError) as exc:
                # the DRAIN already committed — a maintenance failure
                # (including a filesystem-refused rename, which raises
                # OSError) must be loud (the exit code stays nonzero)
                # but must never read as a failed ingest
                raise RuntimeError(
                    "the drain itself SUCCEEDED and the corpus is "
                    f"committed; the post-drain compaction failed: {exc}"
                ) from exc
            print(
                f"ingest: compacted {len(compacted)} state table(s) "
                "after the drain",
                file=sys.stderr,
            )
        n = spark.read.parquet(corpus_path).count()
        print(f"ingest: corpus now holds {n} documents", file=sys.stderr)
        return {"corpus_docs": n}


def _ingest_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="ts-etl-spark ingest",
        description="Stream a landing directory into a deduped corpus.",
    )
    parser.add_argument("landing_dir", help="parquet landing directory")
    parser.add_argument("corpus_path", help="corpus parquet path (appended)")
    parser.add_argument("checkpoint", help="streaming checkpoint location")
    parser.add_argument(
        "--threshold", type=float, help="near-dup Jaccard threshold (default 0.4)"
    )
    parser.add_argument(
        "--max-files", type=int, default=1,
        help="files per micro-batch (default 1; 0 = unbounded)",
    )
    parser.add_argument("--stats", help="corpus-stats sketch path")
    parser.add_argument(
        "--len-hdr",
        help="corpus length-histogram path (HDR quantile telemetry)",
    )
    parser.add_argument(
        "--bm25-lexicon",
        help="incremental BM25 lexicon path (per-batch postings + term "
        "df + totals; bm25_topk_from_index answers queries from it)",
    )
    parser.add_argument("--drift", help="per-batch PSI drift log path")
    parser.add_argument("--hh", help="attempt heavy-hitter register path")
    parser.add_argument(
        "--sem-index",
        help="semantic-gate embedding index path (requires --sem-cents)",
    )
    parser.add_argument(
        "--sem-cents",
        help="trained centroid table (see the sem-train subcommand)",
    )
    parser.add_argument(
        "--sem-threshold", type=float,
        help="semantic drop threshold — REQUIRED with --sem-index; "
        "calibrate per embedder (~0.8 for the default hashed-BoW one: "
        "its unrelated-doc cosine noise floor is ~1/sqrt(dim) plus any "
        "shared-boilerplate offset, so low generic defaults collapse "
        "the corpus)",
    )
    parser.add_argument(
        "--win-index",
        help="substring-gate winnow-fingerprint index path",
    )
    parser.add_argument(
        "--dedup-index",
        help="materialized dedup-index base path (fp/bands/sets tables)",
    )
    parser.add_argument(
        "--compact-after", action="store_true",
        help="compact corpus + indexes after the drain (attested, "
        "crash-safe; see the compact-state subcommand)",
    )
    parser.add_argument(
        "--lease",
        help="single-writer lease file: refuse to run while another "
        "ingest/maintenance pass holds a fresh lease on this state",
    )
    return parser


def _ingest(args: argparse.Namespace) -> None:
    run_ingest(
        args.landing_dir,
        args.corpus_path,
        args.checkpoint,
        threshold=args.threshold,
        max_files=args.max_files if args.max_files != 0 else None,
        stats_path=args.stats,
        len_hdr_path=args.len_hdr,
        bm25_lexicon_path=args.bm25_lexicon,
        drift_path=args.drift,
        hh_path=args.hh,
        sem_index_path=args.sem_index,
        sem_cents_path=args.sem_cents,
        sem_threshold=args.sem_threshold,
        win_index_path=args.win_index,
        dedup_index_path=args.dedup_index,
        compact_after=args.compact_after,
        lease_path=args.lease,
    )


def run_seen_admit(
    dedup_index_path: str, ids: list[int], spark=None
) -> int:
    """Admit known-attempted doc_ids into a dedup index's seen table —
    the recovery path for a stream wedged on a legal re-delivery of an
    id that was dropped before the index existed (see
    ``streaming.ingest.admit_seen_ids``). Returns the appended count
    (also logged to stderr)."""
    from ts_etl_spark.streaming.ingest import admit_seen_ids

    with owned_session(spark, "ts-etl-spark-seen-admit") as spark:
        n = admit_seen_ids(spark, dedup_index_path, ids)
        print(
            f"seen-admit: appended {n} of {len(ids)} ids to "
            f"{dedup_index_path}/seen",
            file=sys.stderr,
        )
        return n


def _seen_admit_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="ts-etl-spark seen-admit",
        description=(
            "Unwedge an ingest stream: record doc_ids as previously "
            "attempted in a dedup index's seen table."
        ),
    )
    parser.add_argument("dedup_index_path", help="dedup-index base path")
    parser.add_argument(
        "ids", nargs="+", type=int,
        help="doc_ids known to have been attempted before the index existed",
    )
    return parser


def _seen_admit(args: argparse.Namespace) -> None:
    run_seen_admit(args.dedup_index_path, args.ids)


def run_compact_state(
    corpus_path: str | None = None,
    dedup_index_path: str | None = None,
    win_index_path: str | None = None,
    sem_index_path: str | None = None,
    bm25_lexicon_path: str | None = None,
    target_mb: int | None = None,
    drift_path: str | None = None,
    hh_path: str | None = None,
    telemetry_horizon: int | None = None,
    lease_path: str | None = None,
    auto_rebuild_bm25: bool = False,
    ann_index_path: str | None = None,
    auto_rebuild_ann: bool = False,
    spark=None,
) -> dict[str, int]:
    """Compact an ingest deployment's append-accumulated state tables
    (corpus + every configured index) under the attested manifest-commit
    swap — the between-drains maintenance pass that keeps per-batch cost
    from degrading with BATCH COUNT (small-files pathology) — and, with
    ``telemetry_horizon``, bound the per-batch telemetry paths too
    (drift-log prune + heavy-hitter rollup; the horizon must exceed the
    stream's maximum replay depth — see ``prune_ingest_telemetry``).
    Returns {table_dir: output_file_count} for compacted tables plus
    {telemetry_path: batch_dirs_removed} (also logged to stderr).

    With both ``corpus_path`` and ``bm25_lexicon_path`` given, the pass
    probes the lexicon's ghost-batch invariant (lexicon doc count ==
    corpus row count); on drift it raises — or, with
    ``auto_rebuild_bm25`` (which requires ``lease_path``), re-derives
    the lexicon from the corpus UNDER THE SAME HELD LEASE (see
    ``compact_ingest_state`` — re-acquiring after release would let a
    drain slip between probe and rebuild)."""
    from ts_etl_spark.streaming.ingest import (
        compact_ingest_state,
        prune_ingest_telemetry,
    )

    with owned_session(spark, "ts-etl-spark-compact-state") as spark:
        out = compact_ingest_state(
            spark,
            corpus_path=corpus_path,
            dedup_index_path=dedup_index_path,
            win_index_path=win_index_path,
            sem_index_path=sem_index_path,
            bm25_lexicon_path=bm25_lexicon_path,
            target_file_bytes=(
                target_mb * 1024 * 1024 if target_mb else None
            ),
            lease_path=lease_path,
            auto_rebuild_bm25=auto_rebuild_bm25,
            ann_index_path=ann_index_path,
            auto_rebuild_ann=auto_rebuild_ann,
        )
        for d, n in out.items():
            if n == -1:  # the rebuild marker (see compact_ingest_state)
                print(
                    f"compact-state: index drift detected — "
                    f"{d} rebuilt from the corpus",
                    file=sys.stderr,
                )
            else:
                print(f"compact-state: {d} -> {n} file(s)", file=sys.stderr)
        if telemetry_horizon is not None:
            pruned = prune_ingest_telemetry(
                spark,
                drift_path=drift_path,
                hh_path=hh_path,
                horizon=telemetry_horizon,
                lease_path=lease_path,
            )
            for d, n in pruned.items():
                print(
                    f"compact-state: {d} -> {n} telemetry batch dir(s) "
                    "pruned/rolled up",
                    file=sys.stderr,
                )
            out.update(pruned)
        if not out:
            print("compact-state: no state tables found", file=sys.stderr)
        return out


def _compact_state_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="ts-etl-spark compact-state",
        description=(
            "Compact ingest state (corpus + indexes) in place, attested "
            "and crash-safe. Run between drains."
        ),
    )
    parser.add_argument("--corpus", help="corpus parquet path")
    parser.add_argument("--dedup-index", help="dedup-index base path")
    parser.add_argument("--win-index", help="substring-gate index path")
    parser.add_argument("--sem-index", help="semantic-gate index path")
    parser.add_argument(
        "--bm25-lexicon", help="incremental BM25 lexicon base path"
    )
    parser.add_argument(
        "--target-mb", type=int, help="target output file size in MiB"
    )
    parser.add_argument(
        "--drift-path", help="drift-log path (telemetry retention)"
    )
    parser.add_argument(
        "--hh-path", help="heavy-hitter register path (telemetry retention)"
    )
    parser.add_argument(
        "--telemetry-horizon", type=int,
        help="prune drift batches and roll up heavy-hitter batches more "
        "than this many batch ids behind the newest (must exceed the "
        "stream's maximum replay depth)",
    )
    parser.add_argument(
        "--lease",
        help="single-writer lease file shared with the deployment's "
        "ingest runs",
    )
    parser.add_argument(
        "--auto-rebuild-bm25",
        action="store_true",
        help="when the lexicon/corpus ghost-batch probe detects drift "
        "(requires --corpus, --bm25-lexicon AND --lease: an unleased "
        "rebuild racing a live drain can drop its in-flight batch), "
        "re-derive the lexicon from the corpus instead of failing",
    )
    parser.add_argument(
        "--ann-index", help="persisted ANN serving index base path"
    )
    parser.add_argument(
        "--auto-rebuild-ann",
        action="store_true",
        help="when the ANN coverage probe detects drift (requires "
        "--corpus, --ann-index AND --lease), re-derive the serving "
        "index from the corpus instead of failing",
    )
    return parser


def _compact_state(args: argparse.Namespace) -> int | None:
    if not (
        args.corpus or args.dedup_index or args.win_index or args.sem_index
        or args.bm25_lexicon or args.ann_index
        or (args.telemetry_horizon and (args.drift_path or args.hh_path))
    ):
        print("compact-state: give at least one state path", file=sys.stderr)
        return 1
    if args.auto_rebuild_bm25 and not (
        args.corpus and args.bm25_lexicon and args.lease
    ):
        print(
            "compact-state: --auto-rebuild-bm25 needs --corpus, "
            "--bm25-lexicon and --lease",
            file=sys.stderr,
        )
        return 1
    if args.auto_rebuild_ann and not (
        args.corpus and args.ann_index and args.lease
    ):
        print(
            "compact-state: --auto-rebuild-ann needs --corpus, "
            "--ann-index and --lease",
            file=sys.stderr,
        )
        return 1
    run_compact_state(
        corpus_path=args.corpus,
        dedup_index_path=args.dedup_index,
        win_index_path=args.win_index,
        sem_index_path=args.sem_index,
        bm25_lexicon_path=args.bm25_lexicon,
        target_mb=args.target_mb,
        drift_path=args.drift_path,
        hh_path=args.hh_path,
        telemetry_horizon=args.telemetry_horizon,
        lease_path=args.lease,
        auto_rebuild_bm25=args.auto_rebuild_bm25,
        ann_index_path=args.ann_index,
        auto_rebuild_ann=args.auto_rebuild_ann,
    )


def _with_ingest_lease(spark, lease_path: str | None, fn):
    """Run ``fn()`` under the deployment's single-writer lease (no-op
    when ``lease_path`` is None) — the one acquire/try/finally/release
    shape every maintenance subcommand shares. A daemon HEARTBEAT
    thread refreshes the held lease at TTL/3 while ``fn`` runs: a
    rebuild is one long Spark job with no natural per-table refresh
    point (unlike ``compact_ingest_state``'s loop), so without the
    heartbeat any run longer than the TTL became stealable mid-delete —
    the exact window the lease exists to close. The refresh writes only
    OUR OWN record (acquire refreshes, never contends once held), and
    the thread is joined before release so it cannot resurrect a
    released lease."""
    import threading

    from ts_etl_spark.streaming.ingest import (
        INGEST_LEASE_TTL_S,
        IngestLeaseError,
        acquire_ingest_lease,
        release_ingest_lease,
    )

    if lease_path is None:
        return fn()
    acquire_ingest_lease(spark, lease_path)
    done = threading.Event()

    def _beat():
        while not done.wait(INGEST_LEASE_TTL_S / 3.0):
            try:
                acquire_ingest_lease(spark, lease_path)
            except IngestLeaseError:
                # lease lost to a TTL steal anyway (e.g. the process was
                # suspended past the TTL): stop beating — the release
                # below is owner-checked, so the new holder is safe
                return
            except Exception as exc:  # noqa: BLE001 — keep beating
                # a transient FS/JVM hiccup must not silently KILL the
                # heartbeat (that would re-open the stealable window
                # this thread exists to close) — log and retry next tick
                print(
                    f"ingest-lease-heartbeat: refresh failed ({exc}); "
                    "retrying",
                    file=sys.stderr,
                )

    beat = threading.Thread(target=_beat, name="ingest-lease-heartbeat", daemon=True)
    beat.start()
    try:
        return fn()
    finally:
        done.set()
        beat.join()
        release_ingest_lease(spark, lease_path)


def run_bm25_rebuild(
    corpus_path: str,
    lexicon_path: str,
    lease_path: str | None = None,
    spark=None,
) -> None:
    """Drop and re-derive a BM25 lexicon from the stored corpus — the
    recovery path for a ghost batch, a restarted batch-id sequence, or
    a pre-postings layout (see ``streaming.ingest
    .rebuild_bm25_lexicon``). ``lease_path``: the deployment's
    single-writer lease — a rebuild racing a live drain could lose or
    double-fold a batch (the delete-then-refold window breaks the
    replay/out-of-order contract), so point this at the same lease file
    the ingests use; acquired for the rebuild, released after."""
    from ts_etl_spark.streaming.ingest import rebuild_bm25_lexicon

    with owned_session(spark, "ts-etl-spark-bm25-rebuild") as spark:
        _with_ingest_lease(
            spark,
            lease_path,
            lambda: rebuild_bm25_lexicon(spark, corpus_path, lexicon_path),
        )
        print(
            f"bm25-rebuild: lexicon at {lexicon_path} re-derived from "
            f"{corpus_path}",
            file=sys.stderr,
        )


def _bm25_rebuild_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="ts-etl-spark bm25-rebuild",
        description=(
            "Re-derive an incremental BM25 lexicon from the stored "
            "corpus (recovery for ghost batches / restarted batch ids; "
            "upgrade path for pre-postings lexicons)."
        ),
    )
    parser.add_argument("corpus_path", help="corpus parquet path")
    parser.add_argument("lexicon_path", help="lexicon base path")
    parser.add_argument(
        "--lease",
        help="single-writer lease file shared with the deployment's "
        "ingest runs (a rebuild racing a live drain can lose or "
        "double-fold a batch)",
    )
    return parser


def _bm25_rebuild(args: argparse.Namespace) -> None:
    run_bm25_rebuild(args.corpus_path, args.lexicon_path, args.lease)


def run_ann_rebuild(
    corpus_path: str,
    index_path: str,
    lease_path: str | None = None,
    spark=None,
) -> None:
    """Drop and re-derive the persisted ANN serving index from the
    stored corpus — the recovery path for a ghost batch or a restarted
    batch-id sequence, and the RETRAIN path when qdrift flags codebook
    staleness (a fresh model generation trains on the current corpus
    and every vector re-encodes against it; see
    ``streaming.ann_index.rebuild_ann_index``). Same single-writer
    lease contract as ``run_bm25_rebuild``."""
    from ts_etl_spark.streaming.ann_index import rebuild_ann_index

    with owned_session(spark, "ts-etl-spark-ann-rebuild") as spark:
        _with_ingest_lease(
            spark,
            lease_path,
            lambda: rebuild_ann_index(spark, corpus_path, index_path),
        )
        print(
            f"ann-rebuild: serving index at {index_path} re-derived "
            f"from {corpus_path}",
            file=sys.stderr,
        )


def _ann_rebuild_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="ts-etl-spark ann-rebuild",
        description=(
            "Re-derive the persisted ANN serving index from the stored "
            "corpus (recovery for ghost batches / restarted batch ids; "
            "the retrain path when qdrift flags codebook staleness)."
        ),
    )
    parser.add_argument("corpus_path", help="corpus parquet path")
    parser.add_argument("index_path", help="serving index base path")
    parser.add_argument(
        "--lease",
        help="single-writer lease file shared with the deployment's "
        "ingest runs (a rebuild racing a live drain can lose or "
        "double-fold a batch)",
    )
    return parser


def _ann_rebuild(args: argparse.Namespace) -> None:
    run_ann_rebuild(args.corpus_path, args.index_path, args.lease)


def run_len_hdr_rebuild(
    corpus_path: str,
    hdr_path: str,
    lease_path: str | None = None,
    spark=None,
) -> None:
    """Drop and re-derive a corpus-length HDR histogram from the stored
    corpus — the remedy for a restarted batch-id sequence and the
    upgrade path for a histogram adopted before the bootstrap existed
    (see ``streaming.ingest.rebuild_length_histogram``). Same lease
    contract as ``run_bm25_rebuild``."""
    from ts_etl_spark.streaming.ingest import rebuild_length_histogram

    with owned_session(spark, "ts-etl-spark-len-hdr-rebuild") as spark:
        _with_ingest_lease(
            spark,
            lease_path,
            lambda: rebuild_length_histogram(spark, corpus_path, hdr_path),
        )
        print(
            f"len-hdr-rebuild: histogram at {hdr_path} re-derived from "
            f"{corpus_path}",
            file=sys.stderr,
        )


def _len_hdr_rebuild_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="ts-etl-spark len-hdr-rebuild",
        description=(
            "Re-derive the corpus-length HDR histogram from the stored "
            "corpus (recovery for restarted batch ids; upgrade for "
            "histograms adopted before the bootstrap existed)."
        ),
    )
    parser.add_argument("corpus_path", help="corpus parquet path")
    parser.add_argument("hdr_path", help="length-histogram state path")
    parser.add_argument(
        "--lease",
        help="single-writer lease file shared with the deployment's "
        "ingest runs",
    )
    return parser


def _len_hdr_rebuild(args: argparse.Namespace) -> None:
    run_len_hdr_rebuild(args.corpus_path, args.hdr_path, args.lease)


#: PSI acceptance band for the drift report — the standard population-
#: stability banding (Siddiqi, "Credit Risk Scorecards": < 0.1 stable,
#: 0.1-0.25 moderate, > 0.25 significant shift). The per-batch PSI log
#: stores raw values; the report applies the band at READ time so the
#: threshold can evolve without rewriting telemetry.
PSI_FLAG_THRESHOLD = 0.25


def run_drift_report(
    drift_path: str | None = None,
    hh_path: str | None = None,
    last: int | None = None,
    psi_threshold: float = PSI_FLAG_THRESHOLD,
    out=None,
    spark=None,
    ann_index_path: str | None = None,
) -> dict:
    """Read the ingest telemetry the monitors write: the per-batch PSI
    drift log, its ``_lenq`` length-quantile sibling, the attempt
    heavy-hitter registers, and (round 15) the ANN serving index's
    quantization-drift rows — and render one line per (table, batch)
    plus a summary. Returns a structured dict (``psi``/``lenq``/``hh``/
    ``ann`` per-batch maps + the ``flagged`` list) so callers can act
    on it; the CLI wrapper exits 1 on any flagged batch under
    ``--fail-on-flagged``.

    Read shapes (round 15 — ONE job per table, was one per batch dir):
    each table's committed batch dirs are read in a single pass, the
    batch id recovered from the ``batch=<tag>`` directory name by
    partition discovery — thousands of retained batches used to mean
    thousands of driver-side jobs, now they are path lists in one scan.
    Every table is bounded by batches × buckets/registers
    (telemetry-sized, never corpus-sized); only COMMITTED batch dirs
    are read (``_SUCCESS`` — torn writes are the stream's to replay);
    the heavy-hitter read rolls a crashed retention pass forward first
    (``recover_hh_rollup`` — the documented reader discipline, so a
    half-committed rollup is never double-counted) and reports per
    batch the exact attempt count ``sum(c where d = 0)`` (each attempt
    increments exactly one slot per register row). ``last`` bounds the
    report to the newest N batch ids per table."""
    from pyspark.sql import functions as F

    from ts_etl_spark.fs import path_exists
    from ts_etl_spark.streaming.ingest import (
        CM_SCHEMA,
        LEN_DRIFT_SCHEMA,
        committed_batch_dirs,
        length_drift_path,
        recover_hh_rollup,
    )

    if last is not None and last < 1:
        # nums[-0:] would be EVERYTHING and a negative slice drops the
        # oldest instead of bounding to the newest — refuse both
        raise ValueError(f"drift-report: --last must be >= 1 (got {last})")
    out = sys.stdout if out is None else out
    report: dict = {"psi": {}, "lenq": {}, "hh": {}, "ann": {}, "flagged": []}

    def _bid(tag: str) -> int | str:
        # negative ids are real batch tags (the ANN bootstrap folds
        # under batch=-1), so parse any integer — "-1".isdigit() is
        # False and a str key would poison sorted(report[...]) with
        # int/str comparisons (review finding, round 15)
        try:
            return int(tag)
        except ValueError:
            return tag

    def _order(b) -> tuple:
        # non-numeric tags (the rollup) first, numeric ascending — the
        # committed_batch_dirs listing order
        return (1, b, "") if isinstance(b, int) else (0, 0, b)

    def _read_batches(base: str, schema: str):
        """ONE read over every committed ``batch=<tag>`` dir of
        ``base`` (bounded by ``last``); partition discovery against
        ``basePath`` supplies the tag as a string ``batch`` column.
        None when nothing is committed."""
        found = committed_batch_dirs(spark, base)
        if last is not None:
            # numeric includes negative ids (the ANN bootstrap's
            # batch=-1) — same parse as _bid, so --last can bound it
            nums = [b for b in found if isinstance(_bid(b[0]), int)]
            keep = {t for t, _ in nums[-last:]}
            found = [
                b
                for b in found
                if not isinstance(_bid(b[0]), int) or b[0] in keep
            ]
        if not found:
            return None
        return (
            spark.read.option("basePath", base)
            .schema(schema + ", batch STRING")
            .parquet(*[p for _, p in found])
        )

    with owned_session(spark, "ts-etl-spark-drift-report") as spark:
        if drift_path is not None:
            df = _read_batches(
                drift_path,
                "bucket INT, share_base DOUBLE, share_cur DOUBLE, "
                "psi_term DOUBLE",
            )
            got = (
                []
                if df is None
                else df.filter(F.col("bucket") == -1)
                .select("batch", "psi_term")
                .collect()
            )
            for r in sorted(got, key=lambda r: _order(_bid(r["batch"]))):
                bid = _bid(r["batch"])
                psi = float(r["psi_term"]) if r["psi_term"] is not None else 0.0
                flagged = psi > psi_threshold
                report["psi"][bid] = (psi, flagged)
                if flagged:
                    report["flagged"].append(("psi", bid))
                print(
                    f"psi batch={bid} psi={psi:.4f} "
                    f"{'FLAGGED' if flagged else 'ok'}",
                    file=out,
                )
            ldf = _read_batches(
                length_drift_path(drift_path), LEN_DRIFT_SCHEMA
            )
            lrows = [] if ldf is None else ldf.collect()
            by_batch: dict = {}
            for r in lrows:
                by_batch.setdefault(_bid(r["batch"]), []).append(r)
            for bid in sorted(by_batch, key=_order):
                rows = sorted(by_batch[bid], key=lambda r: r.phi)
                report["lenq"][bid] = [
                    (r.phi, r.corpus_len, r.batch_len, r.ratio, r.flagged)
                    for r in rows
                ]
                if any(r.flagged for r in rows):
                    # ONE signal per (table, batch) — per-row appends
                    # duplicated the tuple when both quantiles flagged
                    report["flagged"].append(("lenq", bid))
                for r in rows:
                    print(
                        f"lenq batch={bid} phi={r.phi:g} "
                        f"corpus={r.corpus_len} batch_len={r.batch_len} "
                        f"ratio={r.ratio:.3f} "
                        f"{'FLAGGED' if r.flagged else 'ok'}",
                        file=out,
                    )
        if hh_path is not None and path_exists(spark, hh_path):
            recover_hh_rollup(spark, hh_path)
            hdf = _read_batches(hh_path, CM_SCHEMA)
            hrows = (
                []
                if hdf is None
                else hdf.filter(F.col("d") == 0)
                .groupBy("batch")
                .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("n"))
                .collect()
            )
            for r in sorted(hrows, key=lambda r: _order(_bid(r["batch"]))):
                bid = _bid(r["batch"])
                report["hh"][bid] = int(r["n"])
                print(f"hh batch={bid} attempts={int(r['n'])}", file=out)
        if ann_index_path is not None:
            from ts_etl_spark.streaming.ann_index import (
                ANN_QDRIFT_SCHEMA,
                ann_index_paths,
            )

            qdrift = ann_index_paths(ann_index_path)["qdrift"]
            if path_exists(spark, qdrift):
                adf = _read_batches(qdrift, ANN_QDRIFT_SCHEMA)
                arows = [] if adf is None else adf.collect()
                for r in sorted(
                    arows, key=lambda r: _order(_bid(r["batch"]))
                ):
                    bid = _bid(r["batch"])
                    report["ann"][bid] = (
                        int(r["gen"]),
                        int(r["n_vecs"]),
                        float(r["mean_rel_err"]),
                        bool(r["flagged"]),
                    )
                    if r["flagged"]:
                        report["flagged"].append(("ann", bid))
                    print(
                        f"ann batch={bid} gen={int(r['gen'])} "
                        f"n_vecs={int(r['n_vecs'])} "
                        f"mean_rel_err={float(r['mean_rel_err']):.4f} "
                        f"{'FLAGGED' if r['flagged'] else 'ok'}",
                        file=out,
                    )
        n_flagged = len(report["flagged"])
        print(
            f"drift-report: {n_flagged} flagged signal(s) across "
            f"{len(report['psi'])} psi / {len(report['lenq'])} lenq / "
            f"{len(report['hh'])} hh / {len(report['ann'])} ann "
            "batch dirs",
            file=out,
        )
        return report


def _drift_report_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="ts-etl-spark drift-report",
        description=(
            "Report the ingest drift telemetry per batch: PSI drift "
            "log, length-quantile log, attempt heavy-hitter registers."
        ),
    )
    parser.add_argument("--drift", help="per-batch PSI drift log path")
    parser.add_argument(
        "--hh", help="attempt heavy-hitter register path"
    )
    parser.add_argument(
        "--ann",
        help="persisted ANN serving index base path (reports its "
        "per-batch quantization-drift rows — codebook staleness)",
    )
    parser.add_argument(
        "--last", type=int, help="only the newest N batch ids per table"
    )
    parser.add_argument(
        "--psi-threshold",
        type=float,
        default=PSI_FLAG_THRESHOLD,
        help="flag batches whose total PSI exceeds this "
        f"(default {PSI_FLAG_THRESHOLD})",
    )
    parser.add_argument(
        "--fail-on-flagged",
        action="store_true",
        help="exit 1 when any batch is flagged (for cron/CI wiring)",
    )
    return parser


def _drift_report(args: argparse.Namespace) -> int | None:
    if not (args.drift or args.hh or args.ann):
        print(
            "drift-report: give --drift, --hh and/or --ann",
            file=sys.stderr,
        )
        return 1
    report = run_drift_report(
        drift_path=args.drift,
        hh_path=args.hh,
        last=args.last,
        psi_threshold=args.psi_threshold,
        ann_index_path=args.ann,
    )
    if args.fail_on_flagged and report["flagged"]:
        return 1


def _conversion_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="ts-etl-spark",
        description="Convert CSV/PRN on stdin to JSON/HTML on stdout.",
    )
    parser.add_argument("input_type", help="input format: csv | prn")
    parser.add_argument("output_type", help="output format: json | html")
    parser.add_argument(
        "input_path",
        nargs="?",
        help="optional input file; when omitted, latin1 bytes are read "
        "from stdin (the reference's pipe contract)",
    )
    parser.add_argument("-d", "--delimiter", default=",", help="CSV delimiter")
    return parser


def _conversion(args: argparse.Namespace) -> int | None:
    if args.input_type.lower() not in sources.SOURCES:
        print(f"Invalid input type: {args.input_type}", file=sys.stderr)
        return 1
    if args.output_type.lower() not in sinks.SINKS:
        print(f"Invalid output type: {args.output_type}", file=sys.stderr)
        return 1
    if args.input_path is not None:
        run_conversion_path(
            args.input_type,
            args.output_type,
            args.input_path,
            sys.stdout,
            csv_delimiter=args.delimiter,
        )
    else:
        run_conversion(
            args.input_type,
            args.output_type,
            sys.stdin.buffer.read(),
            sys.stdout,
            csv_delimiter=args.delimiter,
        )


#: subcommand -> (parser builder, handler). ``main`` dispatches on
#: ``argv[0]``; anything else is the reference's conversion command.
COMMANDS = {
    "ingest": (_ingest_parser, _ingest),
    "seen-admit": (_seen_admit_parser, _seen_admit),
    "bm25-rebuild": (_bm25_rebuild_parser, _bm25_rebuild),
    "ann-rebuild": (_ann_rebuild_parser, _ann_rebuild),
    "len-hdr-rebuild": (_len_hdr_rebuild_parser, _len_hdr_rebuild),
    "compact-state": (_compact_state_parser, _compact_state),
    "drift-report": (_drift_report_parser, _drift_report),
    "sem-train": (_sem_train_parser, _sem_train),
    "curate": (_curate_parser, _curate),
    "sql": (_sql_parser, _sql),
    "optimize": (_optimize_parser, _optimize),
    "profile": (_profile_parser, _profile),
    "pack": (_pack_parser, _pack),
    "chunk": (_chunk_parser, _chunk),
    "split": (_split_parser, _split),
    "shard": (_shard_parser, _shard),
    "explain": (_explain_parser, _explain),
}


def main(argv: list[str] | None = None) -> int:
    if argv is None:
        argv = sys.argv[1:]
    if argv and argv[0] in COMMANDS:
        name, argv = argv[0], argv[1:]
        build, handle = COMMANDS[name]
    else:
        name, build, handle = "conversion", _conversion_parser, _conversion
    args = build().parse_args(argv)
    try:
        return handle(args) or 0
    except Exception as exc:  # noqa: BLE001 — the one CLI boundary
        print(f"Error during {name}: {exc}", file=sys.stderr)
        return 1
