"""Host and domain extraction, and per-domain document caps —
web-corpus curation staples (Common-Crawl-style pipelines cap documents
per site so no single domain dominates the training mixture).

Everything here is engine-portable: host/domain extraction is ONE
``regexp_extract`` whose pattern parses identically under Java regex
(Spark) and RE2 (DuckDB) — no ``parse_url`` (Spark-only) and no UDFs —
so the gated arm hash-matches and the SQL twins stay in lockstep.

Scale shapes:

- extraction: pure map-side column expressions inside
  whole-stage codegen — zero shuffles at any corpus size.
- ``domain_cap``: the naive form is one window over EVERY row keyed by
  domain — a hot-domain skew trap (one giant site = one straggler
  partition). This implementation prefilters with a per-domain count
  (partial-aggregated, skew-proof) and runs the ranking window ONLY over
  rows of OVER-cap domains; under-cap rows never enter the ranking
  shuffle. On web corpora the over-cap tail is a small fraction of rows,
  so the expensive shuffle shrinks by that factor.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: host of an absolute URL: scheme, optional userinfo, then everything up
#: to the first '/', ':', '?' or '#'. Deliberately restricted to the
#: common subset both regex engines treat identically.
_HOST_PAT = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://(?:[^@/?#]*@)?([^/:?#]+)"
#: last two dot-labels — the NAIVE registered domain. Correct for
#: `.com`-style suffixes; multi-label public suffixes (`.co.uk`) need the
#: Public Suffix List, a data dependency this container doesn't carry —
#: `registered_domain_psl` fills the seam: pass it a PSL suffix table
#: (broadcast-joined against distinct hosts) and it falls back to this
#: rule for unmatched hosts.
_REG_DOMAIN_PAT = r"([^.]+\.[^.]+)$"

#: a 20-rule slice of the Public Suffix List shape — plain TLDs,
#: multi-label suffixes, and a 3-label suffix; wildcard rules
#: pre-expanded per the ``registered_domain_psl`` contract. The fixture
#: both the pytest suite and the driver-gated ``psl`` arm of
#: ``dedup_exact`` run against (the full PSL is a data file a deployment
#: ships alongside the job; the algorithm is suffix-set-agnostic).
PSL_FIXTURE_RULES = (
    "com", "org", "net", "io", "de", "fr", "jp", "uk",
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "co.jp", "ne.jp",
    "com.br", "co.nz",
    "pvt.k12.ma.us", "k12.ma.us",
)


def url_host(url: Column | str) -> Column:
    """Lowercased host of an absolute URL; NULL for values the pattern
    cannot parse (relative references, garbage) rather than a guess."""
    h = F.regexp_extract(url, _HOST_PAT, 1)
    return F.when(h != "", F.lower(h))


def strip_www(host: Column) -> Column:
    """Host minus one leading ``www.`` label (the canonical-host merge
    every URL dedup does first)."""
    return F.regexp_replace(host, r"^www\.", "")


def registered_domain(url: Column | str) -> Column:
    """Naive registered domain (last two labels) of the URL's host —
    ``https://www.a.b.example.com/x`` → ``example.com``. Single-label
    hosts (``localhost``) return the host itself. See ``_REG_DOMAIN_PAT``
    for the Public-Suffix-List production seam; pass a PSL table to
    ``registered_domain_psl`` for ``.co.uk``-class correctness."""
    h = strip_www(url_host(url))
    reg = F.regexp_extract(h, _REG_DOMAIN_PAT, 1)
    return F.when(reg != "", reg).otherwise(h)


def registered_domain_psl(
    docs: DataFrame,
    url_col: str,
    psl: DataFrame | None = None,
    out_col: str = "reg_domain",
) -> DataFrame:
    """Registered domain with an optional Public-Suffix-List lookup — the
    production fill for the ``_REG_DOMAIN_PAT`` seam. ``psl`` is a
    one-column ``suffix`` DataFrame of public suffixes (``com``,
    ``co.uk``, …; the PSL file's rules, pre-lowered, no wildcards — feed
    ``*.ck``-style wildcard rules expanded); rows whose host ends in a
    listed suffix get ``<label>.<suffix>`` with one extra label, LONGEST
    matching suffix winning (the PSL algorithm); hosts matching no rule —
    and every host when ``psl`` is None — fall back to the naive
    last-two-labels ``registered_domain``.

    Scale shape: registered domain is a function of the HOST alone, so
    the lookup runs over the DISTINCT hosts (the classic dimension
    pattern): explode each distinct host's label tails (a host of L
    labels yields L candidates, L ≤ ~10), one broadcast semi-join
    against the suffix table, one max-by-length pick per host, then one
    broadcast-able join of the skinny (host → domain) map back to the
    corpus. Corpus-linear, no UDFs. Returns ``docs`` plus ``out_col``."""
    if psl is None:
        return docs.select(
            "*", registered_domain(F.col(url_col)).alias(out_col)
        )
    # the UN-stripped host: the PSL algorithm runs on the full host, and
    # `www` can itself be the registrable label (www.co.uk is a real
    # registrable domain — stripping it first would collapse that host
    # into its public suffix). A leading www never changes the naive
    # last-two-labels fallback, so the fallback stays registered_domain-
    # consistent.
    host_expr = url_host(F.col(url_col))
    with_host = docs.select("*", host_expr.alias("__host"))
    hosts = with_host.select("__host").distinct().filter(
        F.col("__host").isNotNull()
    )
    labels = F.split(F.col("__host"), r"\.")
    n = F.size(labels)
    # tails[j] = labels[j..] joined: the host's candidate suffixes, each
    # with its label count (slice is 1-based; over-length is clamped)
    tails = F.transform(
        F.sequence(F.lit(1), n),
        lambda j: F.struct(
            F.array_join(F.slice(labels, j, n), ".").alias("tail"),
            (n - j + F.lit(1)).alias("tail_len"),
        ),
    )
    cand = hosts.select("__host", F.explode(tails).alias("__t")).select(
        "__host",
        F.col("__t.tail").alias("__tail"),
        F.col("__t.tail_len").alias("__tail_len"),
    )
    suffixes = psl.select(F.lower("suffix").alias("__tail"))
    best = (
        cand.join(F.broadcast(suffixes), "__tail", "left_semi")
        .groupBy("__host")
        .agg(F.max("__tail_len").alias("__best_len"))
    )
    # naive fallback re-derived from the host, EXACTLY as
    # registered_domain computes it (strip one www label, then last two
    # labels, else the remaining host)
    stripped = strip_www(F.col("__host"))
    hnaive = F.regexp_extract(stripped, _REG_DOMAIN_PAT, 1)
    naive = F.when(hnaive != "", hnaive).otherwise(stripped)
    # longest matching suffix + one extra label; hosts EQUAL to a suffix
    # (no registrable label left) and unmatched hosts fall back to naive
    reg = F.when(
        F.col("__best_len").isNotNull() & (n > F.col("__best_len")),
        F.array_join(
            F.slice(labels, n - F.col("__best_len"), F.col("__best_len") + F.lit(1)),
            ".",
        ),
    ).otherwise(naive)
    host_map = hosts.join(best, "__host", "left").select(
        "__host", reg.alias(out_col)
    )
    return with_host.join(host_map, "__host", "left").drop("__host")


def domain_cap(
    docs: DataFrame,
    domain_col: str,
    cap: int,
    order_cols: Sequence[Column] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most ``cap`` documents per domain, deterministically:
    rows rank within their domain by ``order_cols`` (default: ``id_col``
    ascending — pass e.g. ``[F.col("n_chars").desc(), F.col("doc_id")]``
    to prefer longer documents) and rows ranked past ``cap`` drop.

    Returns full provenance ``(id_col, domain_col, rank, kept)`` — rank
    is NULL for rows of under-cap domains (they are trivially kept and,
    by design, never enter the ranking shuffle: a per-domain count
    prefilters, so the window runs only over over-cap domains' rows — the
    hot-domain skew guard described in the module docstring).

    NULL domains form ONE capped bucket (null-safe joins throughout —
    the same grouping a SQL ``PARTITION BY domain`` window gives them,
    so this stays verdict-equivalent to the plain-window formulation).
    Unparseable-URL rows are not one site, so either pre-filter them or
    accept that the cap treats "unknown" as a single domain."""
    from pyspark.sql.window import Window

    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    order = list(order_cols) if order_cols else [F.col(id_col)]
    counts = docs.groupBy(domain_col).agg(F.count("*").alias("__dn"))
    over = counts.filter(F.col("__dn") > cap).select(
        F.col(domain_col).alias("__over_dom")
    )
    w = Window.partitionBy(domain_col).orderBy(*order)
    # no forced broadcast on `over`: usually tiny (AQE broadcasts it),
    # but a web corpus can have millions of over-cap domains, where a
    # forced broadcast would be the bug
    ranked = (
        docs.join(
            over,
            F.col(domain_col).eqNullSafe(F.col("__over_dom")),
            "left_semi",
        )
        .withColumn("rank", F.row_number().over(w))
        .select(F.col(id_col).alias("__rid"), "rank")
    )
    return (
        docs.select(id_col, domain_col)
        .join(ranked, F.col(id_col) == F.col("__rid"), "left")
        .select(
            id_col,
            domain_col,
            "rank",
            (F.col("rank").isNull() | (F.col("rank") <= cap)).alias("kept"),
        )
    )


# --------------------------------------------------------------------------
# DuckDB twins — keep in lockstep with the Spark definitions above
# --------------------------------------------------------------------------


def url_host_sql(expr: str) -> str:
    return (
        f"CASE WHEN regexp_extract({expr}, '{_HOST_PAT}', 1) != '' "
        f"THEN lower(regexp_extract({expr}, '{_HOST_PAT}', 1)) END"
    )


def strip_www_sql(expr: str) -> str:
    return f"regexp_replace({expr}, '^www\\.', '')"


def registered_domain_sql(expr: str) -> str:
    h = strip_www_sql(url_host_sql(expr))
    return (
        f"CASE WHEN regexp_extract({h}, '([^.]+\\.[^.]+)$', 1) != '' "
        f"THEN regexp_extract({h}, '([^.]+\\.[^.]+)$', 1) ELSE {h} END"
    )
