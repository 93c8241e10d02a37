"""URL host/domain extraction and per-domain caps: hand-derived
cases, DuckDB twin lockstep, the skew-guard plan shape, and equivalence
of domain_cap with the gated window arm."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from ts_etl_spark.operators.urls import (
    domain_cap,
    registered_domain,
    registered_domain_sql,
    strip_www,
    strip_www_sql,
    url_host,
    url_host_sql,
)

CASES = [
    ("https://www.Example.COM/Path?q=1#frag", "example.com", "example.com"),
    ("http://sub.a.b.example.org:8080/x", "sub.a.b.example.org", "example.org"),
    ("ftp://user:pw@Files.Site.net/pub", "files.site.net", "site.net"),
    ("https://localhost/admin", "localhost", "localhost"),
    ("not a url at all", None, None),
    ("/relative/path", None, None),
    ("https://www.x.co.uk/", "x.co.uk", "co.uk"),  # naive PSL limitation, documented
]


def _urls(spark):
    return spark.createDataFrame([(u,) for u, _, _ in CASES], "url STRING")


def test_host_and_registered_domain_hand_cases(spark):
    rows = (
        _urls(spark)
        .select(
            "url",
            strip_www(url_host(F.col("url"))).alias("host"),
            registered_domain(F.col("url")).alias("reg"),
        )
        .collect()
    )
    got = {r.url: (r.host, r.reg) for r in rows}
    for u, host, reg in CASES:
        assert got[u] == (host, reg), u


def test_sql_twins_lockstep_with_spark(spark):
    spark_rows = sorted(
        map(
            tuple,
            _urls(spark)
            .select(
                strip_www(url_host(F.col("url"))).alias("h"),
                registered_domain(F.col("url")).alias("r"),
            )
            .collect(),
        ),
        key=lambda t: (t[0] is None, t),
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE u (url VARCHAR)")
    con.executemany("INSERT INTO u VALUES (?)", [(u,) for u, _, _ in CASES])
    duck_rows = sorted(
        con.execute(
            f"SELECT {strip_www_sql(url_host_sql('url'))} AS h, "
            f"{registered_domain_sql('url')} AS r FROM u"
        ).fetchall(),
        key=lambda t: (t[0] is None, t),
    )
    assert spark_rows == duck_rows


# the 20-rule PSL slice now lives in the library (round 10: the gated
# psl arm of dedup_exact runs against it too)
from ts_etl_spark.operators.urls import PSL_FIXTURE_RULES as PSL_FIXTURE


def test_registered_domain_psl_lookup_and_fallback(spark):
    from ts_etl_spark.operators.urls import registered_domain_psl

    psl = spark.createDataFrame([(s,) for s in PSL_FIXTURE], "suffix STRING")
    cases = {
        # multi-label suffixes: naive last-two would say co.uk / ma.us
        "https://www.example.co.uk/x": "example.co.uk",
        "https://a.b.shop.co.uk": "shop.co.uk",
        "https://news.bbc.ac.uk/y?z=1": "bbc.ac.uk",
        "https://host.pvt.k12.ma.us": "host.pvt.k12.ma.us",  # longest rule wins
        "https://sub.site.com.au": "site.com.au",
        # plain TLD rules behave like the naive form
        "https://www.a.b.example.com/x": "example.com",
        "http://example.de": "example.de",
        # host EQUAL to a suffix: no registrable label -> naive fallback
        "https://co.uk/": "co.uk",
        # www can BE the registrable label: PSL matching runs on the
        # full host (no premature www-strip)
        "https://www.co.uk/": "www.co.uk",
        # unmatched TLD -> naive fallback (last two labels)
        "https://deep.sub.example.xyz": "example.xyz",
        "http://localhost:8080/p": "localhost",
        "garbage": None,
        # mixed-case hosts (hosts are case-insensitive; raw crawl URLs
        # commonly carry uppercase): url_host lowercases at extraction,
        # so PSL matching and the naive fallback both see the folded
        # host — r8-ADVICE claimed otherwise; pinned as a regression
        "https://foo.Example.CO.UK/x": "example.co.uk",
        "https://WWW.GOOGLE.COM/a": "google.com",
    }
    docs = spark.createDataFrame(
        [(i, u) for i, u in enumerate(cases)], "doc_id LONG, url STRING"
    )
    out = registered_domain_psl(docs, "url", psl)
    got = {r.url: r.reg_domain for r in out.collect()}
    assert got == cases
    # psl=None routes through the naive rule unchanged
    naive = {
        r.url: r.reg_domain
        for r in registered_domain_psl(docs, "url", None).collect()
    }
    assert naive["https://www.example.co.uk/x"] == "co.uk"
    assert naive["https://www.a.b.example.com/x"] == "example.com"


def test_registered_domain_psl_plan_broadcasts(spark):
    """The suffix join must broadcast (never shuffle the corpus) and the
    corpus-side plan stays cartesian-free."""
    from ts_etl_spark.operators.urls import registered_domain_psl

    psl = spark.createDataFrame([(s,) for s in PSL_FIXTURE], "suffix STRING")
    docs = spark.createDataFrame(
        [(i, f"https://d{i}.example.co.uk/p") for i in range(50)],
        "doc_id LONG, url STRING",
    )
    plan = (
        registered_domain_psl(docs, "url", psl)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, "suffix lookup must broadcast"
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_domain_cap_provenance_and_determinism(spark):
    rows = [(i, f"d{i % 3}") for i in range(10)] + [(100, "solo")]
    df = spark.createDataFrame(rows, "doc_id LONG, domain STRING")
    out = {r.doc_id: r for r in domain_cap(df, "domain", cap=2).collect()}
    assert len(out) == 11, "full provenance: every input row, once"
    # d0 holds {0,3,6,9}: ranked by doc_id, keep 2
    assert [out[i].kept for i in (0, 3, 6, 9)] == [True, True, False, False]
    assert [out[i].rank for i in (0, 3, 6, 9)] == [1, 2, 3, 4]
    # under-cap domain: trivially kept, never ranked
    assert out[100].kept and out[100].rank is None


def test_domain_cap_equals_gated_window_arm(spark, sf_correct):
    """The skew-guarded domain_cap and q_dedup_exact's plain-window
    domain_drop arm agree on every verdict over the real corpus."""
    from ts_etl_spark.operators.dedup import DOMAIN_CAP, q_dedup_exact
    from ts_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_correct, "documents")
    url = F.concat(
        F.lit("https://www."), F.col("source"), F.lit(".example.com/"),
        F.col("lang"), F.lit("/"), F.col("doc_id").cast("string"),
        F.lit("?utm_source=feed"),
    )
    keyed = docs.select(
        "doc_id", "n_chars", strip_www(url_host(url)).alias("domain")
    )
    prov = domain_cap(
        keyed, "domain", DOMAIN_CAP,
        order_cols=[F.col("n_chars").desc(), F.col("doc_id")],
    )
    lib_drops = {
        (r.doc_id, r.rank, r.domain)
        for r in prov.filter(~F.col("kept")).collect()
    }
    arm_drops = {
        (r.doc_id, int(r.n), r.key)
        for r in q_dedup_exact(spark, sf_correct)
        .filter(F.col("op") == "domain_drop")
        .collect()
    }
    assert lib_drops == arm_drops and len(arm_drops) > 0


def test_domain_cap_skew_guard_plan(spark):
    """Under-cap rows must not enter the ranking window: the window's
    input subtree is the over-cap semi-join, so a corpus of ONLY
    under-cap domains yields a window over zero rows."""
    rows = [(i, f"d{i}") for i in range(50)]  # 50 domains, 1 doc each
    df = spark.createDataFrame(rows, "doc_id LONG, domain STRING")
    out = domain_cap(df, "domain", cap=5)
    assert out.filter(~F.col("kept")).count() == 0
    assert out.filter(F.col("rank").isNotNull()).count() == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan  # structure present...
    # ...but fed by the semi-join against over-cap domains only
    assert "LeftSemi" in plan


def test_domain_cap_validates_cap(spark):
    df = spark.createDataFrame([(1, "d")], "doc_id LONG, domain STRING")
    with pytest.raises(ValueError, match="cap must be"):
        domain_cap(df, "domain", 0)


def test_domain_cap_null_domains_form_one_capped_bucket(spark):
    """NULL domains (unparseable URLs) are ONE capped group, matching a
    SQL window's PARTITION BY treatment — not silently uncapped (review
    finding: NULL never equals NULL in a plain join)."""
    rows = [(i, None) for i in range(6)] + [(10, "real.com")]
    df = spark.createDataFrame(rows, "doc_id LONG, domain STRING")
    out = {r.doc_id: r for r in domain_cap(df, "domain", cap=2).collect()}
    assert len(out) == 7
    null_kept = [i for i in range(6) if out[i].kept]
    assert null_kept == [0, 1], "cap applies to the NULL bucket"
    assert [out[i].rank for i in range(6)] == [1, 2, 3, 4, 5, 6]
    assert out[10].kept and out[10].rank is None


def test_registered_domain_psl_randomized_vs_python_reference(spark):
    """Randomized differential for the PSL lookup: 300 hosts assembled
    from a small label alphabet (so suffix-rule hits, near-misses,
    host==suffix, single labels, and www prefixes all occur) must match
    a from-scratch pure-Python implementation of the PSL algorithm
    (longest matching suffix + one label, naive last-two fallback)."""
    import random

    from ts_etl_spark.operators.urls import (
        PSL_FIXTURE_RULES,
        registered_domain_psl,
    )

    rng = random.Random(173)
    labels = ["www", "a", "bb", "shop", "co", "uk", "com", "k12", "ma",
              "us", "example", "xyz", "ac", "au", "jp", "pvt"]
    hosts = []
    for _ in range(300):
        n = rng.randrange(1, 6)
        hosts.append(".".join(rng.choice(labels) for _ in range(n)))
    # plus every rule verbatim (host == suffix: no registrable label)
    hosts.extend(PSL_FIXTURE_RULES)

    rules = set(PSL_FIXTURE_RULES)

    def ref(host):
        parts = host.split(".")
        best = 0
        for j in range(len(parts)):
            if ".".join(parts[j:]) in rules:
                best = max(best, len(parts) - j)
        if best and len(parts) > best:
            return ".".join(parts[-(best + 1):])
        stripped = host.removeprefix("www.")
        p = stripped.split(".")
        return ".".join(p[-2:]) if len(p) >= 2 else stripped

    docs = spark.createDataFrame(
        [(i, f"https://{h}/x") for i, h in enumerate(hosts)],
        "doc_id LONG, url STRING",
    )
    psl = spark.createDataFrame(
        [(s,) for s in PSL_FIXTURE_RULES], "suffix STRING"
    )
    got = {
        r.doc_id: r.reg_domain
        for r in registered_domain_psl(docs, "url", psl).collect()
    }
    want = {i: ref(h) for i, h in enumerate(hosts)}
    diffs = {i: (got[i], want[i], hosts[i]) for i in want if got[i] != want[i]}
    assert not diffs, dict(list(diffs.items())[:5])
