"""Mergeable HyperLogLog registers built from plain DataFrame expressions.

Spark's ``approx_count_distinct`` answers one-shot questions, but its
sketch state is opaque: it cannot be persisted, merged with tomorrow's
batch, or cross-checked by another engine. This module materializes the
HLL state ITSELF as a tiny table of ``(bucket, rho)`` registers — 2^p
rows — with three properties that matter at 100 TB:

- **mergeable**: registers of a union = element-wise MAX of the unions'
  registers (`hll_merge`), so incremental ingest updates a persisted
  256-row state table instead of re-scanning the corpus for a distinct
  count (the same pattern `streaming/ingest.py` uses for dedup state);
- **engine-portable**: the hash is md5 of the value's canonical string —
  not an engine-private hash — so a DuckDB oracle reproduces every
  register EXACTLY (value parity, not just a tolerance boolean);
- **cheap**: one narrow projection + one partial-aggregated groupBy over
  2^p groups; the shuffle carries at most 2^p rows per task.

Production note: md5 is the *verification* hash. A throughput-critical
deployment would swap ``_hll_hash`` for ``xxhash64`` (JVM-intrinsic,
~10x faster) — every other line is hash-agnostic; only cross-engine
register parity is lost.

Register derivation (standard HLL, Flajolet et al.): for each value,
h = md5 hex digest; ``bucket`` = first p/4 hex chars (the register
index, kept AS the hex string — registers don't need integer ids);
``rho`` = 1 + number of leading zero BITS in the next 60 bits, read
directly off the hex digits (4 zero bits per leading '0' char, plus
0-3 from the first non-zero char). Nulls are excluded (COUNT DISTINCT
semantics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession

from ts_etl_spark.localrel import local_rows
from pyspark.sql import functions as F

#: register-index bits: 2^8 = 256 registers, standard error 1.04/16 = 6.5%
HLL_P = 8

#: bias-correction constant alpha_m for m = 256 (Flajolet et al. 2007)
_ALPHA_256 = 0.7213 / (1.0 + 1.079 / 256.0)


def _hll_hash(col: Column) -> Column:
    """Engine-portable hash: md5 of the canonical string form."""
    return F.md5(col.cast("string"))


def _rho(rest: Column) -> Column:
    """1 + leading zero bits of the 60-bit suffix, from hex chars alone:
    each leading '0' char is 4 zero bits; the first non-zero char adds
    3 ('1'), 2 ('2'-'3'), 1 ('4'-'7') or 0 ('8'-'f'). All-zero suffix
    (never in practice: p(2^-60) per value) degenerates to 61."""
    zero_chars = F.length(F.regexp_extract(rest, "^0*", 0))
    first_nz = F.substring(F.regexp_replace(rest, "^0*", ""), 1, 1)
    extra = (
        F.when(first_nz == "1", 3)
        .when(first_nz.isin("2", "3"), 2)
        .when(first_nz.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    return (zero_chars * 4 + extra + 1).cast("int")


def hll_registers(df: DataFrame, col: str, p: int = HLL_P) -> DataFrame:
    """The HLL register table for ``df[col]``: one row per OCCUPIED
    register, ``(bucket: 2-hex-char string, rho: int)``. Partial
    aggregation means each task emits at most 2^p rows pre-shuffle."""
    if p % 4 != 0 or not 4 <= p <= 16:
        raise ValueError("p must be a multiple of 4 in [4, 16] (hex-char indexing)")
    chars = p // 4
    h = _hll_hash(F.col(col))
    return (
        df.filter(F.col(col).isNotNull())
        .select(
            F.substring(h, 1, chars).alias("bucket"),
            _rho(F.substring(h, chars + 1, 15)).alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(*register_tables: DataFrame) -> DataFrame:
    """Merge register tables (element-wise max) — registers of a UNION of
    datasets. This is the incremental path: persist yesterday's 256-row
    table, merge today's batch registers, never re-scan history."""
    it = iter(register_tables)
    merged = next(it)
    for regs in it:
        merged = merged.unionByName(regs)
    return merged.groupBy("bucket").agg(F.max("rho").alias("rho"))


def hll_estimate(
    spark: SparkSession, registers: DataFrame, p: int = HLL_P
) -> DataFrame:
    """One-row ``(estimate: double)`` from a register table: the raw HLL
    estimator alpha_m * m^2 / sum(2^-rho_j) with empty registers counted
    at rho=0, plus linear counting below the 2.5m small-range threshold
    (the regime where the raw estimator biases high). The full-register
    frame is built by generating all 2^p hex buckets (a 2^p-row local
    relation — broadcast territory) and left-joining the occupied ones."""
    if p != HLL_P:
        raise ValueError("estimate constants are calibrated for p=8 (m=256)")
    m = 1 << p
    all_buckets = spark.range(m).select(
        F.lower(F.lpad(F.hex(F.col("id")), p // 4, "0")).alias("bucket")
    )
    full = all_buckets.join(F.broadcast(registers), "bucket", "left").select(
        F.coalesce("rho", F.lit(0)).alias("rho")
    )
    raw = F.lit(_ALPHA_256 * m * m) / F.sum(F.pow(F.lit(2.0), -F.col("rho")))
    zeros = F.sum(F.when(F.col("rho") == 0, 1).otherwise(0))
    # linear counting: m * ln(m / empty_registers), used when raw <= 2.5m
    # and some register is still empty (standard HLL small-range correction)
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    return full.agg(
        F.when((raw <= 2.5 * m) & (zeros > 0), linear)
        .otherwise(raw)
        .alias("estimate")
    )


# DuckDB mirror of the register derivation (the oracle side of the exact
# cross-engine parity claim). Keep in lockstep with hll_registers/_rho.
HLL_REGISTERS_SQL = """
    SELECT substr(md5(CAST({col} AS VARCHAR)), 1, 2) AS bucket,
           MAX(
             4 * length(regexp_extract(substr(md5(CAST({col} AS VARCHAR)), 3, 15), '^0*'))
             + CASE substr(regexp_replace(substr(md5(CAST({col} AS VARCHAR)), 3, 15), '^0*', ''), 1, 1)
                 WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                 WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
                 ELSE 0 END
             + 1
           ) AS rho
    FROM {table} WHERE {col} IS NOT NULL
    GROUP BY 1
"""


# --------------------------------------------------------------------------
# Count-min sketch: mergeable frequency state (the counting dual of HLL)
# --------------------------------------------------------------------------

#: depth = independent hash rows (error prob decays as ~e^-depth);
#: width = counters per row (overestimate bound eps = e/width of total mass)
CM_DEPTH = 4
CM_WIDTH = 256


def _cm_hash_int(col: Column, d: int) -> Column:
    """Row-``d`` hash of the canonical string form, as a bigint in
    [0, 2^32): ONE md5 of the value carved into four independent 32-bit
    words (hex chars 8d+1..8d+8) — one digest serves every depth row, so
    the scan pays a single md5 per value instead of depth seeded ones.
    Engine-portable for the same reason as ``_hll_hash`` (and swappable
    for ``xxhash64(col, lit(d))`` when cross-engine parity isn't
    needed)."""
    h = F.md5(F.concat(F.lit("cm#"), col.cast("string")))
    return F.conv(F.substring(h, 8 * d + 1, 8), 16, 10).cast("bigint")


def cm_registers(
    df: DataFrame, col: str, depth: int = CM_DEPTH, width: int = CM_WIDTH
) -> DataFrame:
    """The count-min counter table for ``df[col]``: one row per OCCUPIED
    cell, ``(d: int, slot: int, c: bigint)`` — ≤ depth·width rows total,
    partial-aggregated so each task emits at most that many pre-shuffle.

    Same three scale properties as the HLL registers: mergeable
    (counters of a union = element-wise SUM — ``cm_merge``), engine-
    portable (md5-derived slots, so an oracle reproduces every cell
    EXACTLY), and cheap (one projection + one bounded groupBy). Point
    queries via ``cm_estimate`` NEVER underestimate (each cell holds the
    key's true count plus non-negative collision mass) and overestimate
    by more than e·N/width with probability ≤ e^-depth per query."""
    if not 1 <= depth <= 4 or width < 2:
        raise ValueError(
            "depth must be in [1, 4] (one md5 digest carries four 32-bit "
            "words) and width >= 2"
        )
    entries = [
        F.struct(
            F.lit(d).alias("d"),
            (_cm_hash_int(F.col(col), d) % width).cast("int").alias("slot"),
        )
        for d in range(depth)
    ]
    return (
        df.filter(F.col(col).isNotNull())
        .select(F.explode(F.array(*entries)).alias("e"))
        .select("e.d", "e.slot")
        .groupBy("d", "slot")
        .agg(F.count("*").alias("c"))
    )


def cm_merge(*register_tables: DataFrame) -> DataFrame:
    """Merge counter tables (element-wise sum) — counters of a UNION of
    datasets; the incremental-ingest path, like ``hll_merge``."""
    it = iter(register_tables)
    merged = next(it)
    for regs in it:
        merged = merged.unionByName(regs)
    return merged.groupBy("d", "slot").agg(F.sum("c").alias("c"))


def cm_estimate(
    spark: SparkSession,
    registers: DataFrame,
    keys: list,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Point-frequency estimates ``(key: string, estimate: bigint)`` for
    ``keys`` (canonical string forms, matching ``col.cast(string)``):
    min over the depth rows of the key's cell, absent cells counting 0.
    The keys frame is a local relation and the counter table is ≤
    depth·width rows — broadcast territory on both sides."""
    kdf = local_rows(spark, [(str(k),) for k in keys], "key STRING")
    entries = [
        F.struct(
            F.lit(d).alias("d"),
            (_cm_hash_int(F.col("key"), d) % width).cast("int").alias("slot"),
        )
        for d in range(depth)
    ]
    melt = kdf.select(
        "key", F.explode(F.array(*entries)).alias("e")
    ).select("key", "e.d", "e.slot")
    return (
        melt.join(F.broadcast(registers), ["d", "slot"], "left")
        .groupBy("key")
        .agg(F.min(F.coalesce("c", F.lit(0))).alias("estimate"))
    )


def _hex8_fold_sql(expr: str) -> str:
    """DuckDB: integer value of the 8-hex-char string expression ``expr``
    (the same big-endian fold the trainer-prep oracle uses)."""
    return (
        "list_sum([(strpos('0123456789abcdef', substr(" + expr + ", i, 1)) - 1)::BIGINT"
        " << ((8 - i) * 4) for i in generate_series(1, 8)])"
    )


def cm_registers_sql(table: str, col: str, depth: int = CM_DEPTH, width: int = CM_WIDTH) -> str:
    """DuckDB mirror of ``cm_registers`` (oracle side of the exact
    cross-engine cell parity claim). Keep in lockstep with _cm_hash_int."""
    fold = _hex8_fold_sql(
        f"substr(md5('cm#' || CAST({col} AS VARCHAR)), 8 * t.d + 1, 8)"
    )
    return f"""
        SELECT t.d, CAST(({fold}) % {width} AS INT) AS slot, COUNT(*) AS c
        FROM {table}, (SELECT unnest(generate_series(0, {depth - 1})) AS d) t
        WHERE {col} IS NOT NULL
        GROUP BY 1, 2
    """


def cm_estimate_sql(
    registers_cte: str, key: str, depth: int = CM_DEPTH, width: int = CM_WIDTH
) -> str:
    """DuckDB mirror of ``cm_estimate`` for one literal key: a scalar
    subquery over the ``registers_cte`` relation name."""
    fold = _hex8_fold_sql(f"substr(md5('cm#' || '{key}'), 8 * q.d + 1, 8)")
    return f"""(
        SELECT MIN(COALESCE(r.c, 0))
        FROM (SELECT d, CAST(({fold}) % {width} AS INT) AS slot
              FROM (SELECT unnest(generate_series(0, {depth - 1})) AS d) q) q2
        LEFT JOIN {registers_cte} r USING (d, slot)
    )"""


# --------------------------------------------------------------------------
# HDR histogram: mergeable QUANTILE state (the ranking dual of HLL/count-min)
# --------------------------------------------------------------------------

#: sub-bucket bits: bucket width / bucket lower bound <= 2^-s (6.25%),
#: and values below 2^(s+1) = 32 land in their own EXACT bucket
HDR_S = 4

#: the quantile probes the gated arm estimates and bounds
HDR_PHIS = (0.25, 0.5, 0.75, 0.9, 0.99)


def _pow2(e: Column) -> Column:
    """2^e as an exact double (IEEE exponent arithmetic — no rounding
    for any e in the histogram's range)."""
    return F.pow(F.lit(2.0), e.cast("double"))


def _hdr_index(v: Column, s: int) -> Column:
    """Linear-log HDR bucket index for a non-negative integer value —
    pure integer/dyadic arithmetic ON PURPOSE (HdrHistogram, Gil Tene:
    exponent + top mantissa bits; log-spaced buckets WITHOUT a libm
    log, so DuckDB reproduces every bucket bit-for-bit, unlike a
    DDSketch-style ``ceil(ln x / ln γ)`` whose boundary values can flip
    on a 1-ulp log difference):

    - ``v < 2^(s+1)``: index = v (small values are EXACT);
    - else, with ``bl`` the bit length of v (length of its binary
      string — no log), the top s+1 bits offset to stay contiguous:
      ``(bl-1-s)·2^s + floor(v / 2^(bl-1-s))``.

    The shift is a division by a power of two — exact in binary64 for
    any v < 2^53 — clamped to ≥ 0 because a vectorized CASE may
    evaluate this branch on small-value lanes."""
    bl = F.length(F.bin(v)).cast("int")
    shift = F.greatest(bl - F.lit(1 + s), F.lit(0))
    big = (bl - F.lit(1 + s)) * F.lit(1 << s) + F.floor(
        v.cast("double") / _pow2(shift)
    ).cast("int")
    return F.when(v < F.lit(1 << (s + 1)), v.cast("int")).otherwise(
        big.cast("int")
    )


def hdr_lower(bucket: Column, s: int = HDR_S) -> Column:
    """Inclusive lower bound (the reported representative) of an HDR
    bucket — the inverse of ``_hdr_index``: small buckets are their own
    value; otherwise level = bucket div 2^s − 1 and the mantissa bits
    shift back up: ``(2^s + bucket mod 2^s) · 2^level``."""
    level = (bucket / F.lit(1 << s)).cast("int") - F.lit(1)
    mant = F.lit(1 << s) + bucket % F.lit(1 << s)
    return (
        F.when(bucket < F.lit(1 << (s + 1)), bucket.cast("long"))
        .otherwise((mant.cast("double") * _pow2(level)).cast("long"))
    )


def hdr_width(bucket: Column, s: int = HDR_S) -> Column:
    """Bucket width (exclusive upper − inclusive lower): 1 for exact
    small buckets, else 2^level. width / lower ≤ 2^-s everywhere."""
    level = (bucket / F.lit(1 << s)).cast("int") - F.lit(1)
    return (
        F.when(bucket < F.lit(1 << (s + 1)), F.lit(1).cast("long"))
        .otherwise(_pow2(level).cast("long"))
    )


def hdr_registers(
    df: DataFrame, col: str, s: int = HDR_S, extra_keys: tuple = ()
) -> DataFrame:
    """The HDR register table for a NON-NEGATIVE integer column: one row
    per occupied bucket, ``(bucket: int, n: bigint)`` — at most
    ``(64-s)·2^s`` rows ever (s=4: ≤ 960; a 24-bit value domain: ≤ 336).
    One narrow projection + one partial-aggregated groupBy, the same
    100 TB shape as ``hll_registers``; out-of-domain values — negative,
    or above 2^53 where the dyadic-division shift would round BEFORE
    the mantissa-bit extraction and silently mis-bucket (breaking
    ``lower ≤ v`` and the est ≤ truth quantile guarantee) — are a
    domain error (raise where a real pipeline would route to
    quarantine).

    ``extra_keys``: additional grouping columns carried through (one
    register table per key combination in ONE scan — e.g. per-parity
    halves for the merge-law gate; ≤960 rows per combination). The
    per-key tables sliced out of the result sum to exactly the plain
    table — counts partition by key."""
    if not 1 <= s <= 8:
        raise ValueError("s must be in [1, 8]")
    v = F.col(col).cast("long")
    keys = [F.col(k) for k in extra_keys]
    return (
        df.filter(v.isNotNull())
        .select(
            *keys,
            F.when(
                (v < 0) | (v > F.lit(1 << 53)),
                F.raise_error(
                    F.lit(f"hdr_registers: {col} outside [0, 2^53]")
                ),
            )
            .otherwise(_hdr_index(v, s))
            .alias("bucket"),
        )
        .groupBy(*extra_keys, "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def hdr_merge(*register_tables: DataFrame) -> DataFrame:
    """Merge register tables (element-wise SUM) — the histogram of a
    UNION of datasets. Persist yesterday's ≤960-row table, merge each
    batch's registers, never re-scan history (the HLL/count-min law,
    with SUM as the monoid)."""
    it = iter(register_tables)
    merged = next(it)
    for regs in it:
        merged = merged.unionByName(regs)
    return merged.groupBy("bucket").agg(F.sum("n").alias("n"))


def hdr_quantile_estimates(
    registers: DataFrame, phis: tuple = HDR_PHIS, s: int = HDR_S
) -> DataFrame:
    """Quantile estimates from a register table: for each φ, the lower
    bound of the bucket containing the ⌈φ·n⌉-th smallest value —
    ``(phi: double, estimate: long)``. The true φ-quantile lies in that
    same bucket, so the estimate's relative error is ≤ the bucket's
    width/lower ≤ 2^-s. All-integer rank walk (cumulative sums of exact
    counts; ⌈φ·n⌉ is the same IEEE multiply in any engine), so the
    estimates carry full cross-engine value parity. The register table
    is bounded (≤960 rows) — the window sort is local-relation work."""
    from pyspark.sql.window import Window

    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = registers.select(
        "bucket", F.sum("n").over(w).alias("cum"), F.lit(1).alias("__j")
    )
    total = registers.agg(F.sum("n").alias("total"), F.lit(1).alias("__j"))
    spark = registers.sparkSession
    phi_df = local_rows(
        spark, [(float(p),) for p in phis], "phi double"
    ).withColumn("__j", F.lit(1))
    k = F.ceil(F.col("phi") * F.col("total").cast("double")).cast("long")
    phi_rows = phi_df.join(total, "__j").select(
        "phi", F.greatest(k, F.lit(1)).alias("k")
    )
    hit = phi_rows.join(cum, F.col("cum") >= F.col("k")).groupBy("phi").agg(
        F.min("bucket").alias("bucket")
    )
    return hit.select(
        "phi", hdr_lower(F.col("bucket"), s).alias("estimate")
    ).orderBy("phi")


#: DuckDB mirror of ``_hdr_index`` as a SQL expression template over a
#: value expression {v} (keep in lockstep with _hdr_index / hdr_lower)
def hdr_index_sql(v: str, s: int = HDR_S) -> str:
    bl = f"length(bin(CAST({v} AS BIGINT)))"
    shift = f"greatest({bl} - {1 + s}, 0)"
    return f"""
        CASE WHEN CAST({v} AS BIGINT) < {1 << (s + 1)} THEN CAST({v} AS INT)
             ELSE CAST(({bl} - {1 + s}) * {1 << s}
                  + CAST(FLOOR(CAST({v} AS DOUBLE) / POWER(2.0, {shift})) AS INT) AS INT)
        END"""


def hdr_lower_sql(bucket: str, s: int = HDR_S) -> str:
    # `//` (floor division), NOT `/` + CAST: DuckDB casts double→int by
    # ROUNDING where Spark truncates — bucket 152 / 16 = 9.5 must floor
    level = f"(CAST({bucket} AS BIGINT) // {1 << s} - 1)"
    mant = f"({1 << s} + {bucket} % {1 << s})"
    return f"""
        CASE WHEN {bucket} < {1 << (s + 1)} THEN CAST({bucket} AS BIGINT)
             ELSE CAST(CAST({mant} AS DOUBLE) * POWER(2.0, {level}) AS BIGINT)
        END"""


def hdr_registers_sql(table: str, v: str, s: int = HDR_S) -> str:
    """DuckDB mirror of ``hdr_registers`` over value expression ``v``
    (oracle side of the exact cross-engine bucket parity claim)."""
    return f"""
        SELECT ({hdr_index_sql(v, s)}) AS bucket, COUNT(*) AS n
        FROM {table} WHERE {v} IS NOT NULL
        GROUP BY 1
    """


def hdr_estimates_sql(registers_cte: str, phis: tuple = HDR_PHIS, s: int = HDR_S) -> str:
    """DuckDB mirror of ``hdr_quantile_estimates`` over a register CTE."""
    values = ", ".join(f"({p!r})" for p in phis)
    return f"""
        SELECT phi, ({hdr_lower_sql("bucket", s)}) AS estimate
        FROM (
            SELECT p.phi, MIN(c.bucket) AS bucket
            FROM (SELECT phi FROM (VALUES {values}) t(phi)) p
            JOIN (SELECT bucket,
                         SUM(n) OVER (ORDER BY bucket
                                      ROWS UNBOUNDED PRECEDING) AS cum
                  FROM {registers_cte}) c
              ON c.cum >= greatest(CAST(ceil(p.phi * (SELECT CAST(SUM(n) AS DOUBLE)
                                                      FROM {registers_cte})) AS BIGINT), 1)
            GROUP BY p.phi
        )
    """
