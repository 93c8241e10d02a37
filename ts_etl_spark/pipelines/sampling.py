"""Corpus-composition utilities: deterministic sampling, split
assignment and target-mixture resampling.

Everything here is DETERMINISTIC — keyed on content hashes, never on
``rand()`` — so membership is reproducible across engines, partitionings,
retries and scale factors (the same property the hash-sample arm of
``filter_project_sample`` demonstrates; cf. the driver-checked md5 residual
there). That determinism is an operational requirement at 100 TB: a retry
of a failed stage must sample the SAME rows, and a downstream auditor must
be able to re-derive membership from the data alone.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: md5 prefix width used as the uniform variate; 8 hex digits = 32 bits,
#: granular to ~2.3e-10 — plenty for any practical sampling fraction
_HASH_DIGITS = 8
_HASH_SPACE = 16 ** _HASH_DIGITS


def _uniform_hash(key_cols: Sequence[str], seed: str) -> Column:
    """U[0,1) variate from md5 over (seed, row identity) — engine-portable
    (md5 exists everywhere), partition-independent, stable under retries."""
    ident = F.concat_ws("#", F.lit(seed), *[F.col(c).cast("string") for c in key_cols])
    return (
        F.conv(F.substring(F.md5(ident), 1, _HASH_DIGITS), 16, 10).cast("double")
        / F.lit(float(_HASH_SPACE))
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
    key_cols: Sequence[str],
    seed: str = "strat",
    default_fraction: float = 1.0,
) -> DataFrame:
    """Per-stratum deterministic sampling: keep each row iff its uniform
    hash falls under its stratum's fraction (strata absent from
    ``fractions`` keep ``default_fraction``). The Spark-native analogue of
    ``sampleBy`` with reproducible membership.

    Plan shape: the fraction lookup folds to a CASE expression and the
    hash is a map-side projection — zero shuffles, scan-bandwidth at any
    scale."""
    frac = F.lit(float(default_fraction))
    for value, f_ in fractions.items():
        frac = F.when(F.col(strata_col) == value, F.lit(float(f_))).otherwise(frac)
    return df.filter(_uniform_hash(key_cols, seed) < frac)


def assign_splits(
    df: DataFrame,
    weights: Mapping[str, float],
    key_cols: Sequence[str],
    seed: str = "split",
    out: str = "split",
) -> DataFrame:
    """Deterministic disjoint split assignment (train/val/test and
    friends): each row's uniform hash lands in exactly one of the
    ``weights`` intervals (normalized to sum 1; iteration order fixes the
    interval order), so splits are reproducible, partition-independent,
    and stable when the dataset grows — a row's split NEVER changes as
    other rows come and go, the property random `randomSplit` cannot give
    you. Zero shuffles: the assignment is one map-side CASE expression."""
    if not weights:
        raise ValueError("weights must be non-empty")
    total = float(sum(weights.values()))
    if total <= 0 or any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative and sum > 0")
    u = _uniform_hash(key_cols, seed)
    expr = None
    upper = 0.0
    names = list(weights)
    for name in names[:-1]:
        upper += float(weights[name]) / total
        cond = u < F.lit(upper)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(out, expr)


def target_mixture_fractions(
    df: DataFrame, strata_col: str, target_shares: Mapping[str, float]
) -> dict[str, float]:
    """Compute per-stratum DOWN-sampling fractions that move the corpus to
    a target composition: the most over-represented stratum (relative to
    its target share) is scaled hardest and the binding stratum keeps
    fraction 1.0, maximizing retained data subject to the mixture.

    Two-pass by design: one small aggregate (rows = #strata) is collected
    to the driver to parameterize the map-side sample — the standard
    shape for composition control at 100 TB (the collect is bounded by
    vocabulary size, never data size)."""
    counts = {
        r[0]: r[1]
        for r in df.groupBy(strata_col).agg(F.count("*").alias("n")).collect()
    }
    # the binding stratum minimizes count/share; scale others down to it
    ratios = {
        s: counts[s] / share
        for s, share in target_shares.items()
        if share > 0 and counts.get(s)
    }
    if not ratios:
        return {}
    binding = min(ratios.values())
    return {
        s: min(1.0, binding * target_shares[s] / counts[s])
        for s in ratios
    }


def temperature_shares(
    counts: Mapping[str, int | float], tau: float
) -> dict[str, float]:
    """Temperature-scaled mixture shares from observed stratum counts:
    share_i = c_i^tau / sum_j c_j^tau — the standard multilingual/domain
    reweighting knob (tau = 1 keeps the natural proportions, tau = 0 is
    uniform, 0 < tau < 1 up-weights the tail the way multilingual
    pretraining mixes low-resource languages). Pure driver math over the
    #strata-bounded counts dict; feed the result to ``mix_to_target``."""
    if not 0.0 <= tau <= 1.0:
        raise ValueError("tau must be in [0, 1] (1 = natural, 0 = uniform)")
    live = {s: float(c) for s, c in counts.items() if c > 0}
    if not live:
        return {}
    powed = {s: c**tau for s, c in live.items()}
    total = sum(powed.values())
    return {s: v / total for s, v in powed.items()}


def mix_to_target(
    df: DataFrame,
    strata_col: str,
    target_shares: Mapping[str, float],
    key_cols: Sequence[str],
    seed: str = "mix",
) -> DataFrame:
    """Resample the corpus to a target stratum mixture (e.g. language or
    domain weights for a training run): compute the down-sampling
    fractions, then apply the deterministic stratified sample. Strata not
    named in ``target_shares`` are dropped."""
    fracs = target_mixture_fractions(df, strata_col, target_shares)
    kept = df.filter(F.col(strata_col).isin(*target_shares.keys()))
    return stratified_sample(
        kept, strata_col, fracs, key_cols, seed=seed, default_fraction=1.0
    )
