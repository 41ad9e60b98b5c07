"""Deterministic (reproducible) sampling for training-data pipelines.

``DataFrame.sample`` draws from per-partition RNG state: the selected
rows change with partitioning, retries, and cluster layout — unacceptable
when a training mixture must be reproducible and auditable.  Hash-gate
sampling fixes that: a row is kept iff ``hash(id, salt) mod M < frac*M``,
so membership is a pure function of the row id and the salt —
partition-count independent, re-run stable, and cheap (one hash per row,
no shuffle, fully pushed into whole-stage codegen).

Strata support: per-stratum fractions (e.g. downsample English, keep all
low-resource languages) via a CASE over the stratum column — the standard
"data mixture" knob in corpus construction.

Disjoint/nested samples: different salts give independent gates; the same
salt with fractions f1 < f2 gives NESTED samples (the f1 sample is a
subset of the f2 sample) — useful for scaling-law subsets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MOD = 1_000_000


def hash_gate(id_col: Column, salt: int = 0) -> Column:
    """Default gate hash: xxhash64(id, salt) folded into [0, 1e6)."""
    return F.pmod(F.xxhash64(id_col, F.lit(salt)), F.lit(_MOD))


def portable_hash_gate(id_col: Column, salt: int = 0) -> Column:
    """A polynomial gate over bounded integers — identical arithmetic is
    expressible in any SQL engine (used by the DuckDB differential
    oracle; intermediates stay < 2^33 so no overflow semantics differ).
    Weaker mixing than xxhash64: prefer :func:`hash_gate` in production.
    """
    return F.pmod((id_col % 999_983) * 7_919 + F.lit(salt), F.lit(_MOD))


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    id_col: str = "doc_id",
    gate: Column | None = None,
) -> DataFrame:
    """Keep at most ``cap`` rows per group (per-domain / per-source caps —
    the standard defense against one crawl domain dominating a training
    mixture).  Selection is DETERMINISTIC: rows are ranked by a hash gate
    (default :func:`hash_gate`) with ``id_col`` as the total-order
    tiebreak, so the kept set is independent of partitioning and re-runs.

    Executes via the skew-safe two-phase top-k
    (:func:`~parquet_merger_spark.operators.ranking.topk_per_group_salted`):
    a viral domain with 1e9 rows is ranked in 32 parallel slices of
    local-top-``cap`` before the global re-rank touches only
    ``32 * cap`` survivors per group — no single task ever sorts a
    whole hot domain.  Appends ``rank`` (1..cap within the group).
    """
    from parquet_merger_spark.operators.ranking import topk_per_group_salted

    g = gate if gate is not None else hash_gate(F.col(id_col))
    return topk_per_group_salted(
        df,
        [group_col],
        [g.asc(), F.col(id_col).asc()],
        cap,
        salt_col=F.xxhash64(F.col(id_col), F.lit(1)),
        n_salts=32,
    )


def deterministic_sample(
    df: DataFrame,
    fraction: float | None = None,
    id_col: str = "doc_id",
    strata_col: str | None = None,
    fractions: dict[str, float] | None = None,
    salt: int = 0,
    gate: Column | None = None,
) -> DataFrame:
    """Keep a reproducible ``fraction`` of rows (or per-stratum
    ``fractions`` keyed by ``strata_col`` values; strata missing from the
    dict are dropped).  Pass ``gate`` to override the hash (e.g.
    :func:`portable_hash_gate` for cross-engine tests)."""
    g = gate if gate is not None else hash_gate(F.col(id_col), salt)
    if fractions is not None:
        # ValueError, not assert (python -O strips asserts): without the
        # guard a missing strata_col would fail later with an opaque error
        if strata_col is None:
            raise ValueError("fractions requires strata_col")
        threshold: Column = F.lit(-1)  # unknown strata drop out
        for value, frac in fractions.items():
            threshold = (
                F.when(F.col(strata_col) == value, F.lit(int(round(frac * _MOD))))
                .otherwise(threshold)
            )
    else:
        if fraction is None:
            raise ValueError("need fraction or fractions")
        threshold = F.lit(int(round(fraction * _MOD)))
    return df.filter(g < threshold)


def split_by_hash(
    df: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    salt: int = 0,
    gate: Column | None = None,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: label every row with a
    split name, partitioning the gate-hash range by cumulative
    ``fractions`` (which must sum to 1).  Properties that matter for
    training pipelines, all free here by construction:

    * REPRODUCIBLE — membership is a pure function of (id, salt), stable
      across runs, engines, and cluster sizes (no RNG, no ordering).
    * STABLE UNDER GROWTH — new rows join a split without moving any
      existing row (each id's hash never changes).
    * DISJOINT + EXHAUSTIVE — range partition of [0, 1e6).
    * Shuffle-free: one row-local expression, no shuffle, no sort.
    """
    total = sum(fractions.values())
    # ValueError, not assert: stripped under python -O, non-normalized
    # fractions would silently mis-size every split (semantic invariant)
    if not abs(total - 1.0) < 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    g = gate if gate is not None else hash_gate(F.col(id_col), salt)
    expr, cum = None, 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        bound = int(round(cum * _MOD))
        expr = (
            F.when(g < bound, F.lit(name))
            if expr is None
            else expr.when(g < bound, F.lit(name))
        )
    last = F.lit(names[-1])
    labeled = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, labeled)


def mixture_sample(
    df: DataFrame,
    budget_tokens: int,
    weight_parts: dict[str, int],
    strata_col: str = "lang",
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    salt: int = 0,
    gate: Column | None = None,
) -> DataFrame:
    """Budget-driven MIXTURE sampling — the corpus-mixing step of
    training-set construction: given a global token ``budget_tokens`` and
    target mixture ``weight_parts`` (integer parts, e.g. ``{"en": 50,
    "fr": 25, "de": 25}``), derive each stratum's keep-fraction from its
    actual token mass and hash-gate rows to it:

        frac_s = min(1, budget * w_s / (sum(w) * tokens_s))

    Strata absent from ``weight_parts`` are dropped (weight 0).

    Fully LAZY and distributed: per-stratum token totals come from a tiny
    aggregate (|strata| rows) that joins back BROADCAST — no driver
    collect, no second pass over the data; the gate itself is shuffle-free.
    Thresholds are ``floor`` of a division of EXACT integers (weights are
    integer parts): long/long promotes to the same IEEE double in Spark
    and DuckDB, so the kept set is bit-reproducible cross-engine and the
    oracle recomputes membership exactly.  ``budget_tokens * sum(weights)
    * 1e6`` must stay below 2^63 (checked) so the numerator is exact.

    Expected kept tokens per stratum ~= budget * w_s / sum(w) when the
    stratum is rich enough, else the whole stratum (frac capped at 1) —
    the standard behavior for low-resource languages in mixture specs.
    """
    parts_total = sum(weight_parts.values())
    # ValueError, not assert: both guard CORRECTNESS invariants — under
    # python -O a zero weight-sum divides by zero later, and a too-large
    # budget silently overflows the exact-integer threshold arithmetic
    if parts_total <= 0:
        raise ValueError("weights must sum positive")
    if budget_tokens * parts_total * _MOD >= 2**63:
        raise ValueError("budget too large: budget*sum(weights)*1e6 must stay below 2^63")
    g = gate if gate is not None else hash_gate(F.col(id_col), salt)

    totals = df.groupBy(strata_col).agg(F.sum(token_col).alias("__stratum_tokens"))

    # weight 0, NOT null, for unlisted strata: Spark's least() SKIPS
    # nulls, so a null-weight threshold would become least(MOD, null) =
    # MOD — silently keeping the whole stratum instead of dropping it
    w: Column = F.lit(0).cast("long")
    for value, parts in weight_parts.items():
        w = F.when(F.col(strata_col) == value, F.lit(int(parts))).otherwise(w)

    # Degenerate stratum totals need explicit handling BEFORE the
    # division: a zero total raises DIVIDE_BY_ZERO under Spark 4's ANSI
    # default, and a NULL total (all-null token column) would make the
    # threshold NULL -> least(MOD, NULL) = MOD (least skips nulls — the
    # same trap the weight-0 comment above documents), silently keeping
    # a stratum the weights say to drop.  A stratum with no token mass
    # contributes nothing to the budget either way: drop it (threshold
    # 0), matching the "weight 0" semantics.
    safe_total = F.col("__stratum_tokens")
    threshold = F.when(
        safe_total > 0,
        F.least(
            F.lit(_MOD).cast("long"),
            F.floor(
                F.lit(budget_tokens * _MOD)
                * w
                / (F.lit(parts_total) * safe_total)
            ),
        ),
    ).otherwise(F.lit(0).cast("long"))
    return (
        df.join(F.broadcast(totals), strata_col)
        .filter(g < threshold)
        .drop("__stratum_tokens")
    )


def temperature_sample(
    df: DataFrame,
    budget_tokens: int,
    strata_col: str = "lang",
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    salt: int = 0,
    gate: Column | None = None,
) -> DataFrame:
    """Temperature-flattened mixture sampling (tau = 2): per-stratum
    sampling weight proportional to sqrt(stratum token mass) — the
    UniMax/temperature-resampling family's standard low-resource boost
    (raw proportional sampling drowns small languages; tau=2 halves the
    log-scale gap).  Keep-fraction per stratum:

        frac_s = min(1, budget * w_s / (sum(w) * tokens_s)),
        w_s    = floor(sqrt(tokens_s * 1e6))

    tau is FIXED at 2 because sqrt is the one power IEEE-754 requires
    correctly rounded: sqrt of the same exact integer is the identical
    double in every engine, and floor of identical doubles is exact —
    so w_s is an exact integer and the whole threshold stays in the
    same integer-exact regime as :func:`mixture_sample` (bit-stable
    membership, DuckDB-verifiable).  Arbitrary tau needs libm pow,
    whose rounding is engine-specific — that variant would be
    engine-local and is deliberately not offered.

    Same scale shape as :func:`mixture_sample`: tiny per-stratum totals
    aggregate broadcast back, row-local shuffle-free gate, no driver
    collect."""
    g = gate if gate is not None else hash_gate(F.col(id_col), salt)
    totals = df.groupBy(strata_col).agg(F.sum(token_col).alias("__stratum_tokens"))
    w = F.floor(F.sqrt(F.col("__stratum_tokens").cast("double") * _MOD)).cast(
        "long"
    )
    weights = totals.filter(F.col("__stratum_tokens") > 0).select(
        strata_col, F.col("__stratum_tokens"), w.alias("__w")
    )
    wsum = weights.agg(F.sum("__w").alias("__wsum"))
    # Threshold arithmetic must be ENGINE-IDENTICAL, not integer-exact:
    # the naive budget*MOD*w product overflows int64 at real token
    # budgets (1e9 tokens x 1e6 x 1e9-scale weights), and the two
    # engines disagree on overflow (ANSI error vs HUGEINT promotion).
    # Instead every step is IEEE-double with a FIXED parenthesization
    # mirrored verbatim in the oracle: long->double casts and each
    # individual op are correctly rounded, so identical inputs give
    # identical doubles in any engine, and floor of identical doubles
    # is exact.  (w_s itself stays an exact integer — see above.)
    ratio = F.col("__w").cast("double") / F.col("__wsum").cast("double")
    threshold = F.least(
        F.lit(_MOD).cast("long"),
        F.floor(
            (F.lit(float(budget_tokens * _MOD)) / F.col("__stratum_tokens"))
            * ratio
        ),
    )
    return (
        df.join(F.broadcast(weights), strata_col)
        .crossJoin(F.broadcast(wsum))
        .filter(g < threshold)
        .drop("__stratum_tokens", "__w", "__wsum")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    scale: int,
    id_col: str = "doc_id",
    salt: int = 0,
    gate: Column | None = None,
) -> DataFrame:
    """Deterministic Bernoulli WEIGHTED sampling: keep each row with
    probability ``min(1, weight/scale)`` — the importance-sampling
    primitive behind token-budget corpus construction (long documents
    kept more often, each row decided independently).

    The keep decision is ``hash_gate(id) < weight*MOD/scale``: row-local,
    shuffle-free, reproducible under any partitioning, and trivially
    re-runnable (the same ids survive).  Expected kept token mass is
    sum(w * min(1, w/scale)) — callers wanting an exact budget should
    compose with :func:`mixture_sample`'s per-stratum thresholds
    instead.  ``weight*MOD`` must stay below 2^53 (true for any token
    count times the 1e6 gate modulus)."""
    g = gate if gate is not None else hash_gate(F.col(id_col), salt)
    threshold = F.least(
        F.lit(_MOD).cast("long"),
        F.floor(F.col(weight_col) * F.lit(_MOD) / F.lit(scale)),
    )
    return df.filter(g < threshold)
