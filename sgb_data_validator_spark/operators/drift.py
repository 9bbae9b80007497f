"""Distribution-drift checks per partition vs a baseline snapshot.

North-star checks (SURVEY.md §2.4 A5; nearest reference analog is the
human-reviewed profiling snapshot, /root/reference/src/profiling.py:57-83):

* categorical drift — KL divergence of per-partition role/tool frequency
  vs ``baseline_stats`` freq:  KL = Σ_v p_v · ln(p_v / q_v)
* temporal drift — chi-square of the per-partition hour-of-ts histogram
  vs baseline expected counts:  χ² = Σ_b (obs_b − exp_b)² / exp_b

Both are pure column math over a groupBy(part, value) count — one
shuffle keyed by (part, value), a window for the per-part total, then
a broadcast join against the tiny baseline dim, then a groupBy(part)
reduction. No UDFs. ``drift_violations`` runs all three of its
dimensions (role, tool, hour of ts) over ONE fact scan: it stacks them
into (dim, value) rows and counts by (part, dim, value) once.

Smoothing: categories absent from the baseline get q = epsilon so a
brand-new category produces a large-but-finite KL contribution instead
of infinity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sgb_data_validator_spark.operators.rules import SEV_ERROR, violation_rows

EPSILON = 1e-6


def categorical_freqs(turns: DataFrame, dim: str, value_col) -> DataFrame:
    """Per-(part, value) relative frequency for one categorical dimension."""
    counts = (
        turns.where(value_col.isNotNull())
        .groupBy(F.col("part").cast("string").alias("part"), value_col.alias("value"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # the per-part total is a window over the small grouped frame: a
    # self-join on it would scan and group the fact a second time
    total = F.sum("n").over(Window.partitionBy("part"))
    return counts.select(
        "part", F.lit(dim).alias("dim"), "value", (F.col("n") / total).alias("p"), "n", total.alias("total")
    )


def _drift_stats(observations: DataFrame, baseline: DataFrame) -> DataFrame:
    """(part, dim, kl, n_obs, chi2) from one (part, dim, value) row per
    observation: a groupBy(part, dim, value) count, a window for the
    per-(part, dim) totals over that small frame, one broadcast join
    against the baseline's (dim, value, freq), one groupBy(part, dim)."""
    counts = (
        observations.where(F.col("value").isNotNull())
        .groupBy("part", "dim", "value")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = baseline.select("dim", "value", F.col("freq").alias("q"))
    freqs = (
        counts.withColumn("total", F.sum("n").over(Window.partitionBy("part", "dim")))
        .join(F.broadcast(q), ["dim", "value"], "left")
        .withColumn("q", F.coalesce(F.col("q"), F.lit(EPSILON)))
    )
    p = F.col("n") / F.col("total")
    expected = F.col("q") * F.col("total")
    return freqs.groupBy("part", "dim").agg(
        F.sum(p * F.log(p / F.col("q"))).alias("kl"),
        F.first("total").alias("n_obs"),
        F.sum(F.pow(F.col("n") - expected, F.lit(2)) / expected).alias("chi2"),
    )


def _observations(turns: DataFrame, dim: str, value_col) -> DataFrame:
    return turns.select(
        F.col("part").cast("string").alias("part"), F.lit(dim).alias("dim"), value_col.alias("value")
    )


def kl_divergence(
    turns: DataFrame, baseline: DataFrame, dim: str, value_col=None
) -> DataFrame:
    """(part, dim, kl, n_obs) — KL(p_partition ‖ q_baseline)."""
    value_col = value_col if value_col is not None else F.col(dim)
    stats = _drift_stats(_observations(turns, dim, value_col), baseline)
    return stats.select("part", "dim", "kl", "n_obs")


def ts_chi_square(turns: DataFrame, baseline: DataFrame, dim: str = "ts_hour_bucket") -> DataFrame:
    """(part, dim, chi2) — hour-of-day histogram vs baseline expectation."""
    stats = _drift_stats(_observations(turns, dim, F.hour("ts").cast("string")), baseline)
    return stats.select("part", "dim", "chi2")


def psi(turns: DataFrame, baseline: DataFrame, dim: str, value_col=None) -> DataFrame:
    """(part, dim, psi) — Population Stability Index, the industry drift
    score: Σ_v (p_v − q_v)·ln(p_v/q_v). Unlike KL it is symmetric in
    spirit (both directions of shift contribute positively) and includes
    baseline categories MISSING from the partition (p smoothed to ε), so
    a vanished category registers. Plan shape: the per-(part, value)
    count shuffle from categorical_freqs, a broadcast of the tiny
    (parts × baseline-categories) grid, and a per-part reduction."""
    value_col = value_col if value_col is not None else F.col(dim)
    p = categorical_freqs(turns, dim, value_col).select("part", "value", "p")
    q = baseline.where(F.col("dim") == dim).select("value", F.col("freq").alias("q"))
    grid = p.select("part").distinct().crossJoin(F.broadcast(q))
    joined = (
        p.join(grid, ["part", "value"], "full")
        .withColumn("p", F.coalesce(F.col("p"), F.lit(EPSILON)))
        .withColumn("q", F.coalesce(F.col("q"), F.lit(EPSILON)))
    )
    return (
        joined.groupBy("part")
        .agg(F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))).alias("psi"))
        .select("part", F.lit(dim).alias("dim"), "psi")
    )


def js_divergence(
    turns: DataFrame, baseline: DataFrame, dim: str, value_col=None
) -> DataFrame:
    """(part, dim, js) — Jensen–Shannon divergence of the per-partition
    categorical mix vs the baseline: JS(p‖q) = ½·KL(p‖m) + ½·KL(q‖m)
    with m = (p+q)/2. The symmetric, BOUNDED (≤ ln 2) member of the
    drift family — unlike KL it cannot blow up on a category the other
    side lacks, so one alert threshold works across dimensions with
    very different cardinalities. Same full-grid ε-smoothing as psi()
    (vanished and brand-new categories both register), same plan shape:
    one (part, value) count shuffle, broadcast baseline grid, per-part
    reduction."""
    value_col = value_col if value_col is not None else F.col(dim)
    p = categorical_freqs(turns, dim, value_col).select("part", "value", "p")
    return js_divergence_from_freqs(p, baseline, dim)


def js_divergence_from_freqs(
    p: DataFrame, baseline: DataFrame, dim: str
) -> DataFrame:
    """JS core over a PRE-NORMALIZED (part, value, p) frequency frame —
    the shared math :func:`js_divergence` (batch, from raw rows) and the
    streaming drift monitor (from finalized windowed counts) both
    delegate to, so batch/stream parity is by construction: same grid,
    same ε-smoothing, same reduction."""
    q = baseline.where(F.col("dim") == dim).select("value", F.col("freq").alias("q"))
    grid = p.select("part").distinct().crossJoin(F.broadcast(q))
    joined = (
        p.join(grid, ["part", "value"], "full")
        .withColumn("p", F.coalesce(F.col("p"), F.lit(EPSILON)))
        .withColumn("q", F.coalesce(F.col("q"), F.lit(EPSILON)))
    )
    m = (F.col("p") + F.col("q")) / 2
    term = 0.5 * F.col("p") * F.log(F.col("p") / m) + 0.5 * F.col("q") * F.log(
        F.col("q") / m
    )
    return (
        joined.groupBy("part")
        .agg(F.sum(term).alias("js"))
        .select("part", F.lit(dim).alias("dim"), "js")
    )


def ks_statistic(
    turns: DataFrame,
    baseline: DataFrame,
    dim: str = "ts_hour_bucket",
    value_col=None,
) -> DataFrame:
    """(part, dim, ks) — two-sample Kolmogorov–Smirnov distance between
    the per-partition hour-of-day histogram and the baseline:
    KS = max_h |CDF_p(h) − CDF_q(h)| over buckets in ascending hour
    order. Complements χ² (which weights per-bucket deviation) with the
    classic max-CDF-gap statistic, sensitive to systematic shifts of
    mass along the ordered axis (e.g. traffic moving 3 hours later).

    No smoothing: a bucket absent from one side contributes p (or q) = 0
    exactly — KS is well-defined on zero cells, unlike KL/PSI.

    Plan shape: the (part, value) count shuffle from categorical_freqs
    reduces the fact to O(parts × 24) rows; the CDF window and the
    per-part max then run on that tiny frame (one exchange keyed by
    part). The baseline grid is broadcast, the fact is scanned once.
    """
    value_col = value_col if value_col is not None else F.hour("ts").cast("string")
    p = categorical_freqs(turns, dim, value_col).select("part", "value", "p")
    q = baseline.where(F.col("dim") == dim).select("value", F.col("freq").alias("q"))
    grid = p.select("part").distinct().crossJoin(F.broadcast(q))
    joined = (
        p.join(grid, ["part", "value"], "full")
        .withColumn("p", F.coalesce(F.col("p"), F.lit(0.0)))
        .withColumn("q", F.coalesce(F.col("q"), F.lit(0.0)))
    )
    w = Window.partitionBy("part").orderBy(F.col("value").cast("int"))
    cum = joined.select(
        "part",
        F.sum("p").over(w).alias("cp"),
        F.sum("q").over(w).alias("cq"),
    )
    return (
        cum.groupBy("part")
        .agg(F.max(F.abs(F.col("cp") - F.col("cq"))).alias("ks"))
        .select("part", F.lit(dim).alias("dim"), "ks")
    )


def wasserstein(
    turns: DataFrame,
    baseline: DataFrame,
    dim: str = "ts_hour_bucket",
    value_col=None,
) -> DataFrame:
    """(part, dim, w1) — first Wasserstein (earth-mover) distance between
    the per-partition histogram over ORDERED integer buckets and the
    baseline, with unit bucket width:
    W1 = Σ_h |CDF_p(h) − CDF_q(h)| · (next_h − h) — each CDF gap
    weighted by the run of integer buckets it persists across, so
    buckets absent from BOTH sides still contribute their displacement
    (all mass at 0 vs all mass at 5 is W1 = 5 even with 1..4 empty).

    Completes the drift family's ordered-axis pair: KS reports the single
    worst CDF gap (max), W1 reports the total transported mass × distance
    (sum) — a distribution that shifts ALL its mass one bucket later has
    tiny KS-per-bucket but W1 ≈ 1.0, so W1 catches broad gentle shifts
    KS underweights, and its unit is "buckets of displacement", directly
    interpretable as e.g. "traffic moved 2.3 hours later".

    Zero cells are exact (no smoothing), like KS. Plan shape identical to
    ks_statistic: the fact collapses to O(parts × buckets) rows in ONE
    (part, value) count shuffle, the baseline is broadcast, and the CDF
    window + per-part reduction run on the tiny frame.
    """
    value_col = value_col if value_col is not None else F.hour("ts").cast("string")
    p = categorical_freqs(turns, dim, value_col).select("part", "value", "p")
    q = baseline.where(F.col("dim") == dim).select("value", F.col("freq").alias("q"))
    grid = p.select("part").distinct().crossJoin(F.broadcast(q))
    joined = (
        p.join(grid, ["part", "value"], "full")
        .withColumn("p", F.coalesce(F.col("p"), F.lit(0.0)))
        .withColumn("q", F.coalesce(F.col("q"), F.lit(0.0)))
    )
    w = Window.partitionBy("part").orderBy(F.col("value").cast("int"))
    # each |ΔCDF| persists until the NEXT present bucket, so weight it
    # by that gap — summing only over present buckets would under-count
    # displacement across integer buckets absent from BOTH sides (all
    # mass at 0 vs all mass at 5 with 1..4 empty is W1=5, not 1). The
    # last bucket's ΔCDF is ~0 (both CDFs reach 1); its weight defaults
    # to 1 so float residue contributes at most one unit of itself.
    cum = joined.select(
        "part",
        F.col("value").cast("int").alias("_b"),
        F.sum("p").over(w).alias("cp"),
        F.sum("q").over(w).alias("cq"),
    )
    w_b = Window.partitionBy("part").orderBy("_b")
    cum = cum.withColumn(
        "_gap",
        F.coalesce(F.lead("_b").over(w_b) - F.col("_b"), F.lit(1)).cast("double"),
    )
    return (
        cum.groupBy("part")
        .agg(F.sum(F.abs(F.col("cp") - F.col("cq")) * F.col("_gap")).alias("w1"))
        .select("part", F.lit(dim).alias("dim"), "w1")
    )


def drift_violations(
    turns: DataFrame,
    baseline: DataFrame,
    kl_threshold: float = 0.05,
    kl_chi2_crit: float = 40.0,
    chi2_threshold: float = 100.0,  # χ²(23) crit at p≈1e-11 — hour histograms
) -> DataFrame:
    """Partition-level violations in the canonical violations schema:
    ``drift.kl.role`` and ``drift.kl.tool`` (KL divergence, as
    :func:`kl_divergence`) and ``drift.chi2.ts`` (hour-of-day χ², as
    :func:`ts_chi_square`).

    The KL trigger is scale-aware: under H0 (no drift), 2·n·KL is
    asymptotically χ²(k−1), so a partition drifts only when BOTH the
    effect size (kl > kl_threshold) and the evidence (2·n·kl >
    kl_chi2_crit) are large — small partitions don't false-positive on
    sampling noise, huge partitions don't alert on negligible shifts.

    One fact scan for all three dimensions: one projection stacks
    (role, tool, hour(ts)) into (dim, value) rows, and one
    :func:`_drift_stats` computes KL and χ² for every (part, dim).
    """
    observations = turns.select(
        F.col("part").cast("string").alias("part"),
        F.expr(
            "stack(3, 'role', role, 'tool', tool, 'ts_hour_bucket', cast(hour(ts) AS string))"
        ).alias("dim", "value"),
    )
    stats = _drift_stats(observations, baseline)
    is_ts = F.col("dim") == "ts_hour_bucket"
    kl, chi2 = F.col("kl"), F.col("chi2")
    drifted = F.when(is_ts, chi2 > chi2_threshold).otherwise(
        (kl > kl_threshold) & (2.0 * F.col("n_obs") * kl > kl_chi2_crit)
    )
    return violation_rows(
        stats.where(drifted),
        rule_id=F.when(is_ts, "drift.chi2.ts").otherwise(F.concat(F.lit("drift.kl."), F.col("dim"))),
        column=F.when(is_ts, "ts").otherwise(F.col("dim")),
        offending_value=F.when(is_ts, F.round(chi2, 3)).otherwise(F.round(kl, 6)),
        severity=SEV_ERROR,
        part=F.col("part"),
    )


def novel_entities(
    df: DataFrame,
    part_col,
    entity_col,
) -> DataFrame:
    """Per-partition novel-entity rate: of the distinct entities active
    in each partition, how many appear there for the FIRST time. The
    categorical-drift family covers shifts in the MIX of known values;
    this covers the open-vocabulary dimension drift can't — a spike of
    never-seen conv_ids/users/tools on one ingest day is the classic
    signature of an upstream id-remap, a replay, or a new traffic
    source, and is invisible to KL/PSI over a fixed vocabulary.

    Output: (part, active, novel, novel_rate) — one row per partition,
    ordered axis left to the caller (partitions are usually dates).

    Plan shape: groupBy(entity) min(part) collapses the fact to one row
    per entity (ONE shuffle keyed by entity — skew-safe: hot entities
    combine map-side), then groupBy(part) twice on shrinking frames
    (actives from an entity×part distinct, novels from the first-seen
    frame) joined on the O(parts) result. The fact is scanned once."""
    # first-seen is min over the RAW partition value (native type
    # ordering), cast to string only afterwards — a lexicographic min
    # over the cast would misorder numeric partition keys ('10' < '9').
    # ISO date strings order identically either way.
    raw_part = F.col(part_col) if isinstance(part_col, str) else part_col
    slim = df.select(
        raw_part.alias("_rawpart"),
        F.col(entity_col).alias("entity") if isinstance(entity_col, str) else entity_col.alias("entity"),
    ).where(F.col("entity").isNotNull())
    per_entity_part = (
        slim.groupBy("entity", "_rawpart")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("part", F.col("_rawpart").cast("string"))
    )
    first_seen = (
        per_entity_part.groupBy("entity")
        .agg(F.min("_rawpart").alias("_rawpart"))
        .withColumn("part", F.col("_rawpart").cast("string"))
    )
    active = per_entity_part.groupBy("part").agg(
        F.count(F.lit(1)).alias("active")
    )
    novel = first_seen.groupBy("part").agg(F.count(F.lit(1)).alias("novel"))
    return (
        active.join(novel, "part", "left")
        .withColumn("novel", F.coalesce(F.col("novel"), F.lit(0)))
        .select(
            "part",
            F.col("active").cast("bigint").alias("active"),
            F.col("novel").cast("bigint").alias("novel"),
            F.round(F.col("novel") / F.col("active"), 6).alias("novel_rate"),
        )
    )


def fill_rates(df: DataFrame, part_col, cols: list[str]) -> DataFrame:
    """Per-(partition, column) fill rate (share of non-NULL values) in
    ONE fact scan: a single groupBy(part) computes count(*) plus one
    count(col) per audited column (all map-side-combinable, one shuffle
    keyed by part), then the wide O(parts) row is unpivoted with
    ``stack`` — the fact itself is never exploded or rescanned per
    column. Completeness is the column-stats axis the frequency-drift
    family (KL/PSI/JS/KS/W1) cannot see: those compare the mix of
    PRESENT values, so a field silently going NULL for half a partition
    is invisible to them while it is the single most common upstream
    breakage (dropped join in the producer, schema evolution, a writer
    defaulting a new field).

    Output: (part, column, n, filled, fill_rate), one row per audited
    column per partition.

    Reference analog: the null/required-field checks that
    /root/reference/src/models.py enforces per record; here they become
    a partition-level completeness profile so drift in missingness is a
    first-class, baseline-comparable signal.
    """
    part = (
        F.col(part_col).cast("string") if isinstance(part_col, str) else part_col.cast("string")
    )
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.count(F.col(c)).alias(f"__f_{c}") for c in cols
    ]
    wide = df.groupBy(part.alias("part")).agg(*aggs)
    pairs = ", ".join(f"'{c}', __f_{c}" for c in cols)
    return wide.select(
        "part",
        F.col("__n").cast("bigint").alias("n"),
        F.expr(f"stack({len(cols)}, {pairs})").alias("column", "filled"),
    ).select(
        "part",
        "column",
        "n",
        F.col("filled").cast("bigint").alias("filled"),
        (F.col("filled") / F.col("n")).alias("fill_rate"),
    )


def fill_rate_drift(
    df: DataFrame,
    part_col,
    cols: list[str],
    baseline: DataFrame | None = None,
    tol: float = 0.005,
    k: float = 3.0,
) -> DataFrame:
    """Per-partition completeness drift: each audited column's fill rate
    vs a baseline rate, flagged when the absolute gap exceeds the
    noise-aware limit ``max(tol, k·sqrt(b(1−b)/n))`` — the same
    binomial-3σ construction as the p-chart (operators/stats.py:
    rate_pchart), so small partitions don't false-positive on sampling
    noise while ``tol`` stays the effect-size floor that governs at
    scale (a 10^9-row partition's σ term is ~0, leaving the pure
    half-percentage-point contract).

    ``baseline`` is the engine's (dim, value, freq) snapshot frame with
    ``dim = 'fill_rate'`` rows (value = column name, freq = the clean
    fill rate) — the same shape ``generate_baseline_stats`` writes for
    the categorical dims, so no schema change anywhere. When
    ``baseline`` is None the global (all-partition) fill rate serves as
    the reference, computed as an in-plan aggregate over the already
    grouped O(parts × cols) frame — no second fact scan either way; the
    baseline side broadcasts.

    Output: (part, column, n, fill_rate, baseline_rate, delta, limit,
    flagged), delta = fill_rate − baseline_rate.
    """
    rates = fill_rates(df, part_col, cols)
    if baseline is not None:
        base = (
            baseline.where(F.col("dim") == "fill_rate")
            .select(F.col("value").alias("column"), F.col("freq").alias("baseline_rate"))
        )
        joined = rates.join(F.broadcast(base), "column", "inner")
    else:
        w = Window.partitionBy("column")
        joined = rates.withColumn(
            "baseline_rate", F.sum("filled").over(w) / F.sum("n").over(w)
        )
    b = F.col("baseline_rate")
    limit = F.greatest(F.lit(tol), F.lit(k) * F.sqrt(b * (1.0 - b) / F.col("n")))
    return joined.select(
        "part",
        "column",
        "n",
        "fill_rate",
        "baseline_rate",
        (F.col("fill_rate") - b).alias("delta"),
        limit.alias("limit"),
        (F.abs(F.col("fill_rate") - b) > limit).alias("flagged"),
    )
