"""Certification + completeness-forensics operators: sampled
statistical certification (Wilson upper bound on a rule's violation
rate from a deterministic hash sample), turn-gap interval extraction
(islands-and-gaps), partition tail-freshness, and violation
co-occurrence lift.

Reference analog: the reference validates every record and reports
exact counts (/root/reference/validate.py:764-802). At 10^12 turns an
exact full pass is a scheduled job, not a pre-flight — these operators
add the survey-sampling layer the reference never needed: certify
"violation rate ≤ bound at 95% confidence" from a fixed-fraction
deterministic sample (the same hash-mod idiom the dedup family uses,
operators/dedup.py:portable_hash, so the sample — and therefore every
number derived from it — replays bit-identically in any engine), and
triage layers (where exactly are the missing turn ranges; which rules
fire together more than independence predicts; which ingest partitions
went quiet before their window closed).

Scale shapes:

* ``sampled_certification`` — the sample predicate is a pushed-down
  in-scan filter (md5 of the key, modular threshold), so a 5% budget
  reads 5% of row groups' worth of work with NO shuffle at all until
  the terminal single-row aggregation (one partial-aggregated global
  agg; the unpivot to one-row-per-rule happens on an O(#rules) frame).
* ``gap_intervals`` — one hash exchange on the conversation key for
  the lag window; output is O(gaps), never O(turns).
* ``partition_freshness`` — one map-side-combined agg to O(partitions)
  rows; the global watermark is an in-plan window over that tiny frame
  (no second fact scan — same idiom as the drift family's in-plan
  baseline total, plans/driver_queries.py q_drift_kl).
* ``violation_cooccurrence`` — operates on the violations frame, which
  is violations-sized, not fact-sized; the pair self-join shuffles on
  the conversation key once per side and emits O(pairs).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: default confidence quantile (two-sided 95%): z = Phi^-1(0.975).
#: Kept at the textbook 1.96 literal — both engines fold it as the
#: identical double, so the Wilson bound replays exactly.
WILSON_Z = 1.96

#: modulus for the deterministic sampling hash — matches the DuckDB
#: replay `('0x' || substr(md5(key), 1, 15))::BIGINT % 10000`.
SAMPLE_MOD = 10_000


def sample_predicate(key: Column, rate_bp: int) -> Column:
    """Deterministic, engine-portable inclusion predicate selecting
    ``rate_bp`` / 10000 of rows by the 60-bit md5-prefix hash of
    ``key`` (operators/dedup.py:portable_hash). Content-addressed
    sampling: the same row is in or out of the sample in every engine,
    every run, every cluster size — which is what makes a sampled
    certificate reproducible evidence rather than an anecdote."""
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint")
    return (h % SAMPLE_MOD) < rate_bp


def _stack_expr(flags: Sequence[tuple[str, Column]]) -> str:
    """stack() unpivot expression over the per-rule sum slots. rule_ids
    are spliced as SQL string literals, so backslashes are escaped and
    then embedded single quotes are doubled — a rule_id is user data
    (reachable verbatim from a --rules-spec JSON file), never
    expression syntax."""
    args = ", ".join(
        "'{}', __k{}".format(rule_id.replace("\\", "\\\\").replace("'", "''"), i)
        for i, (rule_id, _) in enumerate(flags)
    )
    return f"stack({len(flags)}, {args})"


def wilson_upper(k: Column, n: Column, z: float = WILSON_Z) -> Column:
    """Upper limit of the Wilson score interval for a binomial
    proportion (Wilson, JASA 1927) — the standard survey-sampling
    bound: well-behaved at k=0 (upper ≈ z²/(n+z²) instead of the Wald
    interval's degenerate 0), never exceeds 1. All-column arithmetic,
    identical operation order to the SQL twin so the rounded result is
    hash-stable across engines."""
    nn = n.cast("double")
    p = k.cast("double") / nn
    z2 = z * z
    centre = p + z2 / (2.0 * nn)
    spread = F.lit(z) * F.sqrt((p * (1.0 - p) + z2 / (4.0 * nn)) / nn)
    return (centre + spread) / (1.0 + z2 / nn)


def sampled_certification(
    df: DataFrame,
    flags: Sequence[tuple[str, Column]],
    key: Column,
    rate_bp: int = 2000,
    tol: float = 0.01,
    z: float = WILSON_Z,
) -> DataFrame:
    """Statistical pre-flight: evaluate each rule's violation flag on a
    deterministic ``rate_bp``/10000 hash sample of ``df`` and emit one
    certificate row per rule:

      (rule_id, n_sample, k_viol, viol_rate, upper_bound, certified)

    ``certified`` = 1 iff the Wilson 95% upper bound on the true
    violation rate is ≤ ``tol`` — i.e. "at 95% confidence, at most
    tol·N rows violate this rule", established by scanning rate_bp/1e4
    of the table. The full-scan validate() remains the authority; this
    is the cheap gate that decides whether to run it now or quarantine
    the delivery immediately.

    Plan shape: the sample predicate sits under the flag projection
    (in-scan filter), every flag folds into ONE global aggregation
    (map-side partial combine, single exchange of one row per
    partition), and the per-rule unpivot (``stack``) runs on the
    single aggregated row. Adding a rule adds one sum slot, not a scan.
    """
    sampled = df.where(sample_predicate(key, rate_bp))
    aggs = [F.count(F.lit(1)).cast("bigint").alias("__n")]
    for i, (_, flag) in enumerate(flags):
        aggs.append(
            F.sum(F.coalesce(flag.cast("int"), F.lit(0))).cast("bigint").alias(f"__k{i}")
        )
    one = sampled.agg(*aggs)
    per_rule = one.selectExpr(
        "__n", _stack_expr(flags) + " AS (rule_id, k_viol)"
    )
    # n=0 (empty table / sample rate too small to catch any row): rate
    # and bound are undefined (NULL) and the rule is explicitly NOT
    # certified — an empty sample attests nothing, and a NULL certified
    # would read as "not certified" to some consumers and "unknown" to
    # others. The when() guards also keep ANSI mode's divide-by-zero
    # error out of the n=0 branch.
    n = F.col("__n")
    return per_rule.select(
        "rule_id",
        n.alias("n_sample"),
        "k_viol",
        F.when(n > 0, F.round(F.col("k_viol") / n, 6)).alias("viol_rate"),
        F.when(
            n > 0, F.round(wilson_upper(F.col("k_viol"), n, z), 6)
        ).alias("upper_bound"),
        F.when(n > 0, wilson_upper(F.col("k_viol"), n, z) <= tol)
        .otherwise(F.lit(False))
        .cast("int")
        .alias("certified"),
    )


def sampled_certification_by_part(
    df: DataFrame,
    flags: Sequence[tuple[str, Column]],
    key: Column,
    part_col: str = "part",
    rate_bp: int = 2000,
    tol: float = 0.01,
    z: float = WILSON_Z,
) -> DataFrame:
    """Per-partition certificates — the targeting form of
    :func:`sampled_certification`: one (part, rule_id) certificate row
    per partition, so a run can route ONLY the partitions whose
    certificate fails the SLO into the full validate() (the sampled
    triage → targeted full scan workflow jobs/validate.py wires as
    ``--certify-target``). A clean delivery pays rate_bp/10⁴ of a scan
    total; a delivery with one bad day pays that plus one day's full
    validation instead of the whole table's.

    Same plan spine as the global form: in-scan sample filter, ONE
    map-side-combined aggregation — grouped by the partition key, so
    state is O(parts × rules) — and the stack unpivot + Wilson math on
    the tiny grouped frame. Day keys are near-uniform, so the grouped
    exchange has no skew exposure."""
    sampled = df.where(sample_predicate(key, rate_bp))
    aggs = [F.count(F.lit(1)).cast("bigint").alias("__n")]
    for i, (_, flag) in enumerate(flags):
        aggs.append(
            F.sum(F.coalesce(flag.cast("int"), F.lit(0))).cast("bigint").alias(f"__k{i}")
        )
    per_part = sampled.groupBy(F.col(part_col).alias("part")).agg(*aggs)
    per_rule = per_part.selectExpr(
        "part", "__n", _stack_expr(flags) + " AS (rule_id, k_viol)"
    )
    return per_rule.select(
        "part",
        "rule_id",
        F.col("__n").alias("n_sample"),
        "k_viol",
        F.round(F.col("k_viol") / F.col("__n"), 6).alias("viol_rate"),
        F.round(wilson_upper(F.col("k_viol"), F.col("__n"), z), 6).alias("upper_bound"),
        (wilson_upper(F.col("k_viol"), F.col("__n"), z) <= tol)
        .cast("int")
        .alias("certified"),
    )


def gap_intervals(
    turns: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    expect_start: int = 0,
) -> DataFrame:
    """Missing turn-index INTERVALS per conversation — the triage
    sequel to the pass/fail contiguity rule (W3): contiguity says a
    conversation is broken; this says exactly WHICH ranges are absent,
    as one row per maximal missing run:

      (conv_id, gap_start, gap_end, gap_len)

    including the leading gap when the smallest present index exceeds
    ``expect_start``. Classic islands-and-gaps: lag over the present
    indexes inside each conversation. Duplicate indexes need NO
    up-front distinct — under the index ordering a dup row's lag is its
    own value (diff 0, filtered) and only the FIRST row of a tie run
    sees the previous distinct value, so each gap emits exactly once
    and dup-dirt can't fabricate phantom edges (pytest-pinned). That
    keeps the whole operator at ONE narrow exchange on the conversation
    key (an (id, int) projection — an explicit groupBy-distinct first
    would pay a second, (conv, idx)-keyed shuffle of the same rows for
    nothing); NULL indexes are dropped in-scan (a NULL can't bound a
    gap; not_null's job to flag). Output is O(gaps)."""
    idx = F.col(idx_col)
    present = turns.select(conv_col, idx_col).where(idx.isNotNull())
    w = Window.partitionBy(conv_col).orderBy(idx)
    g = present.withColumn("__prev", F.lag(idx).over(w))
    lead_gap = F.col("__prev").isNull() & (idx > expect_start)
    mid_gap = F.col("__prev").isNotNull() & (idx - F.col("__prev") > 1)
    return (
        g.where(lead_gap | mid_gap)
        .select(
            F.col(conv_col),
            F.when(F.col("__prev").isNull(), F.lit(expect_start))
            .otherwise(F.col("__prev") + 1)
            .cast("int")
            .alias("gap_start"),
            (idx - 1).cast("int").alias("gap_end"),
            F.when(F.col("__prev").isNull(), idx - expect_start)
            .otherwise(idx - F.col("__prev") - 1)
            .cast("bigint")
            .alias("gap_len"),
        )
    )


def partition_freshness(
    df: DataFrame,
    ts_col: str = "ts",
    max_tail_silence_s: int = 400,
    part_col: str | None = None,
) -> DataFrame:
    """Ingest-freshness audit per day partition: a partition whose last
    event lands well before its window closed is the signature of a
    truncated export / stuck upstream shard — volume checks miss it
    when the day is merely short at the tail, not small in total.

    Emits (part, last_event_us, tail_silence_s, n_rows) for every day
    whose tail silence — seconds between its last event and the
    earlier of (its own midnight boundary, the table-wide watermark) —
    exceeds ``max_tail_silence_s``. Clamping to the global watermark
    keeps the current in-progress day from being flagged for the part
    of the day that simply hasn't happened yet.

    One map-side-combined aggregation to O(days) rows; the global
    watermark is an in-plan window max over that tiny frame (no second
    fact scan). All integer microsecond arithmetic ⇒ engine-portable.

    ``part_col``: group by the table's OWN day-partition column (the
    'yyyy-MM-dd' string the verdicts key on) instead of deriving the
    day from ``ts_col`` — the pipeline form, so a freshness finding
    lands on the partition the ledger tracks. Rows whose part disagrees
    with date(ts) are partition_consistency's finding, not this one's.
    """
    # parquet event-time columns arrive TIMESTAMP_NTZ; the session tz is
    # pinned UTC, so the cast is the identity on the wall-clock value —
    # it only re-tags the type so unix_micros accepts it
    ts = F.col(ts_col).cast("timestamp")
    part = (
        F.col(part_col).cast("string")
        if part_col
        else F.date_format(ts, "yyyy-MM-dd")
    )
    per_day = (
        df.select(part.alias("part"), ts.alias("__ts"))
        .groupBy("part")
        .agg(
            F.unix_micros(F.max("__ts")).alias("last_event_us"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
    )
    wm = F.max("last_event_us").over(Window.partitionBy())
    day_end_us = F.unix_micros(
        F.to_timestamp(F.col("part")) + F.expr("INTERVAL 1 DAY")
    )
    deadline = F.least(day_end_us, wm)
    silence_s = F.expr(
        "div(__deadline_us - last_event_us, 1000000)"
    )
    return (
        per_day.withColumn("__deadline_us", deadline)
        .withColumn("tail_silence_s", silence_s.cast("bigint"))
        .where(F.col("tail_silence_s") > max_tail_silence_s)
        .select("part", "last_event_us", "tail_silence_s", "n_rows")
    )


def violation_cooccurrence(
    violations: DataFrame,
    n_groups: Column | DataFrame,
    group_col: str = "conv_id",
    rule_col: str = "rule_id",
) -> DataFrame:
    """Rule-pair co-occurrence lift over a violations frame: for every
    unordered rule pair (a < b), in how many groups (conversations) do
    BOTH fire, and how does that compare to independence:

      lift = n_ab · N / (n_a · n_b)

    Lift ≫ 1 is the triage signal that two rules share one upstream
    cause (one bad exporter emits both) — fix once, clear both queues.

    ``n_groups`` is the total group population N as a one-row DataFrame
    with column ``n_total`` (kept a frame so it stays in-plan and the
    join is a broadcast of one row — no collect, no literal baked at
    plan-build time from a separate job).

    Shapes: the input is violations-sized; per-group rule sets are
    collapsed to distinct (group, rule) first (partial-agg'd); the pair
    join shuffles that shrunken frame on the group key once per side;
    totals per rule are an O(rules) broadcast. Output is O(rule²) ≤ a
    few hundred rows regardless of table size."""
    v = violations.select(group_col, rule_col).distinct()
    totals = v.groupBy(rule_col).agg(F.count(F.lit(1)).cast("bigint").alias("__n_rule"))
    a = v.select(F.col(group_col).alias("__g"), F.col(rule_col).alias("rule_a"))
    b = v.select(F.col(group_col).alias("__g"), F.col(rule_col).alias("rule_b"))
    pairs = (
        a.join(b, "__g")
        .where(F.col("rule_a") < F.col("rule_b"))
        .groupBy("rule_a", "rule_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    ta = totals.select(F.col(rule_col).alias("rule_a"), F.col("__n_rule").alias("n_a"))
    tb = totals.select(F.col(rule_col).alias("rule_b"), F.col("__n_rule").alias("n_b"))
    if isinstance(n_groups, Column):  # pragma: no cover - convenience path
        n_frame = violations.sparkSession.range(1).select(n_groups.alias("n_total"))
    else:
        n_frame = n_groups
    return (
        pairs.join(F.broadcast(ta), "rule_a")
        .join(F.broadcast(tb), "rule_b")
        .crossJoin(F.broadcast(n_frame))
        .select(
            "rule_a",
            "rule_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(
                F.col("n_both") * F.col("n_total") / (F.col("n_a") * F.col("n_b")), 6
            ).alias("lift"),
        )
    )
