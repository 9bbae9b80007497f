"""The assembled validation pipeline over a transcript table.

Mirrors the reference's run lifecycle (validate.py:764-802 →
print_report/save_report/export_validation_csv) as a handful of
DataFrames:

  validate(tables, families) → ValidationResult(violations, verdicts, stats)

* ``families``: the check families (plans/families.py) — functions
  ``TranscriptTables -> DataFrame | None`` whose rows are unioned in
  list order; DEFAULT_FAMILIES is the standard verdict path (row rules,
  uniqueness, opening role, referential, sequence, drift) and opt-in
  checks are factories a caller appends.
* ``violations``: canonical rows (rule_id, conv_id, turn_idx, column,
  offending_value, severity, part) — analog of DataValidationError /
  Warning (validate.py:37-61).
* ``verdicts``: per-partition (part, status, error_count, warning_count)
  — analog of the per-item-set pass/fail (validate.py:1191-1192: exit 1
  iff any errors → status FAILED iff any error-severity violation).
* ``stats``: per-partition column profiles (transcript_stats).
* exit-code contract: ``ValidationResult.passed`` is False iff any
  error exists anywhere (driver-side small collect of verdicts);
  jobs/validate.py reads the same answer off the verdict rows it
  already collects for the console.

Scale notes: each family reads the fact table on its own; Spark caches
nothing by default here — callers validating the same partition set
repeatedly should persist the pruned scan. All dimension joins are
broadcast. ``materialize`` checkpoints violations and stats as two
concurrent Spark jobs (``run_concurrently``), since neither reads the
other; verdicts follow, built on the checkpointed violations. Most of
these jobs' stages are narrow or single-task, so overlapping them fills
cores that a one-after-another run leaves idle.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import reduce
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from sgb_data_validator_spark.operators import rules as R
from sgb_data_validator_spark.operators.stats import ColumnSpec, column_stats, stats_digest
from sgb_data_validator_spark.plans.families import DEFAULT_FAMILIES, Family
from sgb_data_validator_spark.sources.generator import ROLES


@dataclass
class TranscriptTables:
    turns: DataFrame
    conversations: DataFrame | None = None
    allowed_tools: DataFrame | None = None
    baseline_stats: DataFrame | None = None


@dataclass
class ValidationResult:
    violations: DataFrame
    verdicts: DataFrame
    stats: DataFrame
    _passed: bool | None = field(default=None, repr=False)

    @property
    def passed(self) -> bool:
        if self._passed is None:
            self._passed = (
                self.verdicts.where(F.col("status") == "FAILED").limit(1).count() == 0
            )
        return self._passed


def run_concurrently(*thunks: Callable[[], Any]) -> list[Any]:
    """Call each thunk on its own driver thread and return their results
    in argument order; the first failing thunk, in argument order,
    re-raises once every thunk has finished.

    Spark's scheduler runs jobs submitted from different threads side by
    side, so independent actions share the cores instead of queueing.
    Each thunk runs under the caller's local properties and the active
    session's job tags at the time of the call, so its jobs carry the
    caller's job description. Needs a live SparkSession."""
    session = SparkSession.active()
    # one wrapper per thunk: each wrapper holds its own copy of the local
    # properties, so a thunk that sets its own job description does not
    # relabel its siblings' jobs
    targets = [inheritable_thread_target(session)(thunk) for thunk in thunks]
    with ThreadPoolExecutor(max_workers=len(targets)) as pool:
        futures = [pool.submit(target) for target in targets]
    return [f.result() for f in futures]


def transcript_row_rules() -> R.RowRuleSet:
    """The canonical row-rule set for the input_hint transcript schema."""
    return R.RowRuleSet().add(
        R.not_null("text"),                                   # models.py:75 analog
        R.non_empty("text"),                                  # models.py:22-28
        R.in_vocabulary("role", ROLES),                       # vocabularies.py:45-55
        R.no_url_in_text("text"),                             # validate.py:467-506
        R.tool_role_consistency(tool_roles=("tool",)),        # models.py field pairs
    )


def compute_violations(
    t: TranscriptTables, families: Sequence[Family] = DEFAULT_FAMILIES
) -> DataFrame:
    """Union of every family's violation rows, in list order."""
    frames = [v for v in (family(t) for family in families) if v is not None]
    return reduce(DataFrame.unionByName, frames)


def compute_verdicts(turns: DataFrame, violations: DataFrame) -> DataFrame:
    """Per-partition pass/fail. Partitions with zero violations PASS too,
    so verdicts start from the fact table's partition list."""
    parts = turns.select(F.col("part").cast("string").alias("part")).distinct()
    counts = (
        violations.where(F.col("part").isNotNull())
        .groupBy("part")
        .agg(
            F.sum((F.col("severity") == "error").cast("long")).alias("error_count"),
            F.sum((F.col("severity") == "warning").cast("long")).alias("warning_count"),
        )
    )
    return (
        parts.join(counts, "part", "left")
        .select(
            "part",
            F.coalesce("error_count", F.lit(0)).alias("error_count"),
            F.coalesce("warning_count", F.lit(0)).alias("warning_count"),
        )
        .withColumn(
            "status", F.when(F.col("error_count") > 0, F.lit("FAILED")).otherwise(F.lit("PASSED"))
        )
    )


def transcript_stats(turns: DataFrame) -> DataFrame:
    specs = [
        ColumnSpec("conv_id"),
        ColumnSpec("turn_idx", numeric=True),
        ColumnSpec("role", conform_pattern=r"^(?:user|assistant|system|tool)$"),
        ColumnSpec("text"),
        ColumnSpec("tool"),
        ColumnSpec("ts"),
    ]
    return column_stats(turns, specs)


def validate(
    t: TranscriptTables, families: Sequence[Family] = DEFAULT_FAMILIES
) -> ValidationResult:
    violations = compute_violations(t, families)
    verdicts = compute_verdicts(t.turns, violations)
    stats = transcript_stats(t.turns)
    return ValidationResult(violations=violations, verdicts=verdicts, stats=stats)


def materialize(result: ValidationResult, turns: DataFrame) -> ValidationResult:
    """Compute the fact-derived frames ONCE before a multi-artifact
    fan-out.

    ``validate()`` returns lazy frames — correct for library users who
    run one action on them. The CLI run is not that user: it performs
    ~8 actions on the same result (violations/verdicts/stats/summary/
    pivot/spc sinks + ledger record + console verdicts), and each
    action would re-execute the violations DAG — itself several scans
    of the fact (fused row rules, uniqueness, opening argmin, orphan
    joins, sequence window, drift). At 10^12 turns that is the
    difference between one pass over the data and eight.

    ``localCheckpoint`` (MEMORY_AND_DISK on the executors) materializes
    violations and stats eagerly, as two concurrent jobs: neither reads
    the other, and their mostly single-task stages would otherwise leave
    cores idle. Verdicts follow, rebuilt ON the materialized violations
    and checkpointed too (it is O(parts)).
    Downstream actions then scan the checkpointed blocks — the fact is
    never re-read. The violation/verdict/stats VALUES are identical to
    the lazy result's (pinned by
    tests/test_pipeline_e2e.py::test_materialize_semantic_parity).
    Violations are dirt-rate-bounded, so the checkpoint is far smaller
    than the fact; stats and verdicts are O(parts × columns)."""
    viol, stats = run_concurrently(
        result.violations.localCheckpoint, result.stats.localCheckpoint
    )
    verdicts = compute_verdicts(turns, viol).localCheckpoint()
    return ValidationResult(violations=viol, verdicts=verdicts, stats=stats)


def summary_report(violations: DataFrame) -> DataFrame:
    """Severity × rule counts (reference print_report, validate.py:804-826)."""
    return (
        violations.groupBy("severity", "rule_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("severity", "rule_id")
    )


def pivot_report(violations: DataFrame, rule_ids: list[str] | None = None) -> DataFrame:
    """One row per resource, one column per violated rule — the CSV pivot
    (reference export_validation_csv, validate.py:859-983). Passing the
    explicit rule_id list skips the extra distinct-scan Spark needs to
    discover pivot values."""
    p = violations.groupBy("conv_id", "turn_idx").pivot("rule_id", rule_ids)
    # max(), not first(): first() is nondeterministic under parallel
    # execution when a (resource, rule) pair has several violations
    return p.agg(F.max("offending_value")).orderBy("conv_id", "turn_idx")


def spc_report(result: ValidationResult, k: float = 3.0) -> DataFrame:
    """Statistical-process-control layer over the run: a u-chart
    (Poisson violations-per-turn; several rules can fire on one turn,
    so the rate is unbounded and binomial p-chart limits would be
    wrong) flagging partitions whose violation RATE broke from the
    run's own process — the complement of compute_verdicts' absolute
    pass/fail: a verdict says "this partition has errors", the SPC
    status says "this partition is anomalous RELATIVE to the others",
    with limits that tighten on big partitions and loosen on small ones
    (operators/stats.py:uchart_from_counts).

    ZERO additional fact scans: per-partition turn counts come from the
    stats artifact (column_stats' ``n`` is the partition row count,
    identical on every column row) and defect counts from the
    violations frame — both already computed by validate()."""
    n = result.stats.groupBy("part").agg(F.max("n").alias("n"))
    defects = (
        result.violations.where(F.col("part").isNotNull())
        .groupBy(F.col("part").cast("string").alias("part"))
        .agg(F.count(F.lit(1)).alias("defects"))
    )
    per = (
        n.join(defects, "part", "left")
        .withColumn("defects", F.coalesce(F.col("defects"), F.lit(0)))
    )
    from sgb_data_validator_spark.operators.stats import uchart_from_counts

    return uchart_from_counts(per, k=k)


def digest_for_ledger(result: ValidationResult) -> DataFrame:
    return stats_digest(result.stats)
