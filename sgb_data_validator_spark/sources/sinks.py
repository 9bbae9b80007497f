"""Report sinks (reference S5–S8 analogs).

The reference writes a console report, a text report file, a per-
resource CSV pivot + summary CSV, and profiling CSV/JSON
(/root/reference/validate.py:804-983, src/profiling.py:86-161). The
Spark analogs write DataFrames:

* violations  → parquet partitioned by ``part`` (the queryable sink;
  on a real deployment an Iceberg table with overwrite-by-partition)
* verdicts    → parquet (one small file per run)
* summary     → single CSV (severity × rule counts — the
  validation_summary.csv analog)
* pivot       → CSV, one row per resource, one column per violated
  rule (export_validation_csv analog)
* stats       → parquet long-format per-(partition, column) profile

Driver-side collects happen ONLY on pre-aggregated small frames
(summary/pivot are bounded by rule- and resource-counts, not turns).

``write_all`` writes the six artifacts concurrently, one driver thread
each (plans/pipeline.py:run_concurrently): they go to distinct paths and
read only the materialized result, so no write depends on another, and
their mostly single-task jobs share the cores instead of queueing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from sgb_data_validator_spark.plans.pipeline import (
    ValidationResult,
    pivot_report,
    run_concurrently,
    spc_report,
    summary_report,
)


# every partitioned parquet sink overwrites DYNAMICALLY: a --resume run
# that revalidates only the pending partitions must augment the
# queryable report, not truncate the PASSED partitions written earlier
# (on Iceberg this is the overwrite-by-partition commit). ADVICE r1.

def write_violations(violations: DataFrame, path: str, mode: str = "overwrite") -> None:
    (
        violations.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part")
        .parquet(path)
    )


def write_verdicts(verdicts: DataFrame, path: str, mode: str = "overwrite") -> None:
    (
        verdicts.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part")
        .parquet(path)
    )


def write_summary_csv(violations: DataFrame, path: str, mode: str = "overwrite") -> None:
    summary_report(violations).coalesce(1).write.mode(mode).option("header", True).csv(path)


def write_pivot_csv(
    violations: DataFrame, path: str, rule_ids: list[str] | None = None, mode: str = "overwrite"
) -> None:
    pivot_report(violations, rule_ids).coalesce(1).write.mode(mode).option("header", True).csv(path)


def write_stats(stats: DataFrame, path: str, mode: str = "overwrite") -> None:
    (
        stats.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part")
        .parquet(path)
    )


def write_spc_csv(result: ValidationResult, path: str, mode: str = "overwrite") -> None:
    """u-chart SPC statuses per partition (plans/pipeline.py:spc_report)
    — O(parts) rows, single CSV like the other console-report analogs;
    derived entirely from the stats + violations frames already in the
    result, so this sink adds no fact scan to the run."""
    spc_report(result).coalesce(1).write.mode(mode).option("header", True).csv(path)


def write_all(result: ValidationResult, base: str) -> None:
    """The full report fan-out of a validation run (reference
    validate.py:1180-1189 writes console+txt+csv+profiling; here each
    artifact is a path under ``base``). The parquet sinks are
    per-partition (resume-safe, dynamic overwrite); the two CSVs are
    THIS run's console-report analogs and are replaced wholesale.

    The six writes run concurrently, each with its own writer, mode and
    layout; the call returns once all have finished and re-raises the
    first failure (in the order below) after the others are done."""
    run_concurrently(
        lambda: write_violations(result.violations, f"{base}/violations"),
        lambda: write_verdicts(result.verdicts, f"{base}/verdicts"),
        lambda: write_summary_csv(result.violations, f"{base}/summary_csv"),
        lambda: write_pivot_csv(result.violations, f"{base}/pivot_csv"),
        lambda: write_stats(result.stats, f"{base}/stats"),
        lambda: write_spc_csv(result, f"{base}/spc_csv"),
    )
