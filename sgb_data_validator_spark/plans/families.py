"""The check families the validation pipeline unions into one
violations frame.

A family is a plain function ``TranscriptTables -> DataFrame | None``
returning canonical violation rows (operators/rules.py:VIOLATION_COLS),
or None when the optional table it needs is absent. Opt-in checks are
factories returning a family. DEFAULT_FAMILIES is the standard verdict
path; a caller wanting opt-ins passes its own list to
``plans/pipeline.py:validate(t, families)``.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sgb_data_validator_spark.operators import drift as drift_ops
from sgb_data_validator_spark.operators import rules as R
from sgb_data_validator_spark.operators.certify import partition_freshness
from sgb_data_validator_spark.operators.referential import (
    manifest_reconcile,
    orphan_violations,
    zero_children_violations,
)
from sgb_data_validator_spark.operators.uniqueness import uniqueness_violations
from sgb_data_validator_spark.operators.windows import (
    closing_role_violations,
    opening_role_violations,
    sequence_violations,
)
from sgb_data_validator_spark.sources.generator import ROLES

if TYPE_CHECKING:
    from sgb_data_validator_spark.plans.pipeline import TranscriptTables

Family = Callable[["TranscriptTables"], "DataFrame | None"]


def row_rules(rules: R.RowRuleSet | None = None) -> Family:
    """The fused row-rule projection; None is the canonical transcript
    set (plans/pipeline.py:transcript_row_rules)."""

    def family(t: TranscriptTables) -> DataFrame:
        from sgb_data_validator_spark.plans.pipeline import transcript_row_rules

        return (rules or transcript_row_rules()).violations(t.turns)

    return family


def uniqueness(t: TranscriptTables) -> DataFrame:
    return uniqueness_violations(t.turns)


def opening_role(roles: tuple[str, ...]) -> Family:
    """conv.opening_role: a conversation's first turn carries one of ``roles``."""
    return lambda t: opening_role_violations(t.turns, roles)


def closing_role(roles: tuple[str, ...]) -> Family:
    """conv.closing_role: a conversation's last turn carries one of
    ``roles`` (no ending mid-tool-call or on an error)."""
    return lambda t: closing_role_violations(t.turns, roles)


def conversation_refs(t: TranscriptTables) -> DataFrame | None:
    """Turns of conversations missing from the manifest, and manifest
    conversations without turns."""
    if t.conversations is None:
        return None
    orphans = orphan_violations(t.turns, t.conversations, "conv_id", "conv_id", "ref.conv_id")
    return orphans.unionByName(
        zero_children_violations(t.conversations, t.turns, "conv_id", "conv_id")
    )


def manifest_turn_count(t: TranscriptTables) -> DataFrame | None:
    """conv.turn_count: per-conversation turn count vs the manifest's
    ``n_turns_expected``, attached to the conversation's home partition
    (created_ts date) when the manifest has one, so verdicts react."""
    if t.conversations is None or "n_turns_expected" not in t.conversations.columns:
        return None
    rec = manifest_reconcile(
        t.turns,
        t.conversations,
        fact_key="conv_id",
        manifest_key="conv_id",
        stated_col="n_turns_expected",
        agg=F.count(F.lit(1)),
        rel_tol=0.0,
    )
    if "created_ts" in t.conversations.columns:
        home = t.conversations.select(
            "conv_id", F.date_format("created_ts", "yyyy-MM-dd").alias("_home")
        )
        rec = rec.join(home, "conv_id", "left")
    else:
        rec = rec.withColumn("_home", F.lit(None).cast("string"))
    # a NULL stated expectation is the 'unverifiable' finding: render it
    # as the literal string so concat can't blank the whole message
    stated = F.coalesce(F.col("stated").cast("bigint").cast("string"), F.lit("NULL"))
    got = F.col("computed").cast("bigint").cast("string")
    return R.violation_rows(
        rec,
        rule_id="conv.turn_count",
        conv_id=F.col("conv_id"),
        column="n_turns_expected",
        offending_value=F.concat(F.lit("expected "), stated, F.lit(", got "), got),
        severity=R.SEV_WARNING,
        part=F.col("_home"),
    )


def tool_refs(t: TranscriptTables) -> DataFrame | None:
    if t.allowed_tools is None:
        return None
    return orphan_violations(t.turns, t.allowed_tools, "tool", "tool", "ref.tool")


def sequence(t: TranscriptTables) -> DataFrame:
    """Every sequence rule in ONE skew-split window pass."""
    return sequence_violations(t.turns)


def drift(t: TranscriptTables) -> DataFrame | None:
    """Distribution drift vs the baseline snapshot, on the vocabulary-
    conforming subset: out-of-vocabulary roles and tools are already
    flagged by the row and reference rules, and counting them again as
    drift double-reports (validate.py:701-716)."""
    if t.baseline_stats is None:
        return None
    drift_input = t.turns.where(F.col("role").isin(ROLES) | F.col("role").isNull())
    if t.allowed_tools is not None:
        # broadcast left join + marker instead of collect()+isin: the
        # tool gate stays plan-side and NULL-tool rows pass through
        allowed = F.broadcast(
            t.allowed_tools.select("tool").distinct().withColumn("__tool_ok", F.lit(True))
        )
        drift_input = (
            drift_input.join(allowed, "tool", "left")
            .where(F.col("tool").isNull() | F.col("__tool_ok"))
            .drop("__tool_ok")
        )
    return drift_ops.drift_violations(drift_input, t.baseline_stats)


def fill_rate_drift(tol: float) -> Family:
    """drift.fill.<column>: partition completeness vs the snapshot's
    dim='fill_rate' rows, on the RAW turns (NULL text is the signal). A
    snapshot without fill_rate rows makes the family a no-op."""

    def family(t: TranscriptTables) -> DataFrame | None:
        if t.baseline_stats is None:
            return None
        rows = t.baseline_stats.where(F.col("dim") == "fill_rate").select("value").collect()
        audited = [r["value"] for r in rows if r["value"] in t.turns.columns]
        if not audited:
            return None
        fr = drift_ops.fill_rate_drift(t.turns, "part", audited, baseline=t.baseline_stats, tol=tol)
        return R.violation_rows(
            fr.where(F.col("flagged")),
            rule_id=F.concat(F.lit("drift.fill."), F.col("column")),
            column=F.col("column"),
            offending_value=F.round("delta", 6),
            severity=R.SEV_ERROR,
            part=F.col("part"),
        )

    return family


def tail_freshness(seconds: int) -> Family:
    """part.tail_freshness: a partition whose last event lands more than
    ``seconds`` before the earlier of its midnight boundary and the
    table watermark — the truncated-export signal volume checks miss."""

    def family(t: TranscriptTables) -> DataFrame:
        fresh = partition_freshness(t.turns, "ts", seconds, part_col="part")
        silence = F.concat(
            F.lit("silent "), F.col("tail_silence_s").cast("string"), F.lit("s before window close")
        )
        return R.violation_rows(
            fresh,
            rule_id="part.tail_freshness",
            column="ts",
            offending_value=silence,
            severity=R.SEV_WARNING,
            part=F.col("part"),
        )

    return family


#: the standard verdict path, in union order
DEFAULT_FAMILIES: tuple[Family, ...] = (
    row_rules(),
    uniqueness,
    opening_role(("system",)),
    conversation_refs,
    tool_refs,
    sequence,
    drift,
)
