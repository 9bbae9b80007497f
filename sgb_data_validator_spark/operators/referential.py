"""Referential-integrity checks as broadcast anti-joins.

Reference semantics: every vocabulary/FK lookup in the reference is a
dict/set membership probe (vocabularies.py:45-91; media→item FK
traversal validate.py:776-791) — i.e. a broadcast hash join in
disguise. Here:

* orphan check:  fact LEFT ANTI JOIN broadcast(dim) ⇒ violation rows.
* zero-children: dim LEFT ANTI JOIN fact ⇒ warning rows (reference
  "item has no media" warning, validate.py:780-787). The fact side of
  this anti-join is reduced to distinct keys FIRST (a cheap partial-agg
  shuffle) so the join probe side is small.

Dimensions (conversation manifest, allowed tools) are small relative to
the fact at any scale — broadcast is forced with F.broadcast so Catalyst
never falls back to a sort-merge shuffle of the 10^12-row fact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sgb_data_validator_spark.operators.rules import SEV_ERROR, SEV_WARNING, violation_rows


def orphan_violations(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    rule_id: str,
    severity: str = SEV_ERROR,
    turn_col: str | None = "turn_idx",
    part_col: str | None = "part",
    filter_null: bool = True,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Rows of ``fact`` whose key has no match in ``dim``.

    ``broadcast_dim=False`` is the graceful degradation for a manifest
    that outgrows executor memory (≳10^9 distinct keys): the anti-join
    becomes a shuffled hash join keyed by the fact key — one narrow
    key-only shuffle of the fact instead of an OOM'd broadcast build.
    Nothing else about the operator changes."""
    keys = dim.select(F.col(dim_key).alias("__k")).distinct()
    if broadcast_dim:
        keys = F.broadcast(keys)
    probe = fact.where(F.col(fact_key).isNotNull()) if filter_null else fact
    missing = probe.join(keys, on=probe[fact_key] == keys["__k"], how="left_anti")
    part = (F.col(part_col) if part_col else F.lit(None)).cast("string")
    turn = F.col(turn_col).cast("int") if turn_col else F.lit(None).cast("int")
    conv = F.col("conv_id").cast("string") if "conv_id" in fact.columns else F.col(fact_key).cast("string")
    return missing.select(
        F.lit(rule_id).alias("rule_id"),
        conv.alias("conv_id"),
        turn.alias("turn_idx"),
        F.lit(fact_key).alias("column"),
        F.col(fact_key).cast("string").alias("offending_value"),
        F.lit(severity).alias("severity"),
        part.alias("part"),
    )


def propagate_private_flag(
    parents: DataFrame,
    children: DataFrame,
    parent_key: str,
    child_fk: str,
    parent_flag: str = "is_public",
    child_flag: str = "is_public",
) -> DataFrame:
    """Child→parent privacy propagation (J4's second half): a parent
    becomes private iff ANY child is private; a missing/null child flag
    counts as public; childless parents keep their own flag. Reference
    semantics: propagate_private_flag_to_items
    (/root/reference/src/transformations.py:853-908 — dict of
    item_id → has_private_media, flags only ever flip public→private).

    NULL-parent contract: a parent whose own flag is NULL propagates as
    NULL unless a private child forces it to False — i.e. propagation
    only ever *lowers* the flag (public→private), never invents a value
    for an unset one. Callers filtering on the effective flag must
    handle NULL explicitly (as they must for the raw flag).

    Scale shape: children reduce to one boolean per parent key via a
    partial-aggregated groupBy (map-side combine absorbs hot parents —
    min() is combinable), then a key-only join back to parents; the
    child payload never moves. Output: the parent frame plus
    ``effective_<parent_flag>``."""
    child_pub = (
        children.where(F.col(child_fk).isNotNull())
        .groupBy(F.col(child_fk).alias("__pk"))
        .agg(F.min(F.coalesce(F.col(child_flag), F.lit(True))).alias("__children_public"))
    )
    joined = parents.join(child_pub, parents[parent_key] == F.col("__pk"), "left")
    # when-form of `parent & children_public`, spelled to make the
    # only-flips-public→private contract explicit: a private child wins
    # outright (even over a NULL parent); otherwise the parent's own
    # flag — NULL included — passes through untouched
    return joined.withColumn(
        f"effective_{parent_flag}",
        F.when(~F.coalesce(F.col("__children_public"), F.lit(True)), F.lit(False)).otherwise(
            F.col(parent_flag)
        ),
    ).drop("__pk", "__children_public")


def zero_children_violations(
    dim: DataFrame,
    fact: DataFrame,
    dim_key: str,
    fact_key: str,
    rule_id: str = "empty.conversation",
    severity: str = SEV_WARNING,
) -> DataFrame:
    """Dimension members with no fact rows (no-children warning)."""
    fact_keys = fact.select(F.col(fact_key).alias("__k")).distinct()
    childless = dim.join(fact_keys, on=dim[dim_key] == fact_keys["__k"], how="left_anti")
    return violation_rows(
        childless,
        rule_id=rule_id,
        conv_id=F.col(dim_key),
        column=dim_key,
        offending_value=F.col(dim_key),
        severity=severity,
        part=None,
    )


def fd_violations(
    df: DataFrame,
    determinant_cols: list[str],
    dependent_col: str,
) -> DataFrame:
    """Functional-dependency check: determinant → dependent must map
    each determinant value to exactly ONE dependent value (the
    aggregate-level sibling of the row rules — e.g. every conv_id has
    one model, every source one license). Emits only violating groups:
    (determinant…, n_distinct, n_rows, lo_value, hi_value) where
    lo/hi are the min/max offending dependent values, the two-example
    witness a validator report needs.

    Spark-first scale shape: one groupBy on the determinant with
    count_distinct, which Catalyst expands to the standard two-phase
    distinct aggregation — a partial agg keyed (determinant, dependent)
    shrinks each partition to its local distinct set before the first
    exchange, then a narrow merge on the determinant — so a hot
    determinant costs its distinct-count, not its row count. No join,
    no window, dependent values never fan out.
    """
    dep = F.col(dependent_col)
    return (
        df.groupBy(*determinant_cols)
        .agg(
            F.count_distinct(dep).cast("bigint").alias("n_distinct"),
            F.count(dep).cast("bigint").alias("n_rows"),
            F.min(dep).alias("lo_value"),
            F.max(dep).alias("hi_value"),
        )
        .where(F.col("n_distinct") > 1)
    )


def manifest_reconcile(
    fact: DataFrame,
    manifest: DataFrame,
    fact_key: str,
    manifest_key: str,
    stated_col: str,
    agg: Column,
    rel_tol: float = 0.0,
) -> DataFrame:
    """Per-key aggregate of the fact table reconciled against the value
    the manifest CLAIMS for that key — the transcript-native case is
    ``count(*)`` per conv_id vs the conversation manifest's
    ``n_turns_expected`` (a manifest that says 40 turns while 42 landed
    means duplicated or foreign rows; 38 means loss). Reference analog:
    the zero-children warning generalized from "count == 0" to
    "count/sum != stated" (/root/reference/validate.py:776-791).

    Emits one row per manifest key whose relative gap
    ``|stated − computed| / max(computed, 0.01)`` exceeds ``rel_tol``
    (0.0 ⇒ exact match required: ANY nonzero gap flags, however tiny —
    the filter runs on the UNROUNDED gap; rounding to 4 decimals happens
    only in the output projection, so a 25 000-vs-25 001 mismatch on a
    10M-turn conversation cannot round itself invisible). Manifest keys
    with NO fact rows reconcile against computed = 0, so vanished
    conversations surface too, and a manifest row whose stated value is
    NULL is surfaced as unverifiable (rel_gap NULL) rather than silently
    passing through a NULL comparison.

    Scale shape: the fact collapses to one (key, computed) row via a
    map-side-combined aggregation BEFORE any join — the join touches
    |manifest| × small rows, never the 10^12-row fact; no broadcast is
    forced because both sides are manifest-sized (AQE picks the
    strategy)."""
    computed = fact.groupBy(F.col(fact_key).alias(manifest_key)).agg(
        agg.cast("double").alias("computed")
    )
    stated = manifest.select(
        F.col(manifest_key), F.col(stated_col).cast("double").alias("stated")
    )
    j = stated.join(computed, manifest_key, "left").withColumn(
        "computed", F.coalesce(F.col("computed"), F.lit(0.0))
    )
    gap = F.abs(F.col("stated") - F.col("computed")) / F.greatest(
        F.col("computed"), F.lit(0.01)
    )
    return (
        j.withColumn("__gap", gap)
        .where(F.col("stated").isNull() | (F.col("__gap") > rel_tol))
        .select(
            manifest_key,
            "stated",
            "computed",
            F.round(F.col("__gap"), 4).alias("rel_gap"),
        )
    )
