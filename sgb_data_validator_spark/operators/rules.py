"""Row-level rules: the single-pass multi-rule projection.

Reference semantics being re-expressed (one rule per reference check):

* required / non-null          — models.py:49-197, validate.py:430-437
* non-empty (whitespace-only)  — value_not_empty models.py:22-28
* regex conformance (URL etc.) — models.py:191-197
* vocabulary membership        — vocabularies.py:45-91, validate.py:309-413
* URL-in-literal warning       — validate.py:467-506 (value truncated to 80)
* placeholder contains         — transformations.py:807-825

Scale design: N rules cost ONE scan. Every rule contributes one
``when(predicate, struct(...))`` slot to an array column; the array is
compacted and exploded, so only violating rows ever materialize
downstream. All predicates are native column expressions →
whole-stage-codegen, pushdown-friendly, zero Python in the hot path.

Short-circuit semantics preserved from the reference (validate.py:701-716:
a record that fails parsing is excluded from content checks): rules with
``gated=True`` are additionally guarded by the conjunction of all
parse-level rules passing for that row.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SEV_ERROR = "error"
SEV_WARNING = "warning"

#: canonical violations schema (order matters for unionByName-free unions)
_VIOLATION_TYPES = {
    "rule_id": "string",
    "conv_id": "string",
    "turn_idx": "int",
    "column": "string",
    "offending_value": "string",
    "severity": "string",
    "part": "string",
}
VIOLATION_COLS = list(_VIOLATION_TYPES)
#: the same schema as DDL, for readers of stored violations
VIOLATION_SCHEMA = ", ".join(f"{c} {t}" for c, t in _VIOLATION_TYPES.items())


def violation_rows(
    df: DataFrame,
    *,
    rule_id: Column | str,
    column: Column | str,
    offending_value: Column | str,
    severity: Column | str,
    part: Column | str | None,
    conv_id: Column | str | None = None,
) -> DataFrame:
    """Project ``df`` onto the canonical row of a conversation- or
    partition-level violation (turn_idx NULL). Each field is a Column,
    a literal, or None for a typed NULL, and is cast to its canonical
    type."""
    values = (rule_id, conv_id, None, column, offending_value, severity, part)
    return df.select(
        *[
            (v if isinstance(v, Column) else F.lit(v)).cast(typ).alias(name)
            for (name, typ), v in zip(_VIOLATION_TYPES.items(), values)
        ]
    )

# reference truncates offending values to 80 chars in messages
# (validate.py:496-498); we keep the same cap on offending_value.
VALUE_TRUNC = 80

URL_IN_TEXT_PATTERN = r"(?i)(?:https?://|ftp://|www\.)[^\s]+"


@dataclass(frozen=True)
class RowRule:
    """One row-level check. ``predicate`` is TRUE when the row VIOLATES."""

    rule_id: str
    column: str
    severity: str
    predicate: Callable[[DataFrame], Column]
    value: Callable[[DataFrame], Column] | None = None  # offending value; default: the column
    gated: bool = False      # suppressed when the row fails a parse-level rule
    parse_level: bool = False  # participates in the parse-ok gate


def not_null(column: str, severity: str = SEV_ERROR, rule_id: str | None = None) -> RowRule:
    return RowRule(
        rule_id=rule_id or f"not_null.{column}",
        column=column,
        severity=severity,
        predicate=lambda df: df[column].isNull(),
        value=lambda df: F.lit(None).cast("string"),
        parse_level=True,
    )


def non_empty(column: str, severity: str = SEV_ERROR, rule_id: str | None = None) -> RowRule:
    """Non-null value must not be empty/whitespace-only (models.py:22-28)."""
    return RowRule(
        rule_id=rule_id or f"non_empty.{column}",
        column=column,
        severity=severity,
        predicate=lambda df: df[column].isNotNull() & (F.trim(df[column]) == ""),
        parse_level=True,
    )


def type_conformance(column: str, spark_type: str, severity: str = SEV_ERROR) -> RowRule:
    """Value present but not castable to the declared type (P1 residual).
    try_cast, not cast — under ANSI mode (Spark 4 default) a plain cast
    throws on malformed input instead of yielding null."""
    return RowRule(
        rule_id=f"type.{column}",
        column=column,
        severity=severity,
        predicate=lambda df: df[column].isNotNull() & df[column].try_cast(spark_type).isNull(),
        parse_level=True,
    )


def matches_regex(column: str, pattern: str, severity: str = SEV_ERROR, rule_id: str | None = None) -> RowRule:
    """Non-null value must match pattern (URL shape check, models.py:191-197)."""
    return RowRule(
        rule_id=rule_id or f"regex.{column}",
        column=column,
        severity=severity,
        predicate=lambda df: df[column].isNotNull() & ~df[column].rlike(pattern),
        gated=True,
    )


def in_vocabulary(column: str, terms: Sequence[str], severity: str = SEV_ERROR,
                  rule_id: str | None = None, case_insensitive: bool = False) -> RowRule:
    """Tiny controlled vocabulary → codegen'd InSet, no join needed
    (vocabularies.py:45-55; ISO-639 case-insensitive variant iso639.py:199-223)."""
    if case_insensitive:
        lowered = [t.lower() for t in terms]
        pred = lambda df: df[column].isNotNull() & ~F.lower(df[column]).isin(lowered)  # noqa: E731
    else:
        pred = lambda df: df[column].isNotNull() & ~df[column].isin(list(terms))  # noqa: E731
    return RowRule(
        rule_id=rule_id or f"vocab.{column}",
        column=column,
        severity=severity,
        predicate=pred,
        gated=True,
    )


def in_range(
    column: str,
    lo=None,
    hi=None,
    severity: str = SEV_ERROR,
    rule_id: str | None = None,
    value_format: str | None = None,
) -> RowRule:
    """Non-null value must satisfy lo ≤ value ≤ hi (either bound may be
    open) — the expect-between primitive (frictionless table-schema
    ``constraints: minimum/maximum``, Great Expectations'
    ``expect_column_values_to_be_between``; the north rule's
    "frictionless-style checks" family). Bounds are literals, so the
    check is two codegen comparisons in the same fused projection as
    every other row rule — works on numerics, timestamps, and dates
    alike (Spark's literal comparison rules apply). ``value_format``
    (printf-style, e.g. "%.6f") pins the offending_value rendering for
    FLOAT columns — engine-native double→string differs between JVMs
    and SQL engines in scientific-notation thresholds, so any
    cross-engine replay of a float rule should pass it."""
    if lo is None and hi is None:
        raise ValueError("in_range needs at least one bound (lo and/or hi)")
    if lo is not None and hi is not None and lo > hi:
        # swapped bounds would silently flag EVERY non-null row; the
        # declarative-suite contract is that a typo fails at suite load
        raise ValueError(f"in_range bounds out of order: lo={lo!r} > hi={hi!r}")

    def pred(df):
        c = df[column]
        cond = None
        if lo is not None:
            cond = c < F.lit(lo)
        if hi is not None:
            over = c > F.lit(hi)
            cond = over if cond is None else (cond | over)
        return c.isNotNull() & cond

    value = (
        (lambda df: F.format_string(value_format, df[column]))
        if value_format
        else None
    )
    return RowRule(
        rule_id=rule_id or f"range.{column}",
        column=column,
        severity=severity,
        predicate=pred,
        value=value,
        gated=True,
    )


def field_pair(
    when_col: str,
    when_vals: Sequence[str],
    then_col: str,
    then_vals: Sequence[str] | None = None,
    then_required: bool = True,
    severity: str = SEV_ERROR,
    rule_id: str | None = None,
) -> RowRule:
    """Conditional cross-field rule: when ``when_col`` ∈ ``when_vals``,
    ``then_col`` must be non-null (``then_required``) and, if
    ``then_vals`` is given, a member of it — the data-driven
    required-field-PAIR check at the heart of the reference's models
    (resource-type ⇒ required fields, /root/reference/src/models.py:
    49-197, validate.py:508-656; Great Expectations'
    expect_column_pair_values_to_be_in_set). ``tool_role_consistency``
    is the transcript-native instance of the same shape; this is the
    generic constructor declarative suites configure with data. Rows
    whose ``when_col`` is NULL or outside ``when_vals`` pass — the
    condition gates, it does not require. Pure codegen predicates in
    the fused projection; the offending value names the failing side."""
    when_list = list(when_vals)
    then_list = list(then_vals) if then_vals is not None else None
    if not when_list:
        raise ValueError("field_pair needs a non-empty when_vals")
    if then_list is not None and not then_list:
        raise ValueError("field_pair then_vals must be non-empty when given")
    if not then_required and then_list is None:
        raise ValueError("field_pair needs then_required and/or then_vals")

    def pred(df):
        cond = df[when_col].isNotNull() & df[when_col].isin(when_list)
        bad = None
        if then_required:
            bad = df[then_col].isNull()
        if then_list is not None:
            not_in = df[then_col].isNotNull() & ~df[then_col].isin(then_list)
            bad = not_in if bad is None else (bad | not_in)
        return cond & bad

    def value(df):
        return F.concat(
            df[when_col],
            F.lit(" => "),
            F.coalesce(df[then_col].cast("string"), F.lit("NULL")),
        )

    return RowRule(
        rule_id=rule_id or f"pair.{when_col}.{then_col}",
        column=then_col,
        severity=severity,
        predicate=pred,
        value=value,
        gated=True,
    )


def no_url_in_text(column: str, severity: str = SEV_WARNING) -> RowRule:
    """Literal text containing a URL ⇒ warning (validate.py:467-506)."""
    return RowRule(
        rule_id=f"url_in_text.{column}",
        column=column,
        severity=severity,
        predicate=lambda df: df[column].isNotNull() & df[column].rlike(URL_IN_TEXT_PATTERN),
        value=lambda df: F.regexp_extract(df[column], URL_IN_TEXT_PATTERN, 0),
        gated=True,
    )


def tool_role_consistency(
    tool_col: str = "tool",
    role_col: str = "role",
    tool_roles: Sequence[str] = ("tool",),
    severity: str = SEV_WARNING,
) -> RowRule:
    """Non-null ``tool`` is only legal on ``tool_roles`` rows — the
    transcript-native data-driven field-presence pair (reference analog:
    required-field pairs, /root/reference/src/models.py:49-197 /
    validate.py:508-656). Pure single-pass row predicate; folding it
    here (instead of a standalone scan) keeps the whole rule family at
    ONE fact scan. NULL-role rows don't fire (``~NULL.isin(...)`` is
    NULL → coalesced false by the rule slot), matching the standalone
    ``where``-filter semantics it replaced."""
    roles = list(tool_roles)
    return RowRule(
        rule_id="tool.role_consistency",
        column=tool_col,
        severity=severity,
        predicate=lambda df: df[tool_col].isNotNull() & ~df[role_col].isin(roles),
    )


def not_contains(column: str, needle: str, severity: str = SEV_WARNING, rule_id: str | None = None) -> RowRule:
    """Case-insensitive substring flag (placeholder check, transformations.py:807-825)."""
    return RowRule(
        rule_id=rule_id or f"contains.{column}",
        column=column,
        severity=severity,
        predicate=lambda df: df[column].isNotNull() & F.lower(df[column]).contains(needle.lower()),
        gated=True,
    )


def partition_matches_ts(
    part_col: str = "part",
    ts_col: str = "ts",
    severity: str = SEV_ERROR,
) -> RowRule:
    """The partition key must equal the event time's calendar day —
    the misrouted-write check (late or clock-skewed data landed in the
    wrong Iceberg partition corrupts every per-partition verdict,
    ledger entry, and drift baseline downstream, silently). Fires when
    both columns are non-null and ``date(ts)`` disagrees with ``part``;
    NULL ts is not_null's job, NULL part means an unpartitioned write
    and is out of this rule's scope. Pure single-pass row predicate in
    the fused projection — zero extra scans."""
    return RowRule(
        rule_id="part.ts_mismatch",
        column=part_col,
        severity=severity,
        predicate=lambda df: df[ts_col].isNotNull()
        & df[part_col].isNotNull()
        & (F.date_format(df[ts_col], "yyyy-MM-dd") != df[part_col].cast("string")),
        value=lambda df: F.concat(
            df[part_col].cast("string"),
            F.lit(" != date("),
            F.date_format(df[ts_col], "yyyy-MM-dd"),
            F.lit(")"),
        ),
    )


#: constructor registry for declarative suites — the names a config can
#: use (the reference's checks are data-driven the same way: field pairs
#: and vocabularies live in data, not code)
RULE_CONSTRUCTORS: dict[str, Callable[..., RowRule]] = {
    f.__name__: f
    for f in (
        not_null,
        non_empty,
        type_conformance,
        matches_regex,
        in_vocabulary,
        in_range,
        field_pair,
        no_url_in_text,
        tool_role_consistency,
        not_contains,
        partition_matches_ts,
    )
}


def rules_from_spec(spec: Sequence[dict]) -> "RowRuleSet":
    """Build a rule set from declarative data — one dict per rule, the
    ``rule`` key naming a RULE_CONSTRUCTORS entry and the rest passed
    as keyword arguments:

        rules_from_spec([
            {"rule": "not_null", "column": "text"},
            {"rule": "in_vocabulary", "column": "role",
             "terms": ["user", "assistant"]},
        ])

    This is how a validation SUITE ships as config (JSON/YAML beside
    the data) rather than code — the Spark-side analog of the
    reference's data-driven vocabularies and required-field tables.
    Unknown rule names raise immediately with the known names, so a
    typo fails at suite load, not mid-job."""
    if not spec:
        raise ValueError("empty suite spec: list at least one rule")
    rs = RowRuleSet()
    for entry in spec:
        kwargs = dict(entry)
        name = kwargs.pop("rule", None)
        ctor = RULE_CONSTRUCTORS.get(name)
        if ctor is None:
            raise ValueError(
                f"unknown rule {name!r}; known: {sorted(RULE_CONSTRUCTORS)}"
            )
        rs.add(ctor(**kwargs))
    # rule_ids identify rules in every report (violations, pass_rates,
    # certificates) — a duplicate makes those reports ambiguous, and
    # it is almost always two same-column constraints that each need an
    # explicit rule_id. Fail at suite load, not mid-report.
    seen: dict[str, int] = {}
    for r in rs.rules:
        seen[r.rule_id] = seen.get(r.rule_id, 0) + 1
    dups = sorted(k for k, c in seen.items() if c > 1)
    if dups:
        raise ValueError(
            f"duplicate rule_id(s) in suite spec: {dups}; give each rule "
            "an explicit distinct 'rule_id'"
        )
    return rs


@dataclass
class RowRuleSet:
    rules: list[RowRule] = field(default_factory=list)

    def add(self, *rules: RowRule) -> "RowRuleSet":
        self.rules.extend(rules)
        return self

    def parse_ok(self, df: DataFrame) -> Column:
        gate = F.lit(True)
        for r in self.rules:
            if r.parse_level:
                gate = gate & ~F.coalesce(r.predicate(df), F.lit(False))
        return gate

    def violations(
        self,
        df: DataFrame,
        key_cols: Sequence[str] = ("conv_id", "turn_idx"),
        part_col: str | None = "part",
    ) -> DataFrame:
        """ONE scan → all rules. Returns the canonical violations frame."""
        gate = self.parse_ok(df)
        slots = []
        for r in self.rules:
            pred = r.predicate(df)
            if r.gated:
                pred = pred & gate
            val = r.value(df) if r.value is not None else df[r.column].cast("string")
            slots.append(
                F.when(
                    F.coalesce(pred, F.lit(False)),
                    F.struct(
                        F.lit(r.rule_id).alias("rule_id"),
                        F.lit(r.column).alias("column"),
                        F.substring(val.cast("string"), 1, VALUE_TRUNC).alias("offending_value"),
                        F.lit(r.severity).alias("severity"),
                    ),
                )
            )
        part = (df[part_col] if part_col else F.lit(None)).cast("string")
        keys = list(key_cols)
        conv_key = df[keys[0]].cast("string").alias("conv_id")
        turn_key = (df[keys[1]].cast("int") if len(keys) > 1 else F.lit(None).cast("int")).alias("turn_idx")
        exploded = df.select(
            conv_key,
            turn_key,
            part.alias("part"),
            F.explode(F.array_compact(F.array(*slots))).alias("_v"),
        )
        return exploded.select(
            F.col("_v.rule_id").alias("rule_id"),
            "conv_id",
            "turn_idx",
            F.col("_v.column").alias("column"),
            F.col("_v.offending_value").alias("offending_value"),
            F.col("_v.severity").alias("severity"),
            "part",
        )

    def flags(self, df: DataFrame) -> list[tuple[str, Column]]:
        """Each rule's firing condition as a (rule_id, boolean Column)
        pair — the SAME gated predicates :meth:`violations` and
        :meth:`pass_rates` evaluate (parse-gated rules fire only on
        rows passing the parse gate), NULL-coalesced to false. The
        input to sampled certification
        (operators/certify.py:sampled_certification): a certificate
        built from these flags bounds exactly the rates the full
        validate() would report."""
        gate = self.parse_ok(df)
        out = []
        for r in self.rules:
            pred = r.predicate(df)
            if r.gated:
                pred = pred & gate
            out.append((r.rule_id, F.coalesce(pred, F.lit(False))))
        return out

    def pass_rates(self, df: DataFrame, mostly: float = 0.995) -> DataFrame:
        """Per-rule pass-rate summary in ONE fused scan — the
        expectation-suite view of the same rules :meth:`violations`
        reports row-by-row: for dashboards and CI gates the question
        is not "which rows failed" but "did each rule's pass rate stay
        above its tolerance" (the 'mostly' semantics popularized by
        Great Expectations' ``expect_*(mostly=...)``).

        Output: one row per rule — (rule_id, n, failures, pass_rate,
        status) with status PASS when pass_rate ≥ ``mostly`` else FAIL.
        Gated rules count failures only on rows passing the parse gate,
        exactly as :meth:`violations` emits them, so
        ``failures == violations().count()`` per rule by construction.

        Plan shape: a single aggregation over one scan (every rule is a
        conditional sum in the same projection — adding a rule adds a
        column, not a pass), then the O(rules) one-row frame unpivots
        via an explode. The fact is never shuffled; only agg state
        moves."""
        gate = self.parse_ok(df)
        aggs = [F.count(F.lit(1)).alias("__n")]
        # positional slot names: rule_ids contain '.' which F.col would
        # parse as a struct path
        for i, r in enumerate(self.rules):
            pred = r.predicate(df)
            if r.gated:
                pred = pred & gate
            aggs.append(
                # sum() is NULL on an empty frame — an empty input has
                # zero failures, not unknown failures
                F.coalesce(
                    F.sum(F.coalesce(pred, F.lit(False)).cast("int")), F.lit(0)
                )
                .cast("bigint")
                .alias(f"__f_{i}")
            )
        one = df.agg(*aggs)
        # positional struct array, NOT map_from_arrays: two rules may
        # legally share a rule_id (violations() accepts that), and a map
        # key collision would throw DUPLICATED_MAP_KEY at runtime
        entries = F.array(
            *[
                F.struct(
                    F.lit(r.rule_id).alias("rule_id"),
                    F.col(f"__f_{i}").alias("failures"),
                )
                for i, r in enumerate(self.rules)
            ]
        )
        exploded = one.select(
            F.col("__n").cast("bigint").alias("n"),
            F.explode(entries).alias("_e"),
        ).select("n", F.col("_e.rule_id").alias("rule_id"), F.col("_e.failures").alias("failures"))
        rate = F.when(F.col("n") > 0, 1.0 - F.col("failures") / F.col("n")).otherwise(
            F.lit(1.0)
        )
        return exploded.select(
            "rule_id",
            "n",
            "failures",
            F.round(rate, 6).alias("pass_rate"),
            F.when(rate >= mostly, F.lit("PASS")).otherwise(F.lit("FAIL")).alias(
                "status"
            ),
        )
