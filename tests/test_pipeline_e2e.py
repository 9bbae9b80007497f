"""End-to-end: Spark engine vs the row-at-a-time pure-Python oracle on
the deterministic fixture (FIXTURES.md §6), plus generator determinism,
verdict semantics, and ledger resume."""

from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from sgb_data_validator_spark.plans import families as fam
from sgb_data_validator_spark.plans.families import DEFAULT_FAMILIES
from sgb_data_validator_spark.plans.pipeline import (
    TranscriptTables,
    compute_verdicts,
    summary_report,
    validate,
)
from sgb_data_validator_spark.sources.generator import (
    FixtureConfig,
    generate_allowed_tools,
    generate_baseline_stats,
    generate_conversations,
    generate_turns,
)
from sgb_data_validator_spark.sources.ledger import Ledger
from tests import oracle

CFG = FixtureConfig(n_turns=3000)


@pytest.fixture(scope="module")
def tables(spark):
    return TranscriptTables(
        turns=generate_turns(spark, CFG),
        conversations=generate_conversations(spark, CFG),
        allowed_tools=generate_allowed_tools(spark),
        baseline_stats=generate_baseline_stats(spark, CFG),
    )


@pytest.fixture(scope="module")
def result(tables):
    return validate(tables)


def test_generator_deterministic_across_parallelism(spark, tables):
    a = tables.turns.orderBy("conv_id", "turn_idx", "ts").collect()
    b = (
        generate_turns(spark, CFG)
        .repartition(13)
        .orderBy("conv_id", "turn_idx", "ts")
        .collect()
    )
    assert a == b


def test_violations_match_python_oracle(spark, tables, result):
    turn_rows = [r.asDict() for r in tables.turns.collect()]
    convs = {r.conv_id for r in tables.conversations.collect()}
    tools = {r.tool for r in tables.allowed_tools.collect()}

    want = oracle.expected_violations(turn_rows, convs, tools)
    got = sorted(
        (r.rule_id, r.conv_id, r.turn_idx)
        for r in result.violations.where(~F.col("rule_id").startswith("drift")).collect()
    )
    want = sorted(want, key=lambda x: (x[0], str(x[1]), -1 if x[2] is None else x[2]))
    got = sorted(got, key=lambda x: (x[0], str(x[1]), -1 if x[2] is None else x[2]))
    assert got == want


def test_drift_matches_python_oracle(spark, tables, result):
    turn_rows = [r.asDict() for r in tables.turns.collect()]
    baseline = {
        (r.dim, r.value): r.freq for r in tables.baseline_stats.collect()
    }
    tools = {r.tool for r in tables.allowed_tools.collect()}
    want = oracle.expected_drift_parts(turn_rows, baseline, tools=tools)
    got = {
        (r.rule_id, r.part)
        for r in result.violations.where(F.col("rule_id").startswith("drift")).collect()
    }
    assert got == want


def test_verdicts(spark, tables, result):
    verd = {r.part: r for r in result.verdicts.collect()}
    assert verd["2026-01-05"].status == "PASSED"  # day 0 kept clean
    assert sum(1 for v in verd.values() if v.status == "FAILED") >= 5
    # error/warning counts consistent with violations
    counts = {
        (r.part, r.severity): r.n
        for r in result.violations.where(F.col("part").isNotNull())
        .groupBy("part", "severity").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for p, v in verd.items():
        assert v.error_count == counts.get((p, "error"), 0)
        assert v.warning_count == counts.get((p, "warning"), 0)
    assert result.passed is False


def test_clean_config_passes(spark):
    cfg = replace(CFG, dirt=False, n_empty_convs=0)
    t = TranscriptTables(
        turns=generate_turns(spark, cfg),
        conversations=generate_conversations(spark, cfg),
        allowed_tools=generate_allowed_tools(spark),
        baseline_stats=generate_baseline_stats(spark, cfg),
    )
    assert validate(t).passed is True


def test_summary_report_shape(result):
    rows = summary_report(result.violations).collect()
    rules = {r.rule_id for r in rows}
    assert {"not_null.text", "non_empty.text", "vocab.role", "unique.turn",
            "ref.conv_id", "ref.tool", "url_in_text.text"} <= rules


def test_ledger_resume(spark, tables, result, tmp_path):
    led = Ledger(spark, str(tmp_path / "ledger"))
    part_rows = tables.turns.groupBy(F.col("part").cast("string").alias("part")).agg(
        F.count(F.lit(1)).alias("rows")
    )
    from sgb_data_validator_spark.plans.pipeline import digest_for_ledger

    led.record(result.verdicts, digest_for_ledger(result), part_rows, 1.0, "test")
    pending = {r.part for r in led.pending_partitions(tables.turns).collect()}
    all_parts = {r.part for r in tables.turns.select("part").distinct().collect()}
    assert "2026-01-05" not in pending          # PASSED partition skipped
    assert pending == all_parts - {"2026-01-05"}

    # re-record with everything passed ⇒ nothing pending
    forced = result.verdicts.withColumn("status", F.lit("PASSED"))
    led.record(forced, digest_for_ledger(result), part_rows, 1.0, "test2")
    assert led.pending_partitions(tables.turns).count() == 0


def test_ledger_concurrent_writers_latest_wins(spark, tables, result, tmp_path, monkeypatch):
    """Two concurrent runs on the same partitions both append (no lost
    update — the store is append-only); the reader resolves the winner
    by (run_ts desc, run_id desc). With run_ts forced EQUAL (true
    concurrency), the tie-break is the lexicographically larger run_id,
    deterministically — the documented Iceberg-commit analog where two
    overwrite-by-partition commits serialize and the later snapshot wins."""
    import sgb_data_validator_spark.sources.ledger as ledger_mod

    led = Ledger(spark, str(tmp_path / "ledger"))
    part_rows = tables.turns.groupBy(F.col("part").cast("string").alias("part")).agg(
        F.count(F.lit(1)).alias("rows")
    )
    from sgb_data_validator_spark.plans.pipeline import digest_for_ledger

    monkeypatch.setattr(ledger_mod.time, "time", lambda: 1767225600.0)
    failed = result.verdicts.withColumn("status", F.lit("FAILED"))
    passed = result.verdicts.withColumn("status", F.lit("PASSED"))
    # writer A (loses the tie-break), writer B (wins): same run_ts
    led.record(passed, digest_for_ledger(result), part_rows, 1.0, "writerA", run_id="aaaa00000001")
    led.record(failed, digest_for_ledger(result), part_rows, 1.0, "writerB", run_id="bbbb00000001")

    n_parts = tables.turns.select("part").distinct().count()
    # both appends are present — nothing was lost
    assert led.read().count() == 2 * n_parts
    # reader picks writer B (higher run_id at equal run_ts) ⇒ all FAILED
    latest = led.latest()
    assert {r.run_id for r in latest.select("run_id").distinct().collect()} == {"bbbb00000001"}
    assert led.pending_partitions(tables.turns).count() == n_parts


def test_empty_input(spark):
    empty = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, part string"
    )
    res = validate(TranscriptTables(empty))
    assert res.violations.count() == 0
    assert res.verdicts.count() == 0
    assert res.passed is True


def test_fill_rate_drift_opt_in(spark, tables, result):
    """Opt-in completeness drift: the dirt generator NULLs ~1.5% of text
    on dirty days (generator.py dirt("null")), so with the fill_rate
    baseline rows (clean text fill = 1.0) every dirty day must raise
    drift.fill.text; day 0 (clean by construction) must not; and the
    default path's violation count is unchanged by the feature
    existing."""
    res = validate(tables, [*DEFAULT_FAMILIES, fam.fill_rate_drift(0.005)])
    fill_v = res.violations.where(F.col("rule_id").startswith("drift.fill.")).collect()
    assert fill_v, "expected drift.fill.* violations on the dirty fixture"
    days = sorted({r.part for r in fill_v if r.rule_id == "drift.fill.text"})
    all_days = sorted(r.part for r in tables.turns.select("part").distinct().collect())
    assert all_days[0] not in days  # day 0 stays clean
    # every flagged day is a dirty day, and most dirty days trip (the
    # 1.5 permille hash dirt can leave a small day with zero NULL
    # texts — on this fixture exactly one of the seven dirty days)
    assert set(days) <= set(all_days[1:])
    assert len(days) >= len(all_days[1:]) - 1
    # the drift day's shifted tool mix also moves the tool FILL rate
    # far past its binomial band — the completeness check sees it
    assert ("drift.fill.tool", all_days[-1]) in {
        (r.rule_id, r.part) for r in fill_v
    }
    # feature OFF (the default) is bit-identical to before it existed
    assert result.violations.count() == res.violations.where(
        ~F.col("rule_id").startswith("drift.fill.")
    ).count()


def test_fill_rate_drift_clean_config_quiet(spark):
    """On a clean generation the completeness check must stay silent —
    the binomial noise guard absorbs small-partition sampling wiggle in
    the tool column's fill rate."""
    cfg = replace(CFG, dirt=False, n_empty_convs=0)
    t = TranscriptTables(
        turns=generate_turns(spark, cfg),
        conversations=generate_conversations(spark, cfg),
        allowed_tools=generate_allowed_tools(spark),
        baseline_stats=generate_baseline_stats(spark, cfg),
    )
    res = validate(t, [*DEFAULT_FAMILIES, fam.fill_rate_drift(0.005)])
    assert res.violations.where(F.col("rule_id").startswith("drift.fill.")).count() == 0
    assert res.passed is True


def test_closing_roles_opt_in(spark, tables, result):
    """The closing_role family adds conv.closing_role rows on the
    dirty fixture and leaves the default path's counts untouched."""
    from sgb_data_validator_spark.plans.pipeline import validate

    base = result.violations.count()
    res2 = validate(
        tables, [*DEFAULT_FAMILIES, fam.closing_role(("assistant", "tool", "system", "user"))]
    )
    extra = res2.violations.where("rule_id = 'conv.closing_role'").count()
    assert res2.violations.count() == base + extra
    # roles cover the whole vocabulary ⇒ only corrupt-role conversations
    # (the fixture's dirt class) can be flagged; the rule must not fire
    # on clean conversations
    legit = res2.violations.where(
        "rule_id = 'conv.closing_role' AND offending_value IN ('assistant','tool','system','user')"
    ).count()
    assert legit == 0


def test_materialize_semantic_parity(spark, tables, result):
    """materialize() is a pure execution-strategy change: the CLI uses it
    so the ~8-action report fan-out re-executes nothing, and the
    checkpointed frames must hold EXACTLY the lazy result's rows."""
    from sgb_data_validator_spark.plans.pipeline import materialize

    m = materialize(result, tables.turns)
    for lazy, mat in (
        (result.violations, m.violations),
        (result.verdicts, m.verdicts),
        (result.stats, m.stats),
    ):
        assert lazy.columns == mat.columns
        assert lazy.exceptAll(mat).count() == 0
        assert mat.exceptAll(lazy).count() == 0
    assert m.passed == result.passed
    # and the materialized frames are checkpointed scans, not the
    # original multi-scan DAG: no parquet/in-memory fact scan survives
    plan = m.violations._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan and "Scan parquet" not in plan


def test_tail_freshness_opt_in(spark, tables, result):
    """The tail_freshness family adds part.tail_freshness rows keyed
    on the table's own part column, leaves the default path untouched,
    and a generous threshold adds none."""
    base = result.violations.count()
    res2 = validate(tables, [*DEFAULT_FAMILIES, fam.tail_freshness(0)])
    fresh = res2.violations.where("rule_id = 'part.tail_freshness'")
    extra = fresh.count()
    # threshold 0: every partition except the one carrying the global
    # watermark has SOME positive tail silence
    assert extra >= 1
    assert res2.violations.count() == base + extra
    rows = fresh.collect()
    assert all(r.part is not None and r.severity == "warning" for r in rows)
    # verdict parts and freshness parts come from the same part column
    verdict_parts = {str(r.part) for r in res2.verdicts.collect()}
    assert {str(r.part) for r in rows} <= verdict_parts
    # a day-long threshold flags nothing
    res3 = validate(tables, [*DEFAULT_FAMILIES, fam.tail_freshness(86_400)])
    assert res3.violations.where("rule_id = 'part.tail_freshness'").count() == 0
