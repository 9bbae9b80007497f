"""Regression tests for the session-2 review findings: sparse-bucket
Wasserstein, duplicate-rule_id pass_rates, NULL-value u-chart defects,
nested-float backup checksums, numeric-partition novel_entities,
table-format-aware transform writes, NULL-stated reconcile rendering,
kmeans_train_fixed input validation, and report-view eviction."""

import pytest
from pyspark.sql import functions as F

from sgb_data_validator_spark.operators import rules as R


# ------------------------------------------------- wasserstein sparse buckets

def test_wasserstein_counts_displacement_across_absent_buckets(spark):
    from sgb_data_validator_spark.operators.drift import wasserstein

    # all partition mass in bucket 5, all baseline mass in bucket 0,
    # buckets 1-4 absent from BOTH sides: true W1 = 5.0
    turns = spark.createDataFrame([("d1", "5")] * 4, "part string, v string")
    baseline = spark.createDataFrame(
        [("dim", "0", 1.0)], "dim string, value string, freq double"
    )
    got = wasserstein(turns, baseline, dim="dim", value_col=F.col("v")).first()
    assert abs(got.w1 - 5.0) < 1e-9


def test_wasserstein_dense_unit_shift_unchanged(spark):
    from sgb_data_validator_spark.operators.drift import wasserstein

    # adjacent-bucket shift with both buckets present: W1 = 1.0 (the
    # pre-fix behavior on dense axes must not change)
    turns = spark.createDataFrame([("d1", "1")] * 3, "part string, v string")
    baseline = spark.createDataFrame(
        [("dim", "0", 1.0), ("dim", "1", 0.0)],
        "dim string, value string, freq double",
    )
    got = wasserstein(turns, baseline, dim="dim", value_col=F.col("v")).first()
    assert abs(got.w1 - 1.0) < 1e-9


# ------------------------------------------------- duplicate rule_ids

def test_pass_rates_tolerates_duplicate_rule_ids(spark):
    df = spark.createDataFrame([(1, 5), (2, None)], "conv_id int, x int")
    rs = R.RowRuleSet().add(R.in_range("x", lo=0), R.in_range("x", hi=3))
    # both default to rule_id 'range.x' — must NOT throw DUPLICATED_MAP_KEY
    rows = rs.pass_rates(df).collect()
    assert len(rows) == 2
    assert {r.rule_id for r in rows} == {"range.x"}
    assert sorted(r.failures for r in rows) == [0, 1]  # hi=3 catches x=5


def test_rules_from_spec_rejects_duplicate_rule_ids():
    with pytest.raises(ValueError, match="duplicate rule_id"):
        R.rules_from_spec(
            [
                {"rule": "in_range", "column": "x", "lo": 0},
                {"rule": "in_range", "column": "x", "hi": 5},
            ]
        )
    # distinct explicit ids are fine
    rs = R.rules_from_spec(
        [
            {"rule": "in_range", "column": "x", "lo": 0, "rule_id": "x.lo"},
            {"rule": "in_range", "column": "x", "hi": 5, "rule_id": "x.hi"},
        ]
    )
    assert [r.rule_id for r in rs.rules] == ["x.lo", "x.hi"]


# ------------------------------------------------- u-chart NULL values

def test_uchart_null_value_keeps_vocab_defect(spark, tmp_path):
    from sgb_data_validator_spark.plans.monitor_queries import q_violation_uchart

    rows = [
        (1, "2024-01-01 10:00:00", 1, "error", None, "{}"),   # vocab defect, NULL value
        (2, "2024-01-01 11:00:00", 1, "click", -1.0, "{}"),   # negative defect
        (3, "2024-01-01 12:00:00", 1, "view", 5.0, "{}"),     # clean
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts"))
    d = f"{tmp_path}/sf"
    df.write.parquet(f"{d}/events.parquet")
    got = q_violation_uchart(spark, d).first()
    # the NULL-value error row must still count its vocab defect
    assert got.defects == 2


# ------------------------------------------------- nested-float checksums

def test_backup_checksum_excludes_nested_floats(spark, tmp_path):
    from sgb_data_validator_spark.sources.backup import backup_tables, verify_backup

    df = spark.createDataFrame(
        [(1, [0.1, 0.2], "a"), (2, [0.3], "b")],
        "id bigint, emb array<double>, tag string",
    )
    man = backup_tables({"t": df}, str(tmp_path / "bk"))
    assert man["tables"]["t"]["checksum_cols"] == ["id", "tag"]  # emb excluded
    res = verify_backup(spark, str(tmp_path / "bk"))
    assert res["t"]["ok"]  # healthy restore must not flag MISMATCH


# ------------------------------------------------- numeric-part novel entities

def test_novel_entities_numeric_parts_order_numerically(spark):
    from sgb_data_validator_spark.operators.drift import novel_entities

    rows = [(9, "e1"), (10, "e1"), (10, "e2")]
    df = spark.createDataFrame(rows, "day int, ent string")
    got = {r.part: (r.active, r.novel) for r in novel_entities(df, "day", "ent").collect()}
    # e1 first seen on day 9 (numeric order), NOT day 10 ('10' < '9' lexically)
    assert got["9"] == (1, 1)
    assert got["10"] == (2, 1)  # only e2 is novel on day 10


# ------------------------------------------------- table-format-aware writes

def test_write_table_catalog_roundtrip(spark, tmp_path):
    from sgb_data_validator_spark.sources.catalog import read_table, write_table

    df = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")],
        "id bigint, v string, part string",
    )
    name = "sgb_test_write_roundtrip"
    try:
        write_table(df, name, "table")
        back = read_table(spark, name, "table")
        assert back.count() == 2 and set(back.columns) == {"id", "v", "part"}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    # path target still writes parquet
    p = str(tmp_path / "out")
    write_table(df, p, None)
    assert spark.read.parquet(p).count() == 2


# ------------------------------------------------- NULL-stated reconcile text

def test_reconcile_null_stated_offending_value_readable(spark):
    from sgb_data_validator_spark.plans import families as fam
    from sgb_data_validator_spark.plans.pipeline import TranscriptTables, compute_violations

    turns = spark.createDataFrame(
        [("c1", 0, "user", "hi", None, "2024-01-01 10:00:00", "2024-01-01")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string, part string",
    ).withColumn("ts", F.to_timestamp("ts"))
    convs = spark.createDataFrame(
        [("c1", None)], "conv_id string, n_turns_expected int"
    )
    v = compute_violations(
        TranscriptTables(turns=turns, conversations=convs),
        [
            fam.row_rules(),
            fam.uniqueness,
            fam.conversation_refs,
            fam.manifest_turn_count,
            fam.tool_refs,
            fam.sequence,
            fam.drift,
        ],
    )
    row = v.where("rule_id = 'conv.turn_count'").first()
    assert row is not None
    assert row.offending_value == "expected NULL, got 1"


# ------------------------------------------------- kmeans n_iter validation

def test_kmeans_train_fixed_rejects_zero_iterations(spark):
    from sgb_data_validator_spark.operators.similarity import kmeans_train_fixed

    df = spark.createDataFrame([(1, [0.0, 1.0])], "id bigint, vec array<double>")
    cent = spark.createDataFrame(
        [(0, [0.0, 0.0], 1.0)], "cid int, cv array<double>, cn double"
    )
    with pytest.raises(ValueError, match="n_iter"):
        kmeans_train_fixed(df, cent, "id", "vec", n_iter=0)


# ------------------------------------------------- report-view eviction

def test_all_violations_evicts_previous_sf_dir(spark):
    from sgb_data_validator_spark.plans.driver_queries import (
        _REPORT_VIEW_PREFIX,
        _all_violations,
        clear_violations_cache,
    )

    clear_violations_cache(spark)
    _all_violations(spark, "/root/testdata/sf0.001")
    _all_violations(spark, "/root/testdata/sf0.01")
    views = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(_REPORT_VIEW_PREFIX)
    ]
    assert len(views) == 1  # single-entry semantics: old sf_dir evicted
    clear_violations_cache(spark)


# ------------------------------------------- co-occurrence NULL-user population

def test_violation_cooccurrence_population_skips_null_user(spark, tmp_path):
    """N = distinct non-NULL users + the ghost conversation, as the SQL
    twin's ``count(DISTINCT user_id) + 1``: a NULL user_id is not a
    conversation of the population."""
    from sgb_data_validator_spark.plans.certify_queries import q_violation_cooccurrence

    # user 0 is an orphan (0 % 7) with stray 'shell' tools (0 % 97), so
    # its conversation fires several rules together; user 1 is clean
    rows = [
        (0, "2024-01-01 00:00:00", 0, "view"),
        (1, "2024-01-01 00:01:00", 0, "purchase"),
        (2, "2024-01-01 00:02:00", 0, "click"),
        (3, "2024-01-01 00:00:00", 1, "view"),
        (4, "2024-01-01 00:01:00", 1, "click"),
        (5, "2024-01-01 00:03:00", None, "view"),
    ]
    (
        spark.createDataFrame(rows, "event_id long, ts string, user_id long, event_type string")
        .select(
            "event_id",
            F.to_timestamp("ts").alias("ts"),
            "user_id",
            "event_type",
            F.lit(1.0).alias("value"),
            F.lit('{"k": 1}').alias("props"),
        )
        .write.parquet(str(tmp_path / "events.parquet"))
    )
    got = q_violation_cooccurrence(spark, str(tmp_path)).collect()
    assert got
    n_total = 2 + 1  # users 0 and 1, plus the ghost
    for r in got:
        assert r.lift == round(r.n_both * n_total / (r.n_a * r.n_b), 6), r
