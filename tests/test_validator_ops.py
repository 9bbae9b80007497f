"""Round-5 validator-tier operators: adjacent-repeat transition rule
(attribution + adjacency adversaries), salting plan (hand-computed
ceil factors, argument validation), per-rule pass rates (equality with
the violations view, empty-frame semantics, mostly boundary), split
leak (constructed dup pairs across / within id buckets), ship-window
boundary dates, replay defects, and exact daily quantile drift —
hand-computed truths on constructed frames."""

import hashlib
import statistics

import pytest
from pyspark.sql import functions as F

from sgb_data_validator_spark.operators import rules as R
from sgb_data_validator_spark.operators.audit import salt_plan
from sgb_data_validator_spark.operators.windows import repeat_transition_violations


def _turns(spark, convs: dict[str, list[str]]):
    rows = [
        (cid, i, role) for cid, roles in convs.items() for i, role in enumerate(roles)
    ]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")


# ------------------------------------------------- transition repeats

def test_repeat_transitions_flag_second_turn(spark):
    t = _turns(spark, {"c1": ["user", "user", "assistant", "assistant", "user"]})
    got = sorted(
        (r.conv_id, r.turn_idx, r.offending_value)
        for r in repeat_transition_violations(t).collect()
    )
    # repeats at (0,1) and (2,3); the violation carries the SECOND index
    assert got == [("c1", 1, "user->user"), ("c1", 3, "assistant->assistant")]
    row = repeat_transition_violations(t).first()
    assert row.rule_id == "transition.repeat" and row.severity == "warning"


def test_repeat_transitions_ignore_cross_conversation_adjacency(spark):
    # same role at the boundary of two conversations is NOT a repeat
    t = _turns(spark, {"a": ["user"], "b": ["user"]})
    assert repeat_transition_violations(t).count() == 0


def test_repeat_transitions_alternating_clean(spark):
    t = _turns(spark, {"c": ["user", "assistant"] * 5})
    assert repeat_transition_violations(t).count() == 0


# ------------------------------------------------- salt plan

def test_salt_plan_hand_computed(spark):
    rows = [("hot",)] * 10 + [("warm",)] * 5 + [("cold",)] * 2
    df = spark.createDataFrame(rows, "k string")
    got = {r.k: (r.cnt, r.salt_factor) for r in salt_plan(df, "k", 4).collect()}
    # 10/4 -> ceil 3; 5/4 -> ceil 2; 2 <= 4 -> not emitted
    assert got == {"hot": (10, 3), "warm": (5, 2)}


def test_salt_plan_exact_budget_not_salted(spark):
    df = spark.createDataFrame([("k",)] * 4, "k string")
    assert salt_plan(df, "k", 4).count() == 0  # cnt == target is within budget


def test_salt_plan_rejects_nonpositive_target(spark):
    df = spark.createDataFrame([("k",)], "k string")
    with pytest.raises(ValueError):
        salt_plan(df, "k", 0)


# ------------------------------------------------- pass rates

def _doc_rules() -> R.RowRuleSet:
    return R.RowRuleSet().add(
        R.not_null("text"),
        R.non_empty("text"),
        R.in_vocabulary("lang", ["en", "de"]),
    )


def _docs(spark):
    rows = [
        (1, "fine text", "en"),
        (2, None, "en"),        # not_null fails
        (3, "  ", "de"),        # non_empty fails
        (4, "ok", "zh"),        # vocab fails
        (5, "ok too", "zh"),    # vocab fails
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_pass_rates_match_violations_view(spark):
    rs, docs = _doc_rules(), _docs(spark)
    by_rule = {
        r.rule_id: r.cnt
        for r in rs.violations(docs, key_cols=("doc_id",), part_col=None)
        .groupBy("rule_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    got = {r.rule_id: r for r in rs.pass_rates(docs, mostly=0.9).collect()}
    assert set(got) == {"not_null.text", "non_empty.text", "vocab.lang"}
    for rid, row in got.items():
        assert row.failures == by_rule.get(rid, 0), rid
        assert row.n == 5
        assert row.pass_rate == round(1.0 - row.failures / 5, 6)
    # 2/5 vocab failures -> 0.6 < 0.9 FAIL; 1/5 -> 0.8 < 0.9 FAIL
    assert got["vocab.lang"].status == "FAIL"
    # mostly boundary: pass_rate == mostly is a PASS
    boundary = {
        r.rule_id: r.status for r in rs.pass_rates(docs, mostly=0.8).collect()
    }
    assert boundary["not_null.text"] == "PASS"  # 0.8 >= 0.8


def test_pass_rates_empty_frame_all_pass(spark):
    rs = _doc_rules()
    empty = _docs(spark).where("1=0")
    for r in rs.pass_rates(empty).collect():
        assert r.n == 0 and r.failures == 0
        assert r.pass_rate == 1.0 and r.status == "PASS"


# ------------------------------------------------- split leak

def _bucket(doc_id: int) -> int:
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 2


def test_split_leak_shape(spark):
    # two identical texts with doc_ids hashing to DIFFERENT buckets leak;
    # two identical texts in the SAME bucket don't
    ids = list(range(100))
    a = next(i for i in ids if _bucket(i) == 0)
    b = next(i for i in ids if _bucket(i) == 1)
    same = [i for i in ids if _bucket(i) == 0 and i != a][:2]
    rows = [
        (a, "dup text one"),
        (b, "dup text one"),        # leaks: buckets 0 and 1
        (same[0], "dup text two"),
        (same[1], "dup text two"),  # same bucket: no leak
        (99, "unique text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from sgb_data_validator_spark.operators.dedup import (
        canonical_fingerprint,
        portable_hash,
    )

    bucket = portable_hash(F.col("doc_id").cast("string")) % 2
    f = docs.select(
        canonical_fingerprint(F.col("text")).alias("fp"),
        F.when(bucket == 0, F.lit("train")).otherwise(F.lit("test")).alias("split"),
    )
    leaks = (
        f.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("split").alias("n_splits"),
            F.concat_ws(",", F.array_sort(F.collect_set("split"))).alias("splits"),
        )
        .where(F.col("n_splits") > 1)
        .collect()
    )
    assert len(leaks) == 1
    assert leaks[0].n_docs == 2 and leaks[0].splits == "test,train"


# ------------------------------------------------- ship window boundary

def test_ship_window_boundaries(spark):
    import datetime as dt

    base = dt.date(2024, 1, 1)
    rows = [
        (1, base),                            # shipdate == orderdate: clean
        (2, base + dt.timedelta(days=120)),   # exactly at window edge: clean
        (3, base + dt.timedelta(days=121)),   # one past: late
        (4, base - dt.timedelta(days=1)),     # before order: early
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_shipdate date")
    orders = spark.createDataFrame([(k, base) for k, _ in rows],
                                   "o_orderkey long, o_orderdate date").distinct()
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    early = (F.col("l_shipdate") < F.col("o_orderdate")).cast("int")
    late = (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 120)).cast("int")
    got = j.agg(F.sum(early).alias("e"), F.sum(late).alias("l")).first()
    assert (got.e, got.l) == (1, 1)


# ------------------------------------------------- replay defects

def test_replay_defects_count_repeats_only(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 10, 0)
    rows = [
        (1, "click", t0),
        (1, "click", t0 + dt.timedelta(minutes=5)),   # same hour: replay
        (1, "click", t0 + dt.timedelta(hours=2)),     # new hour: clean
        (2, "view", t0),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    per = (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("part"),
            "user_id",
            "event_type",
            F.date_trunc("hour", "ts").alias("h"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("part")
        .agg(F.sum("cnt").alias("n"), F.sum(F.col("cnt") - 1).alias("defects"))
        .first()
    )
    assert (per.n, per.defects) == (4, 1)


# ------------------------------------------------- quantile drift

def test_daily_quantiles_exact(spark):
    import datetime as dt

    vals = {1: [1.0, 2.0, 3.0, 4.0], 2: [10.0, 20.0, 30.0]}
    rows = [
        (dt.datetime(2024, 1, day, 12, 0), v)
        for day, vs in vals.items()
        for v in vs
    ]
    ev = spark.createDataFrame(rows, "ts timestamp, value double")
    per = {
        r.part: (r.p50, r.n)
        for r in ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("part"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        )
        .collect()
    }
    assert per["2024-01-01"] == (round(statistics.median(vals[1]), 4), 4)
    assert per["2024-01-02"] == (round(statistics.median(vals[2]), 4), 3)


# ------------------------------------------------- partition consistency

def _pc_turns(spark):
    import datetime as dt

    rows = [
        ("c1", 0, "user", "hi", None, dt.datetime(2026, 1, 5, 9, 0), "2026-01-05"),
        ("c1", 1, "assistant", "yo", None, dt.datetime(2026, 1, 5, 23, 59), "2026-01-06"),  # misrouted
        ("c2", 0, "user", "ok", None, None, "2026-01-05"),                                  # NULL ts: not this rule
        ("c2", 1, "assistant", "k", None, dt.datetime(2026, 1, 5, 1, 0), None),             # NULL part: out of scope
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, part string",
    )


def test_partition_matches_ts_rule(spark):
    rs = R.RowRuleSet().add(R.partition_matches_ts())
    got = rs.violations(_pc_turns(spark)).collect()
    assert len(got) == 1
    v = got[0]
    assert v.rule_id == "part.ts_mismatch" and v.conv_id == "c1" and v.turn_idx == 1
    assert v.offending_value == "2026-01-06 != date(2026-01-05)"


def test_partition_consistency_opt_in_zero_extra_scans(spark):
    from sgb_data_validator_spark.plans import families as fam
    from sgb_data_validator_spark.plans.pipeline import (
        TranscriptTables,
        compute_violations,
        transcript_row_rules,
    )

    t = TranscriptTables(turns=_pc_turns(spark))
    # the default list without the opening-role family
    others = [fam.uniqueness, fam.conversation_refs, fam.tool_refs, fam.sequence, fam.drift]
    base = compute_violations(t, [fam.row_rules(), *others])
    with_pc = transcript_row_rules().add(R.partition_matches_ts())
    on = compute_violations(t, [fam.row_rules(with_pc), *others])
    assert base.where("rule_id = 'part.ts_mismatch'").count() == 0
    assert on.where("rule_id = 'part.ts_mismatch'").count() == 1
    # default-path violation counts unchanged by the opt-in
    assert (
        on.where("rule_id <> 'part.ts_mismatch'").count() == base.count()
    )
    # the pipeline must not mutate the caller's rule set
    rs = R.RowRuleSet().add(R.not_null("text"))
    compute_violations(t, [fam.row_rules(rs), *others])
    assert [r.rule_id for r in rs.rules] == ["not_null.text"]


# ------------------------------------------------- declarative suites

def test_rules_from_spec_round_trip(spark):
    spec = [
        {"rule": "not_null", "column": "text"},
        {"rule": "in_vocabulary", "column": "lang", "terms": ["en", "de"]},
    ]
    rs = R.rules_from_spec(spec)
    hand = R.RowRuleSet().add(R.not_null("text"), R.in_vocabulary("lang", ["en", "de"]))
    docs = _docs(spark)
    got = sorted(
        (r.rule_id, r.conv_id)
        for r in rs.violations(docs, key_cols=("doc_id",), part_col=None).collect()
    )
    want = sorted(
        (r.rule_id, r.conv_id)
        for r in hand.violations(docs, key_cols=("doc_id",), part_col=None).collect()
    )
    assert got == want and len(got) > 0


def test_rules_from_spec_unknown_rule_fails_at_load():
    with pytest.raises(ValueError, match="unknown rule 'no_such'"):
        R.rules_from_spec([{"rule": "no_such", "column": "x"}])


# ------------------------------------------------- partition checksums

def test_checksum_detects_corruption_counts_cannot(spark):
    from sgb_data_validator_spark.operators.dedup import portable_hash
    from sgb_data_validator_spark.operators.stats import (
        checksum_diff,
        partition_checksums,
    )

    src_rows = [("p1", "alpha"), ("p1", "beta"), ("p2", "gamma")]
    # same row COUNTS, one substituted value in p1, p3 extra, p2 dropped
    dst_rows = [("p1", "alpha"), ("p1", "CORRUPT"), ("p3", "new")]
    mk = lambda rows: partition_checksums(
        spark.createDataFrame(rows, "part string, text string"),
        "part",
        portable_hash(F.col("text")),
    )
    got = {r.part: r.status for r in checksum_diff(mk(src_rows), mk(dst_rows)).collect()}
    assert got == {"p1": "MISMATCH", "p2": "MISSING", "p3": "EXTRA"}


def test_checksum_is_order_free(spark):
    from sgb_data_validator_spark.operators.dedup import portable_hash
    from sgb_data_validator_spark.operators.stats import partition_checksums

    rows = [("p", f"t{i}") for i in range(50)]
    mk = lambda rs: partition_checksums(
        spark.createDataFrame(rs, "part string, text string").repartition(7),
        "part",
        portable_hash(F.col("text")),
    ).first()
    a, b = mk(rows), mk(list(reversed(rows)))
    assert (a.n_rows, a.checksum) == (b.n_rows, b.checksum)
    # duplicate a row twice: count changes AND checksum changes (no
    # even-duplicate cancellation — the reason this is a sum, not XOR)
    c = mk(rows + [("p", "t0"), ("p", "t0")])
    assert c.n_rows == 52 and c.checksum != a.checksum


def test_backup_manifest_checksum_round_trip(spark, tmp_path):
    import datetime as dt

    from sgb_data_validator_spark.sources.backup import backup_tables, verify_backup

    df = spark.createDataFrame(
        [
            (1, "hello", dt.datetime(2026, 1, 5, 9, 0), 1.5),
            (2, "world", dt.datetime(2026, 1, 6, 10, 0), 2.5),
        ],
        "id long, text string, ts timestamp, score double",
    )
    d = str(tmp_path / "bk")
    manifest = backup_tables({"t": df}, d)
    meta = manifest["tables"]["t"]
    # float column excluded from the checksum basis; others included
    assert meta["checksum_cols"] == ["id", "text", "ts"]
    assert meta["checksum"] is not None
    out = verify_backup(spark, d)
    assert out["t"]["ok"] and out["t"]["checksum_ok"]
    # corrupt the restored data: rewrite one value in the backup files
    # (dropping Hadoop's .crc sidecars so the LOCAL-fs integrity layer
    # doesn't mask the corruption — object stores have no such sidecar)
    import glob
    import os

    for fp in glob.glob(f"{d}/t/part-*.json"):
        s = open(fp).read()
        if "hello" in s:
            open(fp, "w").write(s.replace("hello", "jello"))
    for crc in glob.glob(f"{d}/t/.*.crc"):
        os.remove(crc)
    out2 = verify_backup(spark, d)
    assert out2["t"]["restored"] == 2          # counts alone can't see it
    assert not out2["t"]["checksum_ok"] and not out2["t"]["ok"]


# ------------------------------------------------- partition health score

def test_health_score_grade_boundaries(spark, tmp_path):
    """Hand-computed grades including every boundary (strict <): score
    per 1k of exactly 500 / 1000 / 2000 lands in B / C / F."""
    import datetime as dt

    from sgb_data_validator_spark.plans.validator_queries import q_health_score

    def day(d, n_clean, n_err, n_warn):
        base = dt.datetime(2024, 3, d, 12, 0)
        rows = []
        rows += [(base, "click", 10.0)] * n_clean
        rows += [(base, "error", 10.0)] * n_err
        rows += [(base, "click", 300.0)] * n_warn   # value > 250 ⇒ warning
        return rows

    rows = (
        day(1, 19, 0, 1)    # score 1  → 50/1k    → A
        + day(2, 19, 1, 0)  # score 10 → 500/1k   → B (boundary)
        + day(3, 9, 1, 10)  # score 20 → 1000/1k  → C (boundary)
        + day(4, 16, 4, 0)  # score 40 → 2000/1k  → F (boundary)
    )
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    d = str(tmp_path)
    ev.write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {r.part: r for r in q_health_score(spark, d).collect()}
    assert (got["2024-03-01"].score, got["2024-03-01"].grade) == (1, "A")
    assert (got["2024-03-02"].score, got["2024-03-02"].grade) == (10, "B")
    assert (got["2024-03-03"].score, got["2024-03-03"].grade) == (20, "C")
    assert (got["2024-03-04"].score, got["2024-03-04"].grade) == (40, "F")
    assert got["2024-03-03"].warnings == 10 and got["2024-03-03"].errors == 1
    assert all(r.n == 20 for r in got.values())


# ------------------------------------------------- violation exemplars

def test_violation_exemplars_deterministic_topk(spark):
    """≤3 exemplars per rule, contiguous ranks from 1, and the exact
    same rows on a re-run (the total tie-break order makes the sample
    reproducible)."""
    from sgb_data_validator_spark.plans.driver_queries import q_violation_exemplars

    sf = "/root/testdata/sf0.001"
    a = q_violation_exemplars(spark, sf).collect()
    assert a, "driver testdata carries violations for every rule family"
    per_rule = {}
    for r in a:
        per_rule.setdefault(r.rule_id, []).append(r)
    for rid, rows in per_rule.items():
        assert len(rows) <= 3, rid
        assert sorted(x.exemplar_rank for x in rows) == list(range(1, len(rows) + 1)), rid
    b = q_violation_exemplars(spark, sf).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# ------------------------------------------------- closing-role rule

def test_closing_role_flags_last_turn_only(spark):
    """Argmax semantics: only the conversation's LAST turn is judged —
    an error mid-conversation is fine, an error at the end is flagged,
    and the flag carries the last turn's index and part."""
    from sgb_data_validator_spark.operators.windows import closing_role_violations

    rows = [
        ("c1", 0, "user", "d1"), ("c1", 1, "error", "d1"), ("c1", 2, "assistant", "d1"),
        ("c2", 0, "user", "d1"), ("c2", 1, "error", "d2"),
        ("c3", 0, "assistant", "d1"),
    ]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, part string")
    got = {r.conv_id: r for r in closing_role_violations(t, closing_roles=("assistant",)).collect()}
    assert set(got) == {"c2"}
    assert (got["c2"].turn_idx, got["c2"].offending_value, got["c2"].part) == (1, "error", "d2")
    assert got["c2"].rule_id == "conv.closing_role"


# ------------------------------------------------- pass-rate regression

def test_pass_rate_diff_verdicts(spark, tmp_path):
    """Constructed corpus where the 'current' full run is strictly
    worse than the doc_id%2==0 baseline on one rule, better on none:
    odd docs carry all the NULL texts, so not_null.text REGRESSED and
    every rule untouched by the odd half is STABLE."""
    from sgb_data_validator_spark.plans.validator_queries import q_pass_rate_diff

    rows = []
    for i in range(40):
        text = None if (i % 2 == 1 and i < 8) else f"doc {i}"
        rows.append((i, text, "en", f"src{i}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    d = str(tmp_path)
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {r.rule_id: r for r in q_pass_rate_diff(spark, d).collect()}
    assert got["not_null.text"].status == "REGRESSED"
    assert got["not_null.text"].delta < 0
    # baseline (even docs) has no NULLs at all
    assert got["not_null.text"].pass_rate_base == 1.0
    assert got["vocab.lang"].status == "STABLE" and got["vocab.lang"].delta == 0.0
    assert got["regex.source"].status == "STABLE"


# ------------------------------------------------- value-range rule

def test_in_range_bounds_semantics(spark):
    """Inclusive bounds: lo and hi themselves pass; outside either side
    is flagged; NULL passes (not_null's job); one-sided bounds work;
    no bounds at all is a construction error."""
    rows = [(1, 0.01), (2, 250.0), (3, 0.009), (4, 250.1), (5, None), (6, 100.0)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    rs = R.RowRuleSet().add(R.in_range("value", lo=0.01, hi=250.0))
    got = {r.conv_id for r in rs.violations(df, key_cols=("event_id",), part_col=None).collect()}
    assert got == {"3", "4"}

    lo_only = R.RowRuleSet().add(R.in_range("value", lo=1.0))
    got2 = {r.conv_id for r in lo_only.violations(df, key_cols=("event_id",), part_col=None).collect()}
    assert got2 == {"1", "3"}   # only below-lo rows; no upper bound

    with pytest.raises(ValueError):
        R.in_range("value")

    # declarative spec path
    suite = R.rules_from_spec([{"rule": "in_range", "column": "value", "lo": 0.01, "hi": 250.0}])
    got3 = {r.conv_id for r in suite.violations(df, key_cols=("event_id",), part_col=None).collect()}
    assert got3 == {"3", "4"}


# ------------------------------------------------- repeated-text rule

def test_repeat_text_one_row_per_group_anchored_first(spark):
    """A text repeated 3x in one conversation yields ONE violation row,
    anchored at the earliest turn with its part; the same text in a
    DIFFERENT conversation does not join the group; NULL/empty texts
    never count as repeats."""
    from sgb_data_validator_spark.operators.windows import repeat_text_violations

    rows = [
        ("c1", 0, "again", "d1"), ("c1", 1, "fresh", "d1"),
        ("c1", 2, "again", "d2"), ("c1", 3, "again", "d2"),
        ("c2", 0, "again", "d1"),               # other conversation
        ("c3", 0, "", "d1"), ("c3", 1, "", "d1"),      # empty: excluded
        ("c3", 2, None, "d1"), ("c3", 3, None, "d1"),  # NULL: excluded
    ]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string, part string")
    got = repeat_text_violations(t).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.conv_id, r.turn_idx, r.offending_value, r.part) == ("c1", 0, "repeated x3", "d1")
    assert r.rule_id == "conv.repeat_text" and r.severity == "warning"
    # raising the threshold excludes the x3 group
    assert repeat_text_violations(t, min_repeats=4).count() == 0


# ------------------------------------------------- field-pair rule

def test_field_pair_semantics(spark):
    """The condition GATES (rows outside when_vals pass whatever their
    then side looks like); inside it, NULL violates when then_required
    and out-of-set violates when then_vals is given; the offending
    value names both sides; bad constructions fail at build time."""
    rows = [
        (1, "purchase", "gold"),      # in set: passes
        (2, "purchase", None),        # required NULL: violates
        (3, "purchase", "iron"),      # out of set: violates
        (4, "view", None),            # outside when_vals: passes
        (5, None, None),              # NULL when_col: passes
    ]
    df = spark.createDataFrame(rows, "event_id long, event_type string, tier string")
    rs = R.RowRuleSet().add(
        R.field_pair("event_type", ["purchase"], "tier", then_vals=["gold", "silver"])
    )
    got = {r.conv_id: r for r in rs.violations(df, key_cols=("event_id",), part_col=None).collect()}
    assert set(got) == {"2", "3"}
    assert got["2"].offending_value == "purchase => NULL"
    assert got["3"].offending_value == "purchase => iron"

    # required-only form: NULL violates, any non-null value passes
    req = R.RowRuleSet().add(R.field_pair("event_type", ["purchase"], "tier"))
    got2 = {r.conv_id for r in req.violations(df, key_cols=("event_id",), part_col=None).collect()}
    assert got2 == {"2"}

    with pytest.raises(ValueError):
        R.field_pair("event_type", [], "tier")
    with pytest.raises(ValueError):
        R.field_pair("event_type", ["purchase"], "tier", then_vals=[])
    with pytest.raises(ValueError):
        R.field_pair("event_type", ["purchase"], "tier", then_required=False)

    # declarative spec path
    suite = R.rules_from_spec([
        {"rule": "field_pair", "when_col": "event_type",
         "when_vals": ["purchase"], "then_col": "tier",
         "then_vals": ["gold", "silver"]},
    ])
    got3 = {r.conv_id for r in suite.violations(df, key_cols=("event_id",), part_col=None).collect()}
    assert got3 == {"2", "3"}


def test_in_range_rejects_swapped_bounds():
    with pytest.raises(ValueError):
        R.in_range("value", lo=250.0, hi=0.01)
