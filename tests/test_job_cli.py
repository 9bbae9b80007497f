"""The spark-submit job entry: full run → exit code + sinks + ledger,
then a --resume run that skips PASSED partitions."""

from jobs.validate import parse_args, report_verdicts, run
from sgb_data_validator_spark.sources.generator import FixtureConfig, write_fixture_tables
from sgb_data_validator_spark.sources.ledger import Ledger


def test_job_run_and_resume(spark, tmp_path):
    base = str(tmp_path)
    write_fixture_tables(spark, FixtureConfig(n_turns=1500), f"{base}/fx")
    argv = [
        "--turns", f"{base}/fx/turns",
        "--conversations", f"{base}/fx/conversations",
        "--allowed-tools", f"{base}/fx/allowed_tools",
        "--baseline-stats", f"{base}/fx/baseline_stats",
        "--out", f"{base}/report",
        "--ledger", f"{base}/ledger",
    ]
    rc = run(spark, parse_args(argv))
    assert rc == 1  # dirt ⇒ errors ⇒ reference exit-code contract

    verdicts = spark.read.parquet(f"{base}/report/verdicts")
    statuses = {str(r.part): r.status for r in verdicts.collect()}
    assert statuses["2026-01-05"] == "PASSED"
    assert any(s == "FAILED" for s in statuses.values())

    led = Ledger(spark, f"{base}/ledger")
    latest = {r.part: r for r in led.latest().collect()}
    assert set(latest) == set(statuses)
    assert all(r.rows_per_sec > 0 and r.stats_digest for r in latest.values())

    # resume: day 0 (PASSED) is skipped from recomputation, but the
    # queryable report must KEEP its rows — dynamic partition overwrite
    # replaces only the revalidated partitions (round-1 ADVICE: the old
    # full overwrite silently dropped PASSED partitions on resume)
    v1_day0 = (
        spark.read.parquet(f"{base}/report/violations")
        .where("part = '2026-01-05'")
        .count()
    )
    rc2 = run(spark, parse_args(argv + ["--resume"]))
    assert rc2 == 1
    verdicts2 = {str(r.part) for r in spark.read.parquet(f"{base}/report/verdicts").collect()}
    assert verdicts2 == set(statuses)  # nothing truncated
    v2_day0 = (
        spark.read.parquet(f"{base}/report/violations")
        .where("part = '2026-01-05'")
        .count()
    )
    assert v2_day0 == v1_day0  # PASSED partition's report rows preserved


def test_job_streaming_incremental(spark, tmp_path):
    """--streaming: availableNow drains the landing dir exactly-once;
    re-invoking with nothing new appends nothing, landing more files
    processes only them."""
    from sgb_data_validator_spark.sources.generator import generate_turns

    base = str(tmp_path)
    landing = f"{base}/landing"
    generate_turns(spark, FixtureConfig(n_turns=800)).write.mode("append").parquet(landing)
    argv = ["--turns", landing, "--out", f"{base}/sreport", "--streaming"]
    rc = run(spark, parse_args(argv))
    assert rc == 1  # dirt ⇒ errors
    n1 = spark.read.parquet(f"{base}/sreport/violations_stream/rows").count()
    assert n1 > 0

    # nothing new ⇒ second invocation appends nothing
    rc2 = run(spark, parse_args(argv))
    assert rc2 == 1
    assert spark.read.parquet(f"{base}/sreport/violations_stream/rows").count() == n1

    # new files land ⇒ only they are processed (count strictly grows)
    generate_turns(spark, FixtureConfig(n_turns=800, seed=7)).write.mode("append").parquet(landing)
    run(spark, parse_args(argv))
    assert spark.read.parquet(f"{base}/sreport/violations_stream/rows").count() > n1


def test_fill_rate_drift_flag_requires_baseline():
    import pytest

    with pytest.raises(SystemExit):
        parse_args(["--turns", "/t", "--out", "/o", "--fill-rate-drift"])
    # with a baseline it parses, and the tolerance knob is threaded
    args = parse_args(
        ["--turns", "/t", "--out", "/o", "--baseline-stats", "/b",
         "--fill-rate-drift", "--fill-rate-tol", "0.01"]
    )
    assert args.fill_rate_drift and args.fill_rate_tol == 0.01


CERT_COLUMNS = [
    ("rule_id", "string"),
    ("n_sample", "bigint"),
    ("k_viol", "bigint"),
    ("viol_rate", "double"),
    ("upper_bound", "double"),
    ("certified", "int"),
]


def test_report_verdicts_orders_like_spark_and_sets_exit_code(spark, capsys):
    """One collect gives the console lines in Spark's ascending part
    order (NULL first) and the exit code: 1 iff any partition FAILED."""
    schema = "part string, error_count bigint, warning_count bigint, status string"
    rows = [
        ("2026-01-06", 2, 0, "FAILED"),
        (None, 0, 1, "PASSED"),
        ("2026-01-05", 0, 3, "PASSED"),
    ]
    verdicts = spark.createDataFrame(rows, schema)
    assert report_verdicts(verdicts) == 1
    assert capsys.readouterr().out.splitlines() == [
        f"{r.part}\t{r.status}\terrors={r.error_count}\twarnings={r.warning_count}"
        for r in verdicts.orderBy("part").collect()
    ]
    assert report_verdicts(verdicts.where("status = 'PASSED'")) == 0
    assert report_verdicts(verdicts.limit(0)) == 0


def test_certify_preflight_and_gate(spark, tmp_path):
    """--certify-bp writes a per-rule certificate; --certify-only gates
    with exit 3 on a dirty fixture under a tight SLO and exit 0 on a
    clean one (or a loose SLO) without running the full validation."""
    base = str(tmp_path)
    write_fixture_tables(spark, FixtureConfig(n_turns=1500), f"{base}/fx")
    argv = [
        "--turns", f"{base}/fx/turns",
        "--out", f"{base}/cert_report",
        "--certify-bp", "10000",  # full sample: exact rates
        "--certify-tol", "0.0001",
        "--certify-only",
    ]
    rc = run(spark, parse_args(argv))
    assert rc == 3  # dirty fixture cannot certify a 0.01% SLO
    cert = spark.read.parquet(f"{base}/cert_report/certificate")
    rows = {r.rule_id: r for r in cert.collect()}
    # the certificate covers exactly the default row-rule family
    assert set(rows) == {
        "not_null.text", "non_empty.text", "vocab.role",
        "url_in_text.text", "tool.role_consistency",
    }
    assert all(r.upper_bound >= r.viol_rate for r in rows.values())
    # the artifact keeps the certificate frame's columns and types, one
    # row per rule in rule_id order
    assert [(f.name, f.dataType.simpleString()) for f in cert.schema] == CERT_COLUMNS
    assert [r.rule_id for r in cert.collect()] == sorted(rows)
    # certify-only must NOT have produced the full validation sinks
    import os
    assert not os.path.exists(f"{base}/cert_report/verdicts")

    # loose SLO certifies the same table (full sample, upper < 1.0)
    rc2 = run(spark, parse_args(argv[:-3] + ["--certify-tol", "1.0", "--certify-only"]))
    assert rc2 == 0

    # clean fixture certifies under a tight SLO
    write_fixture_tables(
        spark, FixtureConfig(n_turns=1500, dirt=False, n_empty_convs=0), f"{base}/fx_clean"
    )
    rc3 = run(spark, parse_args([
        "--turns", f"{base}/fx_clean/turns",
        "--out", f"{base}/cert_clean",
        "--certify-bp", "10000",
        "--certify-tol", "0.01",
        "--certify-only",
    ]))
    assert rc3 == 0


def test_certify_requires_bp():
    import pytest
    with pytest.raises(SystemExit):
        parse_args(["--turns", "/t", "--out", "/o", "--certify-only"])
    with pytest.raises(SystemExit):
        parse_args(["--turns", "/t", "--out", "/o", "--certify-bp", "0"])


def test_certify_target_validates_only_suspect_partitions(spark, tmp_path):
    """--certify-target: per-partition certificates route only the
    non-certified partitions into the full validation (the clean day 0
    is attested by certificate and skipped)."""
    base = str(tmp_path)
    write_fixture_tables(spark, FixtureConfig(n_turns=4000), f"{base}/fx")
    argv = [
        "--turns", f"{base}/fx/turns",
        "--out", f"{base}/target_report",
        "--certify-bp", "10000",
        "--certify-tol", "0.02",
        "--certify-target",
    ]
    rc = run(spark, parse_args(argv))
    assert rc == 1  # suspect partitions carry real errors

    cert = spark.read.parquet(f"{base}/target_report/certificate_by_part")
    assert [(f.name, f.dataType.simpleString()) for f in cert.schema] == [
        ("part", "string"), *CERT_COLUMNS
    ]
    keys = [(r.part, r.rule_id) for r in cert.collect()]
    assert keys == sorted(keys, key=lambda k: (str(k[0]), k[1]))
    by_part = {}
    for r in cert.collect():
        by_part.setdefault(str(r.part), []).append(r.certified)
    certified = {p for p, cs in by_part.items() if all(cs)}
    suspect = set(by_part) - certified
    assert "2026-01-05" in certified  # the clean day attests by sample
    assert suspect  # the dirty days go to the full scan
    verdicts = spark.read.parquet(f"{base}/target_report/verdicts")
    validated = {str(r.part) for r in verdicts.collect()}
    assert validated == suspect  # certified partitions were NOT rescanned


def test_certify_target_flag_validation():
    import pytest
    with pytest.raises(SystemExit):
        parse_args(["--turns", "/t", "--out", "/o", "--certify-target"])
    with pytest.raises(SystemExit):
        parse_args([
            "--turns", "/t", "--out", "/o", "--certify-bp", "1000",
            "--certify-only", "--certify-target",
        ])


def test_rules_spec_replaces_default_suite(spark, tmp_path):
    """--rules-spec: the suite ships as JSON config; the run reports
    exactly the spec's rules (and the certificate bounds the same
    suite); unknown names fail at load with exit-raising ValueError."""
    import json

    base = str(tmp_path)
    write_fixture_tables(spark, FixtureConfig(n_turns=1500), f"{base}/fx")
    spec = [
        {"rule": "not_null", "column": "text"},
        {"rule": "in_vocabulary", "column": "role",
         "terms": ["system", "user", "assistant", "tool"],
         "rule_id": "vocab.role"},
        {"rule": "in_range", "column": "turn_idx", "lo": 0, "hi": 100000},
    ]
    spec_path = f"{base}/suite.json"
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    argv = [
        "--turns", f"{base}/fx/turns",
        "--out", f"{base}/spec_report",
        "--rules-spec", spec_path,
        "--certify-bp", "10000",
    ]
    rc = run(spark, parse_args(argv))
    assert rc == 1  # dirty fixture still fails under the custom suite
    viol = spark.read.parquet(f"{base}/spec_report/violations")
    row_rule_ids = {
        r.rule_id
        for r in viol.select("rule_id").distinct().collect()
        if r.rule_id.split(".")[0] in ("not_null", "vocab", "in_range", "range")
        or r.rule_id in ("not_null.text", "vocab.role")
    }
    # the default suite's non_empty/url rules must NOT appear
    all_ids = {r.rule_id for r in viol.select("rule_id").distinct().collect()}
    assert "non_empty.text" not in all_ids
    assert "url_in_text.text" not in all_ids
    assert "not_null.text" in all_ids
    # the certificate covers exactly the spec's rules
    cert = spark.read.parquet(f"{base}/spec_report/certificate")
    cert_rules = {r.rule_id for r in cert.collect()}
    assert cert_rules == {"not_null.text", "vocab.role", "range.turn_idx"}

    # an unknown rule name or an empty suite fails at load, before any
    # Spark work
    import pytest
    for bad_spec, match in (
        ([{"rule": "no_such_rule", "column": "x"}], "no_such_rule"),
        ([], "empty suite spec"),
    ):
        bad_path = f"{base}/bad.json"
        with open(bad_path, "w") as fh:
            json.dump(bad_spec, fh)
        with pytest.raises(ValueError, match=match):
            run(spark, parse_args([
                "--turns", f"{base}/fx/turns", "--out", f"{base}/bad_report",
                "--rules-spec", bad_path,
            ]))


def test_certify_target_unattested_partitions_escalate(spark, tmp_path):
    """A sample rate too small to touch a partition must escalate it to
    the full validation (absence of evidence is not a certificate)."""
    base = str(tmp_path)
    write_fixture_tables(spark, FixtureConfig(n_turns=1500), f"{base}/fx")
    argv = [
        "--turns", f"{base}/fx/turns",
        "--out", f"{base}/tiny_report",
        "--certify-bp", "1",  # ~0.01%: most partitions get no sample
        "--certify-target",
    ]
    rc = run(spark, parse_args(argv))
    assert rc == 1  # dirt still caught — escalated partitions validated
    turns = spark.read.parquet(f"{base}/fx/turns")
    all_parts = {str(r.part) for r in turns.select("part").distinct().collect()}
    cert = spark.read.parquet(f"{base}/tiny_report/certificate_by_part")
    by_part = {}
    for r in cert.collect():
        by_part.setdefault(str(r.part), []).append(r.certified)
    certified = {p for p, cs in by_part.items() if all(cs)}
    validated = {
        str(r.part)
        for r in spark.read.parquet(f"{base}/tiny_report/verdicts").collect()
    }
    # every partition is either certificate-attested or fully validated
    assert certified | validated == all_parts


def test_certify_with_quoted_rule_id_and_partition_consistency(spark, tmp_path):
    """A rule_id containing a single quote or a backslash (user data
    from --rules-spec) must survive the certificate's unpivot verbatim,
    and the certificate and the full run must evaluate one rule set,
    --partition-consistency's rule included."""
    import json

    base = str(tmp_path)
    write_fixture_tables(spark, FixtureConfig(n_turns=1500), f"{base}/fx")
    spec = [
        {"rule": "not_null", "column": "text", "rule_id": "ops' check"},
        {"rule": "not_null", "column": "text", "rule_id": "ops\\new"},
    ]
    with open(f"{base}/suite.json", "w") as fh:
        json.dump(spec, fh)
    rc = run(spark, parse_args([
        "--turns", f"{base}/fx/turns",
        "--out", f"{base}/q_report",
        "--rules-spec", f"{base}/suite.json",
        "--certify-bp", "10000",
        "--partition-consistency",
    ]))
    assert rc in (0, 1)
    cert = spark.read.parquet(f"{base}/q_report/certificate")
    rules = {r.rule_id for r in cert.collect()}
    assert "ops' check" in rules           # quote survived as data
    assert "ops\\new" in rules             # backslash survived as data
    assert "part.ts_mismatch" in rules     # opt-in rule certified too
    # a 10000 bp sample is the whole table, so each rule's certified
    # count is exactly the full run's count for that rule
    viol = spark.read.parquet(f"{base}/q_report/violations")
    full = {r.rule_id: r["count"] for r in viol.groupBy("rule_id").count().collect()}
    assert {r.rule_id: r.k_viol for r in cert.collect()} == {
        rid: full.get(rid, 0) for rid in rules
    }
