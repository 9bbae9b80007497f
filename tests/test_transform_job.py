"""The transform-stage job: canonical-pipeline parity, zero-extra-scan
manifest counts, dry-run contract, and the transform→revalidate
lifecycle (reference workflow.py:352-533 download→transform→validate)."""

import json

import pytest
from pyspark.sql import functions as F

from jobs.transform import parse_args, run, transformed_with_metrics
from sgb_data_validator_spark.functions.native import TEXT_STAGES, text_pipeline

DIRT_ROWS = [
    # (conv_id, turn_idx, text, stages that must report it changed)
    ("c0", 0, "plain clean text", set()),
    ("c1", 0, "sch&ouml;n &amp; gut", {"decode_entities_nfc"}),
    ("c2", 0, "  doubled  spaces​ ", {"normalize_whitespace"}),
    ("c3", 0, "Holbein d.j. malt", {"normalize_abbreviations"}),
    ("c4", 0, "see http://example.com/ now", {"normalize_urls"}),
    ("c5", 0, None, set()),
]


@pytest.fixture(scope="module")
def turns(spark):
    rows = [(c, i, "user", t, None, None, "2026-01-05") for c, i, t, _ in DIRT_ROWS]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, part string",
    )


def test_staged_pipeline_matches_canonical_composition(spark, turns):
    """The job's stage-column chain IS text_pipeline — its cleaned
    text equals the composed function on every row (incl. NULL), and
    the frame keeps the input columns in input order."""
    cleaned, _, stage_names = transformed_with_metrics(turns)
    assert cleaned.columns == turns.columns
    assert stage_names == [name for name, _ in TEXT_STAGES]
    got = cleaned.select("conv_id", F.col("text").alias("staged")).join(
        turns.select("conv_id", text_pipeline(F.col("text")).alias("composed")), "conv_id"
    )
    assert got.count() == len(DIRT_ROWS)
    assert got.where(~F.col("staged").eqNullSafe(F.col("composed"))).count() == 0


def test_each_stage_regex_runs_once_per_row(spark, turns):
    """Each stage is projected once and read by the next stage and by
    its counter, so the executed plan holds one regexp_replace per
    distinct regex call of the stage list — not one per reference to
    the cumulative chain (86 for 12 when the chain was inlined)."""
    distinct = sum(str(fn(F.col("text"))).count("regexp_replace(") for _, fn in TEXT_STAGES)
    assert distinct == 12
    cleaned, _, _ = transformed_with_metrics(turns)
    plan = cleaned._jdf.queryExecution().executedPlan().toString()
    assert plan.count("regexp_replace(") == distinct


def test_manifest_counts_per_stage(spark, turns):
    """Each constructed dirt row is counted by exactly the stage that
    cleans it; NULL text never counts anywhere."""
    cleaned, obs, stage_names = transformed_with_metrics(turns)
    cleaned.agg(F.count(F.lit(1))).collect()
    got = obs.get
    assert got["rows"] == len(DIRT_ROWS)
    for name in stage_names:
        want = sum(1 for _, _, _, hits in DIRT_ROWS if name in hits)
        assert got[f"changed_{name}"] == want, name


def test_job_writes_table_and_manifest(spark, turns, tmp_path):
    src = str(tmp_path / "turns")
    turns.write.partitionBy("part").parquet(src)
    out = str(tmp_path / "clean")
    man = str(tmp_path / "manifest.json")
    rc = run(spark, parse_args(["--turns", src, "--out", out, "--manifest", man]))
    assert rc == 0
    cleaned = spark.read.parquet(out)
    assert set(cleaned.columns) == set(turns.columns)
    assert cleaned.count() == len(DIRT_ROWS)
    # the written text equals the canonical composition of the source
    want = {
        r["conv_id"]: r["t"]
        for r in turns.select("conv_id", text_pipeline(F.col("text")).alias("t")).collect()
    }
    got = {r["conv_id"]: r["text"] for r in cleaned.collect()}
    assert got == want
    m = json.load(open(man))
    assert m["applied_transformations"][0] == "decode_entities_nfc"
    assert m["changed_rows"]["normalize_whitespace"] == 1
    assert m["rows"] == len(DIRT_ROWS)

    # idempotence of the write path: transforming the CLEANED table
    # reports zero changes for the deterministic stages
    rc2 = run(
        spark,
        parse_args(["--turns", out, "--dry-run", "--manifest", str(tmp_path / "m2.json")]),
    )
    assert rc2 == 0
    m2 = json.load(open(str(tmp_path / "m2.json")))
    assert sum(m2["changed_rows"].values()) == 0


def test_dry_run_writes_nothing(spark, turns, tmp_path):
    src = str(tmp_path / "turns")
    turns.write.partitionBy("part").parquet(src)
    man = str(tmp_path / "m.json")
    rc = run(spark, parse_args(["--turns", src, "--dry-run", "--manifest", man]))
    assert rc == 0
    m = json.load(open(man))
    assert m["dry_run"] is True and m["out"] is None
    assert m["changed_rows"]["decode_entities_nfc"] == 1
    assert not (tmp_path / "clean").exists()


def test_transform_then_revalidate_lifecycle(spark, tmp_path):
    """The workflow gate (reference validate-after-transform,
    workflow.py:487-492; non-blocking pre-validation before mutation,
    src/api.py:1423-1446): transforming must never INTRODUCE
    violations — re-validating the cleaned table yields no new rule
    and no higher per-rule count — while checks about content the
    transform deliberately preserves (the URL warning: F7 normalizes
    URLs, it does not delete them) keep firing identically."""
    from jobs.validate import parse_args as vparse
    from jobs.validate import run as vrun

    rows = [
        ("c0", 0, "system", "opening", None, "2026-01-05 00:00:00"),
        ("c0", 1, "user", "a &amp; b", None, "2026-01-05 00:00:01"),
        ("c0", 2, "assistant", "see www.example.com/x now", None, "2026-01-05 00:00:02"),
    ]
    turns = (
        spark.createDataFrame(
            rows,
            "conv_id string, turn_idx int, role string, text string, tool string, ts string",
        )
        .withColumn("ts", F.to_timestamp("ts"))
        .withColumn("part", F.date_format("ts", "yyyy-MM-dd"))
    )
    src = str(tmp_path / "turns")
    turns.write.partitionBy("part").parquet(src)

    # warnings only (URL) ⇒ exit 0 under the reference's errors-gate
    assert vrun(spark, vparse(["--turns", src, "--out", str(tmp_path / "r1")])) == 0
    raw = spark.read.parquet(str(tmp_path / "r1/violations"))
    raw_counts = {
        r.rule_id: r.n for r in raw.groupBy("rule_id").agg(F.count("*").alias("n")).collect()
    }
    assert raw_counts.get("url_in_text.text") == 1

    out = str(tmp_path / "clean")
    assert run(spark, parse_args(["--turns", src, "--out", out])) == 0
    assert vrun(spark, vparse(["--turns", out, "--out", str(tmp_path / "r2")])) == 0
    clean = spark.read.parquet(str(tmp_path / "r2/violations"))
    clean_counts = {
        r.rule_id: r.n for r in clean.groupBy("rule_id").agg(F.count("*").alias("n")).collect()
    }
    # no new rules, no count increases; the preserved-content URL
    # warning fires exactly as before
    assert set(clean_counts) <= set(raw_counts)
    assert all(clean_counts[k] <= raw_counts[k] for k in clean_counts)
    assert clean_counts.get("url_in_text.text") == 1
