"""spark-submit entry point for the transform stage of the offline
workflow (reference: ``api.apply_transformations``,
/root/reference/src/api.py:1111-1289, orchestrated by
workflow.py:352-533 as download → transform → validate → upload).

    spark-submit --py-files engine.zip jobs/transform.py \
        --turns /data/turns \
        --out   /data/turns_clean \
        [--manifest /data/turns_clean_manifest.json] \
        [--dry-run] [--no-exact-unicode] [--table-format parquet]

The reference transforms each record in Python and writes
``*_transformed.json`` plus ``transformation_metadata.json`` (the
applied-transformation list and per-item report,
src/api.py:1205-1230). The Spark form:

* the canonical F8 composition (``functions/native.py:TEXT_STAGES``:
  entities+NFC → whitespace → abbreviations → markdown → wikidata →
  URLs, the same list ``text_pipeline`` folds) applied to ``text`` one
  stage column at a time: each stage reads the previous stage's
  column, so every stage's regexes run once per row (a nested chain
  shared by the counters and the output would be inlined into every
  reference: 86 ``regexp_replace`` calls in the executed plan for 12
  distinct ones). The output keeps the input columns in input order,
  with ``text`` = the last stage; no stage column is written;
* per-stage changed-row counts compare adjacent stage columns and ride
  the write via ``df.observe`` — the manifest costs ZERO extra scans
  (same trick as backup.py's checksummed manifests). Null-safe
  comparison: NULL text passes through every stage and never counts as
  changed;
* the manifest (``transformation_metadata.json`` analog) records the
  ordered stage list, per-stage changed counts, row count, and
  lineage; ``--dry-run`` computes the manifest with a one-pass
  aggregation and writes NO table — the reference upload stage's
  dry-run-by-default contract (src/api.py:1423-1446) moved to where
  the engine mutates data;
* the output keeps the input schema and day-partitioning (dynamic
  overwrite — re-transforming one day augments, never truncates).

Downstream: re-validate the cleaned table with jobs/validate.py — the
reference's validate-after-transform gate (workflow.py:487-492).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="transcript text-transform run")
    p.add_argument("--turns", required=True)
    p.add_argument("--out", help="cleaned-table location (required unless --dry-run)")
    p.add_argument("--manifest", help="write the transformation manifest JSON here")
    p.add_argument(
        "--dry-run",
        action="store_true",
        help="report per-stage changed-row counts without writing the table",
    )
    p.add_argument(
        "--no-exact-unicode",
        action="store_true",
        help="skip the entities+NFC pandas-UDF stage (for corpora known "
        "entity-free and NFC-normalized; the rest of the chain is pure "
        "codegen)",
    )
    p.add_argument("--table-format", choices=["parquet", "iceberg", "table"], default=None)
    p.add_argument("--lineage", default="jobs/transform.py")
    args = p.parse_args(argv)
    if not args.dry_run and not args.out:
        p.error("--out is required unless --dry-run")
    return args


def transformed_with_metrics(
    turns: DataFrame, exact_unicode: bool = True
) -> tuple[DataFrame, Observation, list[str]]:
    """(cleaned frame, its Observation, ordered stage names).

    The cleaned frame keeps the input schema; the Observation carries
    ``rows`` plus one ``changed_<stage>`` count per stage, harvested
    for free by whatever single action materializes the frame (the
    table write, or the dry-run aggregation)."""
    from sgb_data_validator_spark.functions.native import text_stages

    stages = text_stages(exact_unicode)
    staged = turns
    prev = "text"
    metrics = [F.count(F.lit(1)).alias("rows")]
    for name, fn in stages:
        # one column per stage: Catalyst does not inline a non-trivial
        # expression that the next projection references twice, so each
        # stage is evaluated once and read by the next stage and by its
        # counter
        cur = f"__text_{name}"
        staged = staged.withColumn(cur, fn(F.col(prev)))
        # null-safe: NULL text stays NULL through the chain and is
        # never "changed"
        metrics.append(
            F.sum((~F.col(prev).eqNullSafe(F.col(cur))).cast("long")).alias(f"changed_{name}")
        )
        prev = cur
    obs = Observation("transform_metrics")
    out = (
        staged.observe(obs, *metrics)
        .withColumn("text", F.col(prev))
        .drop(*(f"__text_{name}" for name, _ in stages))
    )
    return out, obs, [name for name, _ in stages]


def run(spark: SparkSession, args: argparse.Namespace) -> int:
    from sgb_data_validator_spark.sources.catalog import read_table

    turns = read_table(spark, args.turns, args.table_format)
    exact = not args.no_exact_unicode
    cleaned, obs, stage_names = transformed_with_metrics(turns, exact_unicode=exact)

    t0 = time.perf_counter()
    if args.dry_run:
        # one full-scan action, no write: count() drains the observation
        cleaned.agg(F.count(F.lit(1))).collect()
    else:
        # table-format-aware: a catalog-table input round-trips to a
        # catalog-table output (same resolution as read_table) instead
        # of silently writing the table NAME as a parquet path literal
        from sgb_data_validator_spark.sources.catalog import write_table

        write_table(cleaned, args.out, args.table_format)
    elapsed = time.perf_counter() - t0

    got = obs.get  # blocks until the action above has published metrics
    manifest = {
        "stage": "transform",
        "dry_run": bool(args.dry_run),
        "exact_unicode": exact,
        "turns": args.turns,
        "out": None if args.dry_run else args.out,
        "rows": got["rows"],
        "applied_transformations": stage_names,
        "changed_rows": {name: got[f"changed_{name}"] for name in stage_names},
        "elapsed_sec": round(elapsed, 2),
        "lineage": args.lineage,
        "run_ts": time.time(),
    }
    print(json.dumps(manifest))
    if args.manifest:
        with open(args.manifest, "w") as fh:
            json.dump(manifest, fh, indent=2)
    return 0


def main() -> None:
    args = parse_args(sys.argv[1:])
    from sgb_data_validator_spark.session import get_spark

    spark = get_spark(app_name="sgb-transform")
    try:
        sys.exit(run(spark, args))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
