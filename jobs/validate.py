"""spark-submit entry point for a validation run.

    spark-submit --py-files engine.zip jobs/validate.py \
        --turns  /data/turns \
        --conversations /data/conversations \
        --allowed-tools /data/allowed_tools \
        --baseline-stats /data/baseline_stats \
        --out    /data/reports/run1 \
        --ledger /data/ledger \
        [--resume] [--parts 2026-01-05,2026-01-06]

Package with: ``cd repo && zip -r engine.zip sgb_data_validator_spark``.

Behavior (mirrors the reference CLI contract, validate.py:1051-1192):
* validates the selected partitions (all, explicit --parts, or the
  ledger's pending set with --resume),
* writes violations/verdicts/summary/pivot/stats/spc under --out,
* appends one ledger row per partition (status, stats digest, lineage,
  rows/sec),
* exits 1 iff any error-severity violation exists (reference exit-code
  contract, validate.py:1191-1192).
"""

from __future__ import annotations

import argparse
import sys
import time
from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="transcript validation run")
    p.add_argument("--turns", required=True)
    p.add_argument("--conversations")
    p.add_argument("--allowed-tools")
    p.add_argument("--baseline-stats")
    p.add_argument("--out", required=True)
    p.add_argument("--ledger")
    p.add_argument("--resume", action="store_true", help="skip partitions PASSED in the ledger")
    p.add_argument("--parts", help="comma-separated explicit partition list")
    p.add_argument("--lineage", default="jobs/validate.py")
    p.add_argument(
        "--check-schema",
        action="store_true",
        help="fail fast (exit 2) if the turns table's schema violates the "
        "canonical transcript contract (conv_id/turn_idx/role/text/tool/"
        "ts/part) — a metadata-only check, zero data scanned",
    )
    p.add_argument(
        "--table-format",
        choices=["parquet", "iceberg", "table"],
        default=None,
        help="how --turns/--conversations/... resolve: parquet path, "
        "iceberg V2 load, catalog table name; default infers "
        "(path → parquet, dotted name → spark.table — which is the "
        "Iceberg path once the catalog jar is configured)",
    )
    p.add_argument(
        "--reconcile-manifest",
        action="store_true",
        help="also reconcile per-conversation turn counts against the "
        "manifest's n_turns_expected column (requires --conversations; "
        "emits conv.turn_count warnings on each conversation's home "
        "partition)",
    )
    p.add_argument(
        "--fill-rate-drift",
        action="store_true",
        help="also flag partitions whose per-column fill rate (share of "
        "non-NULL values) drifts more than --fill-rate-tol from the "
        "baseline snapshot's dim='fill_rate' rows (requires "
        "--baseline-stats; emits drift.fill.<column> errors)",
    )
    p.add_argument(
        "--fill-rate-tol",
        type=float,
        default=0.005,
        help="absolute fill-rate gap that triggers drift.fill.<column> "
        "(default 0.005 = half a percentage point)",
    )
    p.add_argument(
        "--partition-consistency",
        action="store_true",
        help="also flag rows whose partition key disagrees with date(ts) "
        "(misrouted writes; emits part.ts_mismatch errors; folded into "
        "the fused row-rule scan — zero extra passes)",
    )
    p.add_argument(
        "--closing-roles",
        default=None,
        help="comma-separated roles a conversation may END on (e.g. "
        "'assistant,tool'); enables the opt-in conv.closing_role argmax "
        "rule — conversations whose last turn is any other role are "
        "flagged (crashed agent / truncated export)",
    )
    p.add_argument(
        "--rules-spec",
        default=None,
        metavar="PATH",
        help="JSON file holding the row-rule suite as data (a list of "
        "objects, each naming a registered constructor via 'rule' plus "
        "its kwargs — operators/rules.py:RULE_CONSTRUCTORS); replaces "
        "the default transcript row rules so a suite ships as config "
        "beside the data, not code. Unknown rule names fail at load, "
        "before any cluster time is spent",
    )
    p.add_argument(
        "--tail-freshness-s",
        type=int,
        default=None,
        metavar="SECONDS",
        help="also flag day partitions whose last event lands more than "
        "SECONDS before the earlier of their midnight boundary and the "
        "table watermark (part.tail_freshness warnings — the "
        "truncated-export signal volume checks miss)",
    )
    p.add_argument(
        "--certify-bp",
        type=int,
        default=None,
        metavar="BP",
        help="pre-flight: before (or instead of, with --certify-only) the "
        "full validation, evaluate the row-rule family on a deterministic "
        "BP/10000 hash sample of turns and write a per-rule certificate "
        "(Wilson 95%% upper bound on the violation rate) to <out>/certificate",
    )
    p.add_argument(
        "--certify-tol",
        type=float,
        default=0.01,
        help="per-rule violation-rate SLO the certificate checks the Wilson "
        "upper bound against (default 0.01 = 1%%)",
    )
    p.add_argument(
        "--certify-only",
        action="store_true",
        help="stop after the sampled certificate: exit 0 if every rule "
        "certifies under --certify-tol, 3 otherwise — the cheap gate that "
        "decides whether the full validation is worth scheduling (requires "
        "--certify-bp)",
    )
    p.add_argument(
        "--certify-target",
        action="store_true",
        help="sampled triage: compute PER-PARTITION certificates "
        "(<out>/certificate_by_part) and run the full validation only on "
        "partitions whose certificate fails the SLO — a clean delivery "
        "pays BP/10000 of a scan, a delivery with one bad day pays that "
        "plus one day's full validation. SCOPE: the certificate attests "
        "the ROW-RULE family only; uniqueness/referential/sequence/"
        "conv-level checks run only on escalated partitions. Partitions "
        "whose sample cannot attest the SLO (Wilson floor > tol at k=0) "
        "or that the sample never touched escalate to the full scan "
        "rather than passing silently. Certified partitions are NOT "
        "recorded in the ledger — a certificate is not a validation, so "
        "--resume re-certifies them at sample cost on later runs "
        "(requires --certify-bp; mutually exclusive with --certify-only)",
    )
    p.add_argument(
        "--streaming",
        action="store_true",
        help="incremental mode: --turns is a landing dir; each invocation "
        "processes only files not yet seen by the checkpoint (availableNow) "
        "and APPENDS exactly-once to the violations sink",
    )
    args = p.parse_args(argv)
    if args.reconcile_manifest and not args.conversations:
        p.error("--reconcile-manifest requires --conversations")
    if args.fill_rate_drift and not args.baseline_stats:
        p.error("--fill-rate-drift requires --baseline-stats")
    if (args.certify_only or args.certify_target) and args.certify_bp is None:
        p.error("--certify-only/--certify-target require --certify-bp")
    if args.certify_only and args.certify_target:
        p.error("--certify-only and --certify-target are mutually exclusive")
    if args.certify_bp is not None and not 0 < args.certify_bp <= 10_000:
        p.error("--certify-bp must be in 1..10000 (basis points of the table)")
    return args


def run_streaming(spark: SparkSession, args: argparse.Namespace) -> int:
    """Batch-incremental execution through Structured Streaming: the
    stateless row rules, the stateful sequence rules, AND the stateful
    uniqueness rule (A1 — one violation per in-horizon duplicate of
    (conv_id, turn_idx), carried across micro-batches) drain everything
    new in the landing dir (trigger availableNow), write exactly-once
    via their checkpoints, and the verdict report is recomputed from the
    full violations sink. Re-invoking after more files land processes
    only the new files — the streaming resume story from the same CLI."""
    from sgb_data_validator_spark.operators.rules import VIOLATION_SCHEMA
    from sgb_data_validator_spark.plans.pipeline import compute_verdicts
    from sgb_data_validator_spark.streaming import incremental as si

    out = args.out
    q1 = si.run_available_now(
        si.stream_row_violations(si.stream_turns(spark, args.turns)),
        f"{out}/violations_stream/rows",
        f"{out}/_ckpt/rows",
    )
    q2 = si.run_available_now(
        si.stream_sequence_violations(si.stream_turns(spark, args.turns)),
        f"{out}/violations_stream/seq",
        f"{out}/_ckpt/seq",
    )
    q3 = si.run_available_now(
        si.stream_duplicate_violations(si.stream_turns(spark, args.turns)),
        f"{out}/violations_stream/dups",
        f"{out}/_ckpt/dups",
    )
    q1.awaitTermination()
    q2.awaitTermination()
    q3.awaitTermination()

    rows = spark.read.schema(VIOLATION_SCHEMA).parquet(f"{out}/violations_stream/rows")
    seq = (
        spark.read.schema(si.SEQ_OUT_SCHEMA)
        .parquet(f"{out}/violations_stream/seq")
        .select(
            "rule_id",
            "conv_id",
            "turn_idx",
            F.lit("ts").alias("column"),
            "offending_value",
            F.lit("warning").alias("severity"),
            "part",
        )
    )
    dups = spark.read.schema(VIOLATION_SCHEMA).parquet(f"{out}/violations_stream/dups")
    violations = rows.unionByName(seq).unionByName(dups)
    turns = spark.read.parquet(args.turns)
    return report_verdicts(compute_verdicts(turns, violations))


def report_verdicts(verdicts: DataFrame) -> int:
    """Print one line per partition and return the exit code, 1 iff any
    partition FAILED, from ONE collect of the O(parts) verdict frame.
    The lines come in Spark's ascending ``part`` order: NULL first, then
    by string."""
    rows = sorted(verdicts.collect(), key=lambda r: (r.part is not None, r.part or ""))
    for row in rows:
        print(f"{row.part}\t{row.status}\terrors={row.error_count}\twarnings={row.warning_count}")
    return 1 if any(r.status == "FAILED" for r in rows) else 0


def check_families(args: argparse.Namespace, rules) -> list:
    """The check families the flags select, in the default union order
    with each opt-in beside the family it extends."""
    from sgb_data_validator_spark.plans import families as fam

    closing = tuple(r.strip() for r in (args.closing_roles or "").split(",") if r.strip())
    return [
        fam.row_rules(rules),
        fam.uniqueness,
        fam.opening_role(("system",)),
        *([fam.closing_role(closing)] if closing else []),
        fam.conversation_refs,
        *([fam.manifest_turn_count] if args.reconcile_manifest else []),
        fam.tool_refs,
        fam.sequence,
        fam.drift,
        *([fam.fill_rate_drift(args.fill_rate_tol)] if args.fill_rate_drift else []),
        *([fam.tail_freshness(args.tail_freshness_s)] if args.tail_freshness_s is not None else []),
    ]


def run(spark: SparkSession, args: argparse.Namespace) -> int:
    from sgb_data_validator_spark.operators import rules as R
    from sgb_data_validator_spark.operators.stats import stats_digest
    from sgb_data_validator_spark.plans.pipeline import (
        TranscriptTables,
        materialize,
        run_concurrently,
        transcript_row_rules,
        validate,
    )
    from sgb_data_validator_spark.sources import sinks
    from sgb_data_validator_spark.sources.catalog import read_table
    from sgb_data_validator_spark.sources.ledger import Ledger

    if args.streaming:
        return run_streaming(spark, args)

    turns = read_table(spark, args.turns, args.table_format)
    if args.check_schema:
        from pyspark.sql.types import StructType

        from sgb_data_validator_spark.operators.schema_check import assert_schema
        from sgb_data_validator_spark.streaming.incremental import TURN_SCHEMA

        try:
            assert_schema(spark, turns, StructType.fromDDL(TURN_SCHEMA))
        except ValueError as exc:
            print(exc, file=sys.stderr)
            return 2
    if args.parts:
        turns = turns.where(F.col("part").isin(args.parts.split(",")))
    ledger = Ledger(spark, args.ledger) if args.ledger else None
    if args.resume and ledger is not None:
        pending = [r.part for r in ledger.pending_partitions(turns.select("part")).collect()]
        if not pending:
            print("nothing pending — all partitions PASSED in ledger")
            return 0
        turns = turns.where(F.col("part").isin(pending))

    def optional_table(ref: str | None):
        return read_table(spark, ref, args.table_format) if ref else None

    t = TranscriptTables(
        turns=turns,
        conversations=optional_table(args.conversations),
        allowed_tools=optional_table(args.allowed_tools),
        baseline_stats=optional_table(args.baseline_stats),
    )
    if (
        args.reconcile_manifest
        and t.conversations is not None
        and "n_turns_expected" not in t.conversations.columns
    ):
        print(
            "warning: --reconcile-manifest set but the conversations manifest "
            "has no n_turns_expected column — reconciliation skipped",
            file=sys.stderr,
        )
    # ONE row-rule set serves the certificate and the full run, so the
    # certificate bounds exactly the row-rule rates the run reports
    if args.rules_spec:
        import json as _json

        with open(args.rules_spec) as fh:
            spec = _json.load(fh)
        # fails HERE on an unknown rule name, bad kwargs or an empty
        # suite — before any cluster time is spent (the suite-as-config
        # contract)
        rules = R.rules_from_spec(spec)
        print(
            f"rules-spec: {len(rules.rules)} rules loaded from {args.rules_spec}",
            file=sys.stderr,
        )
    else:
        rules = transcript_row_rules()
    if args.partition_consistency:
        # the misrouted-write check part == date(ts), folded into the
        # fused row-rule projection: zero extra scans
        rules.add(R.partition_matches_ts())
    if args.certify_bp is not None:
        import pandas as pd

        from sgb_data_validator_spark.operators.certify import (
            sampled_certification,
            sampled_certification_by_part,
        )

        # scope disclosure: the certificate attests the ROW-RULE family
        # only. Uniqueness, referential, sequence, and conv-level checks
        # are not row-local and are NOT bounded by it — with
        # --certify-target they run only on the escalated partitions.
        print(
            "certify: certificate covers the row-rule family "
            f"({len(rules.rules)} rules); uniqueness/referential/"
            "sequence/conv-level checks are NOT attested by it",
            file=sys.stderr,
        )
        cert_key = F.concat_ws(
            ":", F.col("conv_id"), F.col("turn_idx").cast("string")
        )
        if args.certify_target:
            cert = sampled_certification_by_part(
                turns,
                rules.flags(turns),
                cert_key,
                rate_bp=args.certify_bp,
                tol=args.certify_tol,
            )
            cert_rows = cert.collect()  # O(parts × rules) — ONE execution
            cert_rows.sort(key=lambda r: (str(r.part), r.rule_id))
            # write the artifact from the collected rows, not by
            # re-executing the sampled scan; a pandas frame takes the
            # Arrow path into the JVM, with no Python worker
            cert_df = pd.DataFrame(cert_rows, columns=cert.columns)
            spark.createDataFrame(cert_df, cert.schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{args.out}/certificate_by_part")
            suspect = {r.part for r in cert_rows if not r.certified}
            attested = {r.part for r in cert_rows} - suspect
            # escalate partitions the sample never touched (too small
            # for the rate, or NULL-keyed): absence of evidence is not
            # a certificate. all_parts is one cheap single-column
            # distinct over the already-pruned scan.
            all_parts = {
                r.part for r in turns.select("part").distinct().collect()
            }
            unattested = all_parts - attested - suspect
            for part in sorted(attested, key=str):
                print(f"certify\t{part}\tCERTIFIED (skipping full validation)")
            for part in sorted(suspect, key=str):
                print(f"certify\t{part}\tNOT-CERTIFIED -> full validation")
            for part in sorted(unattested, key=str):
                print(f"certify\t{part}\tNO SAMPLE -> full validation")
            escalate = suspect | unattested
            if not escalate:
                print(
                    "all partitions certified (row-rule family at "
                    f"tol={args.certify_tol}) — full validation skipped; "
                    "certified partitions are NOT recorded in the ledger "
                    "(a certificate is not a validation)"
                )
                return 0
            keep = F.col("part").isin([p for p in escalate if p is not None])
            if any(p is None for p in escalate):
                keep = keep | F.col("part").isNull()
            turns = turns.where(keep)
            t = replace(t, turns=turns)
        else:
            cert = sampled_certification(
                turns,
                rules.flags(turns),
                cert_key,
                rate_bp=args.certify_bp,
                tol=args.certify_tol,
            )
            cert_rows = sorted(cert.collect(), key=lambda r: r.rule_id)
            cert_df = pd.DataFrame(cert_rows, columns=cert.columns)
            spark.createDataFrame(cert_df, cert.schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{args.out}/certificate")
            for row in cert_rows:
                print(
                    f"certify\t{row.rule_id}\tn={row.n_sample}\tk={row.k_viol}\t"
                    f"upper={row.upper_bound}\t"
                    f"{'CERTIFIED' if row.certified else 'NOT-CERTIFIED'}"
                )
            if args.certify_only:
                return 0 if all(r.certified for r in cert_rows) else 3

    t0 = time.perf_counter()
    if (
        args.fill_rate_drift
        and t.baseline_stats is not None
        and t.baseline_stats.where(F.col("dim") == "fill_rate").limit(1).count() == 0
    ):
        print(
            "warning: --fill-rate-drift set but the baseline snapshot has no "
            "dim='fill_rate' rows — completeness drift check is a no-op",
            file=sys.stderr,
        )

    def validated():
        result = validate(t, check_families(args, rules))
        # compute the fact-derived frames ONCE: the fan-out below (6
        # sinks + ledger + console verdicts) is ~8 actions, each of which
        # would otherwise re-execute the multi-scan violations DAG
        result = materialize(result, turns)
        sinks.write_all(result, args.out)
        return result, time.perf_counter() - t0

    if ledger is None:
        result, elapsed = validated()
    else:
        # ONE extra scan serves both ledger inputs: the sketch frame's
        # per-partition aggregation already counts rows, so part_rows is
        # a projection of it — recording mergeable HLL sketches costs no
        # pass the ledger wasn't already paying for part_rows. It reads
        # only turns, so it runs beside the validation instead of after
        # the sinks.
        from sgb_data_validator_spark.operators.stats import hll_partition_sketches
        from sgb_data_validator_spark.sources.ledger import SketchStore

        (result, elapsed), sk = run_concurrently(
            validated,
            lambda: hll_partition_sketches(turns, ["conv_id", "role", "tool"]).localCheckpoint(),
        )
        part_rows = sk.where(F.col("column") == "conv_id").select("part", "rows")
        run_id = ledger.record(
            result.verdicts, stats_digest(result.stats), part_rows, elapsed, args.lineage
        )
        # sidecar sketches: the resumable form of the distinct counts —
        # a later run unions these with its own pending-partition
        # sketches instead of rescanning validated data
        SketchStore(spark, f"{args.ledger}_sketches").record(sk, run_id=run_id)

    return report_verdicts(result.verdicts)


def main() -> None:
    args = parse_args(sys.argv[1:])
    from sgb_data_validator_spark.session import get_spark

    spark = get_spark(app_name="sgb-validate")
    try:
        sys.exit(run(spark, args))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
