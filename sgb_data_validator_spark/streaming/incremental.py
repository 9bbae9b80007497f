"""Structured Streaming incremental validation.

The reference is batch-only; its "incremental" behavior is resumable
file-based stages (workflow.py:35-349), which the batch engine covers
with the partition ledger. This module adds the genuinely streaming
path for transcript tables that land continuously: the same row rules,
evaluated per micro-batch, with watermarked windowed verdicts and
streaming uniqueness enforcement.

Design notes:
* Row rules are STATELESS (one projection) — the exact batch plan runs
  unchanged on a streaming DataFrame; rule parity with batch is by
  construction, not reimplementation.
* Verdicts need aggregation state: a watermark bounds it, and 1-day
  tumbling windows mirror the batch day-partitions. Append output mode
  emits each day's verdict once its watermark passes — late data within
  the allowed lateness still counts.
* Uniqueness on (conv_id, turn_idx) uses dropDuplicatesWithinWatermark:
  state is bounded by the watermark horizon, matching the batch salted
  aggregation's semantics for in-horizon duplicates.
* ``trigger(availableNow=True)`` gives batch-incremental runs (process
  everything new, then stop) — the streaming analog of the ledger's
  resume, with exactly-once sinks via the checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sgb_data_validator_spark.operators import rules as R
from sgb_data_validator_spark.plans.pipeline import transcript_row_rules

TURN_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp, part string"
)


def stream_turns(spark: SparkSession, path: str, schema: str = TURN_SCHEMA) -> DataFrame:
    """File-source stream of turn rows (parquet dropped into ``path``).
    On a real deployment this is Kafka or an Iceberg streaming read;
    only this reader line changes."""
    return spark.readStream.schema(schema).parquet(path)


def stream_row_violations(turns: DataFrame, rules: R.RowRuleSet | None = None) -> DataFrame:
    """The batch single-pass multi-rule projection, applied to a stream —
    stateless, so the plan is literally the batch plan per micro-batch."""
    return (rules or transcript_row_rules()).violations(turns)


def stream_windowed_verdicts(
    turns: DataFrame,
    rules: R.RowRuleSet | None = None,
    window: str = "1 day",
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-window error/warning counts + status with bounded state.

    Mirrors batch ``compute_verdicts`` semantics on event-time windows:
    a turn contributes to error_count iff any error-severity rule fires
    for it (warnings likewise)."""
    rs = rules or transcript_row_rules()
    gate = rs.parse_ok(turns)
    err = F.lit(False)
    warn = F.lit(False)
    for r in rs.rules:
        pred = F.coalesce(r.predicate(turns), F.lit(False))
        if r.gated:
            pred = pred & gate
        if r.severity == R.SEV_ERROR:
            err = err | pred
        else:
            warn = warn | pred
    return (
        turns.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            F.sum(err.cast("long")).alias("error_count"),
            F.sum(warn.cast("long")).alias("warning_count"),
            F.count(F.lit(1)).alias("rows"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("part"),
            "error_count",
            "warning_count",
            "rows",
            F.when(F.col("error_count") > 0, F.lit("FAILED")).otherwise(F.lit("PASSED")).alias("status"),
        )
    )


def stream_deduplicated_turns(turns: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming uniqueness enforcement on (conv_id, turn_idx): state is
    bounded by the watermark horizon (the batch analog flags all-time
    duplicates via the salted aggregation; a stream can only promise
    in-horizon dedup)."""
    return turns.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )


DUP_STATE_SCHEMA = "n_seen long"
DUP_OUT_SCHEMA = R.VIOLATION_SCHEMA


def stream_duplicate_violations(
    turns: DataFrame,
    timeout_ms: int | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming uniqueness ENFORCEMENT on (conv_id, turn_idx): one
    violation row per redundant copy seen within the horizon — the
    emit-side complement of :func:`stream_deduplicated_turns` (which
    silently keeps firsts), and the streaming analog of the batch
    salted uniqueness aggregation (operators/uniqueness.py). A
    duplicate landing in a LATER micro-batch than its first copy is
    still flagged, because the first-seen fact is carried as state —
    per key just one counter, vectorized inside a batch group.

    State bound: same event-time timeout discipline as
    stream_sequence_violations — with ``timeout_ms`` set, a key's
    counter expires once the watermark passes its last event plus the
    horizon, so state is O(keys active within the horizon). With
    ``timeout_ms=None`` state never expires and availableNow output
    flags exactly the all-time duplicates, batch-equal."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def check(key, pdf_iter, state: GroupState):
        conv_id, turn_idx = key
        if state.hasTimedOut:
            state.remove()
            return
        (n_seen,) = state.get if state.exists else (0,)
        out = []
        last_ts_us = None
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values("ts", kind="mergesort")
            ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
            dup = pdf.iloc[0 if n_seen > 0 else 1 :]
            if len(dup):
                out.append(
                    pd.DataFrame(
                        {
                            "rule_id": "unique.turn",
                            "conv_id": conv_id,
                            "turn_idx": dup["turn_idx"].astype("int32"),
                            "column": "conv_id,turn_idx",
                            "offending_value": dup["ts"].astype(str),
                            "severity": "error",
                            "part": dup["part"],
                        }
                    )
                )
            n_seen += len(pdf)
            last_ts_us = int(ts_us.iloc[-1])
        if n_seen:
            state.update((n_seen,))
            if timeout_ms is not None and last_ts_us is not None:
                state.setTimeoutTimestamp(last_ts_us // 1000 + timeout_ms)
        if out:
            yield pd.concat(out)

    src = turns.select("conv_id", "turn_idx", "ts", "part")
    if timeout_ms is not None:
        src = src.withWatermark("ts", watermark)
    return src.groupBy("conv_id", "turn_idx").applyInPandasWithState(
        check,
        outputStructType=DUP_OUT_SCHEMA,
        stateStructType=DUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


SEQ_STATE_SCHEMA = "last_idx int, last_ts_us long"
SEQ_OUT_SCHEMA = (
    "rule_id string, conv_id string, turn_idx int, offending_value string, "
    "part string"
)


def stream_sequence_violations(
    turns: DataFrame,
    timeout_ms: int | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom STATEFUL streaming operator (``applyInPandasWithState``):
    the batch sequence rules (ts monotonicity + turn contiguity,
    operators/windows.py) evaluated continuously, with per-conversation
    state = (last turn_idx, last ts) carried ACROSS micro-batches — a
    rewind that straddles a batch boundary is still flagged, which no
    stateless per-batch window can do.

    Inside a batch the group's rows are vectorized (pandas shift
    compare, no per-row Python); state is two scalars per conversation.

    State bound: with ``timeout_ms`` set, an EVENT-TIME timeout expires
    a conversation's state once the stream's watermark passes its last
    event plus the horizon — state is O(conversations active within the
    horizon), independent of total history, which is what makes this
    viable at 10^12 turns. An expired conversation restarts fresh (a
    closed session, reopened). With ``timeout_ms=None`` state never
    expires and availableNow output is exactly batch-equal."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def check(key, pdf_iter, state: GroupState):
        conv_id = key[0]
        if state.hasTimedOut:
            state.remove()
            return
        last_idx, last_ts_us = state.get if state.exists else (None, None)
        out = []
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values("turn_idx", kind="mergesort")
            # microseconds: exact in the float64 that shift() produces
            # (2026-epoch ns would exceed 2^53 and lose precision)
            ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
            prev_idx = pdf["turn_idx"].shift()
            prev_ts = ts_us.shift()
            if last_idx is not None:
                prev_idx.iloc[0] = last_idx
                prev_ts.iloc[0] = last_ts_us
            mono = prev_ts.notna() & (ts_us < prev_ts)
            contig = (prev_idx.isna() & (pdf["turn_idx"] != 0)) | (
                prev_idx.notna() & (pdf["turn_idx"] - prev_idx > 1)
            )
            for mask, rule, val in (
                (mono, "ts.monotonicity", pdf["ts"].astype(str)),
                (contig, "turn.contiguity", pdf["turn_idx"].astype(str)),
            ):
                hit = pdf[mask]
                if len(hit):
                    out.append(
                        pd.DataFrame(
                            {
                                "rule_id": rule,
                                "conv_id": conv_id,
                                "turn_idx": hit["turn_idx"].astype("int32"),
                                "offending_value": val[mask],
                                "part": hit["part"],
                            }
                        )
                    )
            last_idx = int(pdf["turn_idx"].iloc[-1])
            last_ts_us = int(ts_us.iloc[-1])
        if last_idx is not None:
            state.update((last_idx, last_ts_us))
            if timeout_ms is not None:
                state.setTimeoutTimestamp(last_ts_us // 1000 + timeout_ms)
        if out:
            yield pd.concat(out)

    src = turns.select("conv_id", "turn_idx", "ts", "part")
    if timeout_ms is not None:
        src = src.withWatermark("ts", watermark)
    return src.groupBy("conv_id").applyInPandasWithState(
        check,
        outputStructType=SEQ_OUT_SCHEMA,
        stateStructType=SEQ_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def run_available_now(df: DataFrame, out_path: str, checkpoint: str, output_mode: str = "append"):
    """Batch-incremental execution: process all currently-available input,
    write parquet exactly-once via the checkpoint, stop. Re-invoking
    later picks up only new files — the streaming resume story."""
    return (
        df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def stream_dim_counts(
    turns: DataFrame,
    dim: str = "role",
    window: str = "1 day",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked per-(event-time window, value) counts for one
    categorical dimension — the streaming half of the drift monitor.
    State is O(windows-in-horizon × |values|) counter cells; in append
    mode a window's counts emit exactly once, when the watermark passes
    its end."""
    return (
        turns.where(F.col(dim).isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col(dim).alias("value"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("part"),
            "value",
            "n",
        )
    )


def run_drift_monitor(
    turns: DataFrame,
    baseline: DataFrame,
    out_path: str,
    checkpoint: str,
    dim: str = "role",
    window: str = "1 day",
    watermark: str = "2 hours",
    threshold: float = 0.05,
):
    """Streaming distribution-drift monitor: watermarked windowed counts
    feed the EXACT batch JS math per micro-batch, emitting one alert row
    (part, dim, js) per finalized window whose Jensen–Shannon divergence
    vs the broadcast baseline exceeds ``threshold``.

    Split of labor (the streaming-agg + foreachBatch pattern):
    * the STREAM does the heavy lifting — the per-(window, value) count
      is the only thing that touches the fact, with watermark-bounded
      state, and append mode hands each window downstream exactly once;
    * ``foreachBatch`` then runs the batch-API JS reduction
      (operators/drift.py:js_divergence_from_freqs — literally the
      function the batch query calls, so batch/stream parity is by
      construction) on the O(windows × values) finalized frame and
      appends alerts exactly-once via the checkpoint.

    A window's alert emits when the watermark passes its end; events
    later than the watermark never resurrect a finalized window (they
    are dropped by the streaming agg — the documented lateness
    contract). The alerts sink is idempotent per window because each
    window id appears in exactly one micro-batch's output."""
    from sgb_data_validator_spark.operators.drift import js_divergence_from_freqs

    counts = stream_dim_counts(turns, dim=dim, window=window, watermark=watermark)

    def _finish(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        w = Window.partitionBy("part")
        p = batch_df.select(
            "part", "value", (F.col("n") / F.sum("n").over(w)).alias("p")
        )
        alerts = (
            js_divergence_from_freqs(p, baseline, dim)
            .where(F.col("js") > threshold)
            .select("part", "dim", F.round("js", 6).alias("js"))
        )
        alerts.write.mode("append").parquet(out_path)

    return (
        counts.writeStream.foreachBatch(_finish)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
