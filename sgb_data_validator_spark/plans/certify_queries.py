"""Round-5 certification tier: sampled statistical certification
(Wilson bound pre-flight), turn-gap interval forensics, partition
tail-freshness, and violation co-occurrence lift.

Same driver contract as every other plans module: (callable, oracle
SQL) pairs, every computed column aliased identically on both sides,
counts cast bigint, floats rounded 6 dp, timestamps carried as unix
microseconds (integer — engine-portable by construction).

Transcript-shaped inputs route through the shared canonical
events→turns projections — monitor_queries._turns for plain turns
(q_turn_gaps) and transform_queries.turns_with_tool_dirt for the
tool-dirt-bearing form (q_cert_sample shares q_transcript_pipeline's
exact projection, so the certificate bounds the same rows the full
pipeline validates) — ONE definition of the ordering and the dirt
mapping per shape, so a change lands in every consumer at once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sgb_data_validator_spark.plans.constants import EVENT_TYPES
from sgb_data_validator_spark.plans.monitor_queries import _SQL_TURNS, _t, _turns

_IN_TYPES = ", ".join(repr(x) for x in EVENT_TYPES)

#: certification parameters — module constants so the Spark plan and
#: the SQL twin are generated from the same numbers.
CERT_RATE_BP = 2_000   # 20% deterministic hash sample
CERT_TOL = 0.01        # certify: violation rate ≤ 1% at 95% confidence
FRESHNESS_MAX_SILENCE_S = 400


# ------------------------------------------------- turn-gap intervals

def q_turn_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-turn-range forensics (operators/certify.py:gap_intervals):
    after the cleaning filter drops 'purchase' turns, which exact index
    ranges of each conversation are gone — one row per maximal missing
    run with (gap_start, gap_end, gap_len), including the leading gap
    when a conversation no longer starts at 0. The triage sequel to the
    boolean contiguity rule: the ranges are what a re-export request
    needs. ONE narrow exchange on conv_id (no up-front distinct — the
    lag handles dup indexes natively, see the operator docstring);
    output O(gaps)."""
    from sgb_data_validator_spark.operators.certify import gap_intervals

    turns = _turns(_t(spark, sf_dir, "events"))
    cleaned = turns.where(F.col("role") != "purchase")
    return gap_intervals(cleaned, "conv_id", "turn_idx")


SQL_TURN_GAPS = f"""
WITH turns AS ({_SQL_TURNS}),
cleaned AS (
  SELECT conv_id, turn_idx FROM turns
  WHERE role <> 'purchase' AND turn_idx IS NOT NULL
),
g AS (
  SELECT conv_id, turn_idx,
         lag(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
  FROM cleaned
)
SELECT conv_id,
       cast(CASE WHEN prev IS NULL THEN 0 ELSE prev + 1 END AS int) AS gap_start,
       cast(turn_idx - 1 AS int) AS gap_end,
       cast(CASE WHEN prev IS NULL THEN turn_idx ELSE turn_idx - prev - 1 END AS bigint) AS gap_len
FROM g
WHERE (prev IS NULL AND turn_idx > 0)
   OR (prev IS NOT NULL AND turn_idx - prev > 1)
"""


# ------------------------------------------------- partition freshness

def q_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest tail-freshness audit
    (operators/certify.py:partition_freshness): day partitions whose
    last event landed > 400 s before the earlier of (their midnight
    boundary, the table-wide watermark) — the truncated-export signal
    volume z-scores miss when a day is short only at the tail. One
    map-side-combined agg to O(days); watermark via in-plan window."""
    from sgb_data_validator_spark.operators.certify import partition_freshness

    return partition_freshness(
        _t(spark, sf_dir, "events"), "ts", FRESHNESS_MAX_SILENCE_S
    )


SQL_FRESHNESS = f"""
WITH per_day AS (
  SELECT strftime(ts, '%Y-%m-%d') AS part,
         epoch_us(max(ts)) AS last_event_us,
         cast(count(*) AS bigint) AS n_rows
  FROM events GROUP BY 1
),
w AS (
  SELECT *, max(last_event_us) OVER () AS wm,
         epoch_us(cast(part AS timestamp) + INTERVAL 1 DAY) AS day_end_us
  FROM per_day
)
SELECT part, last_event_us,
       cast((least(day_end_us, wm) - last_event_us) // 1000000 AS bigint) AS tail_silence_s,
       n_rows
FROM w
WHERE (least(day_end_us, wm) - last_event_us) // 1000000 > {FRESHNESS_MAX_SILENCE_S}
"""


# ------------------------------------------------- sampled certification

def q_cert_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical pre-flight over the transcript projection
    (operators/certify.py:sampled_certification): evaluate the row-rule
    family on a deterministic 20% hash sample of turns and emit one
    certificate per rule — (n_sample, k_viol, viol_rate, Wilson-95%
    upper_bound, certified ≤ 1%?). The content-addressed sample (md5 of
    conv_id:turn_idx) makes the certificate reproducible evidence in
    any engine at any cluster size; the plan is one in-scan filter +
    ONE global aggregation + an O(rules) unpivot — the 100 TB answer to
    "is this delivery obviously bad?" before paying for the full
    validate()."""
    from sgb_data_validator_spark.operators.certify import sampled_certification
    from sgb_data_validator_spark.plans.transform_queries import (
        turns_with_tool_dirt,
    )

    turns = turns_with_tool_dirt(_t(spark, sf_dir, "events"))
    parse_ok = F.col("text").isNotNull() & (F.trim(F.col("text")) != "")
    url_pat = r"(?i)(?:https?://|ftp://|www\.)[^\s]+"
    flags = [
        ("not_null.text", F.col("text").isNull()),
        ("non_empty.text", F.col("text").isNotNull() & (F.trim(F.col("text")) == "")),
        (
            "vocab.role",
            parse_ok & F.col("role").isNotNull() & ~F.col("role").isin(EVENT_TYPES),
        ),
        ("url_in_text.text", parse_ok & F.col("text").rlike(url_pat)),
        (
            "tool.role_consistency",
            F.col("tool").isNotNull() & (F.col("role") != "click"),
        ),
    ]
    key = F.concat_ws(":", F.col("conv_id"), F.col("turn_idx").cast("string"))
    return sampled_certification(
        turns, flags, key, rate_bp=CERT_RATE_BP, tol=CERT_TOL
    )


SQL_CERT_SAMPLE = f"""
WITH turns AS (
  SELECT 'u' || user_id::VARCHAR AS conv_id,
         cast(row_number() OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST) - 1 AS int) AS turn_idx,
         event_type AS role, props AS text,
         CASE WHEN event_type = 'click' THEN 'browser'
              WHEN user_id % 97 = 0 THEN 'shell' END AS tool
  FROM events
),
sampled AS (
  SELECT *, (text IS NOT NULL AND trim(text) <> '') AS parse_ok
  FROM turns
  WHERE ('0x' || substr(md5(conv_id || ':' || turn_idx::VARCHAR), 1, 15))::BIGINT % 10000 < {CERT_RATE_BP}
),
agg AS (
  SELECT cast(count(*) AS bigint) AS n,
         cast(sum((text IS NULL)::int) AS bigint) AS k0,
         cast(sum((text IS NOT NULL AND trim(text) = '')::int) AS bigint) AS k1,
         cast(sum((parse_ok AND role IS NOT NULL AND role NOT IN ({_IN_TYPES}))::int) AS bigint) AS k2,
         cast(sum((parse_ok AND regexp_matches(text, '(?i)(?:https?://|ftp://|www\\.)[^\\s]+'))::int) AS bigint) AS k3,
         cast(sum((tool IS NOT NULL AND role <> 'click')::int) AS bigint) AS k4
  FROM sampled
),
unp AS (
  SELECT 'not_null.text' AS rule_id, n, k0 AS k FROM agg
  UNION ALL SELECT 'non_empty.text', n, k1 FROM agg
  UNION ALL SELECT 'vocab.role', n, k2 FROM agg
  UNION ALL SELECT 'url_in_text.text', n, k3 FROM agg
  UNION ALL SELECT 'tool.role_consistency', n, k4 FROM agg
),
wils AS (
  SELECT rule_id, n, k, k::DOUBLE / n AS p,
         ((k::DOUBLE / n) + (1.96 * 1.96) / (2.0 * n)
          + 1.96 * sqrt(((k::DOUBLE / n) * (1.0 - k::DOUBLE / n) + (1.96 * 1.96) / (4.0 * n)) / n))
         / (1.0 + (1.96 * 1.96) / n) AS upper
  FROM unp
)
SELECT rule_id, n AS n_sample, k AS k_viol,
       CASE WHEN n > 0 THEN round(p, 6) END AS viol_rate,
       CASE WHEN n > 0 THEN round(upper, 6) END AS upper_bound,
       CASE WHEN n > 0 THEN cast(upper <= {CERT_TOL} AS int) ELSE 0 END AS certified
FROM wils
"""


# ------------------------------------------------- violation co-occurrence

def q_violation_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-pair lift over the full pipeline's violations frame
    (operators/certify.py:violation_cooccurrence): for every rule pair,
    in how many conversations do both fire vs what independence
    predicts — lift ≫ 1 flags a shared upstream cause (the injected
    user_id % 97 exporter fires ref.tool AND tool.role_consistency on
    the same conversations, so that pair's lift ≈ N/n₉₇). Population N
    = conversations in turns ∪ manifest (the ghost), carried in-plan
    as a broadcast one-row frame; a NULL user is not a conversation, as
    in the twin's ``count(DISTINCT user_id)``. The join runs on the
    distinct (conv, rule) frame — violations-sized, never fact-sized."""
    from sgb_data_validator_spark.operators.certify import violation_cooccurrence
    from sgb_data_validator_spark.plans.transform_queries import q_transcript_pipeline

    viol = q_transcript_pipeline(spark, sf_dir)
    ev = _t(spark, sf_dir, "events")
    n_total = (
        ev.select("user_id")
        .where(F.col("user_id").isNotNull())
        .distinct()
        .agg((F.count(F.lit(1)) + 1).cast("bigint").alias("n_total"))
    )
    return violation_cooccurrence(viol, n_total)


def _sql_violation_cooccurrence() -> str:
    from sgb_data_validator_spark.plans.transform_queries import (
        SQL_TRANSCRIPT_PIPELINE,
    )

    return f"""
WITH viol AS ({SQL_TRANSCRIPT_PIPELINE}),
v AS (SELECT DISTINCT conv_id, rule_id FROM viol),
totals AS (SELECT rule_id, cast(count(*) AS bigint) AS n_rule FROM v GROUP BY 1),
n AS (SELECT cast(count(DISTINCT user_id) + 1 AS bigint) AS n_total FROM events),
pairs AS (
  SELECT a.rule_id AS rule_a, b.rule_id AS rule_b,
         cast(count(*) AS bigint) AS n_both
  FROM v a JOIN v b ON a.conv_id = b.conv_id AND a.rule_id < b.rule_id
  GROUP BY 1, 2
)
SELECT rule_a, rule_b, n_both, ta.n_rule AS n_a, tb.n_rule AS n_b,
       round(n_both * n.n_total / (ta.n_rule * tb.n_rule), 6) AS lift
FROM pairs
JOIN totals ta ON ta.rule_id = rule_a
JOIN totals tb ON tb.rule_id = rule_b
CROSS JOIN n
"""


CERTIFY_QUERIES: dict[str, tuple] = {
    "turn_gaps": (q_turn_gaps, SQL_TURN_GAPS),
    "freshness": (q_freshness, SQL_FRESHNESS),
    "cert_sample": (q_cert_sample, SQL_CERT_SAMPLE),
    "violation_cooccurrence": (
        q_violation_cooccurrence,
        _sql_violation_cooccurrence(),
    ),
}
