"""Round-5 validator-tier queries: adjacent-repeat transition rule,
per-day replay-rate p-chart, salting recommendations, cross-table ship
-date consistency, split-leak audit, per-rule pass-rate report,
per-day numeric quantile drift, order-free partition content
checksums, and the per-partition severity-weighted health score.

Same driver contract as every other plans module: (callable, oracle
SQL) pairs over the driver testdata, every computed column aliased
identically on both sides, counts cast bigint, floats rounded 4-6 dp.
Transcript-shaped inputs reuse monitor_queries' canonical events→turns
projection so the twins replay the identical derivation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sgb_data_validator_spark.plans.constants import EVENT_TYPES, LANGS
from sgb_data_validator_spark.plans.monitor_queries import (
    _SQL_TURNS,
    _SQL_TURNS_P,
    _SQL_TURNS_P_TEXT,
    _sql_turns,
    _t,
    _turns,
)

# ------------------------------------------------ transition legality

def q_transition_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent same-role turns as violation rows
    (operators/windows.py:repeat_transition_violations) — the legality
    complement of the role-transition matrix: a repeat marks a dropped
    turn, a merge artifact, or role-label corruption. Same skew-safe
    (conv_id, turn_idx+1) self-join as role_transitions."""
    from sgb_data_validator_spark.operators.windows import (
        repeat_transition_violations,
    )

    return repeat_transition_violations(_turns(_t(spark, sf_dir, "events")))


SQL_TRANSITION_REPEAT = f"""
WITH turns AS ({_SQL_TURNS})
SELECT 'transition.repeat' AS rule_id,
       a.conv_id,
       cast(a.turn_idx + 1 AS int) AS turn_idx,
       'role' AS "column",
       a.role || '->' || b.role AS offending_value,
       'warning' AS severity
FROM turns a JOIN turns b
  ON a.conv_id = b.conv_id AND b.turn_idx = a.turn_idx + 1 AND a.role = b.role
"""


# ------------------------------------------------ replay-rate p-chart

def q_replay_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day replay rate with binomial p-chart limits: the defect is
    a repeated (user, event_type, hour) triple — the same action by the
    same user inside one hour, the burst/replay shape ingest retries
    and client loops produce. Defects per day = rows − distinct keys,
    computed as Σ(cnt−1) over a (day, key) pre-aggregation so the fact
    collapses BEFORE the day-level rollup (two shrinking shuffles, the
    text payload in neither); the p-chart math is the shared
    operators/stats.py:pchart_from_counts core — limits tighten on big
    days exactly as the violation p-chart's do."""
    from sgb_data_validator_spark.operators.stats import pchart_from_counts

    ev = _t(spark, sf_dir, "events")
    per_key = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("part"),
        "user_id",
        "event_type",
        F.date_trunc("hour", "ts").alias("h"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    per = per_key.groupBy("part").agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") - 1).alias("defects"),
    )
    return pchart_from_counts(per, k=3.0).select(
        "part",
        F.col("n").cast("bigint").alias("n"),
        F.col("defects").cast("bigint").alias("defects"),
        "rate",
        "pooled_rate",
        "z",
        "status",
    )


SQL_REPLAY_PCHART = """
WITH k AS (
  SELECT strftime(ts, '%Y-%m-%d') AS part, user_id, event_type,
         date_trunc('hour', ts) AS h, count(*) AS cnt
  FROM events GROUP BY 1, 2, 3, 4
), per AS (
  SELECT part, cast(sum(cnt) AS bigint) AS n,
         cast(sum(cnt - 1) AS bigint) AS defects
  FROM k GROUP BY 1
), pooled AS (
  SELECT part, n, defects,
         sum(defects) OVER () / cast(sum(n) OVER () AS double) AS pooled_rate
  FROM per
), scored AS (
  SELECT part, n, defects, pooled_rate,
         CASE WHEN pooled_rate * (1 - pooled_rate) = 0 THEN 0.0
              ELSE (defects / cast(n AS double) - pooled_rate)
                   / sqrt(pooled_rate * (1 - pooled_rate) / n) END AS z
  FROM pooled
)
SELECT part, n, defects,
       round(defects / cast(n AS double), 6) AS rate,
       round(pooled_rate, 6) AS pooled_rate,
       round(z, 4) AS z,
       CASE WHEN abs(z) > 3.0
            THEN 'OUT_OF_CONTROL' ELSE 'IN_CONTROL' END AS status
FROM scored
"""


# ------------------------------------------------ salting plan

#: rows-per-task budget the driver fixture's salt plan is sized for —
#: small because the sf0.01 events table has ~66 rows/user; production
#: callers pass their own budget (e.g. 2_000_000 rows/task at 10^12).
SALT_TARGET_ROWS = 72


def q_salt_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salting recommendations for the conversation key
    (operators/audit.py:salt_plan): every user whose event count
    exceeds the rows-per-task budget gets the salt factor that brings
    its largest shard back under it — the decision step between
    skew_report's measurement and the salted uniqueness repartition."""
    from sgb_data_validator_spark.operators.audit import salt_plan

    return salt_plan(
        _t(spark, sf_dir, "events"), "user_id", target_rows=SALT_TARGET_ROWS
    ).select(F.col("user_id").cast("bigint").alias("user_id"), "cnt", "salt_factor")


SQL_SALT_PLAN = f"""
SELECT user_id, cast(count(*) AS bigint) AS cnt,
       cast(ceil(count(*) / {SALT_TARGET_ROWS}.0) AS int) AS salt_factor
FROM events GROUP BY 1 HAVING count(*) > {SALT_TARGET_ROWS}
"""


# ------------------------------------------------ ship-date consistency

def q_ship_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table temporal consistency report: per order-month, the
    rate of lineitems shipped BEFORE their order date (an impossible
    sequence — clock skew or key corruption) and beyond a 120-day
    fulfilment window (stale rows). The child joins its parent on the
    key both tables are naturally clustered by (orderkey — a
    co-partitioned sort-merge join at scale, no broadcast needed on two
    facts), and the output is O(months): violations are REPORTED as
    per-partition rates rather than row-by-row because at 10^12 rows a
    rule this frequent would emit a violations table the size of the
    fact (row-level listing stays available via the same predicate in
    a RowRuleSet when counts warrant it)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    early = F.col("l_shipdate") < F.col("o_orderdate")
    late = F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 120)
    return (
        j.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(early.cast("int")).cast("bigint").alias("early_ship"),
            F.sum(late.cast("int")).cast("bigint").alias("late_window"),
        )
        .select(
            "month",
            "n_lines",
            "early_ship",
            "late_window",
            F.round(F.col("early_ship") / F.col("n_lines"), 6).alias("early_rate"),
            F.round(F.col("late_window") / F.col("n_lines"), 6).alias("late_rate"),
        )
    )


SQL_SHIP_CONSISTENCY = """
WITH j AS (
  SELECT o.o_orderdate, l.l_shipdate
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       cast(count(*) AS bigint) AS n_lines,
       cast(sum(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END) AS bigint) AS early_ship,
       cast(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 120 DAY THEN 1 ELSE 0 END) AS bigint) AS late_window,
       round(sum(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END) / cast(count(*) AS double), 6) AS early_rate,
       round(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 120 DAY THEN 1 ELSE 0 END) / cast(count(*) AS double), 6) AS late_rate
FROM j GROUP BY 1
"""


# ------------------------------------------------ split-leak audit

def q_split_leak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit of an EXISTING split column for contamination: group docs
    by content fingerprint and surface fingerprints spanning more than
    one split. The split under audit here is the pathological baseline
    split_assign exists to replace — a 50/50 id-keyed hash — so the
    leaks this finds are exactly the ones a content-keyed split
    prevents by construction (and q_split_assign's own output audits to
    zero leaking fingerprints under the same check). One fingerprint-
    keyed shuffle; the per-group split set is bounded by the number of
    splits, never by group size."""
    from sgb_data_validator_spark.operators.dedup import (
        canonical_fingerprint,
        portable_hash,
    )

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    bucket = portable_hash(F.col("doc_id").cast("string")) % 2
    f = docs.select(
        canonical_fingerprint(F.col("text")).alias("fp"),
        F.when(bucket == 0, F.lit("train")).otherwise(F.lit("test")).alias("split"),
    )
    return (
        f.groupBy("fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("split").cast("bigint").alias("n_splits"),
            F.concat_ws(",", F.array_sort(F.collect_set("split"))).alias("splits"),
        )
        .where(F.col("n_splits") > 1)
    )


SQL_SPLIT_LEAK = """
WITH f AS (
  SELECT md5(array_to_string(list_sort(list_distinct(
             string_split_regex(lower(trim(text)), '\\s+'))), ' ')) AS fp,
         CASE WHEN (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 2) = 0
              THEN 'train' ELSE 'test' END AS split
  FROM documents WHERE text IS NOT NULL
)
SELECT fp, cast(count(*) AS bigint) AS n_docs,
       cast(count(DISTINCT split) AS bigint) AS n_splits,
       array_to_string(list_sort(list(DISTINCT split)), ',') AS splits
FROM f GROUP BY 1 HAVING count(DISTINCT split) > 1
"""


# ------------------------------------------------ per-rule pass rates

#: pass-rate tolerance for the driver report — 'mostly' semantics: a
#: rule PASSes when at least this fraction of rows satisfy it.
PASS_RATE_MOSTLY = 0.995


def q_rule_pass_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectation-suite view of the q_row_rules rule set
    (operators/rules.py:RowRuleSet.pass_rates): per-rule n / failures /
    pass_rate / PASS-or-FAIL vs the 'mostly' tolerance, in ONE fused
    scan (each rule is a conditional sum in the same projection).
    failures per rule equals q_row_rules' violation count per rule by
    construction — same predicates, same parse gating."""
    from sgb_data_validator_spark.operators import rules as R

    docs = _t(spark, sf_dir, "documents")
    rs = R.RowRuleSet().add(
        R.not_null("text"),
        R.non_empty("text"),
        R.in_vocabulary("lang", LANGS),
        R.no_url_in_text("text"),
        R.matches_regex("source", r"^src[0-9]+$"),
    )
    return rs.pass_rates(docs, mostly=PASS_RATE_MOSTLY)


def _sql_rule_pass_rates() -> str:
    vocab = ", ".join(repr(x) for x in LANGS)
    url_re = r"(?i)(?:https?://|ftp://|www\.)[^\s]+"
    rules = {
        "not_null.text": "text IS NULL",
        "non_empty.text": "text IS NOT NULL AND trim(text) = ''",
        "vocab.lang": f"parse_ok AND lang IS NOT NULL AND lang NOT IN ({vocab})",
        "url_in_text.text": f"parse_ok AND text IS NOT NULL AND regexp_matches(text, '{url_re}')",
        "regex.source": "parse_ok AND source IS NOT NULL AND NOT regexp_matches(source, '^src[0-9]+$')",
    }
    sums = ",\n         ".join(
        f"cast(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS bigint) AS f{i}"
        for i, cond in enumerate(rules.values())
    )
    arms = "\nUNION ALL ".join(
        f"SELECT '{rid}' AS rule_id, n, f{i} AS failures,\n"
        f"       round(1.0 - f{i} / cast(n AS double), 6) AS pass_rate,\n"
        f"       CASE WHEN 1.0 - f{i} / cast(n AS double) >= {PASS_RATE_MOSTLY}\n"
        f"            THEN 'PASS' ELSE 'FAIL' END AS status FROM one"
        for i, rid in enumerate(rules)
    )
    return f"""
WITH base AS (
  SELECT *, (text IS NOT NULL AND trim(text) <> '') AS parse_ok FROM documents
), one AS (
  SELECT cast(count(*) AS bigint) AS n,
         {sums}
  FROM base
)
{arms}
"""


SQL_RULE_PASS_RATES = _sql_rule_pass_rates()


# ------------------------------------------------ numeric quantile drift

def q_value_quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day p50/p90 of the numeric `value` column with the absolute
    p50 displacement from the median of daily medians — the
    numeric-axis drift member (KL/PSI/JS see category frequencies,
    KS/W1 see bucketized histograms; a location shift in a continuous
    column is most directly read off its daily quantiles). Exact
    percentiles so DuckDB mirrors bit-for-bit; the 10^12-row path swaps
    in percentile_approx exactly as q_quantiles documents. The
    reference center is an aggregate OF the O(days) frame (one
    broadcast row), so the fact is scanned once."""
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("part")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.percentile("value", F.lit(0.5)).alias("p50_raw"),
        F.percentile("value", F.lit(0.9)).alias("p90_raw"),
    )
    ref = per.agg(F.percentile("p50_raw", F.lit(0.5)).alias("ref_p50"))
    return per.crossJoin(F.broadcast(ref)).select(
        "part",
        "n",
        F.round("p50_raw", 4).alias("p50"),
        F.round("p90_raw", 4).alias("p90"),
        F.round(F.abs(F.col("p50_raw") - F.col("ref_p50")), 4).alias("p50_shift"),
    )


SQL_VALUE_QUANTILE_DRIFT = """
WITH per AS (
  SELECT strftime(ts, '%Y-%m-%d') AS part,
         cast(count(*) AS bigint) AS n,
         quantile_cont(value, 0.5) AS p50_raw,
         quantile_cont(value, 0.9) AS p90_raw
  FROM events GROUP BY 1
), ref AS (
  SELECT quantile_cont(p50_raw, 0.5) AS ref_p50 FROM per
)
SELECT part, n,
       round(p50_raw, 4) AS p50,
       round(p90_raw, 4) AS p90,
       round(abs(p50_raw - ref_p50), 4) AS p50_shift
FROM per CROSS JOIN ref
"""


# ------------------------------------------------ partition checksums

def q_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-free per-day content checksum of the events table
    (operators/stats.py:partition_checksums) — the artifact that
    verifies a migrated/restored/replicated partition matches its
    source without a row-by-row diff. Hash input is the portable
    rendering of (user_id, event_type, second-truncated ts,
    micro-quantized value) joined on the \\x1f unit separator, md5'd to
    the 60-bit portable hash, reduced mod P, then exactly summed in
    decimal — every step replayable by DuckDB."""
    from sgb_data_validator_spark.operators.dedup import portable_hash
    from sgb_data_validator_spark.operators.stats import partition_checksums

    ev = _t(spark, sf_dir, "events")
    rendered = F.concat_ws(
        "\x1f",
        F.col("user_id").cast("string"),
        F.col("event_type"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
        F.floor(F.col("value") * 1000000).cast("bigint").cast("string"),
    )
    return partition_checksums(
        ev.withColumn("part", F.date_format("ts", "yyyy-MM-dd")),
        "part",
        portable_hash(rendered),
    )


SQL_PARTITION_CHECKSUMS = """
WITH h AS (
  SELECT strftime(ts, '%Y-%m-%d') AS part,
         (('0x' || substr(md5(concat_ws(chr(31),
              user_id::VARCHAR,
              event_type,
              strftime(ts, '%Y-%m-%d %H:%M:%S'),
              cast(floor(value * 1000000) AS BIGINT)::VARCHAR)), 1, 15))::BIGINT
          % 2147483647) AS hm
  FROM events
)
SELECT part, cast(count(*) AS bigint) AS n_rows,
       cast(sum(hm) % 2147483647 AS bigint) AS checksum
FROM h GROUP BY 1
"""


# ------------------------------------------------ closing-role rule

def q_closing_role(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-closure rule: a conversation's LAST turn must not
    be an 'error' — the argmax complement of the opening-role rule,
    flagging conversations that ended in a crash/truncation instead of
    a clean terminal event (operator form:
    operators/windows.py:closing_role_violations — reachable in the
    pipeline as the opt-in plans/families.py:closing_role family, applied
    to the PHYSICAL turns table where turn_idx already exists).

    Deriving turns from events would pay a full row_number window sort
    of the fact just to learn the last turn's index — but turn_idx is
    dense row_number−1, so the last turn's index is count(*)−1 and the
    last turn itself is the max-of-struct over the SAME (ts, event_id)
    order the projection sorts by. The whole rule is therefore ONE
    map-side-combined groupBy(user_id) — no window, no sort-shuffle of
    the fact, one combiner cell per user per task however hot the
    user — emitting rows identical to closing_role_violations over the
    canonical projection (the twin derives them the window way and
    hashes equal)."""
    ev = _t(spark, sf_dir, "events")
    g = ev.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type")).alias("_last"),
        F.count(F.lit(1)).alias("_n"),
    )
    return g.where(
        ~F.col("_last.event_type").isin("view", "click", "purchase", "signup")
    ).select(
        F.lit("conv.closing_role").alias("rule_id"),
        F.concat(F.lit("u"), F.col("user_id")).alias("conv_id"),
        (F.col("_n") - 1).cast("int").alias("turn_idx"),
        F.lit("role").alias("column"),
        F.substring(F.col("_last.event_type"), 1, 80).alias("offending_value"),
        F.lit("warning").alias("severity"),
        F.date_format(F.col("_last.ts"), "yyyy-MM-dd").alias("part"),
    )


SQL_CLOSING_ROLE = f"""
WITH turns AS ({_SQL_TURNS_P}),
last_turn AS (SELECT conv_id, max(turn_idx) AS turn_idx FROM turns GROUP BY 1)
SELECT 'conv.closing_role' AS rule_id, t.conv_id,
       cast(t.turn_idx AS int) AS turn_idx, 'role' AS "column",
       substr(t.role, 1, 80) AS offending_value, 'warning' AS severity, t.part
FROM turns t JOIN last_turn l
  ON t.conv_id = l.conv_id AND t.turn_idx = l.turn_idx
WHERE t.role NOT IN ('view', 'click', 'purchase', 'signup')
"""


# ------------------------------------------------ pass-rate regression

def q_pass_rate_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-over-run expectation-suite regression: this run's per-rule
    pass rates vs a baseline run's, per-rule delta and a
    REGRESSED / IMPROVED / STABLE verdict — the CI gate that catches a
    rule whose pass rate slid 0.3% between ingests long before any
    single partition trips a chart. Here the 'baseline run' is a
    deterministic half-corpus (doc_id % 2 = 0) so the twin replays it;
    in production the baseline side is the PREVIOUS run's stored
    O(rules) pass-rate report — a table read, never a rescan — and the
    diff is the same O(rules) join. Deltas are differences of
    6dp-rounded rates, so the sign (the verdict) is engine-exact."""
    from sgb_data_validator_spark.operators import rules as R

    docs = _t(spark, sf_dir, "documents")
    rs = R.RowRuleSet().add(
        R.not_null("text"),
        R.non_empty("text"),
        R.in_vocabulary("lang", LANGS),
        R.no_url_in_text("text"),
        R.matches_regex("source", r"^src[0-9]+$"),
    )
    cur = rs.pass_rates(docs, mostly=PASS_RATE_MOSTLY)
    base = rs.pass_rates(docs.where(F.col("doc_id") % 2 == 0), mostly=PASS_RATE_MOSTLY)
    j = cur.alias("c").join(base.alias("b"), "rule_id")
    delta = F.round(F.col("c.pass_rate") - F.col("b.pass_rate"), 6)
    return j.select(
        "rule_id",
        F.col("b.pass_rate").alias("pass_rate_base"),
        F.col("c.pass_rate").alias("pass_rate_cur"),
        delta.alias("delta"),
        F.when(delta < 0, F.lit("REGRESSED"))
        .when(delta > 0, F.lit("IMPROVED"))
        .otherwise(F.lit("STABLE"))
        .alias("status"),
    )


def _sql_pass_rate_diff() -> str:
    vocab = ", ".join(repr(x) for x in LANGS)
    url_re = r"(?i)(?:https?://|ftp://|www\.)[^\s]+"
    rules = {
        "not_null.text": "text IS NULL",
        "non_empty.text": "text IS NOT NULL AND trim(text) = ''",
        "vocab.lang": f"parse_ok AND lang IS NOT NULL AND lang NOT IN ({vocab})",
        "url_in_text.text": f"parse_ok AND text IS NOT NULL AND regexp_matches(text, '{url_re}')",
        "regex.source": "parse_ok AND source IS NOT NULL AND NOT regexp_matches(source, '^src[0-9]+$')",
    }

    def side(name: str, where: str) -> str:
        sums = ",\n         ".join(
            f"cast(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS bigint) AS f{i}"
            for i, cond in enumerate(rules.values())
        )
        arms = "\nUNION ALL ".join(
            f"SELECT '{rid}' AS rule_id,\n"
            f"       round(1.0 - f{i} / cast(n AS double), 6) AS pass_rate\n"
            f"FROM {name}_one"
            for i, rid in enumerate(rules)
        )
        return (
            f"{name}_base AS (\n"
            f"  SELECT *, (text IS NOT NULL AND trim(text) <> '') AS parse_ok\n"
            f"  FROM documents{where}\n"
            f"), {name}_one AS (\n"
            f"  SELECT cast(count(*) AS bigint) AS n,\n         {sums}\n"
            f"  FROM {name}_base\n"
            f"), {name} AS (\n{arms}\n)"
        )

    return f"""
WITH {side("cur", "")},
{side("prev", " WHERE doc_id % 2 = 0")}
SELECT c.rule_id,
       p.pass_rate AS pass_rate_base,
       c.pass_rate AS pass_rate_cur,
       round(c.pass_rate - p.pass_rate, 6) AS delta,
       CASE WHEN round(c.pass_rate - p.pass_rate, 6) < 0 THEN 'REGRESSED'
            WHEN round(c.pass_rate - p.pass_rate, 6) > 0 THEN 'IMPROVED'
            ELSE 'STABLE' END AS status
FROM cur c JOIN prev p ON c.rule_id = p.rule_id
"""


SQL_PASS_RATE_DIFF = _sql_pass_rate_diff()


# ------------------------------------------------ value-range rule

def q_range_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The expect-between primitive (operators/rules.py:in_range) in
    the fused single-pass projection: events whose monetary value
    falls outside [0.01, 250] and whose props-embedded k exceeds 5,
    both as canonical violation rows from ONE scan — the frictionless
    minimum/maximum constraint family the row-rule engine was missing.
    The JSON field is extracted in the same projection (no pre-pass).
    Malformed props yield NULL on BOTH engines: Spark's
    get_json_object returns NULL by contract, the twin pins the same
    with json_valid + try_cast (DuckDB's bare json_extract_string
    THROWS on bad JSON — an oracle replay must not crash where the
    engine degrades)."""
    from sgb_data_validator_spark.operators import rules as R

    ev = _t(spark, sf_dir, "events").withColumn(
        "prop_k",
        F.get_json_object("props", "$.k").try_cast("int"),
    )
    rs = R.RowRuleSet().add(
        # %.6f pins the double rendering: Spark's native cast switches
        # to scientific notation below 1e-3 / above 1e7 where DuckDB's
        # varchar cast does not — a fixed-decimal printf matches on
        # both engines for any magnitude this column can hold
        R.in_range("value", lo=0.01, hi=250.0, severity=R.SEV_WARNING, value_format="%.6f"),
        R.in_range("prop_k", lo=0, hi=5, severity=R.SEV_WARNING),
    )
    return rs.violations(ev, key_cols=("event_id",), part_col=None)


SQL_RANGE_RULE = """
WITH ev AS (
  SELECT event_id, value,
         CASE WHEN json_valid(props)
              THEN try_cast(json_extract_string(props, '$.k') AS int) END AS prop_k
  FROM events
)
SELECT 'range.value' AS rule_id, cast(event_id AS varchar) AS conv_id,
       cast(NULL AS int) AS turn_idx, 'value' AS "column",
       substr(printf('%.6f', value), 1, 80) AS offending_value,
       'warning' AS severity, cast(NULL AS varchar) AS part
FROM ev WHERE value IS NOT NULL AND (value < 0.01 OR value > 250.0)
UNION ALL
SELECT 'range.prop_k', cast(event_id AS varchar), cast(NULL AS int), 'prop_k',
       substr(cast(prop_k AS varchar), 1, 80), 'warning', cast(NULL AS varchar)
FROM ev WHERE prop_k IS NOT NULL AND (prop_k < 0 OR prop_k > 5)
"""


# ------------------------------------------------ field-pair rule

def q_pair_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-driven field-pair rule (operators/rules.py:field_pair)
    in the fused projection: conversion events (purchase/signup) must
    carry a props k in the premium tier 0–9 (both NULL and
    out-of-tier flagged), and view events must carry props at all (the
    always-satisfied arm pins the negative case). Both pairs ride ONE
    scan with the JSON field extracted in the same projection — the
    reference's resource-type ⇒ required-fields table re-expressed as
    config, not code."""
    from sgb_data_validator_spark.operators import rules as R

    ev = _t(spark, sf_dir, "events").withColumn(
        "prop_k",
        F.get_json_object("props", "$.k").try_cast("int"),
    )
    rs = R.RowRuleSet().add(
        R.field_pair(
            "event_type", ["purchase", "signup"], "prop_k",
            then_vals=list(range(10)), severity=R.SEV_WARNING,
        ),
        R.field_pair(
            "event_type", ["view"], "props", severity=R.SEV_WARNING,
        ),
    )
    return rs.violations(ev, key_cols=("event_id",), part_col=None)


SQL_PAIR_RULE = """
WITH ev AS (
  SELECT event_id, event_type, props,
         CASE WHEN json_valid(props)
              THEN try_cast(json_extract_string(props, '$.k') AS int) END AS prop_k
  FROM events
)
SELECT 'pair.event_type.prop_k' AS rule_id, cast(event_id AS varchar) AS conv_id,
       cast(NULL AS int) AS turn_idx, 'prop_k' AS "column",
       substr(event_type || ' => ' || coalesce(cast(prop_k AS varchar), 'NULL'), 1, 80) AS offending_value,
       'warning' AS severity, cast(NULL AS varchar) AS part
FROM ev
WHERE event_type IN ('purchase', 'signup')
  AND (prop_k IS NULL OR prop_k NOT IN (0, 1, 2, 3, 4, 5, 6, 7, 8, 9))
UNION ALL
SELECT 'pair.event_type.props', cast(event_id AS varchar), cast(NULL AS int), 'props',
       substr(event_type || ' => ' || coalesce(props, 'NULL'), 1, 80),
       'warning', cast(NULL AS varchar)
FROM ev WHERE event_type IN ('view') AND props IS NULL
"""


# ------------------------------------------------ repeated-text rule

def q_repeat_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stuttering-agent rule over the events→transcript projection
    (operators/windows.py:repeat_text_violations): the same props
    payload occurring twice within one user's event stream marks a
    retry loop. Text fingerprinted in-scan; one narrow groupBy of
    (conv_id, fp) — the payload never shuffles; one row per repeated
    group anchored at its earliest turn."""
    from sgb_data_validator_spark.operators.windows import repeat_text_violations

    ev = _t(spark, sf_dir, "events")
    turns = _turns(ev, with_part=True, text_col="props")
    return repeat_text_violations(turns, text_col="text", min_repeats=2)


SQL_REPEAT_TEXT = f"""
WITH turns AS ({_SQL_TURNS_P_TEXT}),
g AS (
  SELECT conv_id,
         ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp,
         cast(count(*) AS bigint) AS cnt,
         min(turn_idx) AS anchor_idx,
         arg_min(part, turn_idx) AS anchor_part
  FROM turns
  WHERE text IS NOT NULL AND trim(text) <> ''
  GROUP BY 1, 2
  HAVING count(*) >= 2
)
SELECT 'conv.repeat_text' AS rule_id, conv_id,
       cast(anchor_idx AS int) AS turn_idx, 'text' AS "column",
       'repeated x' || cast(cnt AS varchar) AS offending_value,
       'warning' AS severity, anchor_part AS part
FROM g
"""


# ------------------------------------------------ tool-call pairing

def q_tool_pairing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool-call ADJACENCY pairing over the events→transcript
    projection (operators/windows.py:sequence_violations, pairing
    slots): a tool-result turn ('purchase') must be immediately
    preceded by a caller ('view') or another result, and a caller turn
    that invokes a tool (non-null canonical ``tool``) must be
    immediately followed by a result turn — the dangling-result /
    unanswered-call pair no row-level or argmin rule can see.

    Scale shape: rides the SAME skew-split chunked window pass as
    ts_monotonicity/contiguity — the Zipf-hot conversation spreads over
    ~turns/32768 tasks instead of serializing through one sort, the
    lead() side fed by a symmetric min-of-struct carry — so enabling
    pairing in the engine pipeline costs zero extra fact scans."""
    from sgb_data_validator_spark.operators.windows import sequence_violations

    ev = _t(spark, sf_dir, "events")
    turns = _turns(ev, with_part=True, with_tool=True)
    return sequence_violations(
        turns,
        check_monotonic_ts=False,
        check_contiguity=False,
        tool_caller_roles=("view",),
        tool_result_roles=("purchase",),
    )


SQL_TOOL_PAIRING = f"""
WITH turns AS ({_sql_turns(with_part=True, with_tool=True)}),
x AS (
  SELECT *,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role,
         lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_role
  FROM turns
)
SELECT 'tool.dangling_result' AS rule_id, conv_id,
       cast(turn_idx AS int) AS turn_idx, 'role' AS "column",
       substr(coalesce(prev_role, 'NULL') || ' -> ' || role, 1, 80) AS offending_value,
       'warning' AS severity, part
FROM x
WHERE role = 'purchase'
  AND (prev_role IS NULL OR prev_role NOT IN ('view', 'purchase'))
UNION ALL
SELECT 'tool.unanswered_call', conv_id, cast(turn_idx AS int), 'tool',
       substr(tool, 1, 80), 'warning', part
FROM x
WHERE tool IS NOT NULL AND role = 'view'
  AND (next_role IS NULL OR next_role <> 'purchase')
"""


# ------------------------------------------------ partition health score

def q_health_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition data-quality health score: the severity-weighted
    violation rate folded into ONE number per partition plus a letter
    grade — the triage artifact a 10^12-turn validation run is actually
    read through (nobody scrolls 10^9 violation rows; they sort
    partitions by grade). Weights follow the standard severity ladder
    (error=10, warning=1); the score is an exact integer so the grade
    boundaries are engine-independent, and the per-1k normalization is
    one double division. Both signal classes ride the SAME fused
    single-scan projection (conditional sums, the rule_pass_rates
    shape): one groupBy(day) over the fact, O(days) rows out."""
    ev = _t(spark, sf_dir, "events")
    err = (~F.col("event_type").isin(*EVENT_TYPES)).cast("int")
    warn = (F.col("value") > 250.0).cast("int")
    per = ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("part")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(err).cast("bigint").alias("errors"),
        F.sum(warn).cast("bigint").alias("warnings"),
    )
    score = (F.col("errors") * 10 + F.col("warnings")).cast("bigint")
    per_1k = F.round(score * 1000.0 / F.col("n"), 4)
    return per.select(
        "part",
        "n",
        "errors",
        "warnings",
        score.alias("score"),
        per_1k.alias("score_per_1k"),
        F.when(per_1k < 500.0, F.lit("A"))
        .when(per_1k < 1000.0, F.lit("B"))
        .when(per_1k < 2000.0, F.lit("C"))
        .otherwise(F.lit("F"))
        .alias("grade"),
    )


def _sql_health_score() -> str:
    vocab = ", ".join(repr(x) for x in EVENT_TYPES)
    return f"""
WITH per AS (
  SELECT strftime(ts, '%Y-%m-%d') AS part,
         cast(count(*) AS bigint) AS n,
         cast(sum(CASE WHEN event_type NOT IN ({vocab}) THEN 1 ELSE 0 END) AS bigint) AS errors,
         cast(sum(CASE WHEN value > 250.0 THEN 1 ELSE 0 END) AS bigint) AS warnings
  FROM events GROUP BY 1
)
SELECT part, n, errors, warnings,
       cast(errors * 10 + warnings AS bigint) AS score,
       round((errors * 10 + warnings) * 1000.0 / n, 4) AS score_per_1k,
       CASE WHEN round((errors * 10 + warnings) * 1000.0 / n, 4) < 500.0 THEN 'A'
            WHEN round((errors * 10 + warnings) * 1000.0 / n, 4) < 1000.0 THEN 'B'
            WHEN round((errors * 10 + warnings) * 1000.0 / n, 4) < 2000.0 THEN 'C'
            ELSE 'F' END AS grade
FROM per
"""


SQL_HEALTH_SCORE = _sql_health_score()


VALIDATOR_QUERIES: dict[str, tuple] = {
    "transition_repeat": (q_transition_repeat, SQL_TRANSITION_REPEAT),
    "replay_pchart": (q_replay_pchart, SQL_REPLAY_PCHART),
    "salt_plan": (q_salt_plan, SQL_SALT_PLAN),
    "ship_consistency": (q_ship_consistency, SQL_SHIP_CONSISTENCY),
    "split_leak": (q_split_leak, SQL_SPLIT_LEAK),
    "rule_pass_rates": (q_rule_pass_rates, SQL_RULE_PASS_RATES),
    "value_quantile_drift": (q_value_quantile_drift, SQL_VALUE_QUANTILE_DRIFT),
    "partition_checksums": (q_partition_checksums, SQL_PARTITION_CHECKSUMS),
    "health_score": (q_health_score, SQL_HEALTH_SCORE),
    "closing_role": (q_closing_role, SQL_CLOSING_ROLE),
    "pass_rate_diff": (q_pass_rate_diff, SQL_PASS_RATE_DIFF),
    "range_rule": (q_range_rule, SQL_RANGE_RULE),
    "repeat_text": (q_repeat_text, SQL_REPEAT_TEXT),
    "pair_rule": (q_pair_rule, SQL_PAIR_RULE),
    "tool_pairing": (q_tool_pairing, SQL_TOOL_PAIRING),
}
