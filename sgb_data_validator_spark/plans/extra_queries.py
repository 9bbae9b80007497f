"""Coverage queries beyond the core rule families: streaming
(availableNow incremental), rollup aggregation (SURVEY §2.4 A6),
run-diff set ops (§2.5 W6), id-mapping migration (§2.1 S10 analog of
/root/reference/src/api.py:864-1014 migrate_item_set — records
re-created under new ids with an old→new mapping joined through the
children), and IVF-style ANN (the trained-quantizer counterpart of the
hyperplane-LSH path in operators.similarity).

Same oracle-parity conventions as plans.driver_queries.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sgb_data_validator_spark.operators import rules as R
from sgb_data_validator_spark.operators import similarity as S
from sgb_data_validator_spark.plans.training_queries import (
    DIM,
    KNN_QUERY_MOD,
    _vectors_with_twins,
    SQL_COS,
    SQL_VECTORS_TWINS,
)

# no import from plans.driver_queries here: that module imports this one
# at its bottom to build the registry, so a top-level back-import would
# be circular whenever this module is imported first
EVENT_TYPES = ["click", "view", "purchase", "signup"]

CENT_MOD = 40  # every 40th corpus vector is an IVF centroid


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")

_IN_TYPES = ", ".join(repr(x) for x in EVENT_TYPES)

# The transcript projection of events shared with
# transform_queries.q_transcript_pipeline (same shape, reused here so the
# streaming/diff oracles stay self-contained).
_SQL_TURNS = """
turns AS (
  SELECT 'u' || user_id::VARCHAR AS conv_id,
         cast(row_number() OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST) - 1 AS int) AS turn_idx,
         event_type AS role, props AS text,
         CASE WHEN event_type = 'click' THEN 'browser' END AS tool,
         ts, strftime(ts, '%Y-%m-%d') AS part
  FROM events
),
base AS (SELECT *, (text IS NOT NULL AND trim(text) <> '') AS parse_ok FROM turns)
"""

_SQL_RR_NOT_NULL = """
SELECT 'not_null.text' AS rule_id, conv_id, turn_idx, 'text' AS "column",
       cast(NULL AS varchar) AS offending_value, 'error' AS severity, part
FROM base WHERE text IS NULL
"""
_SQL_RR_NON_EMPTY = """
SELECT 'non_empty.text', conv_id, turn_idx, 'text', substr(text, 1, 80), 'error', part
FROM base WHERE text IS NOT NULL AND trim(text) = ''
"""
_SQL_RR_VOCAB = f"""
SELECT 'vocab.role', conv_id, turn_idx, 'role', substr(role, 1, 80), 'error', part
FROM base WHERE parse_ok AND role IS NOT NULL AND role NOT IN ({_IN_TYPES})
"""
_SQL_RR_URL = """
SELECT 'url_in_text.text', conv_id, turn_idx, 'text',
       substr(regexp_extract(text, '(?i)(?:https?://|ftp://|www\\.)[^\\s]+', 0), 1, 80),
       'warning', part
FROM base WHERE parse_ok AND text IS NOT NULL
  AND regexp_matches(text, '(?i)(?:https?://|ftp://|www\\.)[^\\s]+')
"""


def _events_as_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.concat(F.lit("u"), F.col("user_id")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.when(F.col("event_type") == "click", F.lit("browser")).alias("tool"),
        "ts",
    ).withColumn("part", F.date_format("ts", "yyyy-MM-dd"))


def _transcript_rules() -> R.RowRuleSet:
    return R.RowRuleSet().add(
        R.not_null("text"),
        R.non_empty("text"),
        R.in_vocabulary("role", EVENT_TYPES),
        R.no_url_in_text("text"),
    )


# ------------------------------------------------- streaming (availableNow)

def q_streaming_row_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateless row-rule family executed through Structured
    Streaming: the transcript projection is materialized as a file
    source, streamed with ``trigger(availableNow=True)`` through the
    SAME single-pass rule plan as batch, sunk exactly-once to parquet
    via the checkpoint, and the sink is aggregated per rule. Proves the
    batch/stream plan parity claim of streaming.incremental — the
    oracle is the BATCH SQL for the same rules."""
    from sgb_data_validator_spark.streaming.incremental import (
        run_available_now,
        stream_row_violations,
        stream_turns,
    )

    tmp = tempfile.mkdtemp(prefix="sgb_stream_")
    _events_as_turns(spark, sf_dir).write.mode("overwrite").parquet(f"{tmp}/in")
    stream = stream_turns(spark, f"{tmp}/in")
    query = run_available_now(
        stream_row_violations(stream, _transcript_rules()),
        out_path=f"{tmp}/out",
        checkpoint=f"{tmp}/ckpt",
    )
    query.awaitTermination()
    return (
        spark.read.schema(R.VIOLATION_SCHEMA)
        .parquet(f"{tmp}/out")
        .groupBy("rule_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


SQL_STREAMING_ROW_RULES = f"""
WITH {_SQL_TURNS},
v AS ({_SQL_RR_NOT_NULL} UNION ALL {_SQL_RR_NON_EMPTY}
      UNION ALL {_SQL_RR_VOCAB} UNION ALL {_SQL_RR_URL})
SELECT rule_id, cast(count(*) AS bigint) AS n FROM v GROUP BY rule_id
"""


def q_streaming_stateful_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom STATEFUL streaming operator (applyInPandasWithState
    sequence rules, streaming/incremental.py) driven through
    availableNow over a dirtied transcript projection: every 13th turn
    dropped (contiguity gaps) and every 7th-mod-3 turn's ts rewound two
    days (monotonicity). The oracle is the equivalent batch lag SQL —
    the stream must equal batch because availableNow drains everything
    through the same per-conversation state machine."""
    from sgb_data_validator_spark.streaming.incremental import (
        SEQ_OUT_SCHEMA,
        run_available_now,
        stream_sequence_violations,
        stream_turns,
    )

    tmp = tempfile.mkdtemp(prefix="sgb_seqstream_")
    turns = _events_as_turns(spark, sf_dir)
    dirty = turns.where(F.col("turn_idx") % 13 != 5).withColumn(
        "ts",
        F.when(
            F.col("turn_idx") % 7 == 3, F.col("ts") - F.expr("INTERVAL 2 DAYS")
        ).otherwise(F.col("ts")),
    )
    dirty.write.mode("overwrite").parquet(f"{tmp}/in")
    query = run_available_now(
        stream_sequence_violations(stream_turns(spark, f"{tmp}/in")),
        out_path=f"{tmp}/out",
        checkpoint=f"{tmp}/ckpt",
    )
    query.awaitTermination()
    return (
        spark.read.schema(SEQ_OUT_SCHEMA)
        .parquet(f"{tmp}/out")
        .select("rule_id", "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"))
    )


SQL_STREAMING_STATEFUL_SEQ = f"""
WITH {_SQL_TURNS},
d AS (
  SELECT conv_id, turn_idx,
         CASE WHEN turn_idx % 7 = 3 THEN ts - INTERVAL 2 DAY ELSE ts END AS ts
  FROM turns WHERE turn_idx % 13 <> 5
),
w AS (
  SELECT conv_id, turn_idx, ts,
         lag(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS pidx,
         lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS pts
  FROM d
)
SELECT 'ts.monotonicity' AS rule_id, conv_id, cast(turn_idx AS int) AS turn_idx
FROM w WHERE pts IS NOT NULL AND ts < pts
UNION ALL
SELECT 'turn.contiguity', conv_id, cast(turn_idx AS int)
FROM w WHERE (pidx IS NULL AND turn_idx <> 0)
   OR (pidx IS NOT NULL AND turn_idx - pidx > 1)
"""


def q_streaming_windowed_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed verdicts through Structured Streaming
    (streaming/incremental.py:stream_windowed_verdicts): 1-day tumbling
    windows with a 2-hour watermark over the transcript projection,
    drained with availableNow into a complete-mode memory sink so EVERY
    day window emits (the append-mode closed-window behavior is the
    pytest's job, tests/test_streaming.py:39). Oracle = the same per-row
    error/warning OR grouped by UTC day in batch SQL — stream must
    equal batch because the windowed agg sees the full input."""
    import os

    from sgb_data_validator_spark.streaming.incremental import (
        stream_turns,
        stream_windowed_verdicts,
    )

    tmp = tempfile.mkdtemp(prefix="sgb_wvstream_")
    _events_as_turns(spark, sf_dir).write.mode("overwrite").parquet(f"{tmp}/in")
    wv = stream_windowed_verdicts(
        stream_turns(spark, f"{tmp}/in"), _transcript_rules()
    )
    qname = "wv_" + os.path.basename(tmp).replace("sgb_wvstream_", "")
    query = (
        wv.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(qname).select(
        "part",
        F.col("error_count").cast("bigint").alias("error_count"),
        F.col("warning_count").cast("bigint").alias("warning_count"),
        F.col("rows").cast("bigint").alias("n_rows"),
        "status",
    )


SQL_STREAMING_WINDOWED_VERDICTS = f"""
WITH {_SQL_TURNS},
flags AS (
  SELECT part,
         (text IS NULL
          OR (text IS NOT NULL AND trim(text) = '')
          OR (parse_ok AND role IS NOT NULL AND role NOT IN ({_IN_TYPES}))) AS is_err,
         (parse_ok AND text IS NOT NULL
          AND regexp_matches(text, '(?i)(?:https?://|ftp://|www\\.)[^\\s]+')) AS is_warn
  FROM base
)
SELECT part,
       cast(sum(CASE WHEN is_err THEN 1 ELSE 0 END) AS bigint) AS error_count,
       cast(sum(CASE WHEN is_warn THEN 1 ELSE 0 END) AS bigint) AS warning_count,
       cast(count(*) AS bigint) AS n_rows,
       CASE WHEN sum(CASE WHEN is_err THEN 1 ELSE 0 END) > 0
            THEN 'FAILED' ELSE 'PASSED' END AS status
FROM flags GROUP BY 1
"""


# ------------------------------------------------------------- rollup (A6)

def q_rollup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(day × event_type) counts WITH day subtotals and a grand
    total in one pass — ``rollup`` expands the grouping sets inside a
    single aggregation, so the subtotal rows cost no extra scan."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "part", F.date_format("ts", "yyyy-MM-dd")
    )
    return (
        ev.rollup("part", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            F.coalesce("part", F.lit("(all)")).alias("part"),
            F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
            "n",
        )
    )


SQL_ROLLUP_SUMMARY = """
SELECT coalesce(part, '(all)') AS part,
       coalesce(event_type, '(all)') AS event_type,
       cast(count(*) AS bigint) AS n
FROM (SELECT strftime(ts, '%Y-%m-%d') AS part, event_type FROM events)
GROUP BY ROLLUP(part, event_type)
"""


def q_cube_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cube counterpart: all four grouping sets — (source × lang),
    per-source, per-lang, grand total — still one Expand + one aggregate
    pass. Documents' source/lang are low-cardinality, so the Expand
    fan-out (4× rows into a partial aggregate) collapses map-side."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.cube("source", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            F.coalesce("source", F.lit("(all)")).alias("source"),
            F.coalesce("lang", F.lit("(all)")).alias("lang"),
            "n",
        )
    )


SQL_CUBE_SUMMARY = """
SELECT coalesce(source, '(all)') AS source,
       coalesce(lang, '(all)') AS lang,
       cast(count(*) AS bigint) AS n
FROM documents
GROUP BY CUBE(source, lang)
"""


# ------------------------------------------------------- run diff (W6)

def q_run_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression diff between two validation runs via ``exceptAll``:
    run A = current rule set, run B = previous rule set (without the
    role-vocabulary rule). The multiset difference is exactly the
    violations the new rule introduced. In production both sides are
    persisted violation tables from the ledger; recomputing run B here
    keeps the query self-contained."""
    turns = _events_as_turns(spark, sf_dir)
    run_a = _transcript_rules().violations(turns)
    run_b = (
        R.RowRuleSet()
        .add(R.not_null("text"), R.non_empty("text"), R.no_url_in_text("text"))
        .violations(turns)
    )
    return run_a.exceptAll(run_b)


SQL_RUN_DIFF = f"""
WITH {_SQL_TURNS},
va AS ({_SQL_RR_NOT_NULL} UNION ALL {_SQL_RR_NON_EMPTY}
       UNION ALL {_SQL_RR_VOCAB} UNION ALL {_SQL_RR_URL}),
vb AS ({_SQL_RR_NOT_NULL} UNION ALL {_SQL_RR_NON_EMPTY} UNION ALL {_SQL_RR_URL})
SELECT * FROM va EXCEPT ALL SELECT * FROM vb
"""


# ------------------------------------------- id-mapping migration (S10)

def q_migrate_idmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Migration with id re-assignment: parents receive dense new ids
    (the reference's migrate_item_set lets the target system assign
    them, then rewrites every child's parent pointer through the
    old→new map, /root/reference/src/api.py:921-1005); children are
    re-keyed by joining through the mapping. Output: per-new-parent
    child count + quantity total proving the re-keyed edges line up.

    Scale note: the dense-rank window here is a single global sort —
    fine for a migration (one-off, parent table ≪ fact table); at
    10^9+ parents use per-partition row numbers + broadcast partition
    offsets (zipWithIndex shape) instead."""
    orders = _t(spark, sf_dir, "orders")
    idmap = orders.select(
        "o_orderkey",
        F.row_number().over(Window.orderBy("o_orderkey")).cast("bigint").alias("new_id"),
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(idmap, li["l_orderkey"] == idmap["o_orderkey"])
        .groupBy("new_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            # summed exactly as decimal (order-independent), surfaced as
            # double: the driver canonicalizer hashes Spark Decimal cells
            # and DuckDB float cells differently (round-1 hash miss)
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        )
    )


SQL_MIGRATE_IDMAP = """
WITH idmap AS (
  SELECT o_orderkey,
         cast(row_number() OVER (ORDER BY o_orderkey) AS bigint) AS new_id
  FROM orders
)
SELECT new_id, cast(count(*) AS bigint) AS n_lines,
       cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty
FROM lineitem JOIN idmap ON l_orderkey = o_orderkey
GROUP BY new_id
"""


# ------------------------------------------- JSON source/sink (S4/S5)

def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's offline JSON file workflow
    (/root/reference/src/api.py:228-257 save_to_file/load_from_file):
    records written as JSON lines, read back with an EXPLICIT schema (no
    inference scan — at 100 TB schema inference is a full extra pass),
    then aggregated. Parity with the parquet-side oracle proves the
    round-trip is lossless."""
    tmp = tempfile.mkdtemp(prefix="sgb_json_")
    _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    ).write.mode("overwrite").json(tmp)
    back = spark.read.schema(
        "event_id bigint, user_id bigint, event_type string, value double"
    ).json(tmp)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        # exact decimal sum, surfaced as double (same driver-hash
        # rationale as migrate_idmap's sum_qty)
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


SQL_JSON_ROUNDTRIP = """
SELECT event_type, cast(count(*) AS bigint) AS n,
       cast(sum(cast(value AS decimal(18,6))) AS double) AS sum_value
FROM events GROUP BY event_type
"""


# --------------------------------------------------------- IVF ANN

def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    vecs = _vectors_with_twins(spark, sf_dir)
    return S.knn_ivf(
        vecs.where(F.col("vec_id") % KNN_QUERY_MOD == 0),
        vecs,
        "vec_id",
        "v",
        cent_mod=CENT_MOD,
        k=5,
    )


SQL_KNN_IVF = f"""
WITH {SQL_VECTORS_TWINS},
cent AS (SELECT vec_id AS cid, v AS cv FROM alle WHERE vec_id % {CENT_MOD} = 0),
asg AS (
  SELECT a.vec_id, a.v, c.cid,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY {SQL_COS.format(a="a.v", b="c.cv")} DESC, c.cid ASC
         ) AS rnk
  FROM alle a CROSS JOIN cent c
),
cells AS (SELECT vec_id, v, cid FROM asg WHERE rnk = 1),
q AS (SELECT vec_id AS query_id, v AS qv, cid FROM cells WHERE vec_id % {KNN_QUERY_MOD} = 0),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, {SQL_COS.format(a="q.qv", b="c.v")} AS cos
  FROM q JOIN cells c USING (cid) WHERE q.query_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cast(rank AS int) AS rank, cos FROM ranked WHERE rank <= 5
"""


def q_knn_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with nprobe=2: each query probes its two nearest cells — the
    recall knob that recovers neighbors just across a cell boundary. The
    corpus side stays top-1-assigned; only the (tiny) query side fans
    out 2×."""
    vecs = _vectors_with_twins(spark, sf_dir)
    return S.knn_ivf(
        vecs.where(F.col("vec_id") % KNN_QUERY_MOD == 0),
        vecs,
        "vec_id",
        "v",
        cent_mod=CENT_MOD,
        k=5,
        nprobe=2,
    )


SQL_KNN_IVF_NPROBE = f"""
WITH {SQL_VECTORS_TWINS},
cent AS (SELECT vec_id AS cid, v AS cv FROM alle WHERE vec_id % {CENT_MOD} = 0),
asg AS (
  SELECT a.vec_id, a.v, c.cid,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY round({SQL_COS.format(a="a.v", b="c.cv")}, 4) DESC, c.cid ASC
         ) AS rnk
  FROM alle a CROSS JOIN cent c
),
cells AS (SELECT vec_id, v, cid FROM asg WHERE rnk = 1),
q AS (SELECT vec_id AS query_id, v AS qv, cid
      FROM asg WHERE rnk <= 2 AND vec_id % {KNN_QUERY_MOD} = 0),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, {SQL_COS.format(a="q.qv", b="c.v")} AS cos
  FROM q JOIN cells c USING (cid) WHERE q.query_id <> c.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cast(rank AS int) AS rank, cos FROM ranked WHERE rank <= 5
"""


def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration over the embeddings (operators/similarity.py:
    kmeans_step): the sampled bootstrap centroids become data-adaptive
    means. Long-format output (cid, pos, mean, n_members) so the oracle
    compares scalar cells, not float arrays."""
    from sgb_data_validator_spark.operators.dedup import dot

    vecs = _vectors_with_twins(spark, sf_dir)
    cent = vecs.where(F.col("vec_id") % CENT_MOD == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        dot(F.col("v"), F.col("v")).alias("cn"),
    )
    new_cent = S.kmeans_step(vecs, cent, "vec_id", "v")
    return new_cent.select(
        F.col("cid").cast("bigint").alias("cid"),
        F.posexplode("cv").alias("pos", "mean"),
        "n_members",
    ).select("cid", F.col("pos").cast("int").alias("pos"), "mean", "n_members")


SQL_KMEANS_STEP = f"""
WITH {SQL_VECTORS_TWINS},
cent AS (SELECT vec_id AS cid, v AS cv FROM alle WHERE vec_id % {CENT_MOD} = 0),
asg AS (
  SELECT a.vec_id, a.v, c.cid,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY {SQL_COS.format(a="a.v", b="c.cv")} DESC, c.cid ASC
         ) AS rnk
  FROM alle a CROSS JOIN cent c
),
cells AS (SELECT vec_id, v, cid FROM asg WHERE rnk = 1),
comp AS (SELECT cid, r.i AS pos, v[r.i + 1] AS val FROM cells, range({DIM}) r(i)),
m AS (
  SELECT cid, pos, round(avg(val), 6) AS mean, count(*) AS n
  FROM comp GROUP BY 1, 2
)
SELECT cast(cid AS bigint) AS cid, cast(pos AS int) AS pos, mean,
       cast(n AS bigint) AS n_members
FROM m
"""


KMEANS_FIXED_ROUNDS = 3


def q_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-round Lloyd k-means (operators/similarity.py:
    kmeans_train_fixed): the bootstrap centroids through exactly
    KMEANS_FIXED_ROUNDS unrolled iterations — the driver-checkable form
    of training. Each round is kmeans_step's rounded arithmetic (4dp
    assignment cosines + cid tiebreak, 6dp means), so the DuckDB twin
    replays the unroll as chained CTEs and the result hashes equal.
    The CONVERGENCE variant (kmeans_train: iterate until max centroid
    movement < tol, raise on non-convergence) stays the production
    path; its data-dependent round count is why the driver checks the
    fixed unroll — the training invariants (monotone inertia descent,
    convergence raise, fixed==chained-steps parity, recall gain over
    the bootstrap) are pinned by tests/test_training_ops.py and
    tools/ann_recall.py. Long-format output like q_kmeans_step."""
    from sgb_data_validator_spark.operators.dedup import dot

    vecs = _vectors_with_twins(spark, sf_dir)
    cent = vecs.where(F.col("vec_id") % CENT_MOD == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("v").alias("cv"),
        dot(F.col("v"), F.col("v")).alias("cn"),
    )
    trained = S.kmeans_train_fixed(
        vecs, cent, "vec_id", "v", n_iter=KMEANS_FIXED_ROUNDS
    )
    return trained.select(
        F.col("cid").cast("bigint").alias("cid"),
        F.posexplode("cv").alias("pos", "mean"),
        "n_members",
    ).select("cid", F.col("pos").cast("int").alias("pos"), "mean", "n_members")


def _sql_lloyd_round(r: int, cent_cte: str) -> str:
    """One Lloyd round as CTE text: assign every vector to its nearest
    centroid from ``cent_cte`` (rounded cosine, cid tiebreak — the exact
    ivf_assign discipline), recompute 6dp component means, rebuild the
    centroid arrays for the next round."""
    return f"""
asg{r} AS (
  SELECT a.vec_id, a.v, c.cid,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY {SQL_COS.format(a="a.v", b="c.cv")} DESC, c.cid ASC
         ) AS rnk
  FROM alle a CROSS JOIN {cent_cte} c
),
cells{r} AS (SELECT vec_id, v, cid FROM asg{r} WHERE rnk = 1),
comp{r} AS (SELECT cid, r.i AS pos, v[r.i + 1] AS val FROM cells{r}, range({DIM}) r(i)),
m{r} AS (
  SELECT cid, pos, round(avg(val), 6) AS mean, count(*) AS n
  FROM comp{r} GROUP BY 1, 2
),
cent{r} AS (SELECT cid, list(mean ORDER BY pos) AS cv FROM m{r} GROUP BY 1)"""


SQL_KMEANS_TRAIN_FIXED = (
    f"WITH {SQL_VECTORS_TWINS},\n"
    f"cent0 AS (SELECT vec_id AS cid, v AS cv FROM alle WHERE vec_id % {CENT_MOD} = 0),"
    + ",".join(
        _sql_lloyd_round(r, f"cent{r - 1}")
        for r in range(1, KMEANS_FIXED_ROUNDS + 1)
    )
    + f"""
SELECT cast(cid AS bigint) AS cid, cast(pos AS int) AS pos, mean,
       cast(n AS bigint) AS n_members
FROM m{KMEANS_FIXED_ROUNDS}
"""
)


EXTRA_QUERIES: dict[str, tuple] = {
    "streaming_row_rules": (q_streaming_row_rules, SQL_STREAMING_ROW_RULES),
    "streaming_stateful_seq": (q_streaming_stateful_seq, SQL_STREAMING_STATEFUL_SEQ),
    "streaming_windowed_verdicts": (
        q_streaming_windowed_verdicts,
        SQL_STREAMING_WINDOWED_VERDICTS,
    ),
    "rollup_summary": (q_rollup_summary, SQL_ROLLUP_SUMMARY),
    "run_diff": (q_run_diff, SQL_RUN_DIFF),
    "migrate_idmap": (q_migrate_idmap, SQL_MIGRATE_IDMAP),
    "json_roundtrip": (q_json_roundtrip, SQL_JSON_ROUNDTRIP),
    "cube_summary": (q_cube_summary, SQL_CUBE_SUMMARY),
    "knn_ivf": (q_knn_ivf, SQL_KNN_IVF),
    "knn_ivf_nprobe": (q_knn_ivf_nprobe, SQL_KNN_IVF_NPROBE),
    "kmeans_step": (q_kmeans_step, SQL_KMEANS_STEP),
    "kmeans_train": (q_kmeans_train, SQL_KMEANS_TRAIN_FIXED),
}
