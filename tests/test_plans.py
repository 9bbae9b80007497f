"""Physical-plan audits: the plans the operators are DESIGNED to
produce must actually materialize — broadcast joins stay broadcast,
filters and column pruning reach the parquet scan, the salted
uniqueness agg is two-stage. Regressions here are silent performance
bugs at 100 TB even when results stay correct."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from sgb_data_validator_spark.operators.referential import orphan_violations
from sgb_data_validator_spark.operators.uniqueness import duplicate_key_counts
from sgb_data_validator_spark.operators.windows import sequence_violations
from sgb_data_validator_spark.sources.generator import FixtureConfig, generate_turns


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def turns_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "turns")
    generate_turns(spark, FixtureConfig(n_turns=2000)).write.partitionBy("part").parquet(path)
    return path


def test_referential_join_is_broadcast_anti(spark, turns_parquet):
    turns = spark.read.parquet(turns_parquet)
    dim = spark.createDataFrame([("c0",), ("c1",)], "conv_id string")
    plan = plan_of(orphan_violations(turns, dim, "conv_id", "conv_id", "ref.conv_id"))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_referential_degrades_to_shuffled_join(spark, turns_parquet):
    """broadcast_dim=False: the documented big-manifest fallback must be
    a real (shuffled) anti-join, not still a broadcast."""
    turns = spark.read.parquet(turns_parquet)
    dim = spark.createDataFrame([("c0",), ("c1",)], "conv_id string")
    plan = plan_of(
        orphan_violations(turns, dim, "conv_id", "conv_id", "ref.conv_id", broadcast_dim=False)
    )
    tree = plan.split("\n\n")[0]
    assert "LeftAnti" in plan and "BroadcastHashJoin" not in tree


def test_filter_pushdown_reaches_scan(spark, turns_parquet):
    turns = spark.read.parquet(turns_parquet)
    plan = plan_of(turns.where(F.col("conv_id") == "c1").select("conv_id", "turn_idx"))
    assert "PushedFilters: [IsNotNull(conv_id), EqualTo(conv_id,c1)" in plan


def test_column_pruning_sequence_rules(spark, turns_parquet):
    # the sequence window must shuffle ONLY (conv_id, turn_idx, ts, part),
    # never the text payload
    turns = spark.read.parquet(turns_parquet)
    plan = plan_of(sequence_violations(turns))
    assert "text" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_partition_pruning(spark, turns_parquet):
    turns = spark.read.parquet(turns_parquet)
    plan = plan_of(turns.where(F.col("part") == "2026-01-05"))
    # partition filter handled at scan, not as a post-scan Filter node
    assert "PartitionFilters" in plan and "2026-01-05" in plan


def test_uniqueness_count_is_two_stage(spark, turns_parquet):
    # default path: Spark's built-in partial+final HashAggregate pair is
    # the salted repartition-and-count (salt = physical input partition)
    turns = spark.read.parquet(turns_parquet)
    plan = plan_of(duplicate_key_counts(turns, ["conv_id", "turn_idx"]))
    tree = plan.split("\n\n")[0]
    assert tree.count("HashAggregate") == 2     # partial then final
    assert tree.count("Exchange") == 1          # exactly one shuffle
    # explicit-salt variant (for no-combine aggs) really salts
    salted = plan_of(duplicate_key_counts(turns, ["conv_id", "turn_idx"], explicit_salt=True))
    assert "SPARK_PARTITION_ID" in salted.upper()


def test_uniqueness_members_single_narrow_shuffle(spark, turns_parquet):
    from sgb_data_validator_spark.operators.uniqueness import uniqueness_violations

    turns = spark.read.parquet(turns_parquet)
    plan = plan_of(uniqueness_violations(turns))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1          # one shuffle, no join stage
    assert "Join" not in tree and "Broadcast" not in tree
    assert "text" not in plan.split("ReadSchema")[1].splitlines()[0]  # payload never shuffles


def test_whole_stage_codegen_row_rules(spark, turns_parquet):
    from sgb_data_validator_spark.plans.pipeline import transcript_row_rules

    turns = spark.read.parquet(turns_parquet)
    plan = plan_of(transcript_row_rules().violations(turns), mode="formatted")
    assert "* Project" in plan                  # rules run inside codegen ('*')
    assert "BatchEvalPython" not in plan        # no row-at-a-time Python
    assert "ArrowEvalPython" not in plan        # and no pandas UDF either
    # all four rules ride ONE scan of the fact table (count in the plan
    # tree only — the formatted detail section repeats node names)
    assert plan.split("\n\n")[0].count("Scan parquet") == 1


def test_sessionize_never_shuffles_payload(spark, turns_parquet):
    """Sessionize reads only (conv_id, turn_idx, ts): the text payload
    must not appear in the scan schema, and the windows ride the chunked
    (conv_id, chunk) keys like the sequence rules."""
    from sgb_data_validator_spark.operators.windows import sessionize

    turns = spark.read.parquet(turns_parquet)
    plan = plan_of(sessionize(turns, gap_us=3_600_000_000))
    for section in plan.split("ReadSchema")[1:]:
        assert "text" not in section.splitlines()[0]


def test_rollup_is_single_pass(spark):
    """A6 rollup: subtotals come from ONE Expand + one partial/final
    aggregate pair with a single exchange — not one scan per grouping
    set."""
    from sgb_data_validator_spark.plans.extra_queries import q_rollup_summary

    plan = q_rollup_summary(spark, "/root/testdata/sf0.001")._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange") == 1


def test_ivf_assignment_broadcasts_centroids(spark):
    """IVF: centroid assignment must be a broadcast nested-loop (tiny
    one-row centroid-array dim against the partitioned corpus), and the
    cell join an equi-join — never a broadcast of a corpus-sized side."""
    from sgb_data_validator_spark.plans.extra_queries import q_knn_ivf

    plan = q_knn_ivf(spark, "/root/testdata/sf0.001")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastNestedLoopJoin") == 2  # queries + corpus assignment
    cell_joins = [l for l in plan.splitlines() if "Join [cid" in l]
    assert cell_joins and all("Broadcast" not in l for l in cell_joins)
    # the argmax is a per-row fold, not a window — the ONLY Window node
    # in the whole query is the final top-k (its WindowGroupLimit
    # pushdown nodes aside), so assignment adds no exchange
    assert plan.count("Window [") == 1


def test_ivf_assign_is_shuffle_free(spark):
    """The assignment operator alone: one projection over the fact, zero
    Exchange, zero Window (the round-1 row_number argmax shuffled
    |corpus| × |centroids| scored rows)."""
    from sgb_data_validator_spark.operators.dedup import dot
    from sgb_data_validator_spark.operators.similarity import ivf_assign

    vecs = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % (i + 3)).cast("double") for i in range(4)]).alias("v"),
    )
    cent = vecs.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"), dot(F.col("v"), F.col("v")).alias("cn")
    )
    plan = plan_of(ivf_assign(vecs, cent, "vec_id", "v", "out_id"))
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree
    # the only exchanges are the broadcast itself and the single-partition
    # collapse of the tiny centroid dim into its one-row array; the fact
    # is never hash-partitioned
    assert tree.count("Exchange") == 2 and "BroadcastExchange" in tree
    assert "SinglePartition" in plan
    assert "hashpartitioning(out_id" not in plan


def test_kmeans_step_shuffles_only_component_rows(spark):
    """kmeans_step: assignment must stay the zero-shuffle broadcast fold
    (no Window), and every hash exchange must carry cid-keyed component
    rows — the fact is never hash-partitioned by vector id."""
    from sgb_data_validator_spark.operators.dedup import dot
    from sgb_data_validator_spark.operators.similarity import kmeans_step

    vecs = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % (i + 3)).cast("double") for i in range(4)]).alias("v"),
    )
    cent = vecs.where(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"),
        dot(F.col("v"), F.col("v")).alias("cn"),
    )
    plan = plan_of(kmeans_step(vecs, cent, "vec_id", "v"))
    tree = plan.split("\n\n")[0]
    assert "Window" not in tree
    hash_exchanges = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert hash_exchanges and all("cid" in l for l in hash_exchanges)
    assert "hashpartitioning(vec_id" not in plan and "hashpartitioning(_vid" not in plan


def test_verify_jaccard_broadcast_is_count_gated(spark):
    """verify_jaccard_pairs: candidate pairs broadcast only under the
    gate; above it the pair joins must degrade to shuffled joins keyed
    by id (a flooded LSH band must cost a narrow shuffle, not a
    build-side OOM)."""
    from sgb_data_validator_spark.operators.dedup import verify_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, f"w{i} common tokens shared text") for i in range(8)], "id int, text string"
    )
    cand = spark.createDataFrame([(1, 2), (3, 4)], "id_a int, id_b int")

    small = plan_of(verify_jaccard_pairs(cand, docs, "id", "text"))
    assert "BroadcastHashJoin" in small.split("\n\n")[0]

    big = plan_of(
        verify_jaccard_pairs(cand, docs, "id", "text", broadcast_max_pairs=1)
    )
    tree = big.split("\n\n")[0]
    assert "BroadcastHashJoin" not in tree
    assert "ShuffledHashJoin" in tree or "SortMergeJoin" in tree


def test_exact_dedup_single_narrow_shuffle(spark):
    """exact_duplicates: one hash exchange on the fingerprint, window
    aggregates over it, NO join and NO broadcast — the round-1 form
    broadcast the O(duplicate-docs) group set."""
    from sgb_data_validator_spark.operators.dedup import exact_duplicates

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y")], "id int, text string"
    )
    plan = plan_of(exact_duplicates(docs, "id", "text"))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "Join" not in tree and "Broadcast" not in tree


def test_contamination_single_narrow_shuffle(spark):
    """Cross-source contamination mirrors exact dedup's shape: ONE hash
    exchange on the fingerprint, collect_set over the window, no join,
    no broadcast — the two-pass groupBy+join twin would shuffle the
    fingerprint frame twice."""
    from sgb_data_validator_spark.plans.training_queries import q_contamination

    docs = spark.createDataFrame(
        [(1, "a b", "s1"), (2, "b a", "s2"), (3, "x", "s1")],
        "doc_id long, text string, source string",
    )
    import sgb_data_validator_spark.plans.training_queries as tq

    orig = tq._t
    tq._t = lambda *_: docs
    try:
        plan = plan_of(q_contamination(spark, "unused"))
    finally:
        tq._t = orig
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "Join" not in tree and "Broadcast" not in tree


def test_keep_best_single_exchange_two_windows(spark):
    """dedup_keep_best: the group-size window and the ordered
    first_value window share the fingerprint partitioning — ONE hash
    exchange must feed both Window ops (a second exchange would mean
    Catalyst failed to recognize the shared partitioning), and there is
    no join anywhere (the argmax is in-window, not groupBy+join-back)."""
    from sgb_data_validator_spark.plans.training_queries import q_dedup_keep_best
    import sgb_data_validator_spark.plans.training_queries as tq

    docs = spark.createDataFrame(
        [(1, "a b c d e f", "s1"), (2, "b a c d e f", "s2"), (3, "x y", "s1")],
        "doc_id long, text string, source string",
    )
    orig = tq._t
    tq._t = lambda *_: docs
    try:
        plan = plan_of(q_dedup_keep_best(spark, "unused"))
    finally:
        tq._t = orig
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert tree.count("Window") == 2
    assert "Join" not in tree


def test_health_score_single_fused_scan(spark):
    """Both severity classes ride ONE fused conditional-sum aggregation:
    one parquet scan, one partial/final HashAggregate pair, one
    exchange — adding a signal class adds a column, not a pass."""
    from sgb_data_validator_spark.plans.validator_queries import q_health_score

    plan = (
        q_health_score(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan parquet") == 1
    assert plan.count("HashAggregate") == 2
    assert "Window" not in plan


def test_closing_role_is_argmax_not_window(spark):
    """The closure rule is ONE map-side combined max-of-struct argmax —
    no window at all: turn_idx is dense row_number−1, so the last
    turn's index is count(*)−1 and the whole query needs no derivation
    sort. A hot Zipf conversation costs one combiner cell per task."""
    from sgb_data_validator_spark.plans.validator_queries import q_closing_role

    plan = (
        q_closing_role(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan parquet") == 1
    assert "Window" not in plan
    # struct-typed max compiles to SortAggregate (not hash-aggregable),
    # but the scale property is the MAP-SIDE COMBINE: a partial_max
    # runs before the exchange, so the hot conversation ships one
    # combiner row per task, never its turn list
    assert "partial_max" in plan
    assert plan.count("Exchange") == 1        # the argmax, nothing else


def test_ewma_chart_single_fact_exchange(spark):
    """The chart input is one map-side-combined groupBy(day); every
    chart window (z standardization, row index, rescaled scan) runs on
    the O(days) frame behind a single-partition exchange — the fact is
    scanned once and aggregated once."""
    from sgb_data_validator_spark.plans.monitor_queries import q_ewma_chart

    plan = (
        q_ewma_chart(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan parquet") == 1
    assert plan.count("HashAggregate") == 2


def test_resume_filter_prunes_partitions_at_scan(spark, turns_parquet):
    """The --resume path (jobs/validate.py) filters the fact to the
    ledger's pending set with part.isin(pending). That filter must be a
    PARTITION filter handled by the file index — the PASSED partition's
    files are never opened — not a post-scan Filter over a full read.
    At 10^12 turns this is the difference between touching one day and
    rescanning three years."""
    from sgb_data_validator_spark.sources.ledger import Ledger

    turns = spark.read.parquet(turns_parquet)
    ledger_path = turns_parquet + "_resume_ledger"
    led = Ledger(spark, ledger_path)
    # record day 0 PASSED, everything else FAILED (the dirty-run shape)
    verdicts = (
        turns.select("part")
        .distinct()
        .select(
            "part",
            F.when(F.col("part") == "2026-01-05", "PASSED")
            .otherwise("FAILED")
            .alias("status"),
            F.lit(0).cast("long").alias("error_count"),
            F.lit(0).cast("long").alias("warning_count"),
        )
    )
    digests = verdicts.select("part", F.lit("d").alias("stats_digest"))
    part_rows = turns.groupBy("part").agg(F.count(F.lit(1)).alias("rows"))
    led.record(verdicts, digests, part_rows, 1.0, "test")

    pending = [r.part for r in led.pending_partitions(turns.select("part")).collect()]
    assert "2026-01-05" not in pending and pending
    plan = plan_of(turns.where(F.col("part").isin(pending)))
    pf = plan.split("PartitionFilters")[1].splitlines()[0]
    assert "2026-01-05" not in pf                 # PASSED day never scanned
    assert all(p in pf for p in pending)          # pending days pruned IN
    # and no residual row-level Filter node doing the partition work
    assert "PartitionFilters: []" not in plan


#: the default compute_violations over all four tables, executed
#: (adaptive final plan) on the 2,000-turn parquet fixture: fact-table
#: parquet scans and shuffle Exchange nodes. Counted the way the
#: benchmark's traced run counts them (SparkPlanInfo nodes, query
#: stages and reused exchanges walked into).
DEFAULT_PIPELINE_FACT_SCANS = 9
DEFAULT_PIPELINE_EXCHANGES = 19


def _executed_plan_nodes(spark, df) -> list:
    info = spark._jvm.org.apache.spark.sql.execution.SparkPlanInfo.fromSparkPlan(
        df._jdf.queryExecution().executedPlan()
    )
    nodes, stack = [], [info]
    while stack:
        node = stack.pop()
        nodes.append(node)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return nodes


def test_default_pipeline_plan_shape(spark, turns_parquet):
    """Pins the default check-family list's physical plan: how often it
    scans the fact table and how many shuffles it runs."""
    from sgb_data_validator_spark.plans.pipeline import TranscriptTables, compute_violations
    from sgb_data_validator_spark.sources.generator import (
        generate_allowed_tools,
        generate_baseline_stats,
        generate_conversations,
    )

    cfg = FixtureConfig(n_turns=2000)
    t = TranscriptTables(
        turns=spark.read.parquet(turns_parquet),
        conversations=generate_conversations(spark, cfg),
        allowed_tools=generate_allowed_tools(spark),
        baseline_stats=generate_baseline_stats(spark, cfg),
    )
    v = compute_violations(t)
    v.write.format("noop").mode("overwrite").save()
    nodes = _executed_plan_nodes(spark, v)

    def is_fact_scan(n) -> bool:
        meta = n.metadata()
        return (
            n.nodeName().startswith("Scan parquet")
            and meta.contains("Location")
            and turns_parquet in meta.apply("Location")
        )

    assert sum(map(is_fact_scan, nodes)) == DEFAULT_PIPELINE_FACT_SCANS
    assert sum(n.nodeName() == "Exchange" for n in nodes) == DEFAULT_PIPELINE_EXCHANGES
