"""role_structure_violations + verify_containment_pairs.

The containment test pins the differentiator: a short doc embedded
verbatim in a much longer one has containment 1.0 but Jaccard far
below any dedup threshold — verify_jaccard_pairs must NOT return the
pair while verify_containment_pairs must.
"""

import pyspark.sql.functions as F

from sgb_data_validator_spark.operators.dedup import (
    verify_containment_pairs,
    verify_jaccard_pairs,
)
from sgb_data_validator_spark.operators.windows import role_structure_violations

TURN_SCHEMA = "conv_id string, turn_idx int, role string, tool string, part string"


def test_opening_role_uses_min_turn_not_zero(spark):
    rows = [
        # conv a: opens at idx 2 (gap is contiguity's job) with a bad role
        ("a", 2, "assistant", None, "d1"),
        ("a", 3, "user", None, "d1"),
        # conv b: clean opening, no tools anywhere
        ("b", 0, "system", None, "d1"),
        ("b", 1, "user", None, "d1"),
    ]
    out = role_structure_violations(spark.createDataFrame(rows, TURN_SCHEMA)).collect()
    assert len(out) == 1
    v = out[0]
    assert (v.rule_id, v.conv_id, v.turn_idx, v.offending_value) == (
        "conv.opening_role",
        "a",
        2,
        "assistant",
    )


def test_stray_tool_flagged_per_row(spark):
    rows = [
        ("c", 0, "system", None, "d1"),
        ("c", 1, "user", "shell", "d1"),       # stray: user with a tool
        ("c", 2, "tool", "search", "d1"),      # legal
        ("c", 3, "assistant", "shell", "d2"),  # stray again
    ]
    out = role_structure_violations(spark.createDataFrame(rows, TURN_SCHEMA))
    got = {(v.turn_idx, v.part) for v in out.where(F.col("rule_id") == "tool.role_consistency").collect()}
    assert got == {(1, "d1"), (3, "d2")}
    assert out.where(F.col("rule_id") == "conv.opening_role").count() == 0


def test_clean_transcript_has_no_structure_violations(spark):
    rows = [("d", 0, "system", None, "d1"), ("d", 1, "user", None, "d1"),
            ("d", 2, "tool", "search", "d1")]
    assert role_structure_violations(spark.createDataFrame(rows, TURN_SCHEMA)).count() == 0


def test_containment_catches_engulfed_doc_jaccard_misses(spark):
    short = "alpha beta gamma delta"
    filler = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short), (2, short + " " + filler)], "doc_id bigint, text string"
    )
    cand = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    cont = verify_containment_pairs(
        cand, docs, "doc_id", "text", shingle_n=2, threshold=0.9
    ).collect()
    assert len(cont) == 1
    # every bigram of the short doc appears in the long doc
    assert cont[0].containment == 1.0
    assert cont[0].inter == 3  # 4 words -> 3 bigrams
    jac = verify_jaccard_pairs(
        cand, docs, "doc_id", "text", shingle_n=2, threshold=0.8
    ).collect()
    assert jac == []  # symmetric Jaccard is blind to the engulfed doc


def test_containment_threshold_excludes_partial_overlap(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k"), (2, "a b c d x y z q r s t")],
        "doc_id bigint, text string",
    )
    cand = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    out = verify_containment_pairs(
        cand, docs, "doc_id", "text", shingle_n=2, threshold=0.9
    ).collect()
    assert out == []  # only 3 of 10 bigrams shared


# ---- manifest_reconcile ----------------------------------------------------

def _reconcile(turns, convs):
    from sgb_data_validator_spark.operators.referential import manifest_reconcile

    return manifest_reconcile(
        turns,
        convs,
        fact_key="conv_id",
        manifest_key="conv_id",
        stated_col="n_turns_expected",
        agg=F.count(F.lit(1)),
        rel_tol=0.0,
    )


def test_reconcile_clean_fixture_is_silent(spark):
    from sgb_data_validator_spark.sources.generator import (
        FixtureConfig,
        generate_conversations,
        generate_turns,
    )

    cfg = FixtureConfig(n_turns=3000, dirt=False, n_empty_convs=2)
    turns = generate_turns(spark, cfg)
    convs = generate_conversations(spark, cfg)
    # empty manifest convs reconcile against computed=0 (expected is 0)
    assert _reconcile(turns, convs).count() == 0


def test_reconcile_flags_dup_inflation_and_vanished_conv(spark):
    from sgb_data_validator_spark.sources.generator import (
        FixtureConfig,
        generate_conversations,
        generate_turns,
    )

    cfg = FixtureConfig(n_turns=3000, dirt=True, n_empty_convs=0)
    turns = generate_turns(spark, cfg)
    convs = generate_conversations(spark, cfg)
    flagged = _reconcile(turns, convs)
    rows = flagged.collect()
    assert rows, "dirty fixture injects duplicate turns — reconcile must fire"
    # dup dirt inflates counts; orphan dirt rewrites conv_id, deflating
    # the home conversation — both directions must surface
    assert any(r.computed > r.stated for r in rows)
    assert any(r.computed < r.stated for r in rows)
    # a conversation whose rows vanish entirely must surface with computed=0
    victim = turns.select("conv_id").first().conv_id
    gone = _reconcile(turns.where(F.col("conv_id") != victim), convs)
    v = gone.where(F.col("conv_id") == victim).collect()
    assert len(v) == 1 and v[0].computed == 0.0 and v[0].stated > 0


def test_validate_reconcile_manifest_opt_in(spark):
    from sgb_data_validator_spark.plans import families as fam
    from sgb_data_validator_spark.plans.pipeline import TranscriptTables, compute_violations
    from sgb_data_validator_spark.sources.generator import (
        FixtureConfig,
        generate_allowed_tools,
        generate_baseline_stats,
        generate_conversations,
        generate_turns,
    )

    cfg = FixtureConfig(n_turns=3000, dirt=True)
    t = TranscriptTables(
        turns=generate_turns(spark, cfg),
        conversations=generate_conversations(spark, cfg),
        allowed_tools=generate_allowed_tools(spark),
        baseline_stats=generate_baseline_stats(spark, cfg),
    )
    base = compute_violations(t)
    with_rec = compute_violations(t, [*fam.DEFAULT_FAMILIES, fam.manifest_turn_count])
    assert base.where(F.col("rule_id") == "conv.turn_count").count() == 0
    rec_rows = with_rec.where(F.col("rule_id") == "conv.turn_count")
    n_rec = rec_rows.count()
    assert n_rec > 0
    # default path untouched: the opt-in adds exactly the reconcile rows
    assert with_rec.count() == base.count() + n_rec
    # conversation-level violations land on the conv's home partition
    assert rec_rows.where(F.col("part").isNull()).count() == 0


def test_manifest_reconcile_property(spark):
    """Hypothesis: for any (manifest stated counts, fact multiplicities),
    the flagged set equals a pure-Python recompute — including keys with
    zero fact rows and fact keys absent from the manifest (which must
    NOT appear: the reconcile is manifest-driven; foreign fact keys are
    the orphan rule's job)."""
    from hypothesis import given, settings, strategies as st
    from sgb_data_validator_spark.operators.referential import manifest_reconcile

    case = st.lists(
        st.tuples(
            st.integers(0, 30),            # key
            st.integers(0, 5),             # stated count in the manifest
            st.integers(0, 5),             # actual fact multiplicity
            st.booleans(),                 # key present in manifest?
        ),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    )

    @settings(max_examples=10, deadline=None)
    @given(rows=case)
    def run(rows):
        manifest = [(k, s) for k, s, _a, inm in rows if inm]
        fact = [(k,) for k, _s, a, _inm in rows for _ in range(a)]
        if not manifest and not fact:
            return
        mdf = spark.createDataFrame(manifest or [(None, None)], "key long, stated long").where(
            F.col("key").isNotNull()
        )
        fdf = spark.createDataFrame(fact or [(None,)], "key long").where(F.col("key").isNotNull())
        got = {
            r.key: (r.stated, r.computed)
            for r in manifest_reconcile(
                fdf, mdf, "key", "key", "stated", F.count(F.lit(1)), 0.0
            ).collect()
        }
        mult = {k: a for k, _s, a, _inm in rows}
        want = {
            k: (float(s), float(mult[k]))
            for k, s in manifest
            if s != mult[k]
        }
        assert got == want

    run()

def test_reconcile_tiny_relative_gap_not_rounded_away(spark):
    """rel_tol=0.0 means EXACT: a 25000-vs-25001 mismatch (rel gap
    4e-5, which rounds to 0.0 at 4 decimals) must still flag — the
    filter runs on the unrounded gap; rounding is presentation-only.
    This is the Zipf-hot-conversation regime (up to ~10M turns) where
    a rounded-then-filtered gap silently passes real mismatches."""
    from sgb_data_validator_spark.operators.referential import manifest_reconcile

    mdf = spark.createDataFrame([(1, 25001)], "key long, stated long")
    fdf = spark.range(25000).select(F.lit(1).alias("key"))
    rows = manifest_reconcile(
        fdf, mdf, "key", "key", "stated", F.count(F.lit(1)), 0.0
    ).collect()
    assert len(rows) == 1
    assert rows[0].stated == 25001.0 and rows[0].computed == 25000.0
    # output rel_gap IS rounded (presentation), but the row surfaced
    assert rows[0].rel_gap == 0.0


def test_reconcile_null_stated_surfaces_as_unverifiable(spark):
    """A manifest row with NULL in the stated column cannot be
    verified; it must surface (rel_gap NULL), not silently pass through
    `NULL > rel_tol` being false."""
    from sgb_data_validator_spark.operators.referential import manifest_reconcile

    mdf = spark.createDataFrame(
        [(1, None), (2, 3)], "key long, stated long"
    )
    fdf = spark.createDataFrame([(1,), (2,), (2,), (2,)], "key long")
    rows = {
        r.key: r
        for r in manifest_reconcile(
            fdf, mdf, "key", "key", "stated", F.count(F.lit(1)), 0.0
        ).collect()
    }
    assert set(rows) == {1}, rows  # key 2 matches exactly; key 1 unverifiable
    assert rows[1].stated is None and rows[1].rel_gap is None
    assert rows[1].computed == 1.0
